"""MERGE upsert into SCBF datasets: result equals anti-join+union semantics,
and file-level copy-on-write really skips rewriting files whose key range
provably misses the source (carried over byte-identical)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from custom_columnar_format_spark.operators import merge


@pytest.fixture(autouse=True)
def _register_scbf(spark):
    from custom_columnar_format_spark.sources.scbf_datasource import register

    register(spark)


def _write_target(spark, sf_small, path, version="2"):
    """orders range-partitioned by key into 8 files → tight key envelopes
    (v2 footers carry them; v1 has no stats)."""
    o = spark.read.parquet(f"{sf_small}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )  # no timestamp: SCBF v2 types are int/float/bool/utf8
    if version == "1":  # v1 integers are int32
        o = o.withColumn("o_orderkey", F.col("o_orderkey").cast("int")).withColumn(
            "o_custkey", F.col("o_custkey").cast("int")
        )
    (
        o.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.format("scbf")
        .option("version", version)
        .mode("overwrite")
        .save(path)
    )
    return o


def test_merge_updates_and_inserts(spark, sf_small, tmp_path):
    target = str(tmp_path / "orders_ds")
    o = _write_target(spark, sf_small, target)

    # updates: keys 100-120 with bumped price; inserts: 3 brand-new keys
    updates = o.filter(F.col("o_orderkey").between(100, 120)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    inserts = o.limit(3).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
    )
    source = updates.unionByName(inserts)

    out = str(tmp_path / "merged")
    stats = merge.merge_into(spark, target, source, "o_orderkey", out_path=out)

    got = spark.read.format("scbf").load(out)
    expected = o.join(source.select("o_orderkey"), "o_orderkey", "left_anti").unionByName(
        source
    )
    assert got.count() == expected.count() == o.count() + 3
    g = got.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s
    e = expected.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s
    assert abs(g - e) < 0.05
    # updated rows carry the new price
    bumped = got.filter(F.col("o_orderkey").between(100, 120))
    orig = o.filter(F.col("o_orderkey").between(100, 120))
    assert (
        bumped.agg(F.sum("o_totalprice")).collect()[0][0]
        == pytest.approx(orig.agg(F.sum("o_totalprice") * 1.1).collect()[0][0], rel=1e-9)
    )
    assert stats["files_rewritten"] >= 1


def test_merge_cow_carries_over_untouched_files(spark, sf_small, tmp_path):
    target = str(tmp_path / "orders_cow")
    o = _write_target(spark, sf_small, target)

    # narrow update range → only 1-2 of the 8 range-partitioned files touch it
    source = o.filter(F.col("o_orderkey").between(10, 40)).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    out = str(tmp_path / "merged_cow")
    before = {os.path.basename(p): os.path.getsize(p) for p in glob.glob(f"{target}/*.scbf")}
    stats = merge.merge_into(spark, target, source, "o_orderkey", out_path=out)

    assert stats["files_carried_over"] >= 6, stats
    assert stats["files_rewritten"] + stats["files_carried_over"] == stats["files_total"] == 8
    # carried-over files are byte-identical copies of the originals
    carried = [
        p for p in glob.glob(f"{out}/*.scbf") if os.path.basename(p) in before
    ]
    assert len(carried) == stats["files_carried_over"]
    for p in carried:
        src = os.path.join(target, os.path.basename(p))
        assert open(p, "rb").read() == open(src, "rb").read()


def test_merge_out_path_refuses_existing_dataset(spark, sf_small, tmp_path):
    """ADVICE r7: the crashed-run cleanup must never unlink a live dataset.
    out_path aliasing the target, or pointing at a directory that already
    holds .scbf files, is refused BEFORE anything is deleted."""
    target = str(tmp_path / "orders_guard")
    o = _write_target(spark, sf_small, target)
    source = o.limit(1)
    with pytest.raises(ValueError, match="differ from target_path"):
        merge.merge_into(spark, target, source, "o_orderkey", out_path=target)
    other = str(tmp_path / "orders_other")
    _write_target(spark, sf_small, other)
    files_before = sorted(glob.glob(f"{other}/*.scbf"))
    with pytest.raises(ValueError, match="already contains"):
        merge.merge_into(spark, target, source, "o_orderkey", out_path=other)
    # nothing in the pre-existing dataset was touched
    assert sorted(glob.glob(f"{other}/*.scbf")) == files_before
    # and both datasets still read back fully
    assert spark.read.format("scbf").load(other).count() == o.count()
    assert spark.read.format("scbf").load(target).count() == o.count()
    # a SYMLINK alias of the target must be caught too (realpath, not abspath)
    link = str(tmp_path / "orders_guard_link")
    os.symlink(target, link)
    with pytest.raises(ValueError, match="differ from target_path"):
        merge.merge_into(spark, target, source, "o_orderkey", out_path=link)


def test_merge_in_place_swap(spark, sf_small, tmp_path):
    target = str(tmp_path / "orders_inplace")
    o = _write_target(spark, sf_small, target)
    n0 = o.count()
    source = o.limit(2).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
    )
    merge.merge_into(spark, target, source, "o_orderkey")  # in place
    assert spark.read.format("scbf").load(target).count() == n0 + 2
    assert not os.path.exists(target + ".merge-tmp")
    assert not os.path.exists(target + ".merge-old")

def test_streaming_cdc_upsert_foreachbatch(spark, sf_small, tmp_path):
    """CDC pattern: a stream of update batches applied to an SCBF dataset via
    foreachBatch + merge_into — each micro-batch is one transactional merge,
    later batches win on key collision."""
    import os
    import time

    target = str(tmp_path / "cdc_target")
    o = _write_target(spark, sf_small, target)

    # two update files, forced into separate micro-batches (mtime order)
    src_dir = tmp_path / "cdc_src"
    src_dir.mkdir()
    base = o.limit(0)
    upd1 = o.filter(F.col("o_orderkey").between(0, 30)).withColumn(
        "o_totalprice", F.lit(111.0)
    )
    upd2 = o.filter(F.col("o_orderkey").between(20, 50)).withColumn(
        "o_totalprice", F.lit(222.0)
    )
    upd1.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    time.sleep(1.1)
    upd2.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b2"))

    from custom_columnar_format_spark.operators import merge as merge_op

    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _bid: merge_op.merge_into(
                bdf.sparkSession, target, bdf, "o_orderkey"
            )
            if bdf.count()
            else None
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = spark.read.format("scbf").load(target)
    assert final.count() == o.count()
    # keys 20-30 were updated by both batches; the later batch must win
    overlap = final.filter(F.col("o_orderkey").between(20, 30)).select("o_totalprice").distinct().collect()
    assert [r.o_totalprice for r in overlap] == [222.0]
    only1 = final.filter(F.col("o_orderkey").between(0, 19)).select("o_totalprice").distinct().collect()
    assert [r.o_totalprice for r in only1] == [111.0]


def test_merge_into_rows_per_group(spark, tmp_path):
    """merge_into(rows_per_group=N) writes the rewritten files grouped;
    carried-over files keep their layout; values unchanged."""
    from custom_columnar_format_spark.scbf import codec_v2

    out = str(tmp_path / "mrg")
    (
        spark.range(10000)
        .select(F.col("id").cast("long").alias("id"), F.lit("old").alias("v"))
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
        .write.format("scbf")
        .option("version", "2")
        .mode("overwrite")
        .save(out)
    )
    src = spark.range(100, 200).select(
        F.col("id").cast("long").alias("id"), F.lit("new").alias("v")
    )
    stats = merge.merge_into(spark, out, src, key="id", rows_per_group=512)
    assert stats["files_rewritten"] >= 1 and stats["files_carried_over"] >= 1

    import glob as g
    import os as o

    grouped = [
        p
        for p in g.glob(o.path.join(out, "*.scbf"))
        if "row_groups" in codec_v2.read_meta(p)
    ]
    assert grouped  # the rewritten output is grouped
    df = spark.read.format("scbf").load(out)
    assert df.count() == 10000
    assert df.filter(F.col("v") == "new").count() == 100


# ---------------------------------------------------------------------------
# DELETE-by-key (right-to-be-forgotten / retention purge)
# ---------------------------------------------------------------------------


def test_delete_keys_semantics_and_cow(spark, sf_small, tmp_path):
    target = str(tmp_path / "orders_del")
    o = _write_target(spark, sf_small, target)
    n0 = o.count()

    doomed = o.filter(F.col("o_orderkey").between(100, 140)).select("o_orderkey")
    n_doomed = doomed.count()
    assert n_doomed > 0

    before = {os.path.basename(p): os.path.getsize(p) for p in glob.glob(f"{target}/*.scbf")}
    stats = merge.delete_keys(spark, target, doomed, "o_orderkey")

    # fresh load() per differently-filtered query: PythonDataSourceV2 caches
    # the pruned readInfo per relation (upstream limitation, documented in
    # ScbfReader.partitions and pinned by test_stale_scan_reuse_upstream_behavior)
    load = lambda: spark.read.format("scbf").load(target)  # noqa: E731
    assert load().count() == n0 - n_doomed
    assert stats["rows_deleted"] == n_doomed
    assert load().filter(F.col("o_orderkey").between(100, 140)).count() == 0
    # values of survivors intact
    e = (
        o.join(doomed, "o_orderkey", "left_anti")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s
    )
    g = load().agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s
    assert g == e

    # copy-on-write: a narrow key range must rewrite only the files whose
    # envelope covers it; the rest are carried over byte-identical
    assert stats["files_rewritten"] < stats["files_total"]
    after = {os.path.basename(p): os.path.getsize(p) for p in glob.glob(f"{target}/*.scbf")}
    carried = set(before) & set(after)
    assert len(carried) == stats["files_carried_over"]
    for name in carried:
        assert before[name] == after[name]

    # a v1-written target has no footer stats: every file stays touched, and
    # rows_deleted still comes from header row counts
    v1 = str(tmp_path / "orders_del_v1")
    _write_target(spark, sf_small, v1, version="1")
    stats = merge.delete_keys(spark, v1, doomed, "o_orderkey")
    assert stats["files_rewritten"] == stats["files_total"]
    assert stats["rows_deleted"] == n_doomed
    assert spark.read.format("scbf").load(v1).count() == n0 - n_doomed


def test_delete_keys_empty_set_is_noop(spark, sf_small, tmp_path):
    target = str(tmp_path / "orders_del_empty")
    o = _write_target(spark, sf_small, target)
    empty = o.filter(F.lit(False)).select("o_orderkey")
    stats = merge.delete_keys(spark, target, empty, "o_orderkey")
    assert stats["files_rewritten"] == 0 and stats["rows_deleted"] == 0
    assert spark.read.format("scbf").load(target).count() == o.count()


def test_delete_keys_survives_snapshot_metadata(spark, sf_small, tmp_path):
    from custom_columnar_format_spark.operators import snapshot as snap_op

    target = str(tmp_path / "orders_del_snap")
    o = _write_target(spark, sf_small, target)
    snap_op.create_snapshot(target, tag="pre_delete")
    doomed = o.orderBy("o_orderkey").limit(5).select("o_orderkey")
    merge.delete_keys(spark, target, doomed, "o_orderkey")
    # manifests survive the swap (carried like merge does)
    assert snap_op.list_snapshots(target)


def test_delete_keys_all_rows_leaves_readable_empty_dataset(spark, sf_small, tmp_path):
    target = str(tmp_path / "orders_del_all")
    o = _write_target(spark, sf_small, target)
    stats = merge.delete_keys(spark, target, o.select("o_orderkey"), "o_orderkey")
    assert stats["rows_deleted"] == o.count()
    got = spark.read.format("scbf").load(target)
    assert got.count() == 0
    assert got.schema == o.schema  # typed empty dataset, not an error


def test_delete_keys_clears_stale_crashed_staging(spark, sf_small, tmp_path):
    """A crashed prior run's staged part files and symlink scratch must be
    cleared on entry — never swapped into the live dataset (silent dup rows)."""
    target = str(tmp_path / "orders_stale")
    o = _write_target(spark, sf_small, target)
    n0 = o.count()

    # simulate the crash: staged parts + stale symlinks left behind
    staging = str(tmp_path / ".orders_stale.merge-tmp")
    os.makedirs(staging)
    real = glob.glob(f"{target}/*.scbf")[0]
    import shutil as sh

    sh.copy2(real, os.path.join(staging, "part-stale.scbf"))
    link_dir = staging + ".touched"
    os.makedirs(link_dir)
    os.symlink(real, os.path.join(link_dir, os.path.basename(real)))

    # a delete whose key range misses every file envelope (touched == [])
    doomed = spark.createDataFrame([(10_000_000,)], "o_orderkey: long")
    stats = merge.delete_keys(spark, target, doomed, "o_orderkey")
    assert stats["files_rewritten"] <= 1  # at most the conservative match
    got = spark.read.format("scbf").load(target)
    assert got.count() == n0  # no duplicated rows from the stale part file


def test_delete_keys_empty_set_materializes_out_path(spark, sf_small, tmp_path):
    target = str(tmp_path / "orders_eo")
    o = _write_target(spark, sf_small, target)
    out = str(tmp_path / "purged")
    empty = o.filter(F.lit(False)).select("o_orderkey")
    stats = merge.delete_keys(spark, target, empty, "o_orderkey", out_path=out)
    assert stats["rows_deleted"] == 0
    # the output dataset EXISTS (full copy) even though nothing was deleted
    assert spark.read.format("scbf").load(out).count() == o.count()
