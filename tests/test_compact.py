"""Compaction: many small files → few, rows and values identical, version
preserved, hive partitions compacted independently, sort_by restores
stats-pruning envelopes."""

import glob

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

from custom_columnar_format_spark.operators import compact as compact_op
from custom_columnar_format_spark.scbf import codec_v2


@pytest.fixture(autouse=True)
def _register_scbf(spark):
    from custom_columnar_format_spark.sources.scbf_datasource import register

    register(spark)


def _orders(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def test_compact_flat_dataset(spark, sf_small, tmp_path):
    path = str(tmp_path / "many")
    o = _orders(spark, sf_small)
    o.repartition(24).write.format("scbf").option("version", "2").mode("overwrite").save(path)
    assert len(glob.glob(f"{path}/*.scbf")) == 24
    before = o.agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0]

    stats = compact_op.compact(spark, path, target_files=4)
    files = glob.glob(f"{path}/*.scbf")
    assert stats == {"dirs": 1, "files_before": 24, "files_after": len(files)}
    assert len(files) <= 4
    # version preserved (footer parses as v2)
    assert all(codec_v2.read_meta(p)["rows"] >= 0 for p in files)
    after = (
        spark.read.format("scbf").load(path)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s"))
        .collect()[0]
    )
    assert (after.n, after.s) == (before.n, before.s)


def test_compact_partitioned_dataset(spark, sf_small, tmp_path):
    path = str(tmp_path / "pt")
    o = _orders(spark, sf_small).withColumn("pk", (F.col("o_orderkey") % 3).cast("int"))
    (
        o.repartition(12)
        .write.format("scbf")
        .option("version", "2")
        .option("partition_by", "pk")
        .mode("overwrite")
        .save(path)
    )
    n_before = spark.read.format("scbf").load(path).count()
    stats = compact_op.compact(spark, path, target_files=2)
    assert stats["dirs"] == 3  # one per pk=… directory
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.format("scbf").load(path).count() == n_before


def test_compact_sort_by_restores_pruning(spark, sf_small, tmp_path):
    path = str(tmp_path / "sorted")
    o = _orders(spark, sf_small)
    # append-order write: every file spans the whole key range
    o.repartition(16).write.format("scbf").option("version", "2").mode("overwrite").save(path)
    probe = [GreaterThanOrEqual(("o_orderkey",), 100), LessThanOrEqual(("o_orderkey",), 200)]
    alive_before = sum(
        1 for p in glob.glob(f"{path}/*.scbf")
        if codec_v2.file_may_match(codec_v2.read_meta(p), probe)
    )
    assert alive_before == 16  # no pruning possible

    compact_op.compact(spark, path, target_files=8, sort_by=["o_orderkey"])
    files = glob.glob(f"{path}/*.scbf")
    alive_after = sum(
        1 for p in files if codec_v2.file_may_match(codec_v2.read_meta(p), probe)
    )
    assert alive_after < len(files), "sorted compaction must restore file skipping"

def test_compact_heals_crashed_swap_first(spark, sf_small, tmp_path):
    """A partition dir lost to a crashed swap (only copy in a hidden backup)
    is restored by compact() before rewriting, and its stale scratch never
    gets compacted as data."""
    import os

    path = str(tmp_path / "healed")
    o = _orders(spark, sf_small).withColumn("pk", (F.col("o_orderkey") % 2).cast("int"))
    (
        o.repartition(8)
        .write.format("scbf")
        .option("version", "2")
        .option("partition_by", "pk")
        .mode("overwrite")
        .save(path)
    )
    n = spark.read.format("scbf").load(path).count()

    part = os.path.join(path, "pk=1")
    os.rename(part, os.path.join(path, ".pk=1.compact-old"))  # crash window

    stats = compact_op.compact(spark, path, target_files=2)
    assert stats["dirs"] == 2  # both partitions visible again and compacted
    assert spark.read.format("scbf").load(path).count() == n
    assert not os.path.exists(os.path.join(path, ".pk=1.compact-old"))


def test_compact_zorder_by_enables_2d_skipping(spark, sf_small, tmp_path):
    """OPTIMIZE ZORDER BY shape: fragmented append-order files → compacted
    Morton-clustered ones; a 2-D box predicate then skips files on BOTH
    columns via footer stats, which linear sorting can't give."""
    path = str(tmp_path / "zc")
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    li.repartition(16).write.format("scbf").option("version", "2").mode("overwrite").save(path)
    before = li.agg(F.round(F.sum("l_quantity"), 2).alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]

    stats = compact_op.compact(spark, path, target_files=8, zorder_by=["l_orderkey", "l_partkey"])
    assert stats["files_before"] == 16

    files = glob.glob(f"{path}/*.scbf")
    probe = [
        GreaterThanOrEqual(("l_orderkey",), 200), LessThanOrEqual(("l_orderkey",), 900),
        GreaterThanOrEqual(("l_partkey",), 20), LessThanOrEqual(("l_partkey",), 120),
    ]
    alive = sum(1 for p in files if codec_v2.file_may_match(codec_v2.read_meta(p), probe))
    assert alive < len(files), "z-ordered compaction must enable 2-D box skipping"

    after = (
        spark.read.format("scbf").load(path)
        .agg(F.round(F.sum("l_quantity"), 2).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    assert (after.s, after.n) == (before.s, before.n)

    with pytest.raises(ValueError, match="at most one"):
        compact_op.compact(spark, path, target_files=4, sort_by=["l_orderkey"], zorder_by=["l_partkey"])


def test_compact_writes_row_groups(spark, tmp_path):
    """Compaction with rows_per_group + sort_by produces few big files whose
    internal groups carry tight sorted key envelopes — the layout that keeps
    pushed filters skipping I/O after small files merge into big ones."""
    import os

    out = str(tmp_path / "rg")
    for lo in range(0, 8000, 1000):  # 8 small unsorted appends
        (
            spark.range(lo, lo + 1000)
            .select(F.col("id").cast("long").alias("id"), (F.col("id") % 13).cast("int").alias("k"))
            .coalesce(1)
            .write.format("scbf")
            .option("version", "2")
            .mode("append")
            .save(out)
        )
    stats = compact_op.compact(
        spark, out, target_files=1, sort_by=["id"], rows_per_group=1024
    )
    assert stats["files_after"] == 1
    fp = glob.glob(os.path.join(out, "*.scbf"))[0]
    meta = codec_v2.read_meta(fp)
    groups = meta["row_groups"]
    assert len(groups) == 8 and sum(g["rows"] for g in groups) == 8000
    # sorted write → non-overlapping per-group id envelopes
    bounds = [
        next(c for c in g["columns"] if c["name"] == "id")["stats"] for g in groups
    ]
    for a, b in zip(bounds, bounds[1:]):
        assert a["max"] < b["min"]
    df = spark.read.format("scbf").load(out)
    assert df.count() == 8000
    assert df.filter(F.col("id") == 4321).count() == 1
