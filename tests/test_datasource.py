"""Spark DataSource V2 tests: scbf round-trip through the DataFrame API,
storage-level projection, overwrite semantics, partitioned layout, and
type-safety errors."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from custom_columnar_format_spark.scbf import codec
from custom_columnar_format_spark.scbf.reader_api import SCBFReader
from custom_columnar_format_spark.sources.scbf_datasource import register


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _sample_df(spark, n=1000):
    return spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 0.5).alias("score"),
        F.concat(F.lit("name_"), F.col("id").cast("string")).alias("name"),
    )


def test_write_read_roundtrip(spark, tmp_path):
    out = str(tmp_path / "rt")
    df = _sample_df(spark)
    df.write.format("scbf").mode("overwrite").save(out)
    back = spark.read.format("scbf").load(out)
    assert back.schema.fieldNames() == ["id", "score", "name"]
    assert back.count() == 1000
    assert back.agg(F.sum("id")).first()[0] == df.agg(F.sum("id")).first()[0]
    assert sorted(r.name for r in back.filter(F.col("id") < 3).collect()) == [
        "name_0",
        "name_1",
        "name_2",
    ]


def test_partitioned_layout(spark, tmp_path):
    out = str(tmp_path / "parts")
    _sample_df(spark).repartition(4).write.format("scbf").mode("overwrite").save(out)
    files = glob.glob(os.path.join(out, "part-*.scbf"))
    assert len(files) == 4  # one SCBF file per partition
    assert not glob.glob(os.path.join(out, ".tmp-*"))  # commit protocol cleaned up
    assert spark.read.format("scbf").load(out).count() == 1000


def test_single_file_reference_compat(spark, tmp_path):
    out = str(tmp_path / "single")
    _sample_df(spark, 50).coalesce(1).write.format("scbf").mode("overwrite").save(out)
    (f,) = glob.glob(os.path.join(out, "part-*.scbf"))
    with SCBFReader(f) as r:
        names, rows = r.read_all()  # plain-codec readable (single-file mode)
    assert names == ["id", "score", "name"] and len(rows) == 50


def test_projection_option_prunes_schema(spark, tmp_path):
    out = str(tmp_path / "proj")
    _sample_df(spark).write.format("scbf").mode("overwrite").save(out)
    pruned = spark.read.format("scbf").option("columns", "score").load(out)
    assert pruned.schema.fieldNames() == ["score"]
    assert abs(pruned.agg(F.sum("score")).first()[0] - sum(i * 0.5 for i in range(1000))) < 1e-6
    with pytest.raises(Exception):
        spark.read.format("scbf").option("columns", "nope").load(out).collect()


def test_overwrite_replaces(spark, tmp_path):
    out = str(tmp_path / "ow")
    _sample_df(spark, 100).write.format("scbf").mode("overwrite").save(out)
    _sample_df(spark, 7).coalesce(1).write.format("scbf").mode("overwrite").save(out)
    assert spark.read.format("scbf").load(out).count() == 7


def test_unsupported_type_rejected(spark, tmp_path):
    out = str(tmp_path / "bad")
    df = spark.range(3).select(F.col("id"))  # bigint — not SCBF v1 representable
    with pytest.raises(Exception, match="not representable|SCBF"):
        df.write.format("scbf").mode("overwrite").save(out)


def test_partitioned_write_layout_and_roundtrip(spark, tmp_path):
    out = str(tmp_path / "pt")
    df = spark.createDataFrame(
        [(i, f"r{i % 3}", float(i)) for i in range(60)], ["id", "region", "v"]
    ).withColumn("id", F.col("id").cast("int"))
    df.write.format("scbf").option("partition_by", "region").mode("overwrite").save(out)
    # hive k=v directories, no partition column inside the files
    dirs = sorted(os.path.basename(d) for d in glob.glob(os.path.join(out, "region=*")))
    assert dirs == ["region=r0", "region=r1", "region=r2"]
    some_file = glob.glob(os.path.join(out, "region=r0", "part-*.scbf"))[0]
    with open(some_file, "rb") as f:
        assert [m.name for m in codec.read_file_info(f).columns] == ["id", "v"]

    back = spark.read.format("scbf").load(out)
    assert set(back.columns) == {"id", "v", "region"}
    assert back.count() == 60
    got = {(r.id, r.region, r.v) for r in back.collect()}
    assert got == {(i, f"r{i % 3}", float(i)) for i in range(60)}


def test_partition_pruning_skips_directories(spark, tmp_path):
    out = str(tmp_path / "pt2")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(80)], ["id", "bucket", "v"]
    ).withColumn("id", F.col("id").cast("int"))
    df.write.format("scbf").option("partition_by", "bucket").mode("overwrite").save(out)
    # int-typed partition column, equality + range prune. Each query uses a
    # fresh spark.read: the JVM caches a planned Python-data-source scan per
    # DataFrame object (see test_stale_scan_reuse_upstream_behavior).
    load = lambda: spark.read.format("scbf").load(out)
    assert dict(load().dtypes)["bucket"] == "bigint"
    assert load().filter(F.col("bucket") == 2).count() == 20
    assert load().filter(F.col("bucket") > 1).count() == 40
    assert {r.bucket for r in load().filter(F.col("bucket").isin(0, 3)).select("bucket").distinct().collect()} == {0, 3}
    # partition-column-only projection still counts rows correctly
    assert load().select("bucket").count() == 80
    # directory values are never null: IsNull on the partition column plans
    # no data partition at all (only the empty schema carrier)
    from pyspark.sql.datasource import IsNull

    from custom_columnar_format_spark.sources.scbf_datasource import ScbfDataSource

    ds = ScbfDataSource({"path": out})
    reader = ds.reader(ds.schema())
    reader.pushFilters([IsNull(("bucket",))])
    assert [p.file_path for p in reader.partitions()] == [""]
    assert load().filter(F.col("bucket").isNull()).count() == 0


def test_partitioned_v2_with_stats_pruning(spark, tmp_path):
    out = str(tmp_path / "pt3")
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(100)],
        ["id", "parity", "v"],
    )
    (df.write.format("scbf").option("partition_by", "parity").option("version", "2")
        .mode("overwrite").save(out))
    load = lambda: spark.read.format("scbf").load(out)
    assert load().filter((F.col("parity") == "even") & (F.col("id") < 10)).count() == 5
    assert load().count() == 100


def test_stale_scan_reuse_upstream_behavior(spark, tmp_path):
    """Pins a Spark limitation: the JVM's PythonDataSourceV2 caches the
    planned scan (readInfo) per relation, so a FILTERLESS query on a reused
    DataFrame object re-executes the previous query's pruned partition list.
    Filtered queries always re-plan (correct); only filterless-after-filtered
    reuse is affected. If this test starts seeing 60, Spark fixed the caching
    upstream and the file_skipping caveat in scbf_datasource.py can go."""
    out = str(tmp_path / "stale")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)], ["id", "k", "v"]
    ).withColumn("id", F.col("id").cast("int"))
    df.write.format("scbf").option("partition_by", "k").mode("overwrite").save(out)

    reused = spark.read.format("scbf").load(out)
    assert reused.filter(F.col("k") == 1).count() == 20  # plans + caches pruned scan
    stale = reused.count()
    assert stale in (20, 60)  # 20 = current Spark caching, 60 = fixed upstream
    # fresh DataFrames are always correct
    assert spark.read.format("scbf").load(out).count() == 60
    # and disabling file skipping makes reuse safe
    safe = spark.read.format("scbf").option("file_skipping", "false").load(out)
    assert safe.filter(F.col("k") == 1).count() == 20
    assert safe.count() == 60


def test_files_pack_into_one_wave_in_listing_order(spark, tmp_path):
    """Eight files plan ``defaultParallelism`` input partitions (contiguous
    runs of the listing), and ``collect()`` returns the rows in listing
    order, each file's rows in stored order — as one task per file did."""
    import numpy as np
    import pyarrow as pa

    from custom_columnar_format_spark.scbf import codec_v2

    out = str(tmp_path / "eight")
    os.makedirs(out)
    want = []
    for i in range(8):
        ids = np.random.default_rng(i).permutation(np.arange(i * 1000, (i + 1) * 1000))
        codec_v2.write_arrow_table(os.path.join(out, f"part-{i:05d}.scbf"), pa.table({"id": ids}))
        want += ids.tolist()
    df = spark.read.format("scbf").load(out)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism == 4
    assert [r.id for r in df.collect()] == want


def test_append_mode_adds_files(spark, tmp_path):
    out = str(tmp_path / "app")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").cast("int").alias("id"), (F.col("id") * 1.5).alias("v")
    )
    # Python data sources support only Append/Overwrite (Spark rejects the
    # default ErrorIfExists with UNSUPPORTED_DATA_SOURCE_SAVE_MODE)
    mk(0, 50).coalesce(1).write.format("scbf").mode("append").save(out)
    mk(50, 80).coalesce(1).write.format("scbf").mode("append").save(out)
    back = spark.read.format("scbf").load(out)
    assert back.count() == 80
    assert len(glob.glob(os.path.join(out, "part-*.scbf"))) == 2
    # overwrite replaces everything, including earlier appends
    mk(0, 10).coalesce(1).write.format("scbf").mode("overwrite").save(out)
    assert spark.read.format("scbf").load(out).count() == 10


def test_partition_value_strict_int_inference(spark, tmp_path):
    """'1_0' is a valid Python int literal but must stay a STRING partition
    value (bare int() would read it back as 10)."""
    out = str(tmp_path / "strict")
    df = spark.createDataFrame(
        [(1, "1_0"), (2, "2_5")], ["id", "k"]
    ).withColumn("id", F.col("id").cast("int"))
    df.write.format("scbf").option("partition_by", "k").mode("overwrite").save(out)
    back = spark.read.format("scbf").load(out)
    assert dict(back.dtypes)["k"] == "string"
    assert {r.k for r in back.select("k").collect()} == {"1_0", "2_5"}


def test_max_records_per_file_bounds_output(spark, tmp_path):
    import glob as g

    out = str(tmp_path / "sized")
    df = spark.range(1000).select(F.col("id").cast("int").alias("id")).coalesce(1)
    df.write.format("scbf").option("version", "2").option(
        "max_records_per_file", "300"
    ).mode("overwrite").save(out)
    files = g.glob(os.path.join(out, "*.scbf"))
    assert len(files) == 4  # 300+300+300+100 from the single task
    back = spark.read.format("scbf").load(out)
    assert back.count() == 1000 and back.distinct().count() == 1000

    # partitioned variant: sizing applies per partition directory
    out2 = str(tmp_path / "sized_pt")
    df2 = spark.range(1000).select(
        F.col("id").cast("int").alias("id"), (F.col("id") % 2).cast("int").alias("pk")
    ).coalesce(1)
    df2.write.format("scbf").option("version", "2").option("partition_by", "pk").option(
        "max_records_per_file", "200"
    ).mode("overwrite").save(out2)
    for d in ("pk=0", "pk=1"):
        assert len(g.glob(os.path.join(out2, d, "*.scbf"))) == 3  # 200+200+100
    assert spark.read.format("scbf").load(out2).count() == 1000


def test_pinned_files_option_validation(spark, tmp_path):
    """'files' must be relative paths inside the dataset root ('..'/absolute
    escape → error), and may not be combined with 'snapshot' (both pin the
    file set — silently preferring one would read the wrong data)."""
    from custom_columnar_format_spark.sources.scbf_datasource import _list_scbf_files

    out = str(tmp_path / "pin")
    _sample_df(spark, 50).coalesce(1).write.format("scbf").mode("overwrite").save(out)
    rel = os.path.basename(glob.glob(os.path.join(out, "*.scbf"))[0])

    # the legitimate pinned read works
    assert spark.read.format("scbf").option("files", rel).load(out).count() == 50

    # an outside file that would otherwise be readable
    outside = tmp_path / "outside.scbf"
    src = glob.glob(os.path.join(out, "*.scbf"))[0]
    with open(src, "rb") as f, open(outside, "wb") as g:
        g.write(f.read())

    with pytest.raises(Exception, match="absolute"):
        _list_scbf_files(out, files=str(outside))
    with pytest.raises(Exception, match="escapes"):
        _list_scbf_files(out, files="../outside.scbf")
    with pytest.raises(Exception, match="only one"):
        _list_scbf_files(out, snapshot="1", files=rel)
