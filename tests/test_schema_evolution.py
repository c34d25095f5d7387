"""Schema evolution under merge_schemas: a dataset whose older files predate
a column reads as the union schema with typed nulls back-filled; type
conflicts fail loudly; default (no option) keeps first-file behavior."""

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import IsNull

from custom_columnar_format_spark.scbf import codec
from custom_columnar_format_spark.scbf.reader_api import SCBFReader
from custom_columnar_format_spark.sources.scbf_datasource import ScbfDataSource


@pytest.fixture(autouse=True)
def _register_scbf(spark):
    from custom_columnar_format_spark.sources.scbf_datasource import register

    register(spark)


def _write_evolved_dataset(spark, path):
    old = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    old.coalesce(1).write.format("scbf").option("version", "2").mode("overwrite").save(path)
    new = spark.range(100, 150).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("tag_"), F.col("id").cast("string")).alias("label"),
    )
    new.coalesce(1).write.format("scbf").option("version", "2").mode("append").save(path)


def _planned_files(path, filters):
    """Files the merged-schema planner keeps under pushed ``filters``."""
    ds = ScbfDataSource({"path": path, "merge_schemas": "true"})
    reader = ds.reader(ds.schema())
    reader.pushFilters(filters)
    return sorted(path for p in reader.partitions() for path, _groups, _values in p.entries)


def test_merge_schemas_backfills_nulls(spark, tmp_path):
    path = str(tmp_path / "evolved")
    _write_evolved_dataset(spark, path)
    df = spark.read.format("scbf").option("merge_schemas", "true").load(path)
    assert set(df.columns) == {"k", "v", "label"}
    assert df.count() == 150
    assert df.filter(F.col("label").isNull()).count() == 100  # old file rows
    got = df.filter(F.col("k") == 120).select("label").collect()[0][0]
    assert got == "tag_120"
    # aggregate across both vintages works (null-skipping count)
    assert df.agg(F.count("label")).collect()[0][0] == 50
    # IsNull prunes a file whose footer counts no nulls in that column, but
    # keeps the old file that predates `label` (its rows back-fill nulls)
    files = sorted(glob.glob(os.path.join(path, "*.scbf")))
    old = []
    for p in files:
        with SCBFReader(p) as h:
            if "label" not in h.list_columns():
                old.append(p)
    assert len(old) == 1
    assert _planned_files(path, [IsNull(("label",))]) == old
    assert _planned_files(path, [IsNull(("v",))]) == []  # only the empty carrier
    load = lambda: spark.read.format("scbf").option("merge_schemas", "true").load(path)  # noqa: E731
    assert load().filter(F.col("v").isNull()).count() == 0


def test_merge_schemas_projection_still_prunes(spark, tmp_path):
    path = str(tmp_path / "evolved2")
    _write_evolved_dataset(spark, path)
    df = (
        spark.read.format("scbf")
        .option("merge_schemas", "true")
        .option("columns", "k,label")
        .load(path)
    )
    assert df.columns == ["k", "label"]
    assert df.count() == 150


def test_merge_schemas_type_conflict_fails(spark, tmp_path):
    path = str(tmp_path / "conflict")
    spark.range(5).select(F.col("id").alias("k")).coalesce(1).write.format("scbf").option(
        "version", "2"
    ).mode("overwrite").save(path)
    spark.range(5).select(F.col("id").cast("double").alias("k")).coalesce(1).write.format(
        "scbf"
    ).option("version", "2").mode("append").save(path)
    with pytest.raises(Exception, match="type conflict"):
        spark.read.format("scbf").option("merge_schemas", "true").load(path).schema


def test_default_remains_first_file_schema(spark, tmp_path):
    path = str(tmp_path / "evolved3")
    _write_evolved_dataset(spark, path)
    df = spark.read.format("scbf").load(path)
    # part file names sort deterministically; first file is one of the two
    # vintages — the point is the option is opt-in, not that order is fixed
    assert set(df.columns) in ({"k", "v"}, {"k", "v", "label"})