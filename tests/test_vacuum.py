"""Vacuum + recover: orphaned tmp files and staging dirs go, committed data
and young scratch stay, an only-copy backup is protected and restorable."""

import os

import pytest
from pyspark.sql import functions as F

from custom_columnar_format_spark.operators import vacuum


@pytest.fixture(autouse=True)
def _register_scbf(spark):
    from custom_columnar_format_spark.sources.scbf_datasource import register

    register(spark)


def test_vacuum_removes_orphans_keeps_data(spark, sf_small, tmp_path):
    path = str(tmp_path / "ds")
    df = spark.read.parquet(f"{sf_small}/nation.parquet")
    df.coalesce(2).write.format("scbf").option("version", "2").mode("overwrite").save(path)
    n = spark.read.format("scbf").load(path).count()

    # plant orphans: a dead task's tmp file, a crashed merge's hidden sibling
    # staging dir, legacy visible sibling staging, and hidden partition scratch
    open(os.path.join(path, ".tmp-deadbeef.scbf"), "wb").write(b"partial")
    os.makedirs(str(tmp_path / ".ds.merge-tmp"))
    os.makedirs(path + ".compact-tmp")  # legacy visible naming
    os.makedirs(os.path.join(path, ".pk=1.compact-tmp"))

    stats = vacuum.vacuum(path, older_than_seconds=0)
    assert stats == {"tmp_files": 1, "staging_dirs": 3}
    assert not os.path.exists(os.path.join(path, ".tmp-deadbeef.scbf"))
    assert not os.path.exists(str(tmp_path / ".ds.merge-tmp"))
    assert not os.path.exists(path + ".compact-tmp")
    assert not os.path.exists(os.path.join(path, ".pk=1.compact-tmp"))
    assert spark.read.format("scbf").load(path).count() == n


def test_vacuum_age_threshold_protects_live_scratch(spark, sf_small, tmp_path):
    path = str(tmp_path / "ds2")
    spark.read.parquet(f"{sf_small}/nation.parquet").coalesce(1).write.format("scbf").mode(
        "overwrite"
    ).save(path)
    open(os.path.join(path, ".tmp-live.scbf"), "wb").write(b"writing")
    stats = vacuum.vacuum(path, older_than_seconds=3600)
    assert stats == {"tmp_files": 0, "staging_dirs": 0}
    assert os.path.exists(os.path.join(path, ".tmp-live.scbf"))


def test_vacuum_never_deletes_only_copy_backup(spark, sf_small, tmp_path):
    """Driver died between rename(d, backup) and rename(staging, d): the
    hidden backup is the ONLY copy of the data — vacuum must refuse."""
    path = str(tmp_path / "ds3")
    spark.read.parquet(f"{sf_small}/nation.parquet").coalesce(1).write.format("scbf").option(
        "version", "2"
    ).mode("overwrite").save(path)
    n = spark.read.format("scbf").load(path).count()

    backup = str(tmp_path / ".ds3.compact-old")
    os.rename(path, backup)  # simulate the crash window

    stats = vacuum.vacuum(path, older_than_seconds=0)
    assert stats["staging_dirs"] == 0
    assert os.path.exists(backup)

    restored = vacuum.recover(path)
    assert restored == [os.path.abspath(path)]
    assert spark.read.format("scbf").load(path).count() == n
    # once the dataset dir exists again there is nothing left to recover
    assert vacuum.recover(path) == []


def test_recover_partition_dir_and_vacuum_completed_backup(spark, sf_small, tmp_path):
    """Crash mid-swap on a hive partition dir: recover renames it back;
    a backup whose dataset dir EXISTS (swap completed) is vacuumable."""
    path = str(tmp_path / "pt")
    df = spark.read.parquet(f"{sf_small}/nation.parquet").withColumn(
        "pk", (F.col("n_nationkey") % 2).cast("int")
    )
    df.write.format("scbf").option("version", "2").option("partition_by", "pk").mode(
        "overwrite"
    ).save(path)
    n = spark.read.format("scbf").load(path).count()

    part = os.path.join(path, "pk=1")
    os.rename(part, os.path.join(path, ".pk=1.compact-old"))
    assert vacuum.recover(path) == [part]
    assert spark.read.format("scbf").load(path).count() == n

    # completed swap: dataset dir present alongside a stale backup → deletable
    os.makedirs(os.path.join(path, ".pk=1.compact-old"))
    stats = vacuum.vacuum(path, older_than_seconds=0)
    assert stats["staging_dirs"] == 1
    assert not os.path.exists(os.path.join(path, ".pk=1.compact-old"))
