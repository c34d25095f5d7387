"""MERGE (upsert) and DELETE-by-key on an SCBF dataset with file-level
copy-on-write.

Semantics: SQL ``MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
THEN INSERT *`` (``merge_into``) and ``DELETE FROM t WHERE key IN (SELECT
key FROM keys)`` (``delete_keys``) — the table-maintenance pair every
mutable table format ships.

Scale design (what Delta/Iceberg/Hudi do, expressed over SCBF v2):
- The source's / deletion set's key bounds are checked against every target
  file's footer min/max stats (``SCBFReader.may_match`` — the same check
  the DataSource's filter pushdown uses; v1 files have no stats and are
  always touched). Files that PROVABLY contain no
  matching key are **left in place, never read, rewritten or copied** — at
  100 TB with a narrow change set, that's almost all of them.
- Only the possibly-touched files are read, anti-joined against the keys
  (plus, for MERGE, unioned with the full source), and rewritten. The
  anti-join strategy is STATS-DRIVEN by default (broadcast when Catalyst can
  prove the key set small, shuffle otherwise); ``broadcast_keys`` forces it
  either way — pass False when size estimates cannot be trusted (never lets
  a wrong estimate broadcast a huge key set onto the driver).
- The touched files are read through the DataSource's ``files`` option and
  the rewritten rows go to a hidden job directory (``<target>/.job-*``).
  Its parts are then moved beside the data and published in ONE
  dataset-log commit (``sources/dataset_log.py``) that also removes the
  touched files, which are unlinked only after it. A run that fails or
  crashes before the commit leaves the target's file set untouched, and its
  leftovers are invisible until ``vacuum`` deletes them.

The reference format has no notion of update at all (SURVEY.md: write-once
CSV converter); this is Spark-native table-maintenance on top of the v2
stats the format already carries.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..scbf import codec_v2
from ..scbf.reader_api import SCBFReader
from ..sources import dataset_log
from . import vacuum as _vacuum


def _target_files(path: str) -> list[str]:
    """The dataset's current files directly under ``path``."""
    return [f for f in dataset_log.current_files(path) if not os.path.dirname(os.path.relpath(f, path))]


def _rows(files: Sequence[str]) -> int:
    """Total row count from footers/headers alone — no data blocks read."""
    total = 0
    for p in files:
        with SCBFReader(p) as h:
            total += h.num_rows
    return total


def split_touched_files(
    files: Sequence[str], key: str, key_min, key_max
) -> tuple[list[str], list[str]]:
    """Partition target files into (maybe_touched, untouched) using footer
    min/max stats on the merge key — no data blocks are read."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    probe = [GreaterThanOrEqual((key,), key_min), LessThanOrEqual((key,), key_max)]
    touched, untouched = [], []
    for p in files:
        with SCBFReader(p) as h:
            (touched if h.may_match(probe) else untouched).append(p)
    return touched, untouched


def _cow_rewrite(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key: str,
    extra_rows: Optional[DataFrame],
    out_path: Optional[str],
    n_files: int,
    rows_per_group: Optional[int],
    broadcast_keys: Optional[bool],
) -> dict:
    """Shared copy-on-write rewrite used by merge_into and delete_keys:
    LEFT ANTI-join the files the key range may touch against the key set,
    optionally union ``extra_rows`` (MERGE's source), write the result into
    a hidden job directory, move its parts beside the data and publish them
    in one dataset-log commit that removes the touched files. Untouched
    files are copied only into a separate ``out_path``.

    Returns {files_total, files_rewritten, files_carried_over,
    rows_deleted}; rows come from footers alone.
    """
    _vacuum.recover(target_path)  # heal a legacy swap an older driver crashed in
    files = _target_files(target_path)
    if not files:
        raise ValueError(f"no SCBF files at {target_path}")
    b = keys.agg(F.min(key).alias("mn"), F.max(key).alias("mx")).collect()[0]
    # an empty key set can match nothing: every file is untouched
    touched, untouched = ([], files) if b.mn is None else split_touched_files(files, key, b.mn, b.mx)
    stats = {
        "files_total": len(files),
        "files_rewritten": len(touched),
        "files_carried_over": len(untouched),
        "rows_deleted": 0,
    }

    dest = out_path or target_path
    if out_path is not None:
        # caller-supplied destination: it must be NEW ground, never an alias
        # of the target or an existing dataset. realpath, not abspath: a
        # symlink alias of the target must be caught too
        if os.path.realpath(out_path) == os.path.realpath(target_path):
            raise ValueError("out_path must differ from target_path (use in-place mode)")
        if glob.glob(os.path.join(out_path, "*.scbf")):
            raise ValueError(
                f"out_path {out_path!r} already contains .scbf data files; "
                "refusing to overwrite an existing dataset"
            )
    elif not touched and extra_rows is None:
        return stats  # nothing to remove and nothing to add: no file, no version

    job = os.path.join(dest, f".job-{uuid.uuid4().hex[:12]}")
    schema = spark.read.format("scbf").load(target_path).schema
    if touched:
        rel = ",".join(os.path.relpath(p, target_path) for p in touched)
        touched_df = spark.read.format("scbf").option("files", rel).load(target_path)
    else:
        touched_df = spark.createDataFrame([], schema)
    keys_df = keys.select(key).distinct()
    if broadcast_keys is True:
        keys_df = F.broadcast(keys_df)
    elif broadcast_keys is False:
        keys_df = keys_df.hint("shuffle_hash")  # never driver-built
    rewritten = touched_df.join(keys_df, key, "left_anti")
    if extra_rows is not None:
        rewritten = rewritten.unionByName(extra_rows.select(*schema.fieldNames()))
    w = (
        rewritten.repartition(max(1, min(n_files, len(touched) or 1)))
        .write.format("scbf")
        .option("version", "2")
        .mode("overwrite")
    )
    if rows_per_group:
        w = w.option("rows_per_group", str(rows_per_group))
    w.save(job)
    parts = dataset_log.current_files(job)
    stats["rows_deleted"] = _rows(touched) - _rows(parts)

    if not (parts or untouched):
        # every row was deleted and the Spark sink wrote no files for the
        # empty result — materialize one explicit 0-row v2 file so the
        # dataset stays readable (the DataSource errors on empty dirs)
        parts = [os.path.join(job, f"part-{uuid.uuid4().hex[:12]}.scbf")]
        codec_v2.write_arrow_table(parts[0], spark.createDataFrame([], schema).toArrow())

    if out_path is not None:  # carried over as copies, staged beside the parts
        for p in untouched:
            parts.append(os.path.join(job, os.path.basename(p)))
            shutil.copy2(p, parts[-1])
    moves = [(p, os.path.join(dest, os.path.basename(p))) for p in parts]
    dataset_log.publish(dest, moves, touched if out_path is None else ())
    shutil.rmtree(job, ignore_errors=True)
    return stats


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key: str,
    out_path: str | None = None,
    n_files: int = 8,
    rows_per_group: int | None = None,
    broadcast_keys: bool | None = None,
) -> dict:
    """Merge ``source`` into the SCBF dataset at ``target_path`` on ``key``.

    Returns stats: files carried over untouched vs rewritten. When
    ``out_path`` is None the merge changes ``target_path`` in place (one
    log commit); otherwise ``out_path`` becomes a new dataset holding the
    rewritten files and copies of the untouched ones. ``rows_per_group``
    writes the rewritten files with intra-file row groups (see
    scbf/codec_v2.py) — carried-over files keep their existing layout."""
    # MERGE deletes the source's keys, then appends the full source
    stats = _cow_rewrite(
        spark, target_path, source, key, source, out_path, n_files, rows_per_group, broadcast_keys
    )
    del stats["rows_deleted"]  # the rewritten rows include the source's
    return stats


def delete_keys(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key: str,
    out_path: str | None = None,
    n_files: int = 8,
    rows_per_group: int | None = None,
    broadcast_keys: bool | None = None,
) -> dict:
    """DELETE-by-key with file-level copy-on-write — the right-to-be-
    forgotten / retention-purge primitive (SQL ``DELETE FROM t WHERE key IN
    (SELECT key FROM keys)``), sharing MERGE's machinery (``_cow_rewrite``):

    - footer min/max stats prove which files CANNOT contain a doomed key;
      those stay in place, never read (at 100 TB with a narrow deletion set
      that is almost every file); a deletion set that misses every file
      writes no file and no log version;
    - only possibly-touched files are scanned, LEFT ANTI-joined against the
      key set (stats-driven broadcast by default; ``broadcast_keys=False``
      pins shuffle so a bad estimate can never driver-build a huge set),
      and rewritten, then swapped for the touched files in one log commit.
      An empty deletion set still materializes ``out_path`` (a full copy)
      when one is given — the output dataset always exists.

    ``rows_deleted`` comes from footer/header row counts alone (no extra
    Spark job).

    Returns {files_total, files_rewritten, files_carried_over,
    rows_deleted}."""
    return _cow_rewrite(
        spark, target_path, keys, key, None, out_path, n_files, rows_per_group, broadcast_keys
    )
