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
  matching key are **carried over without being read or rewritten** — at
  100 TB with a narrow change set, that's almost all of them.
- Only the possibly-touched files are read, anti-joined against the keys
  (plus, for MERGE, unioned with the full source), and rewritten. The
  anti-join strategy is STATS-DRIVEN by default (broadcast when Catalyst can
  prove the key set small, shuffle otherwise); ``broadcast_keys`` forces it
  either way — pass False when size estimates cannot be trusted (never lets
  a wrong estimate broadcast a huge key set onto the driver).
- The output is written to a fresh directory and the swap is last, so a
  failed run leaves the target untouched; stale staging/symlink scratch from
  a CRASHED prior run is cleared on entry so it can never be swapped live.

The reference format has no notion of update at all (SURVEY.md: write-once
CSV converter); this is Spark-native table-maintenance on top of the v2
stats the format already carries.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..scbf import codec_v2
from ..scbf.reader_api import SCBFReader
from . import vacuum as _vacuum
from ._staging import staging_path, swap_into_place


def _target_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.scbf")))


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
    touched: Sequence[str],
    untouched: Sequence[str],
    extra_rows: Optional[DataFrame],
    out_path: Optional[str],
    n_files: int,
    rows_per_group: Optional[int],
    broadcast_keys: Optional[bool],
) -> int:
    """Shared copy-on-write rewrite used by merge_into and delete_keys:
    stage the touched files, LEFT ANTI-join them against the key set,
    optionally union ``extra_rows`` (MERGE's source), write staged, carry
    untouched files over byte-identical, swap last when in-place.

    Returns the number of rows written to the rewritten files (from their
    footers alone).
    """
    final_dest = out_path or target_path
    # hidden-sibling scratch (operators/_staging.py): invisible to the
    # DataSource's file lister, so a crash can't surface half-written rows
    staging = staging_path(final_dest, ".merge-tmp") if out_path is None else out_path
    if out_path is not None:
        # caller-supplied destination: it must be NEW ground. Refusing an
        # out_path that aliases the target or already holds data files is
        # what keeps the crashed-run cleanup below from ever deleting a
        # live dataset (the cleanup only runs on the hidden scratch dir).
        # realpath, not abspath: a symlink alias of the target must be
        # caught too, or staging would write into the live dataset
        if os.path.realpath(out_path) == os.path.realpath(target_path):
            raise ValueError("out_path must differ from target_path (use in-place mode)")
        if glob.glob(os.path.join(out_path, "*.scbf")):
            raise ValueError(
                f"out_path {out_path!r} already contains .scbf data files; "
                "refusing to overwrite an existing dataset"
            )
    os.makedirs(staging, exist_ok=True)
    if out_path is None:
        # A CRASHED prior run can leave staged part files and symlink
        # scratch in the hidden sibling. Clear both BEFORE planning: the
        # write below may be skipped entirely (DELETE with nothing touched),
        # and stale parts must never swap live. Guarded to the hidden
        # scratch dir ONLY — never a caller-supplied path.
        for f in glob.glob(os.path.join(staging, "*.scbf")):
            os.unlink(f)
    link_dir = staging_path(final_dest, ".merge-tmp") + ".touched"
    shutil.rmtree(link_dir, ignore_errors=True)

    schema = spark.read.format("scbf").load(target_path).schema
    rows_written = 0
    if touched or extra_rows is not None:
        if touched:
            # The DataSource reads directories — stage the touched files as
            # symlinks so ONLY they are scanned (no data I/O for the link).
            os.makedirs(link_dir, exist_ok=True)
            for p in touched:
                os.symlink(
                    os.path.abspath(p), os.path.join(link_dir, os.path.basename(p))
                )
            touched_df = spark.read.format("scbf").load(link_dir)
        else:
            touched_df = spark.createDataFrame([], schema)
        keys_df = keys.select(key).distinct()
        if broadcast_keys is True:
            keys_df = F.broadcast(keys_df)
        elif broadcast_keys is False:
            keys_df = keys_df.hint("shuffle_hash")  # never driver-built
        kept = touched_df.join(keys_df, key, "left_anti")
        rewritten = (
            kept
            if extra_rows is None
            else kept.unionByName(extra_rows.select(*[f.name for f in schema.fields]))
        )
        w = (
            rewritten.repartition(max(1, min(n_files, len(touched) or 1)))
            .write.format("scbf")
            .option("version", "2")
            .mode("overwrite")
        )
        if rows_per_group:
            w = w.option("rows_per_group", str(rows_per_group))
        w.save(staging)
        shutil.rmtree(link_dir, ignore_errors=True)
        rows_written = _rows(glob.glob(os.path.join(staging, "*.scbf")))

    for p in untouched:
        shutil.copy2(p, os.path.join(staging, os.path.basename(p)))

    if not glob.glob(os.path.join(staging, "*.scbf")):
        # every row was deleted and the Spark sink wrote no files for the
        # empty result — materialize one explicit 0-row v2 file so the
        # dataset stays readable (the DataSource errors on empty dirs)
        import pyarrow as pa

        empty = pa.Table.from_pylist(
            [], schema=spark.createDataFrame([], schema).toArrow().schema
        )
        codec_v2.write_arrow_table(os.path.join(staging, "part-empty.scbf"), empty)

    if out_path is None:
        swap_into_place(target_path, staging, ".merge-old")
    return rows_written


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
    ``out_path`` is None the merge replaces ``target_path`` (write to a
    sibling tmp dir, then swap). ``rows_per_group`` writes the rewritten
    files with intra-file row groups (see scbf/codec_v2.py) — carried-over
    files keep their existing layout."""
    _vacuum.recover(target_path)  # heal a swap a previous driver crashed in
    files = _target_files(target_path)
    if not files:
        raise ValueError(f"no SCBF files at {target_path}")

    b = source.agg(F.min(key).alias("mn"), F.max(key).alias("mx")).collect()[0]
    if b.mn is None:
        touched, untouched = [], files  # empty source: pure copy/no-op
    else:
        touched, untouched = split_touched_files(files, key, b.mn, b.mx)

    _cow_rewrite(
        spark,
        target_path,
        source,
        key,
        touched,
        untouched,
        source,  # MERGE appends the full source to the kept rows
        out_path,
        n_files,
        rows_per_group,
        broadcast_keys,
    )
    return {
        "files_total": len(files),
        "files_rewritten": len(touched),
        "files_carried_over": len(untouched),
    }


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
      those are carried over byte-identical, never read (at 100 TB with a
      narrow deletion set that is almost every file);
    - only possibly-touched files are scanned, LEFT ANTI-joined against the
      key set (stats-driven broadcast by default; ``broadcast_keys=False``
      pins shuffle so a bad estimate can never driver-build a huge set),
      and rewritten; staged write, swap last, metadata carried over. An
      empty deletion set still materializes ``out_path`` (a full copy) when
      one is given — the output dataset always exists.

    ``rows_deleted`` comes from footer/header row counts alone (no extra
    Spark job).

    Returns {files_total, files_rewritten, files_carried_over,
    rows_deleted}."""
    _vacuum.recover(target_path)
    files = _target_files(target_path)
    if not files:
        raise ValueError(f"no SCBF files at {target_path}")

    b = keys.agg(F.min(key).alias("mn"), F.max(key).alias("mx")).collect()[0]
    if b.mn is None:
        touched, untouched = [], files  # nothing can match: copy-only
    else:
        touched, untouched = split_touched_files(files, key, b.mn, b.mx)

    rows_before = _rows(touched)
    rows_written = _cow_rewrite(
        spark,
        target_path,
        keys,
        key,
        touched,
        untouched,
        None,  # DELETE adds nothing
        out_path,
        n_files,
        rows_per_group,
        broadcast_keys,
    )
    rows_deleted = (rows_before - rows_written) if touched else 0

    return {
        "files_total": len(files),
        "files_rewritten": len(touched),
        "files_carried_over": len(untouched),
        "rows_deleted": int(rows_deleted),
    }
