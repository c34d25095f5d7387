"""Dataset compaction: rewrite an SCBF dataset's many small files into few
right-sized ones — the maintenance job every streaming sink needs (each
micro-batch commits its own files; after a day a 100 TB/day stream has
hundreds of thousands of them, and open/footer costs start to dominate
scans). Also re-sorts optionally, restoring stats-pruning quality that
append-order writes lose.

Staged write + swap-last like operators/merge.py: a failed compaction leaves
the dataset untouched. Scratch lives in **hidden sibling** directories
(``root/.k=v.compact-tmp``, see operators/_staging.py) so neither a crash
before the swap nor a concurrent reader during it can ever see staging or
backup files as data — the recursive file lister skips hidden and
scratch-suffixed components. The swap itself is two renames; a reader racing
that exact window can observe a missing directory, so in-place compaction
assumes no concurrent writer and retry-on-read semantics (same contract as
merge_into; ``vacuum.recover`` restores the backup if the driver dies between
the renames). Hive-partitioned datasets compact partition directories
independently (each directory is its own small-files problem).
"""

from __future__ import annotations

import glob
import math
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..scbf.reader_api import SCBFReader
from . import vacuum as _vacuum
from ._staging import is_scratch_component, staging_path, swap_into_place


def _leaf_dirs(path: str) -> list[str]:
    """Directories that directly contain .scbf files (the dataset root, or
    each hive partition directory). Stale scratch dirs left by a crashed
    maintenance run are pruned — they hold superseded copies, not data."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not is_scratch_component(x)]
        if any(f.endswith(".scbf") for f in files):
            out.append(root)
    return sorted(out)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    rows_per_file: int | None = None,
    sort_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    rows_per_group: int | None = None,
) -> dict:
    """Compact every leaf directory of an SCBF dataset.

    Size either by ``target_files`` per directory or ``rows_per_file``
    (exactly one). ``sort_by`` re-sorts within the directory before writing,
    restoring tight min/max envelopes for stats pruning on that column;
    ``zorder_by`` instead clusters along the Morton curve of SEVERAL columns
    (Delta's ``OPTIMIZE ... ZORDER BY``) so box predicates on all of them
    skip files — see operators/zorder.py.

    ``rows_per_group`` (v2 datasets) writes the compacted files with
    intra-file row groups: compaction is precisely what grows files past the
    point where file-level stats stop pruning, and with a ``sort_by``/
    ``zorder_by`` each group gets a tight key envelope, so pushed filters
    keep skipping I/O inside the big files they produce."""
    if (target_files is None) == (rows_per_file is None):
        raise ValueError("pass exactly one of target_files / rows_per_file")
    if sort_by and zorder_by:
        raise ValueError("pass at most one of sort_by / zorder_by")

    # heal any swap a previous driver crashed in the middle of, so the
    # backup's rows are visible again before we rewrite
    _vacuum.recover(path)

    stats = {"dirs": 0, "files_before": 0, "files_after": 0}
    for d in _leaf_dirs(path):
        files = sorted(glob.glob(os.path.join(d, "*.scbf")))
        if not files:
            continue
        version = 1
        for p in files:
            with SCBFReader(p) as h:
                version = max(version, h.version)
        df: DataFrame = spark.read.format("scbf").load(d)
        if rows_per_file is not None:
            n = df.count()
            n_out = max(1, math.ceil(n / rows_per_file))
        else:
            n_out = max(1, target_files)
        if sort_by:
            df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
        elif zorder_by:
            from .zorder import zorder_value

            df = (
                zorder_value(df, zorder_by)
                .repartitionByRange(n_out, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            df = df.coalesce(n_out) if n_out < len(files) else df.repartition(n_out)

        staging = staging_path(d, ".compact-tmp")
        w = df.write.format("scbf").option("version", str(version)).mode("overwrite")
        if rows_per_group:
            if version != 2:
                raise ValueError("rows_per_group requires a v2 dataset")
            w = w.option("rows_per_group", str(rows_per_group))
        w.save(staging)

        swap_into_place(d, staging, ".compact-old")

        stats["dirs"] += 1
        stats["files_before"] += len(files)
        stats["files_after"] += len(glob.glob(os.path.join(d, "*.scbf")))
    return stats
