"""Dataset compaction: rewrite an SCBF dataset's many small files into few
right-sized ones — the maintenance job every streaming sink needs (each
micro-batch commits its own files; after a day a 100 TB/day stream has
hundreds of thousands of them, and open/footer costs start to dominate
scans). Also re-sorts optionally, restoring stats-pruning quality that
append-order writes lose.

Hive-partitioned datasets compact each leaf directory independently (each
is its own small-files problem); leaf directories and their files come from
the dataset log (``sources/dataset_log.py``). Each leaf is rewritten into a
hidden job directory (``<leaf>/.job-*``) whose parts are moved beside the
data, and ONE log commit swaps every new file for every old one; the old
files are unlinked only after it. Readers therefore see the dataset before
or after the whole compaction, a failed or crashed run changes nothing they
can see, and ``vacuum`` deletes what it left behind.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..scbf.reader_api import SCBFReader
from ..sources import dataset_log
from . import vacuum as _vacuum


def _version(path: str) -> int:
    with SCBFReader(path) as h:
        return h.version


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

    # heal a legacy swap an older driver crashed in the middle of, so the
    # backup's rows are visible again before we rewrite
    _vacuum.recover(path)

    base = dataset_log.current_files(path)
    leaves: dict[str, list[str]] = {}
    for f in base:
        leaves.setdefault(os.path.dirname(f), []).append(f)
    job_name = f".job-{uuid.uuid4().hex[:12]}"
    moves = []
    for d, files in sorted(leaves.items()):
        version = max(_version(p) for p in files)
        rel = ",".join(os.path.basename(p) for p in files)
        df: DataFrame = spark.read.format("scbf").option("files", rel).load(d)
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

        w = df.write.format("scbf").option("version", str(version)).mode("overwrite")
        if rows_per_group:
            if version != 2:
                raise ValueError("rows_per_group requires a v2 dataset")
            w = w.option("rows_per_group", str(rows_per_group))
        w.save(os.path.join(d, job_name))
        moves += [
            (p, os.path.join(d, os.path.basename(p)))
            for p in dataset_log.current_files(os.path.join(d, job_name))
        ]

    if base:
        dataset_log.publish(path, moves, base)
    for d in leaves:
        shutil.rmtree(os.path.join(d, job_name), ignore_errors=True)
    return {"dirs": len(leaves), "files_before": len(base), "files_after": len(moves)}
