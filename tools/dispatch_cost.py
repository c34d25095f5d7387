"""Per-op cost of the Spark <-> Python worker boundary on a tiny dataset.

    python tools/dispatch_cost.py [--cores 4] [--repeats 7]

Starts a ``local[cores]`` session, writes a 4-file, 4k-row SCBF v2 dataset
to a temporary directory and prints, for the scbf source and for a 1-row
Python source defined inline (the floor Spark puts under any Python data
source), the median over ``--repeats`` warm repeats of:

- ``load``: ``spark.read.format(...).load()`` (the schema round-trip);
- ``plan``: ``queryExecution().executedPlan()`` of a filtered read, after
  its ``load`` (the pushdown and partition-planning round-trip);
- ``count``: ``count()`` of a fresh read (planning plus the read tasks).

The inline source is measured twice: before the scbf source has run, in
workers that never imported this package, and after it. Its read task
also times ``importlib.invalidate_caches()`` inside the worker, which
every dispatch runs first (``pyspark.worker_util.setup_spark_files``);
``in-worker invalidate_caches`` is the median of that, with the number of
zipimporters the worker holds and whether this package's
``shipping.cache_zip_directories`` is installed there. Run it at two
commits to compare them; it changes nothing in the session or the workers.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql.datasource import DataSource, DataSourceReader  # noqa: E402


class _OneRowReader(DataSourceReader):
    def read(self, partition):
        import importlib
        import zipimport

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        took = time.perf_counter() - t0
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        hooked = bool(getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False))
        yield (took, zips, hooked)


class OneRowSource(DataSource):
    @classmethod
    def name(cls):
        return "one_row"

    def schema(self):
        return "invalidate_s double, zipimporters int, hooked boolean"

    def reader(self, schema):
        return _OneRowReader()


def _median_s(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _measure(spark, fmt: str, path, filter_sql: str, repeats: int) -> dict:
    def reader():
        r = spark.read.format(fmt)
        return r.load(path) if path else r.load()

    def plan():
        df = reader().filter(filter_sql)
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        return time.perf_counter() - t0

    return {
        "load": _median_s(reader, repeats),
        "plan": statistics.median(plan() for _ in range(repeats)),
        "count": _median_s(lambda: reader().count(), repeats),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--repeats", type=int, default=7)
    args = ap.parse_args()

    import numpy as np
    import pyarrow as pa

    from custom_columnar_format_spark.scbf import codec_v2
    from custom_columnar_format_spark.sources.scbf_datasource import register

    work = tempfile.mkdtemp(prefix="dispatch_cost_")
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("dispatch_cost")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        data = os.path.join(work, "data")
        os.makedirs(data)
        rng = np.random.default_rng(0)
        for i in range(4):
            table = pa.table({
                "id": np.arange(i * 1000, (i + 1) * 1000, dtype=np.int64),
                "x": rng.uniform(0.0, 1.0, 1000),
            })
            codec_v2.write_arrow_table(os.path.join(data, f"part-{i:05d}.scbf"), table)
        register(spark)
        spark.dataSource.register(OneRowSource)

        warm = args.repeats // 2 or 1
        rows = []
        _measure(spark, "one_row", None, "zipimporters > 0", warm)
        rows.append(("one_row, workers without the package",
                     _measure(spark, "one_row", None, "zipimporters > 0", args.repeats)))
        _measure(spark, "scbf", data, "id < 1500", warm)
        rows.append(("scbf", _measure(spark, "scbf", data, "id < 1500", args.repeats)))
        rows.append(("one_row, after scbf",
                     _measure(spark, "one_row", None, "zipimporters > 0", args.repeats)))
        probes = [spark.read.format("one_row").load().collect()[0] for _ in range(args.repeats)]

        print(f"local[{args.cores}], median of {args.repeats} warm repeats, seconds")
        print(f"{'source':40s} {'load':>7s} {'plan':>7s} {'count':>7s}")
        for label, m in rows:
            print(f"{label:40s} {m['load']:7.3f} {m['plan']:7.3f} {m['count']:7.3f}")
        print(
            f"in-worker invalidate_caches: {statistics.median(p.invalidate_s for p in probes):.4f} s"
            f" ({probes[-1].zipimporters} zipimporters,"
            f" cache_zip_directories installed: {probes[-1].hooked})"
        )
        print(f"spark.range(10).count(): {_median_s(lambda: spark.range(10).count(), args.repeats):.3f} s")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
