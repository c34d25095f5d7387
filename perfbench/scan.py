"""``scan``: analytic reads through ``spark.read.format("scbf")`` over a
seeded lineitem-shaped SCBF v2 dataset.

The dataset is ROWS rows in FILES files, clustered on ``l_orderkey`` (each
file holds one contiguous key range, sorted), split into row groups of
GROUP_ROWS rows, with a Bloom filter on ``l_partkey``. File ``i`` holds the
part keys congruent to ``i`` modulo FILES: every file's min/max covers the
whole key domain, so only the Bloom filters can skip files on a lookup. One round runs each of
the five operation kinds once, in a seeded order:

- ``q1``: full-scan pricing aggregate (TPC-H Q1 shape)
- ``columns``: projection through ``.option("columns", ...)`` (pruned read)
- ``select``: the same projection through ``.select`` (not pruned today)
- ``range``: clustered range filter on ``l_orderkey`` (file and group skipping)
- ``bloom``: point lookup ``l_partkey IN (...)`` (Bloom-filter skipping)

Every answer is checked against numpy over the same seeded arrays.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from .common import WORK_DIR, cpus, dir_bytes, wrapped

ROWS = 1_000_000
FILES = 8
GROUP_ROWS = 65_536
ORDERS = ROWS // 4  # ~4 lines per order, as in TPC-H
PARTS = 32_768
RANGE_KEYS = 5_000  # width of the clustered range filter, in order keys
LOOKUP_KEYS = 3
Q1_SHIPDATE = 10_470  # days since 1970-01-01 (1998-09-02)
COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)
OP_KINDS = ("q1", "columns", "select", "range", "bloom")
#: nominal wall time of one round on a 4-core box; sizes the timed phase
NOMINAL_ROUND_S = 8.0
MIN_ROUNDS = 1
SETUP_REPEATS = 2


def gen_file(seed: int, i: int) -> dict:
    """Columns of file ``i``: order keys [i*ORDERS/FILES, (i+1)*ORDERS/FILES)."""
    rng = np.random.default_rng([seed, i])
    n = ROWS // FILES
    lo = i * ORDERS // FILES
    hi = (i + 1) * ORDERS // FILES
    return {
        "l_orderkey": np.sort(rng.integers(lo, hi, n)).astype(np.int64),
        "l_partkey": (rng.integers(0, PARTS // FILES, n) * FILES + i).astype(np.int64),
        "l_suppkey": rng.integers(0, 10_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": rng.integers(8_766, 11_323, n).astype(np.int32),
    }


def write_file(seed: int, i: int, directory: str) -> None:
    import pyarrow as pa

    from custom_columnar_format_spark.scbf import codec_v2

    table = pa.table(gen_file(seed, i))
    codec_v2.write_arrow_table(
        os.path.join(directory, f"part-{i:05d}.scbf"),
        table,
        bloom_columns=["l_partkey"],
        rows_per_group=GROUP_ROWS,
    )


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


class Scan:
    name = "scan"
    needs_spark = True

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.path = os.path.join(WORK_DIR, "scan-data")

    def build(self) -> None:
        """Generate the seeded columns and write the dataset, one file per
        thread (zlib releases the interpreter lock)."""
        import pyarrow as pa

        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        with ThreadPoolExecutor(min(FILES, cpus())) as pool:
            for f in [pool.submit(write_file, self.seed, i, self.path) for i in range(FILES)]:
                f.result()
        parts = [gen_file(self.seed, i) for i in range(FILES)]
        self.cols = {c: np.concatenate([p[c] for p in parts]) for c in COLUMNS}
        self.user_bytes = pa.table(self.cols).nbytes
        self.stored_bytes = dir_bytes(self.path)

    # -- operations -----------------------------------------------------

    def _read(self, columns=None):
        r = self.spark.read.format("scbf")
        if columns:
            r = r.option("columns", ",".join(columns))
        return r.load(self.path)

    def round_ops(self, rng) -> list:
        ops = []
        for kind in rng.permutation(OP_KINDS):
            if kind == "range":
                lo = int(rng.integers(0, ORDERS - RANGE_KEYS))
                ops.append(("range", (lo, lo + RANGE_KEYS)))
            elif kind == "bloom":
                idx = rng.choice(ROWS, LOOKUP_KEYS, replace=False)
                ops.append(("bloom", tuple(int(k) for k in self.cols["l_partkey"][idx])))
            else:
                ops.append((str(kind), None))
        return ops

    def rows(self, op) -> int:
        return ROWS

    def run(self, op):
        from pyspark.sql import functions as F

        kind, arg = op
        if kind == "q1":
            disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
            return [
                tuple(r)
                for r in self._read()
                .filter(F.col("l_shipdate") <= Q1_SHIPDATE)
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.sum("l_quantity"),
                    F.sum("l_extendedprice"),
                    F.sum(disc),
                    F.sum(disc * (1 + F.col("l_tax"))),
                    F.count(F.lit(1)),
                )
                .collect()
            ]
        if kind in ("columns", "select"):
            cols = ["l_extendedprice", "l_discount"]
            df = self._read(cols) if kind == "columns" else self._read().select(*cols)
            r = df.agg(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), F.count(F.lit(1))
            ).collect()[0]
            return tuple(r)
        if kind == "range":
            lo, hi = arg
            cond = (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
        else:
            cond = F.col("l_partkey").isin(list(arg))
        r = self._read().filter(cond).agg(F.count(F.lit(1)), F.sum("l_quantity")).collect()[0]
        return tuple(r)

    # -- correctness ----------------------------------------------------

    def _mask(self, op):
        kind, arg = op
        c = self.cols
        if kind == "q1":
            return c["l_shipdate"] <= Q1_SHIPDATE
        if kind == "range":
            return (c["l_orderkey"] >= arg[0]) & (c["l_orderkey"] < arg[1])
        if kind == "bloom":
            return np.isin(c["l_partkey"], np.array(arg, dtype=np.int64))
        return np.ones(ROWS, dtype=bool)

    def check(self, op, result) -> bool:
        kind, _ = op
        c = self.cols
        m = self._mask(op)
        if kind == "q1":
            want = {}
            for rf in ("A", "N", "R"):
                for ls in ("F", "O"):
                    g = m & (c["l_returnflag"] == rf) & (c["l_linestatus"] == ls)
                    if not g.any():
                        continue
                    disc = c["l_extendedprice"][g] * (1 - c["l_discount"][g])
                    want[(rf, ls)] = (
                        c["l_quantity"][g].sum(),
                        c["l_extendedprice"][g].sum(),
                        disc.sum(),
                        (disc * (1 + c["l_tax"][g])).sum(),
                        int(g.sum()),
                    )
            got = {(r[0], r[1]): r[2:] for r in result}
            return got.keys() == want.keys() and all(
                got[k][4] == want[k][4] and all(_close(a, b) for a, b in zip(got[k][:4], want[k][:4]))
                for k in want
            )
        if kind in ("columns", "select"):
            want = (c["l_extendedprice"] * (1 - c["l_discount"])).sum()
            return result[1] == ROWS and _close(result[0], want)
        n = int(m.sum())
        return result[0] == n and (n == 0 or _close(result[1], c["l_quantity"][m].sum()))

    # -- per-layer pass ---------------------------------------------------

    def tracing(self, tracer):
        """No layer of a scan operation runs in this process: Spark's Python
        workers call the datasource, so ``layer_pass`` drives it instead."""
        from contextlib import nullcontext

        return nullcontext()

    def needed(self, op):
        """(rows the operation needs, columns it references)."""
        kind, _ = op
        ncols = {"q1": 7, "columns": 2, "select": 2, "range": 2, "bloom": 2}[kind]
        return int(self._mask(op).sum()), ncols

    def pushed_filters(self, op) -> list:
        """The filters Spark pushes into the reader for ``op``."""
        from pyspark.sql.datasource import (
            GreaterThanOrEqual,
            In,
            IsNotNull,
            LessThan,
            LessThanOrEqual,
        )

        kind, arg = op
        if kind == "q1":
            return [IsNotNull(("l_shipdate",)), LessThanOrEqual(("l_shipdate",), Q1_SHIPDATE)]
        if kind == "range":
            a = ("l_orderkey",)
            return [IsNotNull(a), GreaterThanOrEqual(a, arg[0]), LessThan(a, arg[1])]
        if kind == "bloom":
            return [In(("l_partkey",), arg)]
        return []

    def layer_pass(self, tracer, ops, rounds: int) -> dict:
        """Drive the datasource in-process exactly as Spark's planner and
        tasks do (``schema()`` + ``pushFilters`` + ``partitions()``, then
        ``read(p)`` drained per partition), with spans around every codec
        call, to time the layers that otherwise run in Python workers."""
        from custom_columnar_format_spark.scbf import codec_v2
        from custom_columnar_format_spark.sources import scbf_datasource as sds

        decoded = {"rows": 0, "cols": 0}  # cols: widest codec read of the op

        def read_name(path, columns=None, *a, **k):
            full = columns is None or len(columns) == len(COLUMNS)
            return "scbf.codec_v2.read_arrow_table" if full else "scbf.codec_v2.read_selective"

        def on_read(args, kwargs, table):
            decoded["rows"] += table.num_rows
            decoded["cols"] = max(decoded["cols"], table.num_columns)

        rows_needed = cols_needed = cols_decoded = files_total = files_read = parts_total = 0
        with wrapped(tracer, codec_v2, "read_arrow_table", read_name, on_read), wrapped(
            tracer, codec_v2, "read_meta", "scbf.codec_v2.read_meta"
        ):
            for op_id, op in enumerate(ops):
                tracer.op_id = op_id
                options = {"path": self.path}
                if op[0] == "columns":
                    options["columns"] = "l_extendedprice,l_discount"
                with tracer.span("sources.scbf_datasource.plan"):
                    ds = sds.ScbfDataSource(options)
                    reader = ds.reader(ds.schema())
                    filters = self.pushed_filters(op)
                    if filters:
                        reader.pushFilters(filters)
                    parts = reader.partitions()
                with tracer.span("sources.scbf_datasource.read"):
                    for p in parts:
                        for _batch in reader.read(p):
                            pass
                rows, cols = self.needed(op)
                rows_needed += rows
                cols_needed += cols
                cols_decoded += decoded["cols"]
                decoded["cols"] = 0
                parts_total += len(parts)
                files_total += FILES
                files_read += len({p.file_path for p in parts if p.file_path})
        tracer.op_id = None
        st = tracer.self_times()
        return {
            "scbf.codec_v2.read_arrow_table_s": st.get("scbf.codec_v2.read_arrow_table", 0.0),
            "scbf.codec_v2.read_selective_s": st.get("scbf.codec_v2.read_selective", 0.0),
            "scbf.codec_v2.read_meta_s": st.get("scbf.codec_v2.read_meta", 0.0),
            "sources.scbf_datasource.read_s": st["sources.scbf_datasource.read"],
            "sources.scbf_datasource.plan_s": st["sources.scbf_datasource.plan"],
            "sources.scbf_datasource.rows_decoded_per_row_returned": decoded["rows"]
            / max(1, rows_needed),
            "sources.scbf_datasource.columns_decoded_per_column_returned": cols_decoded
            / cols_needed,
            "sources.scbf_datasource.partitions": parts_total / len(ops),
            "sources.scbf_datasource.files_skipped_ratio": 1 - files_read / files_total,
        }
