"""``ingest``: a seeded frame written through the scbf DataSource writer and
a CSV converted by the single-process ``cli.csv_to_custom`` path.

The frame is written the way a ``df.write.format("scbf")`` job does it, but
in this process: one ``ScbfWriter.write`` per slice (one slice per core, as
the tasks of a ``repartition(nproc)`` frame would get) followed by the
job's ``commit``. No Spark session is started: the JVM start and warm-up
would cost more of the run than the writes themselves.

One round runs each operation kind once, in a seeded order:

- ``v1``: SCBF v1 write
- ``v2``: SCBF v2 write with row groups and a Bloom filter on ``l_suppkey``
- ``partitioned``: SCBF v2 write with ``partition_by`` on ``l_returnflag``
- ``csv``: ``csv_to_custom`` with ``local=True`` on the 200k x 4 shape of
  the reference measurement (int id, 1000-distinct name, float score,
  60-char repetitive payload)

Every output is read back through ``scbf.codec`` / ``scbf.codec_v2`` and
compared with the input, column by column, independent of row order.
"""

from __future__ import annotations

import argparse
import csv
import glob
import os
import shutil
from contextlib import ExitStack, nullcontext

import numpy as np

from .common import WORK_DIR, cpus, dir_bytes, wrapped

FRAME_ROWS = 200_000
CSV_ROWS = 200_000
GROUP_ROWS = 16_384
OP_KINDS = ("v1", "v2", "partitioned", "csv")
#: nominal wall time of one round on a 4-core box; sizes the timed phase
NOMINAL_ROUND_S = 4.5
#: 24 operations, so latency_tail_s is p58 (10 samples beyond it)
MIN_ROUNDS = 6
SETUP_REPEATS = 3

_WORDS = np.array(
    "carefully final deposits sleep quickly furiously regular ideas haggle "
    "slyly bold requests nag blithely even packages wake pending accounts".split()
)
_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])


def gen_frame(seed: int):
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n = FRAME_ROWS
    words = _WORDS[rng.integers(0, len(_WORDS), (n, 3))]
    return pa.table(
        {
            "l_orderkey": np.sort(rng.integers(0, n // 4, n)).astype(np.int32),
            "l_partkey": rng.integers(0, 10 * n, n).astype(np.int32),
            "l_suppkey": rng.integers(0, 1_000, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_shipmode": _SHIPMODES[rng.integers(0, len(_SHIPMODES), n)],
            "l_comment": [" ".join(w) for w in words],
        }
    )


def gen_csv_columns(seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    n = CSV_ROWS
    base = "".join(rng.choice(list("abcdefgh"), 12)) * 5  # 60 chars
    shift = rng.integers(0, 12, n)
    return {
        "id": list(range(n)),
        "name": [f"user_{i % 1000}" for i in range(n)],
        "score": np.round(rng.uniform(0.0, 100.0, n), 4).tolist(),
        "payload": [base[s:] + base[:s] for s in shift.tolist()],
    }


def _canonical(table):
    """Rows sorted on every column: equal tables compare equal whatever
    order the writer stored the rows in."""
    return table.sort_by([(c, "ascending") for c in table.column_names])


WRITE_OPTIONS = {
    "v1": {"version": "1"},
    "v2": {"version": "2", "rows_per_group": str(GROUP_ROWS), "bloom_filters": "l_suppkey"},
    "partitioned": {"version": "2", "partition_by": "l_returnflag"},
}


class Ingest:
    name = "ingest"
    needs_spark = False

    def __init__(self, spark, seed: int):
        self.seed = seed
        self.root = os.path.join(WORK_DIR, "ingest")
        self.n_ops = 0
        self._tracer = None
        self.bytes_written = {"v1": 0, "v2": 0}
        self.stored_bytes = 0
        self.user_bytes = 0

    def build(self) -> None:
        """Generate the seeded frame and write the CSV file."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.frame = gen_frame(self.seed)
        self.frame_sorted = _canonical(self.frame)
        self.schema = from_arrow_schema(self.frame.schema)
        step = -(-self.frame.num_rows // cpus())
        self.slices = [
            self.frame.slice(off, step).to_batches() for off in range(0, self.frame.num_rows, step)
        ]
        cols = gen_csv_columns(self.seed)
        self.csv_path = os.path.join(self.root, "input.csv")
        with open(self.csv_path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(list(cols))
            w.writerows(zip(*cols.values()))
        self.csv_table = pa.table(
            {
                "id": pa.array(cols["id"], pa.int32()),
                "name": cols["name"],
                "score": cols["score"],
                "payload": cols["payload"],
            }
        )

    # -- operations -----------------------------------------------------

    def round_ops(self, rng) -> list:
        ops = []
        for kind in rng.permutation(OP_KINDS):
            out = os.path.join(self.root, f"out-{self.n_ops:04d}")
            self.n_ops += 1
            ops.append((str(kind), out))
        return ops

    def rows(self, op) -> int:
        return CSV_ROWS if op[0] == "csv" else FRAME_ROWS

    def write(self, out: str, options: dict) -> None:
        """The scbf DataSource write protocol: ``write`` per task, then one
        ``commit`` of every task's message."""
        from custom_columnar_format_spark.sources import scbf_datasource as sds

        span = self._tracer.span if self._tracer else (lambda _n: nullcontext())
        with span("sources.scbf_datasource.write"):
            writer = sds.ScbfWriter(self.schema, dict(options, path=out), overwrite=True)
            writer.commit([writer.write(iter(batches)) for batches in self.slices])

    def run(self, op):
        kind, out = op
        if kind != "csv":
            return self.write(out, WRITE_OPTIONS[kind])
        from custom_columnar_format_spark import cli

        os.makedirs(out)
        cli.csv_to_custom(
            argparse.Namespace(
                csv_path=self.csv_path,
                out_path=os.path.join(out, "out.scbf"),
                local=True,
                compat_inference=False,
                compression_level=6,
            )
        )

    # -- correctness ----------------------------------------------------

    def check(self, op, result) -> bool:
        import pyarrow as pa

        from custom_columnar_format_spark.scbf import codec, codec_v2

        kind, out = op
        self.stored_bytes += dir_bytes(out)
        want = self.csv_table if kind == "csv" else self.frame
        self.user_bytes += want.nbytes
        if kind == "csv":
            got = codec.read_arrow_table(os.path.join(out, "out.scbf"))
            return got.equals(self.csv_table.cast(got.schema))
        files = sorted(glob.glob(os.path.join(out, "**", "part-*.scbf"), recursive=True))
        if not files:
            return False
        tables = []
        for f in files:
            t = codec.read_arrow_table(f) if kind == "v1" else codec_v2.read_arrow_table(f)
            if kind == "partitioned":
                flag = os.path.basename(os.path.dirname(f)).partition("=")[2]
                t = t.append_column("l_returnflag", pa.array([flag] * t.num_rows))
            tables.append(t.select(want.column_names).cast(want.schema))
        shutil.rmtree(out)
        return _canonical(pa.concat_tables(tables)).equals(self.frame_sorted)

    # -- tracing --------------------------------------------------------

    def tracing(self, tracer):
        """Spans around the layers every operation calls in this process."""
        from custom_columnar_format_spark.scbf import codec, codec_v2, inference

        def count(key):
            def on_result(args, kwargs, _result):
                self.bytes_written[key] += os.path.getsize(args[0])

            return on_result

        stack = ExitStack()
        self._tracer = tracer
        stack.callback(setattr, self, "_tracer", None)
        for module, attr, name, on_result in (
            (inference, "infer_full", "scbf.inference.infer", None),
            (inference, "parse_column", "scbf.inference.parse", None),
            (codec, "write_table_path", "scbf.codec.write_table_path", None),
            (codec, "write_arrow_table", "scbf.codec.write_arrow_table", count("v1")),
            (codec_v2, "write_arrow_table", "scbf.codec_v2.write_arrow_table", count("v2")),
        ):
            stack.enter_context(wrapped(tracer, module, attr, name, on_result))
        return stack

    def layer_pass(self, tracer, ops, rounds: int) -> dict:
        """The round's two v2 writes again with ``codec="none"``: the
        difference to ``write_arrow_table_s`` is the compression cost."""
        from custom_columnar_format_spark.scbf import codec_v2

        out = os.path.join(self.root, "uncompressed")
        with wrapped(tracer, codec_v2, "write_arrow_table", "scbf.codec_v2.write_uncompressed"):
            for kind in ("v2", "partitioned"):
                self.write(os.path.join(out, kind), dict(WRITE_OPTIONS[kind], codec="none"))
        shutil.rmtree(out)
        return {
            "scbf.codec_v2.write_uncompressed_s": tracer.self_times()[
                "scbf.codec_v2.write_uncompressed"
            ],
            "scbf.codec_v2.bytes_written": self.bytes_written["v2"] / rounds,
            "scbf.codec.bytes_written": self.bytes_written["v1"] / rounds,
        }
