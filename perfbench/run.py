"""Benchmark of the SCBF engine: one workload run per invocation.

    python3 perfbench/run.py --workload {scan,ingest} --seed N \
        --seconds S --trace {0,1}

One closed-loop client in this process runs one operation at a time
(``scan`` against a ``local[nproc]`` Spark session). A run:

1. set-up (``setup_s``): session start, seeded data generation and dataset
   build (repeated SETUP_REPEATS times; the median counts), and one untimed
   warm round (codegen, Python worker pools, the DSv2 planning worker);
2. timed phase: a fixed number of rounds, each running every operation kind
   of the workload once in a seeded order. The round count is
   ``max(MIN_ROUNDS, round(seconds / NOMINAL_ROUND_S))``: a fixed amount of
   work that lasts about ``--seconds`` on a 4-core box, so ``elapsed_s``
   compares across commits;
3. every result is checked, outside the timed phase.

``--trace 1`` runs the timed phase twice, untraced and then with spans and
Spark job counting on (the difference is ``trace.overhead_s``), then drives
the storage layers in-process for one round (they otherwise run inside
Spark's Python workers), and reports the per-layer metrics. Spans are
written to ``perfbench/.traces/`` when the run ends.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; everything else the libraries
print goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    TRACE_DIR,
    WORK_DIR,
    JobCounter,
    RssSampler,
    Tracer,
    build_spark,
    latency_metrics,
    stop_spark,
)

END_TO_END = {
    "setup_s": "s",
    "elapsed_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "rows/s",
    "bytes_stored_per_user_byte": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "scbf.codec_v2.read_arrow_table_s": "s",
    "scbf.codec_v2.read_selective_s": "s",
    "scbf.codec_v2.read_meta_s": "s",
    "sources.scbf_datasource.read_s": "s",
    "sources.scbf_datasource.plan_s": "s",
    "sources.scbf_datasource.rows_decoded_per_row_returned": "ratio",
    "sources.scbf_datasource.columns_decoded_per_column_returned": "ratio",
    "sources.scbf_datasource.partitions": "count",
    "sources.scbf_datasource.files_skipped_ratio": "ratio",
    "scbf.codec_v2.write_arrow_table_s": "s",
    "scbf.codec_v2.write_uncompressed_s": "s",
    "scbf.codec.write_arrow_table_s": "s",
    "scbf.codec.write_table_path_s": "s",
    "sources.scbf_datasource.write_s": "s",
    "scbf.codec_v2.bytes_written": "B",
    "scbf.codec.bytes_written": "B",
    "scbf.inference.infer_s": "s",
    "scbf.inference.parse_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.overhead_s": "s",
}

#: per-layer times recorded by the traced phase itself (spans in this
#: process), reported per round
PHASE_SPANS = (
    "scbf.codec_v2.write_arrow_table",
    "scbf.codec.write_arrow_table",
    "sources.scbf_datasource.write",
    "scbf.inference.infer",
    "scbf.inference.parse",
    "scbf.codec.write_table_path",
)


def _workload(name: str):
    if name == "scan":
        from perfbench import scan as mod

        return mod, mod.Scan
    from perfbench import ingest as mod

    return mod, mod.Ingest


def run_phase(wl, ops, tracer=None, jobs=None):
    """Closed loop over ``ops``; returns (elapsed, latencies, results)."""
    from contextlib import nullcontext

    latencies, results = [], []
    start = time.perf_counter()
    for i, op in enumerate(ops):
        t = time.perf_counter()
        try:
            if tracer is None:
                results.append(wl.run(op))
            else:
                tracer.op_id = i
                with jobs.op(i) if jobs else nullcontext(), tracer.span(f"op.{op[0]}"):
                    results.append(wl.run(op))
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"operation {op[0]} failed: {type(e).__name__}: {e}", file=sys.stderr)
            results.append(e)
        latencies.append(time.perf_counter() - t)
    return time.perf_counter() - start, latencies, results


def check_all(wl, ops, results) -> int:
    failed = 0
    for op, res in zip(ops, results):
        ok = False
        if not isinstance(res, Exception):
            try:
                ok = wl.check(op, res)
            except Exception as e:
                print(f"check of {op[0]} raised {type(e).__name__}: {e}", file=sys.stderr)
        if not ok:
            print(f"wrong result: {op}", file=sys.stderr)
            failed += 1
    return failed


def traced_run(wl, spark, rng, rounds: int, untraced_elapsed: float, trace_path: str):
    """The timed phase again with spans and Spark job counting on, then the
    workload's in-process layer pass over one round; returns (per-layer
    metrics, operations, failed operations)."""
    tracer, layer_tracer = Tracer(), Tracer()
    jobs = JobCounter(spark) if spark is not None else None
    ops = [op for _ in range(rounds) for op in wl.round_ops(rng)]
    with wl.tracing(tracer):
        elapsed, _latencies, results = run_phase(wl, ops, tracer, jobs)
    failed = check_all(wl, ops, results)
    st = tracer.self_times()
    layers = {f"{n}_s": st.get(n, 0.0) / rounds for n in PHASE_SPANS}
    if jobs is not None:
        layers["spark.jobs_per_op"] = jobs.jobs / jobs.ops
        layers["spark.tasks_per_op"] = jobs.tasks / jobs.ops
    layers["trace.overhead_s"] = elapsed - untraced_elapsed
    layers.update(wl.layer_pass(layer_tracer, ops[: len(ops) // rounds], rounds))
    offset = len(tracer.spans)
    for name, start, end, parent, op_id in layer_tracer.spans:
        tracer.spans.append([name, start, end, None if parent is None else parent + offset, op_id])
    tracer.dump(trace_path)
    return layers, ops, failed


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("scan", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the metric line must be the last line of stdout: keep the real stdout
    # for it and send everything else (JVM, workers, libraries) to stderr
    sys.stdout.flush()
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    try:
        import custom_columnar_format_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine package: {e}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK_DIR, ignore_errors=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    # the launcher JVM would otherwise keep perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    import numpy as np

    mod, cls = _workload(args.workload)
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = build_spark() if cls.needs_spark else None
            session_s = time.perf_counter() - t0
            wl = cls(spark, args.seed)
            builds = []
            for _ in range(mod.SETUP_REPEATS):
                t = time.perf_counter()
                wl.build()
                builds.append(time.perf_counter() - t)
            rng = np.random.default_rng([args.seed, 0])
            t = time.perf_counter()
            run_phase(wl, wl.round_ops(rng))
            warm_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(builds) + warm_s

            rounds = max(mod.MIN_ROUNDS, round(args.seconds / mod.NOMINAL_ROUND_S))
            ops = [op for _ in range(rounds) for op in wl.round_ops(rng)]
            elapsed, latencies, results = run_phase(wl, ops)
            failed = check_all(wl, ops, results)

            layers, traced_ops, traced_failed = {}, [], 0
            if args.trace:
                trace_path = os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.jsonl")
                layers, traced_ops, traced_failed = traced_run(
                    wl, spark, rng, rounds, elapsed, trace_path
                )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK_DIR, ignore_errors=True)

    p50, tail, q = latency_metrics(latencies)
    values = {
        "setup_s": setup_s,
        "elapsed_s": elapsed,
        "ops_per_s": len(ops) / elapsed,
        "latency_p50_s": p50,
        "latency_tail_s": tail,
        "rows_per_s": sum(wl.rows(op) for op in ops) / elapsed,
        "bytes_stored_per_user_byte": wl.stored_bytes / wl.user_bytes,
        "peak_rss_mb": rss.peak / 2**20,
    }
    attempted = len(ops) + len(traced_ops)
    failed += traced_failed
    error_rate = failed / attempted
    print(
        f"# workload={args.workload} seed={args.seed} rounds={rounds} ops={len(latencies)} "
        f"latency_tail_s=p{q} setup: session={session_s:.3f}s "
        f"build_median={statistics.median(builds):.3f}s warm={warm_s:.3f}s",
        file=result_out,
    )
    print(f"error_rate {error_rate} ratio", file=result_out)
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in END_TO_END.items()}
    for n, m in metrics.items():
        print(f"{n} {m['value']} {m['unit']}", file=result_out)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        file=result_out,
    )
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
