"""Shared benchmark machinery: Spark session, closed-loop timing, span
tracing, Spark job counting and process-tree memory sampling."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

#: every path the benchmark writes lives under the checkout
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(BENCH_DIR, ".work")
TRACE_DIR = os.path.join(BENCH_DIR, ".traces")

#: the highest percentile reported is the one with at least this many
#: samples beyond it
TAIL_SAMPLES = 10


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def build_spark():
    """local[nproc] session with the console progress bar off (it must be
    set at build time) and every scratch directory inside the checkout."""
    from pyspark.sql import SparkSession

    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    n = cpus()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", local)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", java_opts)
        .config("spark.sql.warehouse.dir", os.path.join(WORK_DIR, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from custom_columnar_format_spark.sources.scbf_datasource import register

    register(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and the Python workers it
    forked to exit."""
    import signal

    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    # the JVM's Python workers outlive it briefly (they exit on stdin EOF)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = [p for p in started if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# Latency statistics
# ---------------------------------------------------------------------------


def tail_percentile(n: int) -> int:
    """Highest integer percentile with at least TAIL_SAMPLES samples beyond
    it (0 when the sample is too small for any)."""
    if n <= TAIL_SAMPLES:
        return 0
    return int(math.floor(100.0 * (1.0 - TAIL_SAMPLES / n)))


def percentile(values, q: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def latency_metrics(latencies):
    q = tail_percentile(len(latencies))
    return statistics.median(latencies), percentile(latencies, q) if q else max(latencies), q


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id) recorded around calls
    into the program's layers; written out once when the run ends."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self.op_id = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def self_times(self) -> dict:
        """Per span name: total duration minus the part covered by children."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _op in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict = {}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (end - start) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("name", "start", "end", "parent", "op")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")


@contextmanager
def wrapped(tracer: Tracer, module, attr: str, span_name, on_result=None):
    """Temporarily replace ``module.attr`` by a version that records a span
    per call. ``span_name`` is a string or a function of the call arguments;
    ``on_result(args, kwargs, result)`` may record counts."""
    original = getattr(module, attr)

    def traced(*args, **kwargs):
        name = span_name(*args, **kwargs) if callable(span_name) else span_name
        with tracer.span(name):
            result = original(*args, **kwargs)
        if on_result is not None:
            on_result(args, kwargs, result)
        return result

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, original)


class JobCounter:
    """Spark jobs and tasks per operation, from the status tracker: each
    operation runs in its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs = 0
        self.tasks = 0
        self.ops = 0
        self._group = None

    @contextmanager
    def op(self, op_id: int):
        self._group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(self._group, self._group)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            self._collect()

    def _collect(self) -> None:
        st = self.sc.statusTracker()
        self.ops += 1
        for job in st.getJobIdsForGroup(self._group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            self.jobs += 1
            for stage in list(info.stageIds):
                sinfo = st.getStageInfo(stage)
                if sinfo is not None:
                    self.tasks += sinfo.numTasks


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _children_map() -> dict:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list:
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM, Python workers, build processes), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
