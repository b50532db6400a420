"""Measurement plumbing shared by the workloads: session lifecycle, the
peak-RSS sampler, spans, Spark status-store readers, summary statistics and
the counting LLM transport.

Nothing here changes the program: every number is taken from outside,
around calls into the program's public functions, from Spark's status
store, from ``QueryExecution.tracker().phases()`` or from ``/proc``.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import threading
import time
import zlib
from contextlib import contextmanager

SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # Enough history for one traced operation's jobs and stages.
    "spark.ui.retainedJobs": "5000",
    "spark.ui.retainedStages": "5000",
    "spark.sql.ui.retainedExecutions": "5000",
}


def noop(df) -> None:
    """Force every column of ``df`` without keeping it (never ``count()``,
    which lets Catalyst prune the projection)."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Session lifecycle
# ---------------------------------------------------------------------------


def launch(work_dir: str, *, cpus: int | None = None):
    """Start the program's session via ``get_spark``, launching a JVM when
    none is running. Returns ``(spark, seconds)``."""
    from batch_public_spark.session import get_spark

    if cpus is not None:
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    else:
        os.environ.pop("SPARK_GRAFT_CPUS", None)
    tmp = os.path.join(work_dir, "tmp")
    conf = dict(SPARK_CONF)
    conf["spark.local.dir"] = os.path.join(work_dir, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work_dir, "warehouse")
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def warm(spark) -> float:
    """The set-up warm-up: one JVM job and one Python-worker wave with one
    partition per core, so the worker pool is forked with pandas resident.
    Returns seconds."""
    t0 = time.perf_counter()
    width = spark.sparkContext.defaultParallelism
    spark.range(0, width * 1000, 1, width).selectExpr("sum(id)").collect()

    def ident(batches):
        for b in batches:
            yield b

    noop(spark.range(0, width * 64, 1, width).mapInPandas(ident, "id long"))
    return time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session (if any) and the JVM, and wait until the JVM has
    exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
            proc.kill()
            proc.wait(30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# ---------------------------------------------------------------------------
# Peak RSS of the Spark JVM plus its Python workers, from /proc
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` and all its descendants (the JVM forks the Python
    worker daemon, which forks the workers)."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Background sampler of the process tree's RSS; keeps the peak."""

    def __init__(self, root: int, every: float = 0.1):
        self.root, self.every = root, every
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self._stop.wait(self.every)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(10)
        self.peak = max(self.peak, tree_rss_mb(self.root))


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and run id; written out
    once when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=1)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(option, default=None):
    return option.get() if option.isDefined() else default


class StatusStore:
    """Job and stage metrics of the jobs run under one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list:
        self.settle()
        return [j for j in _seq(self.store.jobsList(None)) if _opt(j.jobGroup()) == group]

    def busy_s(self, group: str) -> float:
        """Wall time covered by the group's jobs (union of intervals)."""
        spans = sorted(
            (_opt(j.submissionTime()).getTime(), _opt(j.completionTime()).getTime())
            for j in self.jobs(group) if j.completionTime().isDefined()
        )
        busy, end = 0, None
        for a, b in spans:
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        return busy / 1000.0

    def stages(self, group: str) -> list:
        """The last attempt of every stage the group's jobs ran (stages
        skipped because their output was reused have no attempt)."""
        from py4j.protocol import Py4JJavaError

        out, seen = [], set()
        for job in self.jobs(group):
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.numTasks() and str(st.status()) != "SKIPPED":
                    out.append(st)
        return out

    def stage_totals(self, group: str) -> dict:
        """Summed executor metrics over every stage the group's jobs ran."""
        stages = self.stages(group)
        return dict(
            jobs=len(self.jobs(group)),
            stages=len(stages),
            tasks=sum(st.numTasks() for st in stages),
            run_s=sum(st.executorRunTime() for st in stages) / 1000.0,
            cpu_s=sum(st.executorCpuTime() for st in stages) / 1e9,
            gc_s=sum(st.jvmGcTime() for st in stages) / 1000.0,
            shuffle_read_bytes=sum(st.shuffleReadBytes() for st in stages),
            shuffle_write_bytes=sum(st.shuffleWriteBytes() for st in stages),
            input_bytes=sum(st.inputBytes() for st in stages),
        )

    def reduce_skew(self, group: str) -> float:
        """Largest over mean shuffle bytes read per task, over the group's
        shuffle-reading stages (1.0 = perfectly even)."""
        worst = 1.0
        for st in self.stages(group):
            if st.shuffleReadBytes() <= 0:
                continue
            reads = []
            for t in _seq(self.store.taskList(st.stageId(), st.attemptId(), 10_000)):
                m = _opt(t.taskMetrics())
                if m is not None:
                    r = m.shuffleReadMetrics()
                    reads.append(r.localBytesRead() + r.remoteBytesRead())
            if sum(reads) > 0:
                worst = max(worst, max(reads) / (sum(reads) / len(reads)))
        return worst


def plan_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s query
    execution (planning is forced here; the noop sink that follows
    re-plans the write command around it)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = ph.get().durationMs() / 1000.0 if ph.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# Counting LLM transport
# ---------------------------------------------------------------------------


class TransientError(RuntimeError):
    """A seeded, retryable transport failure."""


class CountingTransport:
    """``StubTransport`` that counts calls and failed attempts in Spark
    accumulators and fails ~1% of first attempts per request with a seeded
    transient error, so ``RetryingTransport``'s retry path runs. Built once
    per task by the program's ``transport_factory`` hook."""

    FAIL_PER_MILLE = 10

    def __init__(self, calls, retries, seed: int):
        from batch_public_spark.pipeline.llm import StubTransport

        self.inner = StubTransport()
        self.calls, self.retries, self.seed = calls, retries, seed
        self.failed: set[str] = set()

    def complete(self, custom_id: str, body: dict) -> dict:
        self.calls.add(1)
        if custom_id not in self.failed and fails_first(self.seed, custom_id):
            self.failed.add(custom_id)
            self.retries.add(1)
            raise TransientError(f"seeded transient failure for {custom_id}")
        return self.inner.complete(custom_id, body)


def fails_first(seed: int, custom_id: str) -> bool:
    return zlib.crc32(f"{seed}:{custom_id}".encode()) % 1000 < CountingTransport.FAIL_PER_MILLE


class TransportCounters:
    """Accumulators read in this process, plus the factory handed to the program."""

    def __init__(self, spark, seed: int):
        sc = spark.sparkContext
        self.calls = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.seed = seed

    def factory(self):
        calls, retries, seed = self.calls, self.retries, self.seed
        return lambda: CountingTransport(calls, retries, seed)


# ---------------------------------------------------------------------------
# Statistics and reporting
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[int, float] | None:
    """Highest percentile (in whole percent, above 50) that has at least ten
    samples beyond it, with its value; None when there are too few samples."""
    n = len(values)
    best = None
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            best = p
            break
    if best is None:
        return None
    return best, statistics.quantiles(values, n=100, method="inclusive")[best - 1]


def fingerprint(launch_load: float) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_launch_1m": round(launch_load, 2),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "machine": platform.machine(),
    }
