"""Benchmark machinery shared by the workloads: host sizing, the
repeated set-up, memory sampling, the Spark status-store probe and the
span recorder used by traced runs."""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

SETUP_REPEATS = 3
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run started."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def host_settings(work: str) -> dict:
    """Size Spark for this host, through the engine's own environment
    knobs: pin this process, and so the JVM, its Python workers and the
    broker stand-in, to half the cores it may use, with a task slot on
    each; a quarter of physical RAM for the driver heap (local mode runs
    the executors inside it); scratch directories inside the benchmark's
    work directory.

    Half the cores, because on a shared host the hypervisor deschedules
    virtual CPUs: spread over every core, each query's chain of hand-offs
    between driver and task threads waits on whichever one is stolen.
    On a 4-core host stealing 2-7%, olap runs pinned to 2 cores read
    5-25% slower (least when steal is high) but spread about half as
    much as runs on all 4."""
    usable = sorted(os.sched_getaffinity(0))
    pinned = usable[: max(len(usable) // 2, 1)]
    os.sched_setaffinity(0, pinned)
    cpus = len(pinned)
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(mem_kb // 4096, 1024)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # no JVM performance-counter file in the system /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "TZ": "UTC",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    time.tzset()
    return {"cores": len(usable), "pinned": pinned, "mem_total_mb": mem_kb // 1024, **env}


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def start_session(app: str, work: str, master: str | None = None):
    from flink_kakfa_spark.session import get_spark

    spark = get_spark(app, master=master, extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its stdin closes; it stops its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_registry():
    """Import every operator module afresh and return the query registry,
    so each set-up pays the registry's real load cost."""
    from flink_kakfa_spark import registry

    for name in [m for m in sys.modules if m.startswith("flink_kakfa_spark.operators.")]:
        del sys.modules[name]
    registry.QUERIES.clear()
    registry.ORACLES.clear()
    registry._loaded = False
    return registry.all_queries()


def set_up(app: str, work: str, warm, before=None):
    """Build the session, load the registry and warm the inputs,
    ``SETUP_REPEATS`` times; the first build launches the JVM, later ones
    stop the previous session and start a new one in the same JVM.
    ``before`` runs untimed ahead of each set-up; ``warm(spark)`` is timed.

    Returns (spark, queries, setup_s median, per-layer set-up metrics).
    """
    spark, total, session, reg = None, [], [], []
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        if before is not None:
            before()
        t0 = time.perf_counter()
        spark = start_session(app, work)
        t1 = time.perf_counter()
        queries = load_registry()
        t2 = time.perf_counter()
        warm(spark)
        t3 = time.perf_counter()
        total.append(t3 - t0)
        session.append(t1 - t0)
        reg.append(t2 - t1)
    layers = {
        "session.start_s": statistics.median(session),
        "session.cold_start_s": session[0],
        "registry.load_s": statistics.median(reg),
    }
    return spark, queries, statistics.median(total), layers


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the closest samples."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


# ------------------------------------------------------------- memory

class RssSampler:
    """Peak resident memory of the Spark JVM and its Python workers: the
    sum over every descendant process of this one, except the subtrees
    of ``exclude`` (the broker stand-in), sampled every 100 ms. Sampling
    holds the driver's GIL, so untraced runs leave it off."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.peak_bytes = max(self.peak_bytes, self.sample())

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
            todo.extend(children.get(pid, []))
        return total

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# ------------------------------------------------------------- engine

ENGINE_KEYS = (
    "exec.jobs", "exec.tasks", "exec.failed_tasks", "exec.task_cpu_s", "exec.gc_s",
    "exec.task_run_s", "sources.input_bytes", "sources.input_records",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "exchange.spill_bytes",
)


class Engine:
    """Spark job and stage counters from the application status store
    (works with the UI disabled). Jobs are numbered in submission order,
    so ``mark()`` before and after a call brackets the jobs it ran."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def mark(self) -> int:
        return self._dag.numTotalJobs()

    def totals(self, lo: int, hi: int) -> Counter:
        """Sums over the jobs in [lo, hi) and their stages (each stage once)."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        c: Counter = Counter({k: 0 for k in ENGINE_KEYS})
        seen: set[int] = set()
        for job in range(lo, hi):
            try:
                stage_ids = self._store.job(job).stageIds()
            except Py4JJavaError:
                continue
            c["exec.jobs"] += 1
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                c["exec.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["exec.failed_tasks"] += sd.numFailedTasks()
                c["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["exec.gc_s"] += sd.jvmGcTime() / 1e3
                c["exec.task_run_s"] += sd.executorRunTime() / 1e3
                c["sources.input_bytes"] += sd.inputBytes()
                c["sources.input_records"] += sd.inputRecords()
                c["exchange.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["exchange.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["exchange.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c


# -------------------------------------------------------------- spans

class Tracer:
    """Spans recorded around the calls into each layer, kept in memory
    and written out once at exit; disabled, a span records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
