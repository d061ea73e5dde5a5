"""The two workloads. Each takes a ``Run`` and returns its end-to-end
metrics (measured untraced) and, on a traced run, its per-layer metrics
(measured in a second, traced phase of the same length) plus the
tracing overhead: traced minus untraced end-to-end values. The Kafka
workload's traced run also measures the streaming word count's layers.

A traced run reports only the layers its workload calls; ``run.py``
reports the others as 0.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import fixtures
import harness
import oracle
from broker import read_stats
from harness import ENGINE_KEYS, Engine, RssSampler, Tracer, p90

SF = 0.01  # batch fixture scale: lineitem 60k rows
OLAP_MIN_PASSES = 3  # a median of three shrugs off one slow pass

OLAP_QUERIES = [
    "wordcount", "agg_pricing_summary", "q5_regional_revenue", "q3_shipping_priority",
    "tpch_q10_returned_revenue", "window_topk_orders", "join_range_event_pairs",
    "asof_last_purchase", "funnel_signup_click_purchase", "sql_cte_top_nations",
]

STREAM_RATE = 20_000  # rows/s offered by the open-loop generator
STREAM_WARMUP_S = 6.0  # the generator query's own code still warms after 4 s
BACKLOG = 200_000  # messages drained per drain-phase run
BACKLOG_FILES = 4
STREAM_DRAINS = 3

TOPIC = "input-words"
TOPIC_PARTITIONS = 4
INCREMENT = 5_000  # records produced, then consumed, per increment
DISTINCT_INCREMENTS = 4
WIRE_CHUNK = 500  # records per RecordBatch, as the data plane produces
KAFKA_WARMUP_INCREMENTS = 2  # the second still runs ~40% slow without it

E2E_MEASURED = ("latency_ms_p50", "throughput_rps")


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    attempted: int = 0
    failed: int = 0
    tracer: Tracer = field(default_factory=lambda: Tracer(False))

    def check(self, what: str, problem: str | None) -> None:
        """Count one operation; a problem makes it a failed one."""
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            print(f"FAILED {what}: {problem}", file=sys.stderr, flush=True)


def _e2e(latencies_s: list[float], throughput: float) -> dict:
    return {
        "latency_ms_p50": statistics.median(latencies_s) * 1e3,
        "op.latency_ms_p90": p90(latencies_s) * 1e3,
        "throughput_rps": throughput,
    }


def _median_of(rows: list[dict], keys) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in keys}


def _layers(setup_layers: dict, untraced: dict, traced: dict, measured: dict) -> dict:
    """Per-layer metrics of a traced run, with its tracing overhead."""
    out = dict(setup_layers)
    out["mem.peak_rss_mb"] = untraced["mem.peak_rss_mb"]
    out["op.latency_ms_p90"] = traced["op.latency_ms_p90"]
    out.update({f"trace.overhead.{k}": traced[k] - untraced[k] for k in E2E_MEASURED})
    out.update(measured)
    return out


def _timed_loop(seconds: float, step, at_least: int) -> None:
    """Call ``step()`` until ``seconds`` have passed and it ran ``at_least`` times."""
    t0, n = time.perf_counter(), 0
    while n < at_least or time.perf_counter() - t0 < seconds:
        step()
        n += 1


# ------------------------------------------------------- batch queries

def olap_tpch(run: Run) -> tuple[dict, dict | None]:
    import duckdb
    from flink_kakfa_spark.registry import all_oracles
    from flink_kakfa_spark.sources.tables import TABLES

    sf_dir = os.path.join(run.work, "sf")
    fixtures.write_tables(run.seed, SF, sf_dir)

    def warm(spark):  # open every table (footer and schema); the warm-up pass reads them
        for t in TABLES:
            spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))

    harness.log("inputs written")
    spark, queries, setup_s, setup_layers = harness.set_up(f"perfbench-{run.workload}", run.work, warm)
    harness.log("set up")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = all_oracles()
    want = {}
    for name in OLAP_QUERIES:
        res = con.execute(oracles[name])
        want[name] = oracle.digest(res.fetchall(), [c[0] for c in res.description])
    con.close()
    harness.log("oracle computed")

    engine = Engine(spark)
    tr = run.tracer
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    def one_pass(traced: bool, passes: list[dict], latencies: dict[str, list[float]]) -> None:
        row = Counter({"build_s": 0.0, "exec_s": 0.0, "build_jobs": 0})
        took = []
        for name in OLAP_QUERIES:
            m0 = engine.mark() if traced else 0
            try:
                with tr.span("query", query=name):
                    t0 = time.perf_counter()
                    with tr.span("operators.build"):
                        df = queries[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    m1 = engine.mark() if traced else 0
                    with tr.span("exec.run"):
                        rows = df.collect()
                    t2 = time.perf_counter()
            except Exception as e:  # a failed query is counted, the loop goes on
                run.check(name, f"{type(e).__name__}: {e}")
                continue
            run.check(name, oracle.check_digest(oracle.digest(rows, df.columns), want[name]))
            latencies.setdefault(name, []).append(t2 - t0)
            took.append(round((t2 - t0) * 1e3))
            row["build_s"] += t1 - t0
            row["exec_s"] += t2 - t1
            if traced:
                row["build_jobs"] += engine.totals(m0, m1)["exec.jobs"]
                row.update(engine.totals(m0, engine.mark()))
        passes.append(row)
        harness.log(f"pass: {sum(took)} ms, per query {took}")

    def measure(traced: bool) -> tuple[dict, list[dict]]:
        """Whole passes over the list; each query's latency is its median
        over the passes, so one pass slowed by a neighbour on the host
        moves neither metric."""
        tr.enabled = traced
        passes: list[dict] = []
        latencies: dict[str, list[float]] = {}
        _timed_loop(run.seconds, lambda: one_pass(traced, passes, latencies), OLAP_MIN_PASSES)
        tr.enabled = False
        per_query = [statistics.median(v) for v in latencies.values()]
        return {
            "latency_ms_p50": statistics.median(per_query) * 1e3,
            "op.latency_ms_p90": p90([x for v in latencies.values() for x in v]) * 1e3,
            "throughput_rps": len(per_query) / sum(per_query),
        }, passes

    with RssSampler(run.trace) as rss:
        one_pass(False, [], {})  # warm-up: table reads, codegen, JIT, caches
        harness.log("warmed up")
        e2e, _ = measure(False)
        harness.log("measured")
    e2e.update({"setup_s": setup_s, "mem.peak_rss_mb": rss.peak_mb})
    layers = None
    if run.trace:
        traced, passes = measure(True)
        for p in passes:
            p["cpu_busy_frac"] = p["exec.task_cpu_s"] / ((p["build_s"] + p["exec_s"]) * cpus)
        med = _median_of(passes, ["build_s", "exec_s", "build_jobs", "cpu_busy_frac", *ENGINE_KEYS])
        layers = _layers(setup_layers, e2e, traced, {
            "operators.build_s": med.pop("build_s"),
            "operators.build_jobs": med.pop("build_jobs"),
            "exec.run_s": med.pop("exec_s"),
            "exec.cpu_busy_frac": med.pop("cpu_busy_frac"),
            **med,
        })
    harness.shutdown(spark)
    return e2e, layers


# ------------------------------------------------- streaming word count

def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def _progress(q) -> list[dict]:
    import json

    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def stream_layers(run: Run, spark):
    """Per-layer metrics of the flagship streaming word count, for the
    Kafka workload's traced run: (a) an open loop at ``STREAM_RATE`` for
    ``run.seconds``, then (b) drains of a seeded backlog through the CLI,
    and the same drain on ``local[1]``. It is not an end-to-end workload:
    its figures follow the host's CPU steal too closely (see README.md).

    Returns (layers, spark); the baseline leaves a local[1] session."""
    from flink_kakfa_spark import cli
    from flink_kakfa_spark.config import DEFAULT_WORD_LIST
    from flink_kakfa_spark.streaming.generator import sentence_stream
    from flink_kakfa_spark.streaming.wordcount import windowed_word_counts

    # the drain backlog: seeded messages, 1 ms of event time apart
    backlog = os.path.join(run.work, "backlog")
    os.makedirs(backlog)
    sents = fixtures.sentences(run.seed, BACKLOG, DEFAULT_WORD_LIST)
    t_start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts_us = [t_start + i * 1000 for i in range(BACKLOG)]
    per_file = -(-BACKLOG // BACKLOG_FILES)
    for f in range(BACKLOG_FILES):
        lo, hi = f * per_file, min((f + 1) * per_file, BACKLOG)
        pq.write_table(pa.table({
            "key": [f"key-{t // 1_000_000}" for t in ts_us[lo:hi]],
            "value": sents[lo:hi],
            "ts": pa.array(ts_us[lo:hi], pa.timestamp("us", tz="UTC")),
        }), os.path.join(backlog, f"part-{f}.parquet"))
    want = oracle.window_counts(sents, ts_us)
    del sents
    tr = run.tracer

    def latency_phase() -> tuple[list[float], list[dict], float]:
        ck = os.path.join(run.work, "latency-ck")
        with tr.span("stream.latency_phase"):
            counts = windowed_word_counts(sentence_stream(spark, rows_per_second=STREAM_RATE))
            started = time.time() * 1e3
            q = (counts.writeStream.format("noop").outputMode("append")
                 .option("checkpointLocation", ck).start())
            try:
                time.sleep(STREAM_WARMUP_S)
                t0 = time.time() * 1e3
                time.sleep(run.seconds)
                t1 = time.time() * 1e3
            finally:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"latency phase failed: {q.exception()}")
        progress = _progress(q)
        batches = [p for p in progress
                   if p["numInputRows"] > 0 and t0 <= _iso_ms(p["timestamp"]) <= t1]
        if not batches:
            raise RuntimeError("no micro-batch started in the latency phase's measured window")
        run.check("stream latency phase", None)
        lat = [(_iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
                - _iso_ms(p["eventTime"]["max"])) / 1e3 for p in batches]
        harness.log(f"latency phase: {len(lat)} batches, ms {[round(x * 1e3) for x in lat]}")
        # share of the rows the source had scheduled by the window's end
        # that no batch had read yet: the backlog behind the open loop
        read = sum(p["numInputRows"] for p in progress if _iso_ms(p["timestamp"]) <= t1)
        shortfall = 1.0 - read / (STREAM_RATE * (t1 - started) / 1e3)
        return lat, batches, shortfall

    def drain(label: str) -> float:
        out = os.path.join(run.work, f"drain-{label}")
        t0 = time.perf_counter()
        with tr.span("stream.drain"):
            rc = cli.main(["wordcount", "--source", f"dir:{backlog}", "--sink", f"parquet:{out}",
                           "--checkpoint", out + "-ck", "--available-now"])
        secs = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"wordcount CLI exited with {rc}")
        harness.log(f"drain {label}: {secs:.2f}s")
        emitted = [
            (int(r["win_start"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6), r["word"], r["cnt"])
            for r in spark.read.parquet(out).select("win_start", "word", "cnt").collect()
        ]
        run.check(f"stream drain {label}", oracle.check_windows(emitted, want, ts_us[-1]))
        return BACKLOG / secs

    drain("warmup")
    # the latency phase first: its stream finishes JIT-compiling the
    # aggregation and state-store paths the drains then run
    lat, batches, shortfall = latency_phase()
    rps = statistics.median(drain(str(i)) for i in range(STREAM_DRAINS))
    dur = [p["durationMs"] for p in batches]
    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    layers = {
        "stream.latency_ms_p50": statistics.median(lat) * 1e3,
        "stream.drain_rps": rps,
        "generator.rate_shortfall_frac": shortfall,
        "stream.trigger_ms_p50": statistics.median(d["triggerExecution"] for d in dur),
        "stream.addbatch_ms_p50": statistics.median(d.get("addBatch", 0) for d in dur),
        "stream.planning_ms_p50": statistics.median(d.get("queryPlanning", 0) for d in dur),
        "stream.offsets_wal_ms_p50": statistics.median(d.get("walCommit", 0) for d in dur),
        "stream.state_rows": max((s["numRowsTotal"] for s in state), default=0),
        "stream.state_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
        "stream.late_rows_dropped": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
        "stream.batches": len(batches),
    }
    # the single-thread baseline: the same drain on local[1]
    spark.stop()
    spark = harness.start_session(f"perfbench-{run.workload}-1core", run.work, "local[1]")
    drain("1core-warmup")
    layers["stream.drain_rps_1core"] = drain("1core")
    return layers, spark


# ----------------------------------------------------- Kafka pipeline

class BrokerProcess:
    """The broker stand-in, run as a child process."""

    def __init__(self) -> None:
        self.proc: subprocess.Popen | None = None
        self.port = 0

    def start(self) -> None:
        self.stop()
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "broker.py"),
             "--topic", f"{TOPIC}:{TOPIC_PARTITIONS}"],
            stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"broker stand-in did not start: {line!r}")
        self.port = int(line.split()[1])

    @property
    def bootstrap(self) -> str:
        return f"127.0.0.1:{self.port}"

    def stop(self) -> None:
        if self.proc is not None:
            self.proc.terminate()
            self.proc.wait(timeout=30)
            self.proc.stdout.close()
            self.proc = None


def _wire_rates(sentences: list[str]) -> dict:
    """Driver-side wire codec rates over one increment's records."""
    from flink_kakfa_spark.streaming.wire import crc32c, decode_record_batches, encode_record_batch

    recs = [(None, s.encode()) for s in sentences]
    chunks = [recs[i : i + WIRE_CHUNK] for i in range(0, len(recs), WIRE_CHUNK)]
    t0 = time.perf_counter()
    batches = [encode_record_batch(c) for c in chunks]
    t1 = time.perf_counter()
    decoded = sum(len(decode_record_batches(b)) for b in batches)
    t2 = time.perf_counter()
    for b in batches:
        crc32c(b)
    t3 = time.perf_counter()
    if decoded != len(recs):
        raise RuntimeError(f"wire codec round trip lost records: {decoded} != {len(recs)}")
    return {
        "wire.encode_rps": len(recs) / (t1 - t0),
        "wire.decode_rps": len(recs) / (t2 - t1),
        "wire.crc_mb_s": sum(map(len, batches)) / 2**20 / (t3 - t2),
    }


def kafka_pipeline(run: Run) -> tuple[dict, dict | None]:
    broker = BrokerProcess()
    try:
        return _kafka(run, broker)
    finally:
        broker.stop()


def _kafka(run: Run, broker: BrokerProcess) -> tuple[dict, dict | None]:
    from flink_kakfa_spark.config import DEFAULT_WORD_LIST
    from flink_kakfa_spark.streaming import kafka_matview
    from flink_kakfa_spark.streaming.dataplane import partition_ids, write_topic

    increments = [
        fixtures.sentences(run.seed * 1000 + i, INCREMENT, DEFAULT_WORD_LIST)
        for i in range(DISTINCT_INCREMENTS)
    ]
    # one parquet file per topic partition, so the producer's Spark scan
    # has that many input partitions to spread over the topic
    sources = []
    for i, sents in enumerate(increments):
        d = os.path.join(run.work, f"increment-{i}")
        os.makedirs(d)
        step = -(-INCREMENT // TOPIC_PARTITIONS)
        for j in range(TOPIC_PARTITIONS):
            pq.write_table(pa.table({"value": sents[j * step : (j + 1) * step]}),
                           os.path.join(d, f"part-{j}.parquet"))
        sources.append(d)

    def warm(spark):
        if len(partition_ids(broker.bootstrap, TOPIC)) != TOPIC_PARTITIONS:
            raise RuntimeError("broker stand-in serves the wrong partition count")

    harness.log("inputs written")
    spark, _, setup_s, setup_layers = harness.set_up(
        f"perfbench-{run.workload}", run.work, warm, before=broker.start)
    harness.log("set up")
    frames = [spark.read.parquet(d) for d in sources]
    increment_counts = [oracle.word_counts(s) for s in increments]
    state_dir = os.path.join(run.work, "view")
    expected: Counter = Counter()
    produced = [0]
    done = [0]
    tr = run.tracer

    def increment(samples: list[tuple[float, float]], engine_rows: list[Counter] | None) -> None:
        i = done[0] % DISTINCT_INCREMENTS
        engine = Engine(spark) if engine_rows is not None else None
        m0 = engine.mark() if engine else 0
        try:
            t0 = time.perf_counter()
            with tr.span("dataplane.write_topic"):
                n = write_topic(frames[i], broker.bootstrap, TOPIC)
            t1 = time.perf_counter()
            with tr.span("matview.increment"):
                commit = kafka_matview.consume_wordcount_increment(
                    spark, broker.bootstrap, TOPIC, state_dir)
            t2 = time.perf_counter()
        except Exception as e:  # a failed increment is counted, the loop goes on
            run.check("kafka increment", f"{type(e).__name__}: {e}")
            return
        done[0] += 1
        produced[0] += n
        expected.update(increment_counts[i])
        if engine:
            engine_rows.append(engine.totals(m0, engine.mark()))
        view = {r["word"]: r["cnt"] for r in
                kafka_matview.current_counts(spark, state_dir).collect()}
        problem = None if n == INCREMENT else f"write_topic wrote {n} of {INCREMENT}"
        run.check("kafka increment", problem or oracle.check_view(
            view, expected, sum(commit["offsets"].values()), produced[0]))
        samples.append((t1 - t0, t2 - t1))
        harness.log(f"increment {done[0]}: produce {t1 - t0:.2f}s, consume {t2 - t1:.2f}s")

    def measure(traced: bool):
        samples: list[tuple[float, float]] = []
        engine_rows: list[Counter] | None = [] if traced else None
        tr.enabled = traced
        _timed_loop(run.seconds, lambda: increment(samples, engine_rows), 3)
        tr.enabled = False
        rps = INCREMENT / statistics.median(p + c for p, c in samples)
        return _e2e([c for _, c in samples], rps), samples, engine_rows

    with RssSampler(run.trace) as rss:
        rss.exclude.add(broker.proc.pid)
        for _ in range(KAFKA_WARMUP_INCREMENTS):
            increment([], None)
        harness.log("warmed up")
        e2e, _, _ = measure(False)
    e2e.update({"setup_s": setup_s, "mem.peak_rss_mb": rss.peak_mb})
    layers = None
    if run.trace:
        read_s: list[float] = []
        original = kafka_matview.read_topic_incremental

        def timed_read(*args, **kwargs):
            df, end = original(*args, **kwargs)
            count = df.count

            def timed_count():
                t = time.perf_counter()
                try:
                    return count()
                finally:
                    read_s.append(time.perf_counter() - t)

            df.count = timed_count
            return df, end

        before = read_stats(broker.port)
        kafka_matview.read_topic_incremental = timed_read
        try:
            traced, samples, engine_rows = measure(True)
        finally:
            kafka_matview.read_topic_incremental = original
        after = read_stats(broker.port)
        n = len(samples)
        per_inc = {f"broker.{k}": (after[k] - before[k]) / n for k in (
            "produce_requests", "fetch_requests", "connections", "bytes_in",
            "bytes_out", "busy_s")}
        produce_s = statistics.median(p for p, _ in samples)
        consume_s = statistics.median(c for _, c in samples)
        med = _median_of(engine_rows, ENGINE_KEYS)
        layers = _layers(setup_layers, e2e, traced, {
            **_wire_rates(increments[0]),
            "dataplane.write_topic_s": produce_s,
            "dataplane.produce_rps": INCREMENT / produce_s,
            "dataplane.read_s": statistics.median(read_s),
            "dataplane.fetch_amplification":
                (after["records_served"] - before["records_served"]) / (INCREMENT * n),
            "matview.increment_s_p50": consume_s,
            "matview.consume_rps": INCREMENT / consume_s,
            "exec.run_s": produce_s + consume_s,
            "exec.cpu_busy_frac": med["exec.task_cpu_s"] / (
                (produce_s + consume_s) * int(os.environ["SPARK_GRAFT_CPUS"])),
            **per_inc,
            **med,
        })
        # the reference pipeline's word-count job, on the same host sizing
        tr.enabled = True
        stream, spark = stream_layers(run, spark)
        tr.enabled = False
        layers.update(stream)
    harness.shutdown(spark)
    return e2e, layers


WORKLOADS = {
    "olap_tpch": olap_tpch,
    "kafka_pipeline": kafka_pipeline,
}
