"""Shows that every result check the benchmark makes rejects a wrong
result: each check is fed the right answer (must pass) and deliberately
wrong ones (each must fail). Needs DuckDB and the engine's query
registry, not Spark.

    python3 perfbench/selfcheck.py

Exits 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import fixtures  # noqa: E402
import oracle  # noqa: E402

BAD = 0


def expect(label: str, problem: str | None, should_fail: bool) -> None:
    global BAD
    ok = (problem is not None) == should_fail
    BAD += not ok
    print(f"{'ok ' if ok else 'BAD'} {label}: {problem or 'accepted'}")


def batch() -> None:
    import duckdb
    from flink_kakfa_spark.registry import all_oracles
    from flink_kakfa_spark.sources.tables import TABLES

    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE)) as d:
        fixtures.write_tables(7, 0.001, d)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        res = con.execute(all_oracles()["agg_pricing_summary"])
        cols = [c[0] for c in res.description]
        rows = [list(r) for r in res.fetchall()]
        con.close()
    want = oracle.digest(rows, cols)
    f = next(i for i, v in enumerate(rows[0]) if isinstance(v, float))
    s = next(i for i, v in enumerate(rows[0]) if isinstance(v, str))
    nudged = [r[:] for r in rows]
    nudged[0][f] *= 1 + 1e-6
    renamed = [r[:] for r in rows]
    renamed[0][s] += "x"
    expect("batch: oracle rows, reordered", oracle.check_digest(
        oracle.digest(rows[::-1], cols), want), False)
    expect("batch: one row missing", oracle.check_digest(oracle.digest(rows[1:], cols), want), True)
    expect("batch: one float off by 1e-6", oracle.check_digest(oracle.digest(nudged, cols), want), True)
    expect("batch: one string changed", oracle.check_digest(oracle.digest(renamed, cols), want), True)
    expect("batch: a column renamed", oracle.check_digest(
        oracle.digest(rows, [c + "_" if i == 0 else c for i, c in enumerate(cols)]), want), True)


def stream() -> None:
    sents = fixtures.sentences(7, 5000, ["hello", "world", "kafka", "state"])
    ts = [1_700_000_000_000_000 + i * 10_000 for i in range(len(sents))]
    want = oracle.window_counts(sents, ts)
    closed = ts[-1] - (oracle.WATERMARK_S + oracle.WINDOW_S) * 1_000_000
    emitted = [(w, word, n) for (w, word), n in want.items() if w <= closed]
    expect("stream: closed windows", oracle.check_windows(emitted, want, ts[-1]), False)
    off = [(w, word, n + (i == 0)) for i, (w, word, n) in enumerate(emitted)]
    expect("stream: one count off by one", oracle.check_windows(off, want, ts[-1]), True)
    expect("stream: one closed window missing", oracle.check_windows(emitted[1:], want, ts[-1]), True)
    expect("stream: one row emitted twice", oracle.check_windows(emitted + emitted[:1], want, ts[-1]), True)


def kafka() -> None:
    sents = fixtures.sentences(7, 1000, ["hello", "world", "kafka"])
    want = oracle.word_counts(sents)
    view = dict(want)
    expect("kafka: committed view", oracle.check_view(view, want, 1000, 1000), False)
    expect("kafka: offsets behind produce", oracle.check_view(view, want, 999, 1000), True)
    expect("kafka: one count doubled", oracle.check_view(
        {**view, "hello": 2 * view["hello"]}, want, 1000, 1000), True)
    expect("kafka: one word missing", oracle.check_view(
        {k: v for k, v in view.items() if k != "kafka"}, want, 1000, 1000), True)
    expect("kafka: word counted twice over", oracle.check_view(
        dict(want + Counter(want)), want, 1000, 1000), True)


if __name__ == "__main__":
    batch()
    stream()
    kafka()
    sys.exit(1 if BAD else 0)
