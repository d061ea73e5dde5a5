"""The Kafka stream source (``streaming/kafka.py``) and the CLI pipeline
over it, against the in-process broker stand-in (``broker`` fixture,
tests/conftest.py): the reference's producer -> ``input-words`` ->
windowed word count -> ``word-count-output`` flow, run end to end.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from flink_kakfa_spark.cli import main
from flink_kakfa_spark.streaming.dataplane import (
    foreach_batch_sink,
    read_topic_incremental,
)
from flink_kakfa_spark.streaming.kafka import KafkaStreamReader
from flink_kakfa_spark.streaming.topics import TopicAdminError
from flink_kakfa_spark.streaming.wire import LATEST, fetch_range, list_offset, produce

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_replay_reads_exactly_the_first_reads_rows(broker):
    """readBetweenOffsets(start, end) is read(start)'s rows, however many
    records land after the first read."""
    broker.add_topic("rp", 2)
    produce(broker.addr, "rp", [(b"k0", b"a0"), (None, b"a1")], 0)
    produce(broker.addr, "rp", [(b"k1", b"b0")], 1)
    reader = KafkaStreamReader(broker.addr, "rp")
    start = reader.initialOffset()
    assert start == {"0": 0, "1": 0}
    it, end = reader.read(start)
    rows = list(it)
    assert end == {"0": 2, "1": 1}
    assert {(k, v) for k, v, _ in rows} == {("k0", "a0"), (None, "a1"), ("k1", "b0")}
    produce(broker.addr, "rp", [(None, b"late-0")], 0)
    produce(broker.addr, "rp", [(None, b"late-1")], 1)
    assert list(reader.readBetweenOffsets(start, end)) == rows
    it2, end2 = reader.read(end)
    assert sorted(v for _, v, _ in it2) == ["late-0", "late-1"]
    assert end2 == {"0": 3, "1": 2}


def test_short_fetch_fails_the_read(broker):
    """A short fetch raises inside read, so the micro-batch fails before
    Spark commits its offsets."""
    broker.add_topic("sf", 1)
    produce(broker.addr, "sf", [(None, b"m0")])
    produce(broker.addr, "sf", [(None, b"m1")])
    broker.short_fetch = True
    reader = KafkaStreamReader(broker.addr, "sf")
    with pytest.raises(TopicAdminError, match="offset 1"):
        reader.read(reader.initialOffset())


def test_foreach_batch_sink_writes_record_keys(spark, broker, tmp_path):
    """A keyed stream through the foreachBatch sink lands its keys."""
    src = tmp_path / "src"
    spark.createDataFrame([("key-0", "alpha"), ("key-1", "beta")], "key string, value string") \
        .coalesce(1).write.parquet(str(src / "b0"))
    broker.add_topic("keyed", 1)
    q = (
        spark.readStream.schema("key string, value string").parquet(f"{src}/*")
        .writeStream.foreachBatch(foreach_batch_sink(broker.addr, "keyed"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    recs = fetch_range(broker.addr, "keyed", 0, 0, list_offset(broker.addr, "keyed", 0, LATEST))
    assert sorted((r.key, r.value) for r in recs) == [(b"key-0", b"alpha"), (b"key-1", b"beta")]


def _produce_round(broker, tag: str, n: int) -> None:
    """``n`` keyed sentences over both ``input-words`` partitions."""
    words = ["alpha", "beta", "gamma", "delta"]
    for p in (0, 1):
        produce(
            broker.addr, "input-words",
            [
                (f"key-{tag}{i}".encode(), f"{words[i % 4]} {words[(i + p) % 4]} {tag}".encode())
                for i in range(n)
            ],
            partition=p,
        )


def _wordcount(ckpt, *sink: str) -> None:
    rc = main(["wordcount", "--checkpoint", str(ckpt), "--window", "1 second",
               "--watermark", "0 seconds", "--available-now", *sink])
    assert rc == 0


def _later_window(broker) -> None:
    """Wait until the wall clock (the records' event time) has left the
    newest produced record's one-second window."""
    last = max(
        r.timestamp_ms
        for p in (0, 1)
        for r in fetch_range(broker.addr, "input-words", p, 0,
                             list_offset(broker.addr, "input-words", p, LATEST))
    )
    while time.time() * 1000 < (last // 1000 + 1) * 1000 + 50:
        time.sleep(0.05)


def _closed_windows(spark, broker) -> list[tuple]:
    """The batch oracle: (win_start, word, cnt) of every window that the
    records produced so far close, with a watermark of 0 seconds."""
    from flink_kakfa_spark.streaming.wordcount import windowed_word_counts

    msgs, _ = read_topic_incremental(spark, broker.addr, "input-words")
    watermark = msgs.agg(F.max("timestamp_ms")).head()[0]
    batch = msgs.select(
        F.col("value").cast("string").alias("value"),
        F.timestamp_millis("timestamp_ms").alias("ts"),
    )
    return sorted(
        tuple(r)
        for r in windowed_word_counts(batch, "1 second", None)
        .filter(F.col("win_end") <= F.timestamp_millis(F.lit(watermark)))
        .select("win_start", "word", "cnt")
        .collect()
    )


def test_cli_wordcount_pipeline_matches_batch_oracle(spark, broker, tmp_path, monkeypatch):
    """producer -> input-words -> `wordcount` -> word-count-output, restarted
    on one checkpoint. A window that a run's last batch closes is emitted
    by the next run's batch, so the third run emits every window the
    second run's records closed: exactly the batch oracle's closed windows,
    each once, as key = word and value = count."""
    broker.add_topic("input-words", 2)
    broker.add_topic("word-count-output", 1)
    monkeypatch.setenv("KAFKA_BROKER", broker.addr)
    ckpt = tmp_path / "ck"

    _produce_round(broker, "a", 6)
    _wordcount(ckpt)
    _later_window(broker)
    _produce_round(broker, "b", 5)
    _wordcount(ckpt)
    want = Counter((word, str(cnt)) for _, word, cnt in _closed_windows(spark, broker))
    _later_window(broker)
    produce(broker.addr, "input-words", [(b"key-c", b"omega")], partition=0)
    _wordcount(ckpt)

    out, _ = read_topic_incremental(spark, broker.addr, "word-count-output")
    got = Counter((bytes(r["key"]).decode(), bytes(r["value"]).decode()) for r in out.collect())
    assert want and got == want
    assert "omega" not in {w for w, _ in got}  # its window is still open


def test_cli_wordcount_replays_an_uncommitted_batch(spark, broker, tmp_path, monkeypatch):
    """A run that crashed after its offset-log write (no commits/N, no
    sink log entry N) replays batch N from the logged offsets, although
    the topic has grown since: the windows its records close later reach
    the parquet sink exactly as the batch oracle counts them, each once."""
    broker.add_topic("input-words", 2)
    monkeypatch.setenv("KAFKA_BROKER", broker.addr)
    ckpt, out = tmp_path / "ck", tmp_path / "out"
    sink = ("--sink", f"parquet:{out}")

    _produce_round(broker, "a", 4)
    _wordcount(ckpt, *sink)
    _later_window(broker)
    _produce_round(broker, "b", 4)
    _wordcount(ckpt, *sink)
    for log in (ckpt / "commits", out / "_spark_metadata"):
        (log / "1").unlink()
        (log / ".1.crc").unlink(missing_ok=True)
    _later_window(broker)
    _produce_round(broker, "c", 4)
    _wordcount(ckpt, *sink)  # replays batch 1 (round b) and stops there
    _wordcount(ckpt, *sink)  # batch 2: round c
    want = _closed_windows(spark, broker)
    _later_window(broker)
    _produce_round(broker, "d", 1)
    _wordcount(ckpt, *sink)  # batch 3 emits the windows rounds a-c close

    got = sorted(tuple(r) for r in spark.read.parquet(str(out))
                 .select("win_start", "word", "cnt").collect())
    assert {w for _, w, _ in want} >= {"a", "b"}
    assert got == want


def test_consumer_runs_from_a_foreign_cwd(broker, tmp_path):
    """Spark starts the stream reader in a Python worker of its own: with
    the repo on PYTHONPATH, a consumer started from another directory
    logs one "Received:" line per produced record."""
    broker.add_topic("far", 2)
    produce(broker.addr, "far", [(None, b"one"), (None, b"two")], 0)
    produce(broker.addr, "far", [(None, b"three")], 1)
    proc = subprocess.run(
        [sys.executable, "-m", "flink_kakfa_spark", "consumer", "--available-now"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": str(REPO), "KAFKA_BROKER": broker.addr,
             "KAFKA_TOPIC": "far", "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    received = sorted(l for l in proc.stdout.splitlines() if l.startswith("Received: "))
    assert received == ["Received: one", "Received: three", "Received: two"]
