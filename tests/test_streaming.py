"""Streaming-layer tests without any broker (SURVEY.md §5.2 item 3):
file sources + availableNow triggers + memory sinks, with the batch
engine as the oracle for every streaming result.

The Kafka source itself runs against the broker stand-in in
test_kafka_source.py.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_kakfa_spark.streaming.generator import sentence_batch, sentence_stream
from flink_kakfa_spark.streaming.wordcount import (
    dedup_messages,
    session_word_counts,
    sliding_word_counts,
    streaming_word_counts,
    windowed_word_counts,
)

MSG_SCHEMA = "key string, value string, ts timestamp"


def _write_messages(spark, tmpdir: str, rows, subdir: str = "batch0"):
    df = spark.createDataFrame(rows, "key string, value string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/{subdir}")
    return df


def _stream_from(spark, tmpdir: str):
    return spark.readStream.schema(MSG_SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        f"{tmpdir}/*"
    )


def _run_to_memory(df, name: str, mode: str) -> None:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


MESSAGES = [
    ("key-1", "hello world", "2024-01-01 00:00:01"),
    ("key-2", "flink kafka streaming", "2024-01-01 00:00:05"),
    ("key-3", "data processing pipeline", "2024-01-01 00:00:12"),
    ("key-4", "hello streaming", "2024-01-01 00:00:14"),
    ("key-5", "hello again later", "2024-01-01 00:10:00"),
]


@pytest.fixture()
def msg_rows():
    return [Row(key=k, value=v, ts=t) for k, v, t in MESSAGES]


def test_streaming_word_count_matches_batch(spark, tmp_path, msg_rows):
    """The T1 pipeline on a stream == the same pipeline on a batch df."""
    batch_df = _write_messages(spark, str(tmp_path), msg_rows)
    stream = _stream_from(spark, str(tmp_path))
    name = f"wc_{uuid.uuid4().hex[:8]}"
    _run_to_memory(streaming_word_counts(stream), name, "complete")
    got = {
        (r["word"], r["cnt"]) for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["word"], r["cnt"]) for r in streaming_word_counts(batch_df).collect()
    }
    assert got == expected and len(got) > 0


def test_tumbling_window_matches_batch(spark, tmp_path, msg_rows):
    batch_df = _write_messages(spark, str(tmp_path), msg_rows)
    stream = _stream_from(spark, str(tmp_path))
    name = f"tw_{uuid.uuid4().hex[:8]}"
    _run_to_memory(windowed_word_counts(stream, "10 seconds"), name, "complete")
    got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    expected = {tuple(r) for r in windowed_word_counts(batch_df, "10 seconds").collect()}
    assert got == expected
    # "hello" appears in three distinct 10s windows
    hello_windows = [g for g in got if g[2] == "hello"]
    assert len(hello_windows) == 3


def test_sliding_window_panes(spark, tmp_path, msg_rows):
    batch_df = _write_messages(spark, str(tmp_path), msg_rows)
    stream = _stream_from(spark, str(tmp_path))
    name = f"sw_{uuid.uuid4().hex[:8]}"
    _run_to_memory(sliding_word_counts(stream, "30 seconds", "10 seconds"), name, "complete")
    got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    expected = {
        tuple(r) for r in sliding_word_counts(batch_df, "30 seconds", "10 seconds").collect()
    }
    assert got == expected
    # a row at t=12s belongs to 3 overlapping 30s/10s panes
    pipeline_panes = [g for g in got if g[2] == "pipeline"]
    assert len(pipeline_panes) == 3


def test_session_window_gap_splits_sessions(spark, tmp_path, msg_rows):
    batch_df = _write_messages(spark, str(tmp_path), msg_rows)
    stream = _stream_from(spark, str(tmp_path))
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(session_word_counts(stream, gap="1 minute"), name, "complete")
    got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    expected = {tuple(r) for r in session_word_counts(batch_df, gap="1 minute").collect()}
    assert got == expected
    # "hello" at 00:00:01/00:00:14 merges into one session; 00:10:00 opens another
    hello_sessions = [g for g in got if g[2] == "hello"]
    assert len(hello_sessions) == 2
    assert {g[3] for g in hello_sessions} == {2, 1}


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """T4: once the watermark closes and emits a window, further late
    rows for it are dropped and never re-emitted (append mode).

    Note Spark applies the watermark to late-row filtering one batch
    after the event time that produced it (the watermark is computed at
    batch end), so the late row arrives two batches after the advancing
    row.
    """
    import time

    _write_messages(
        spark, str(tmp_path), [Row(key="k1", value="hello", ts="2024-01-01 00:00:01")], "b0"
    )
    time.sleep(1.1)  # distinct mtimes → deterministic file->batch order
    _write_messages(
        spark, str(tmp_path), [Row(key="k2", value="world", ts="2024-01-01 00:05:00")], "b1"
    )
    time.sleep(1.1)
    _write_messages(
        spark, str(tmp_path), [Row(key="k3", value="advance", ts="2024-01-01 00:05:01")], "b2"
    )
    time.sleep(1.1)
    _write_messages(  # far behind the 00:04:50 watermark by now
        spark, str(tmp_path), [Row(key="k4", value="hello", ts="2024-01-01 00:00:02")], "b3"
    )
    stream = _stream_from(spark, str(tmp_path))  # maxFilesPerTrigger=1 → 4 batches
    name = f"wm_{uuid.uuid4().hex[:8]}"
    _run_to_memory(windowed_word_counts(stream, "10 seconds", "10 seconds"), name, "append")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    hello = [r for r in rows if r["word"] == "hello"]
    # the 00:00:00 window was emitted with cnt=1; the late row neither
    # re-emitted it nor bumped the count
    assert len(hello) == 1 and hello[0]["cnt"] == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    rows = [
        Row(key="dup", value="a", ts="2024-01-01 00:00:01"),
        Row(key="dup", value="a", ts="2024-01-01 00:00:02"),
        Row(key="uniq", value="b", ts="2024-01-01 00:00:03"),
    ]
    _write_messages(spark, str(tmp_path), rows)
    stream = _stream_from(spark, str(tmp_path))
    name = f"dd_{uuid.uuid4().hex[:8]}"
    _run_to_memory(dedup_messages(stream, ["key"]), name, "append")
    got = spark.sql(f"SELECT key FROM {name}").collect()
    assert sorted(r["key"] for r in got) == ["dup", "uniq"]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """T6: restart from checkpoint must neither lose nor duplicate rows
    (strictly stronger than the reference's at-least-once assertion,
    go/producer/producer_test.go:187-194)."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    _write_messages(spark, str(src), [Row(key="k1", value="one", ts="2024-01-01 00:00:01")], "b0")

    def run_once():
        stream = spark.readStream.schema(MSG_SCHEMA).parquet(f"{src}/*")
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # processes b0
    _write_messages(spark, str(src), [Row(key="k2", value="two", ts="2024-01-01 00:00:02")], "b1")
    run_once()  # restart: must process ONLY b1
    result = spark.read.parquet(str(out)).collect()
    assert sorted(r["key"] for r in result) == ["k1", "k2"]  # no loss, no dupes


def test_generator_batch_contract(spark):
    """Generator twin of go/producer/producer_test.go:196-213: sentences
    non-empty, 1–5 words, all from the word list, ≥2 distinct in 10."""
    from flink_kakfa_spark.config import DEFAULT_WORD_LIST

    rows = sentence_batch(spark, 10).collect()
    assert len(rows) == 10
    sentences = [r["value"] for r in rows]
    for s in sentences:
        words = s.split(" ")
        assert 1 <= len(words) <= 5
        assert all(w in DEFAULT_WORD_LIST for w in words)
    assert len(set(sentences)) >= 2
    assert all(r["key"].startswith("key-") for r in rows)


def test_generator_stream_is_streaming(spark):
    df = sentence_stream(spark)
    assert df.isStreaming
    assert df.columns == ["key", "value", "ts"]


def test_kafka_stream_builds_without_broker(spark):
    """S3: the Kafka source plans a (key, value, ts) stream with no broker
    reachable; it first contacts the broker when a query starts."""
    from flink_kakfa_spark.config import ConsumerConfig
    from flink_kakfa_spark.streaming.kafka import read_kafka_stream

    df = read_kafka_stream(spark, ConsumerConfig(broker="127.0.0.1:1"))
    assert df.isStreaming
    assert df.schema.simpleString() == "struct<key:string,value:string,ts:timestamp>"


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """T7: applyInPandasWithState keeps per-word totals across
    micro-batches (state outlives any window)."""
    import time

    from flink_kakfa_spark.streaming.stateful import running_word_totals

    _write_messages(
        spark, str(tmp_path), [Row(key="k1", value="hello world", ts="2024-01-01 00:00:01")], "b0"
    )
    time.sleep(1.1)
    _write_messages(
        spark, str(tmp_path), [Row(key="k2", value="hello again", ts="2024-01-01 00:00:02")], "b1"
    )
    stream = _stream_from(spark, str(tmp_path))  # 2 micro-batches
    name = f"st_{uuid.uuid4().hex[:8]}"
    _run_to_memory(running_word_totals(stream), name, "update")
    # update-mode memory sink appends each emission; the max per word is
    # the final cumulative total
    rows = spark.sql(
        f"SELECT word, MAX(total) AS total FROM {name} GROUP BY word"
    ).collect()
    totals = {r["word"]: r["total"] for r in rows}
    assert totals == {"hello": 2, "world": 1, "again": 1}


def test_stateful_session_state_expires_and_resets(spark, tmp_path):
    """T7 eviction: EventTimeTimeout closes an idle word's session,
    REMOVES its state, and a later reappearance restarts from zero.

    Batch timeline (gap=60s, watermark delay=10s):
      b0  hello@00:00:01           -> session opens, timeout armed @00:01:01
      b1  filler@00:10:00          -> advances watermark to 00:09:50
      b2  hello@00:20:00           -> b1's watermark (00:09:50) > 00:01:01
                                      so the OLD hello session times out
                                      (emitted with n=1) and the new
                                      hello event opens a FRESH session
      b3  filler2@00:40:00         -> watermark 00:29:50 passes
                                      00:21:00, closing session #2 and
                                      (next batch...) filler's too
    Only CLOSED sessions are emitted, so two hello rows with n=1 each —
    not one row with n=2 — prove the state was removed, not carried.
    """
    import time

    from flink_kakfa_spark.streaming.stateful import expiring_word_sessions

    batches = [
        ("b0", "hello", "2024-01-01 00:00:01"),
        ("b1", "filler", "2024-01-01 00:10:00"),
        ("b2", "hello", "2024-01-01 00:20:00"),
        ("b3", "filler2", "2024-01-01 00:40:00"),
    ]
    for sub, value, ts in batches:
        _write_messages(spark, str(tmp_path), [Row(key="k", value=value, ts=ts)], sub)
        time.sleep(1.1)  # distinct mtimes keep file-source batch order
    stream = _stream_from(spark, str(tmp_path))
    name = f"exp_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        expiring_word_sessions(stream, gap="60 seconds", watermark="10 seconds"),
        name,
        "update",
    )
    rows = spark.sql(
        f"SELECT word, n, first_ts, last_ts FROM {name} ORDER BY last_ts"
    ).collect()
    hello = [(r["word"], r["n"], str(r["last_ts"])) for r in rows if r["word"] == "hello"]
    # two separate closed hello sessions of n=1: expiry really removed
    # the first session's state before the second began
    assert hello == [
        ("hello", 1, "2024-01-01 00:00:01"),
        ("hello", 1, "2024-01-01 00:20:00"),
    ], rows


def test_consumer_lag_from_kafka_shaped_progress(spark):
    """Offset observability: a Kafka-shaped lastProgress blob flattens
    to per-topic-partition rows with lag = latest - end (the
    kafka-consumer-groups --describe twin over checkpointed offsets)."""
    from flink_kakfa_spark.streaming.progress import progress_rows

    progress = {
        "id": "q-1",
        "batchId": 7,
        "sources": [
            {
                "description": "KafkaV2[Subscribe[messages]]",
                "startOffset": {"messages": {"0": 100, "1": 40}},
                "endOffset": {"messages": {"0": 150, "1": 90}},
                "latestOffset": {"messages": {"0": 160, "1": 90}},
                "numInputRows": 100,
                "processedRowsPerSecond": 50.0,
            }
        ],
    }
    rows = {(r["topic"], r["partition"]): r for r in progress_rows(progress)}
    assert rows[("messages", 0)]["lag"] == 10
    assert rows[("messages", 0)]["start_offset"] == 100
    assert rows[("messages", 1)]["lag"] == 0
    assert rows[("messages", 1)]["end_offset"] == 90


def test_consumer_lag_on_live_file_source_query(spark, tmp_path, msg_rows):
    """consumer_lag/lag_history work against a real (file-source) query:
    non-Kafka offsets collapse to one pseudo-partition, rows land in the
    documented schema."""
    from flink_kakfa_spark.streaming.progress import consumer_lag, lag_history
    from flink_kakfa_spark.streaming.wordcount import streaming_word_counts

    _write_messages(spark, str(tmp_path), msg_rows)
    name = f"lag_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_word_counts(_stream_from(spark, str(tmp_path)))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    lag_df = consumer_lag(spark, q)
    assert lag_df.columns[0] == "query_id"
    hist = lag_history(spark, q).collect()
    assert len(hist) >= 1
    assert all(r["batch_id"] >= 0 for r in hist)


def test_foreach_batch_sink(spark, tmp_path):
    """S4 production form: foreachBatch with custom per-batch logic
    (the engine twin of the consumer's processMessage hook,
    go/consumer/consumer.go:79-81)."""
    import time

    _write_messages(
        spark, str(tmp_path / "src"), [Row(key="k1", value="alpha", ts="2024-01-01 00:00:01")], "b0"
    )
    time.sleep(1.1)
    _write_messages(
        spark, str(tmp_path / "src"), [Row(key="k2", value="beta", ts="2024-01-01 00:00:02")], "b1"
    )
    seen: list[tuple[int, str]] = []

    def handle(batch_df, batch_id):
        for r in batch_df.select("value").collect():
            seen.append((batch_id, r["value"]))

    stream = spark.readStream.schema(MSG_SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        f"{tmp_path}/src/*"
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert sorted(v for _, v in seen) == ["alpha", "beta"]
    assert len({b for b, _ in seen}) == 2  # delivered across two micro-batches


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """J9+: stream-stream inner join with watermarks and a time-range
    bound produces exactly the batch join of the same inputs."""
    from flink_kakfa_spark.streaming.joins import stream_stream_join

    left_rows = [
        Row(key="u1", value="click a", ts="2024-01-01 00:00:01"),
        Row(key="u1", value="click b", ts="2024-01-01 00:05:00"),
        Row(key="u2", value="click c", ts="2024-01-01 00:00:03"),
        Row(key="u3", value="click d", ts="2024-01-01 00:00:04"),
    ]
    right_rows = [
        Row(key="u1", value="buy a", ts="2024-01-01 00:00:05"),   # joins click a
        Row(key="u2", value="buy c", ts="2024-01-01 00:00:20"),   # outside 10s
        Row(key="u3", value="buy d", ts="2024-01-01 00:00:04"),   # equal ts joins
        Row(key="u4", value="buy x", ts="2024-01-01 00:00:05"),   # no left key
    ]
    _write_messages(spark, str(tmp_path / "left"), left_rows)
    _write_messages(spark, str(tmp_path / "right"), right_rows)

    ls = _stream_from(spark, str(tmp_path / "left"))
    rs = _stream_from(spark, str(tmp_path / "right"))
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stream_stream_join(ls, rs), name, "append")
    got = sorted(
        (r["key"], r["l_value"], r["r_value"])
        for r in spark.table(name).collect()
    )

    lb = spark.createDataFrame(left_rows, "key string, value string, ts string").withColumn("ts", F.to_timestamp("ts"))
    rb = spark.createDataFrame(right_rows, "key string, value string, ts string").withColumn("ts", F.to_timestamp("ts"))
    want = sorted(
        (r["key"], r["l_value"], r["r_value"])
        for r in stream_stream_join(lb, rb).collect()
    )
    assert got == want
    assert ("u1", "click a", "buy a") in got
    assert ("u3", "click d", "buy d") in got
    assert all(k != "u2" and k != "u4" for k, _, _ in got)


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: an old unmatched left row is
    null-extended once the watermark passes its match window.

    Subtleties this test pins down:
    - the join watermark is the MIN across both inputs, so BOTH sides
      need a late filler row for it to advance;
    - append mode withholds the fillers themselves (their match
      windows are still open at shutdown), so the expected output is
      exactly the closed-window rows — the match and the null-extension.
    """
    from flink_kakfa_spark.streaming.joins import stream_stream_join

    left_rows = [
        Row(key="u1", value="click a", ts="2024-01-01 00:00:01"),
        Row(key="u9", value="click lonely", ts="2024-01-01 00:00:02"),
        Row(key="zl", value="noise l", ts="2024-01-01 01:00:00"),
    ]
    right_rows = [
        Row(key="u1", value="buy a", ts="2024-01-01 00:00:05"),
        Row(key="zr", value="noise r", ts="2024-01-01 01:00:00"),
    ]
    _write_messages(spark, str(tmp_path / "left"), left_rows)
    _write_messages(spark, str(tmp_path / "right"), right_rows)

    ls = _stream_from(spark, str(tmp_path / "left"))
    rs = _stream_from(spark, str(tmp_path / "right"))
    name = f"ssjo_{uuid.uuid4().hex[:8]}"
    # availableNow stops before the no-data micro-batch that flushes
    # outer-join state; run on a normal trigger and poll for the
    # watermark-advancing empty batch to deliver the null-extension.
    q = (
        stream_stream_join(ls, rs, how="left_outer")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    got = sorted(
        (r["key"], r["l_value"], r["r_value"])
        for r in spark.table(name).collect()
    )
    assert got == [
        ("u1", "click a", "buy a"),
        ("u9", "click lonely", None),
    ]


def test_materialized_view_matches_batch_and_is_idempotent(spark, tmp_path, msg_rows):
    """The maintained Parquet table equals the batch word count, survives
    a second maintenance run over the same checkpoint unchanged, and
    incorporates new data on the next trigger."""
    from flink_kakfa_spark.streaming.matview import materialize_word_counts

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(spark, src, msg_rows)

    def run():
        q = materialize_word_counts(_stream_from(spark, src), view, ckpt)
        q.awaitTermination(120)

    run()
    got = {
        (r["word"], r["cnt"]) for r in spark.read.parquet(view).select("word", "cnt").collect()
    }
    want = {
        (r["word"], r["cnt"])
        for r in streaming_word_counts(
            spark.read.schema(MSG_SCHEMA).parquet(f"{src}/*")
        ).withColumnRenamed("count", "cnt").collect()
    }
    assert got == want

    # idempotent: nothing new to process -> table unchanged
    run()
    again = {
        (r["word"], r["cnt"]) for r in spark.read.parquet(view).select("word", "cnt").collect()
    }
    assert again == got

    # incremental: new file -> counts advance
    _write_messages(
        spark, src, [Row(key="k9", value="hello hello", ts="2024-01-01 00:20:00")],
        subdir="batch1",
    )
    run()
    final = {r["word"]: r["cnt"] for r in spark.read.parquet(view).collect()}
    assert final["hello"] == dict(got).get("hello", 0) + 2


def test_streaming_cep_matches_across_batches(spark, tmp_path):
    """The error arrives in batch 0, the purchase in batch 1 — the pair
    is still detected via keyed state; out-of-gap and wrong-order
    sequences are not."""
    from flink_kakfa_spark.streaming.stateful import error_purchase_matches

    def _ev(rows, subdir):
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/src/{subdir}")

    _ev(
        [
            (1, "2024-01-01 00:00:00", 1, "error"),
            (2, "2024-01-01 00:00:10", 2, "purchase"),  # no prior error
            (3, "2024-01-01 00:00:20", 3, "error"),
        ],
        "b0",
    )
    _ev(
        [
            (4, "2024-01-01 00:01:00", 1, "purchase"),  # matches 1 (60s)
            (5, "2024-01-01 01:00:00", 3, "purchase"),  # out of gap for 3
        ],
        "b1",
    )
    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/src/*")
    )
    name = f"cep_{uuid.uuid4().hex[:8]}"
    q = (
        error_purchase_matches(src)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["user_id"], r["error_event_id"], r["purchase_event_id"], r["gap_ms"])
        for r in spark.table(name).collect()
    ]
    assert got == [(1, 1, 4, 60_000)]


def test_streaming_negative_cep_alerts_on_unresolved_error(spark, tmp_path):
    """Absence detection: u1's error gets no purchase — the watermark
    passing its deadline fires the alert with NO further u1 events;
    u2's error is resolved in a later batch and stays silent."""
    import time

    from flink_kakfa_spark.streaming.stateful import error_without_purchase

    def _ev(rows, subdir):
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/src/{subdir}")
        time.sleep(1.1)  # distinct mtimes keep file-source batch order

    _ev(
        [
            (1, "2024-01-01 00:00:01", 1, "error"),
            (2, "2024-01-01 00:00:05", 2, "error"),
        ],
        "b0",
    )
    _ev(
        [
            (3, "2024-01-01 00:00:30", 2, "purchase"),  # resolves u2
            (4, "2024-01-01 00:30:00", 9, "error"),  # watermark -> 00:29:50
        ],
        "b1",
    )
    _ev([(5, "2024-01-01 01:00:00", 9, "purchase")], "b2")  # drives b2

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/src/*")
    )
    name = f"ncep_{uuid.uuid4().hex[:8]}"
    q = (
        error_without_purchase(src)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["error_event_id"])
        for r in spark.table(name).collect()
        if r["user_id"] in (1, 2)
    }
    assert got == {(1, 1)}  # u1 alerted by silence; u2 resolved, no alert


def _ev_batch(spark, tmp_path, rows, subdir):
    import time

    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/src/{subdir}")
    time.sleep(1.1)  # distinct mtimes keep file-source batch order


def test_streaming_cep_restart_no_dup_or_loss(spark, tmp_path):
    """T6 rigor for the stateful CEP op: kill the query after the error
    arrives, restart from checkpoint, deliver the purchase — the pair
    must be detected EXACTLY once (keyed state recovered, no replay
    duplicate)."""
    from flink_kakfa_spark.streaming.stateful import error_purchase_matches

    out = f"{tmp_path}/out"
    ckpt = f"{tmp_path}/ckpt"

    def run_once():
        src = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp_path}/src/*")
        )
        q = (
            error_purchase_matches(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _ev_batch(spark, tmp_path, [(1, "2024-01-01 00:00:00", 1, "error")], "b0")
    run_once()  # error buffered in state; query stops (simulated kill)
    _ev_batch(spark, tmp_path, [(2, "2024-01-01 00:01:00", 1, "purchase")], "b1")
    run_once()  # restart: state must survive, purchase matches the error
    run_once()  # second restart with nothing new: must add nothing
    got = [
        (r["user_id"], r["error_event_id"], r["purchase_event_id"], r["gap_ms"])
        for r in spark.read.parquet(out).collect()
    ]
    assert got == [(1, 1, 2, 60_000)]  # exactly once across restarts


def test_streaming_negative_cep_restart_alert_exactly_once(spark, tmp_path):
    """Restart twin for absence detection: u1's unresolved error alert
    fires after a restart (timeout state + watermark recovered from the
    checkpoint) and is not re-emitted by a further restart; u2 resolved
    before the deadline stays silent."""
    from flink_kakfa_spark.streaming.stateful import error_without_purchase

    out = f"{tmp_path}/out"
    ckpt = f"{tmp_path}/ckpt"

    def run_once():
        src = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp_path}/src/*")
        )
        q = (
            error_without_purchase(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _ev_batch(
        spark,
        tmp_path,
        [(1, "2024-01-01 00:00:01", 1, "error"), (2, "2024-01-01 00:00:05", 2, "error")],
        "b0",
    )
    run_once()  # both errors pending; stop before any deadline passes
    _ev_batch(spark, tmp_path, [(3, "2024-01-01 00:00:30", 2, "purchase")], "b1")
    _ev_batch(spark, tmp_path, [(4, "2024-01-01 00:30:00", 9, "error")], "b2")
    _ev_batch(spark, tmp_path, [(5, "2024-01-01 01:00:00", 9, "purchase")], "b3")
    run_once()  # restart: u2 resolves, watermark passes u1's deadline -> alert
    run_once()  # third run, no new data: alert must not duplicate
    got = sorted(
        (r["user_id"], r["error_event_id"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] in (1, 2)
    )
    assert got == [(1, 1)]


def test_streaming_cms_merges_to_batch_sketch(spark, tmp_path):
    """Incremental CMS across micro-batches == one-shot batch CMS, and
    a crash replay of the last batch converges to the same cells."""
    from flink_kakfa_spark.operators.sketches import cms_cells
    from flink_kakfa_spark.streaming.monitors import (
        cms_partial,
        read_cms_estimates,
        streaming_cms_monitor,
    )

    src = tmp_path / "src"
    out = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    b0 = [Row(key="a", value="alpha beta alpha", ts="2024-01-01 00:00:01")]
    b1 = [Row(key="b", value="beta gamma", ts="2024-01-01 00:00:02")]
    _write_messages(spark, str(src), b0, "b0")

    def run_once():
        stream = spark.readStream.schema(MSG_SCHEMA).parquet(f"{src}/*")
        q = streaming_cms_monitor(
            stream.withColumnRenamed("value", "text"), out, ckpt
        )
        q.awaitTermination(120)

    run_once()
    _write_messages(spark, str(src), b1, "b1")
    run_once()  # restart from checkpoint: folds ONLY b1 into the sketch

    exact = {"alpha": 2, "beta": 2, "gamma": 1}
    got = {
        r["word"]: r["cms_estimate"]
        for r in read_cms_estimates(spark, out, sorted(exact)).collect()
    }
    all_docs = spark.createDataFrame(
        [("alpha beta alpha",), ("beta gamma",)], "text string"
    )
    watch = spark.createDataFrame([(w,) for w in exact], "word string")
    want = {
        r["word"]: r["est"]
        for r in cms_cells(watch)
        .join(cms_partial(all_docs), ["salt", "bucket"])
        .groupBy("word")
        .agg(F.min("total").alias("est"))
        .collect()
    }
    assert got == want

    # estimate >= exact for every word (CMS one-sided error)
    for word, est in got.items():
        assert est >= exact[word]

    # idempotent replay: re-running with no new files adds nothing
    before = sorted((tmp_path / "sketch").iterdir())
    run_once()
    assert sorted((tmp_path / "sketch").iterdir()) == before


def test_trending_topk_matches_batch_and_breaks_ties(spark, tmp_path, msg_rows):
    """Streaming trending-words table == batch windowed top-k; ties
    break alphabetically (row_number over cnt desc, word asc)."""
    from flink_kakfa_spark.streaming.wordcount import (
        materialize_trending,
        trending_topk,
    )

    batch_df = _write_messages(spark, str(tmp_path / "src"), msg_rows)
    stream = _stream_from(spark, str(tmp_path / "src"))
    out = str(tmp_path / "trending")
    q = materialize_trending(
        stream, out, str(tmp_path / "ckpt"), window="10 seconds", k=2
    )
    q.awaitTermination(120)

    got = {
        (str(r["win_start"]), r["rk"]): r["word"]
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (str(r["win_start"]), r["rk"]): r["word"]
        for r in trending_topk(
            windowed_word_counts(batch_df, "10 seconds"), 2
        ).collect()
    }
    assert got == expected
    # the 00:00:10 window holds one 'hello' + singles: rank 1 = hello,
    # rank 2 = alphabetically-first single ('streaming' vs 'data' ...)
    assert any(r == 1 for (_, r) in got), got


def test_trending_view_idempotent_and_incremental(spark, tmp_path, msg_rows):
    """T6 rigor for the trending table: re-running over the same
    checkpoint leaves it unchanged; new data re-ranks the affected
    window only."""
    from flink_kakfa_spark.streaming.wordcount import materialize_trending

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(spark, src, msg_rows)

    def run():
        q = materialize_trending(
            _stream_from(spark, src), view, ckpt, window="10 seconds", k=2
        )
        q.awaitTermination(120)

    run()
    first = {
        (str(r["win_start"]), r["rk"], r["word"], r["cnt"])
        for r in spark.read.parquet(view).collect()
    }
    run()  # nothing new: identical table (idempotent replay)
    assert {
        (str(r["win_start"]), r["rk"], r["word"], r["cnt"])
        for r in spark.read.parquet(view).collect()
    } == first

    # a late burst of 'zzz' into the 00:10:00 window must dethrone the
    # previous rank-1 of that window and leave other windows untouched
    _write_messages(
        spark, src,
        [Row(key="k9", value="zzz zzz zzz", ts="2024-01-01 00:10:05")],
        subdir="batch1",
    )
    run()
    rows = spark.read.parquet(view).collect()
    burst_win = [r for r in rows if str(r["win_start"]).endswith("00:10:00")]
    assert {(r["rk"], r["word"]) for r in burst_win} >= {(1, "zzz")}
    untouched = {
        (str(r["win_start"]), r["rk"], r["word"], r["cnt"])
        for r in rows
        if not str(r["win_start"]).endswith("00:10:00")
    }
    assert untouched == {
        t for t in first if not t[0].endswith("00:10:00")
    }


EV_SCHEMA = "event_id long, event_type string, value double"


def test_streaming_zscore_flags_spike_not_warmup(spark, tmp_path):
    """Two micro-batches: batch 1 warms the state (no alerts possible
    before min_n), batch 2 contains one huge spike -> exactly that
    event is flagged, scored against batch-1 statistics."""
    from flink_kakfa_spark.streaming.stateful import streaming_zscore_alerts

    base = [(i, "view", 10.0 + (i % 5) * 0.1) for i in range(40)]
    spark.createDataFrame(base, EV_SCHEMA).coalesce(1).write.parquet(
        f"{tmp_path}/src/b0"
    )
    spark.createDataFrame(
        [(100, "view", 10.2), (101, "view", 500.0)], EV_SCHEMA
    ).coalesce(1).write.parquet(f"{tmp_path}/src/b1")

    stream = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/src/*")
    )
    name = "zscore_alerts"
    q = (
        streaming_zscore_alerts(stream, z_threshold=3.0, min_n=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert [(r["event_id"], r["value"]) for r in rows] == [(101, 500.0)]
    assert rows[0]["z"] > 100  # sd of warmup batch is ~0.14


def test_streaming_zscore_matches_batch_moments(spark, tmp_path):
    """The state's (n, mean, M2) merge across batches must equal the
    whole-corpus moments: feed a third batch and check its alert's z
    equals the z computed from batches 1+2's exact stats."""
    import statistics

    from flink_kakfa_spark.streaming.stateful import streaming_zscore_alerts

    b0 = [(i, "view", float(v)) for i, v in enumerate([10.0, 12.0, 11.0] * 12)]
    b1 = [(50 + i, "view", float(v)) for i, v in enumerate([9.0, 13.0] * 5)]
    spike = 1000.0
    spark.createDataFrame(b0, EV_SCHEMA).coalesce(1).write.parquet(
        f"{tmp_path}/src/b0"
    )
    spark.createDataFrame(b1, EV_SCHEMA).coalesce(1).write.parquet(
        f"{tmp_path}/src/b1"
    )
    spark.createDataFrame([(99, "view", spike)], EV_SCHEMA).coalesce(
        1
    ).write.parquet(f"{tmp_path}/src/b2")

    stream = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/src/*")
    )
    name = "zscore_alerts2"
    q = (
        streaming_zscore_alerts(stream, z_threshold=3.0, min_n=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        r
        for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r["event_id"] == 99
    ]
    assert len(rows) == 1
    vals = [v for _, _, v in b0 + b1]
    expect_z = (spike - statistics.mean(vals)) / statistics.stdev(vals)
    assert abs(rows[0]["z"] - expect_z) < 1e-9


def test_streaming_zscore_restart_no_dup_or_loss(spark, tmp_path):
    """Warm up, stop, add a spike batch, restart from the checkpoint:
    the spike alerts exactly once and the state (mean/M2) carries
    across the restart (z is scored against the PRE-restart stats)."""
    from flink_kakfa_spark.streaming.stateful import streaming_zscore_alerts

    base = [(i, "view", 10.0 + (i % 5) * 0.1) for i in range(40)]
    spark.createDataFrame(base, EV_SCHEMA).coalesce(1).write.parquet(
        f"{tmp_path}/src/b0"
    )
    out = f"{tmp_path}/out"

    def run_once():
        stream = (
            spark.readStream.schema(EV_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp_path}/src/*")
        )
        q = (
            streaming_zscore_alerts(stream, z_threshold=3.0, min_n=30)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # warmup only; no alerts possible
    spark.createDataFrame(
        [(101, "view", 500.0)], EV_SCHEMA
    ).coalesce(1).write.parquet(f"{tmp_path}/src/b1")
    run_once()  # restart: state recovered, spike scored against it
    run_once()  # third run with nothing new: must add nothing
    rows = spark.read.parquet(out).collect()
    assert [(r["event_id"], r["value"]) for r in rows] == [(101, 500.0)]
    assert rows[0]["z"] > 100


def test_streaming_zscore_survives_large_magnitude_low_variance(spark, tmp_path):
    """Regression for the one-pass M2 form (sumsq - n*mean^2): values
    around 1e8 with unit-scale variance cancel catastrophically there,
    driving the stored M2 negative or garbage and silently disabling
    the ``m2 > 0`` alert gate for the key forever. The two-pass
    within-batch M2 keeps the moments exact: a later spike must still
    alert with the correct z."""
    import statistics

    from flink_kakfa_spark.streaming.stateful import streaming_zscore_alerts

    base_vals = [1e8 + (i % 5 - 2) for i in range(60)]  # mean 1e8, sd ~1.4
    spike = 1e8 + 1000.0
    spark.createDataFrame(
        [(i, "view", float(v)) for i, v in enumerate(base_vals)], EV_SCHEMA
    ).coalesce(1).write.parquet(f"{tmp_path}/src/b0")
    spark.createDataFrame([(999, "view", spike)], EV_SCHEMA).coalesce(
        1
    ).write.parquet(f"{tmp_path}/src/b1")

    stream = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/src/*")
    )
    name = "zscore_alerts_bigmag"
    q = (
        streaming_zscore_alerts(stream, z_threshold=3.0, min_n=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert [r["event_id"] for r in rows] == [999]
    expect_z = (spike - statistics.mean(base_vals)) / statistics.stdev(base_vals)
    assert abs(rows[0]["z"] - expect_z) / expect_z < 1e-6
