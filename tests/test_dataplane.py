"""S2/S3 data-plane tests: RecordBatch codec, Produce/Fetch/ListOffsets
RPCs, and the driver-side Spark read/write paths — all against the
in-process broker stand-in speaking spec frames over real TCP
(``broker`` fixture, tests/conftest.py, shared with test_topics.py).

The integration test mirrors the reference's round-trip
(go/integration/integration_test.go:20-62): produce generated
sentences, consume them back through Spark, and assert the word count
equals the batch word count of the same sentences.
"""

from __future__ import annotations

import time

import pytest

from flink_kakfa_spark.streaming.topics import TopicAdminError
from flink_kakfa_spark.streaming.wire import (
    EARLIEST,
    LATEST,
    crc32c,
    decode_record_batches,
    dec_varint,
    enc_varint,
    encode_record_batch,
    fetch,
    fetch_range,
    list_offset,
    produce,
)


# ----------------------------------------------------------- codec unit


def test_crc32c_known_answer():
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_varint_roundtrip_signed():
    for v in (0, 1, -1, 63, 64, -64, -65, 300, -300, 2**31, -(2**31), 2**62):
        b = enc_varint(v)
        got, pos = dec_varint(b, 0)
        assert (got, pos) == (v, len(b))


def test_record_batch_roundtrip_and_crc_guard():
    recs = [(b"k", b"hello"), (None, b"world"), (b"k3", None)]
    batch = encode_record_batch(recs, base_offset=7, timestamp_ms=1_700_000_000_000)
    out = decode_record_batches(batch)
    assert [(r.key, r.value) for r in out] == recs
    assert [r.offset for r in out] == [7, 8, 9]
    corrupt = bytearray(batch)
    corrupt[-1] ^= 0xFF
    with pytest.raises(TopicAdminError, match="CRC"):
        decode_record_batches(bytes(corrupt))


def test_multi_batch_set_with_trailing_partial():
    b1 = encode_record_batch([(b"a", b"1"), (b"b", b"2")], base_offset=0)
    b2 = encode_record_batch([(b"c", b"3")], base_offset=2)
    recs = decode_record_batches(b1 + b2 + b1[:11])
    assert [r.offset for r in recs] == [0, 1, 2]


@pytest.mark.parametrize(
    "key, want",
    [  # Kafka's UtilsTest.testMurmur2 vectors
        ("21", -973932308),
        ("foobar", -790332482),
        ("a-little-bit-long-string", -985981536),
        ("a-little-bit-longer-string", -1486304829),
        ("abc", 479470107),
    ],
)
def test_murmur2_matches_kafka(key, want):
    from flink_kakfa_spark.streaming.dataplane import murmur2

    assert murmur2(key.encode()) == want


# ------------------------------------------------------------ RPC paths


def test_produce_fetch_roundtrip(broker):
    broker.add_topic("t", 1)
    base = produce(broker.addr, "t", [(b"k1", b"v1"), (None, b"v2")])
    assert base == 0
    assert produce(broker.addr, "t", [(b"k3", b"v3")]) == 2
    recs, _, hwm = fetch(broker.addr, "t", 0, 0)
    assert hwm == 3
    assert [(r.key, r.value) for r in recs] == [
        (b"k1", b"v1"),
        (None, b"v2"),
        (b"k3", b"v3"),
    ]
    # offset-bounded fetch skips whole earlier batches
    recs2, _, _ = fetch(broker.addr, "t", 0, 2)
    assert [r.offset for r in recs2] == [2]


def test_list_offsets_earliest_latest(broker):
    broker.add_topic("t", 1)
    assert list_offset(broker.addr, "t", 0, EARLIEST) == 0
    assert list_offset(broker.addr, "t", 0, LATEST) == 0
    produce(broker.addr, "t", [(None, b"x")] * 5)
    assert list_offset(broker.addr, "t", 0, LATEST) == 5


def test_produce_to_unknown_topic_raises(broker):
    with pytest.raises(TopicAdminError, match="error 3"):
        produce(broker.addr, "missing", [(None, b"v")])


def test_fetch_range_drains_across_batches(broker):
    broker.add_topic("t", 1)
    for i in range(7):
        produce(broker.addr, "t", [(None, f"m{i}".encode())])
    recs = fetch_range(broker.addr, "t", 0, 0, 7)
    assert [r.value for r in recs] == [f"m{i}".encode() for i in range(7)]
    # an inner range starts mid-batch-set and stops before the end
    assert [r.offset for r in fetch_range(broker.addr, "t", 0, 2, 5)] == [2, 3, 4]
    assert fetch_range(broker.addr, "t", 0, 7, 7) == []


def test_fetch_range_raises_on_short_read(broker):
    """A fetch with nothing at or past the wanted offset, below the end
    offset, is a short read: it must raise, not return a prefix."""
    broker.add_topic("t", 1)
    produce(broker.addr, "t", [(None, b"m0")])
    produce(broker.addr, "t", [(None, b"m1")])
    broker.short_fetch = True  # fetch withholds the batch holding m1
    with pytest.raises(TopicAdminError, match="offset 1"):
        fetch_range(broker.addr, "t", 0, 0, 2)


def _commit_marker(base_offset: int) -> bytes:
    """A transaction COMMIT marker: ``encode_record_batch``'s layout with
    attributes bits 4 (transactional) and 5 (control) set, re-checksummed.
    Its one record's key is (version 0, type 1 = commit)."""
    import struct

    batch = encode_record_batch(
        [(struct.pack(">hh", 0, 1), struct.pack(">hi", 0, 0))],
        base_offset=base_offset,
        timestamp_ms=1,
    )
    post = bytearray(batch[21:])  # everything after the crc field
    struct.pack_into(">h", post, 0, 0x30)
    return batch[:17] + struct.pack(">I", crc32c(bytes(post))) + bytes(post)


def _append_marker(broker, topic: str, pid: int = 0) -> None:
    """Store a commit marker at the partition's next offset, as a
    transactional producer's commit would."""
    with broker.lock:
        part = broker.topics[topic][pid]
        part["batches"].append((part["next"], _commit_marker(part["next"])))
        part["next"] += 1


def test_control_batch_is_skipped_but_advances_the_range(broker):
    """A control batch holds transaction markers, not records: decoding
    returns none of it, and a range that ends in one is read whole
    rather than failed as a short read."""
    data = encode_record_batch([(None, b"w1"), (None, b"w2")], base_offset=0)
    assert [r.value for r in decode_record_batches(data + _commit_marker(2))] == [
        b"w1",
        b"w2",
    ]

    broker.add_topic("txn", 1)
    produce(broker.addr, "txn", [(None, b"w1"), (None, b"w2")])
    _append_marker(broker, "txn")
    hi = list_offset(broker.addr, "txn", 0, LATEST)
    assert hi == 3
    assert [r.value for r in fetch_range(broker.addr, "txn", 0, 0, hi)] == [
        b"w1",
        b"w2",
    ]
    assert fetch_range(broker.addr, "txn", 0, 2, hi) == []


# ------------------------------------------------------ Spark data plane

READ_DDL = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp_ms long"
)


def _read_struct():
    from pyspark.sql.types import StructType

    return StructType.fromDDL(READ_DDL)


def test_spark_read_topic_distributed(spark, broker):
    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental

    broker.add_topic("t2", 2)
    produce(broker.addr, "t2", [(b"a", b"p0-first"), (b"b", b"p0-second")], 0)
    produce(broker.addr, "t2", [(None, b"p1-only")], 1)
    df = read_topic_incremental(spark, broker.addr, "t2")[0]
    rows = df.collect()
    assert {
        (bytes(r["value"]), r["partition"], r["offset"]) for r in rows
    } == {(b"p0-first", 0, 0), (b"p0-second", 0, 1), (b"p1-only", 1, 0)}
    assert all(r["topic"] == "t2" for r in rows)


def test_read_topic_is_a_snapshot_of_the_call(spark, broker):
    """read_topic_incremental fixes each partition's end offset when it
    is called: records produced before the frame is collected are not in
    it."""
    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental

    broker.add_topic("snap", 2)
    produce(broker.addr, "snap", [(None, b"early-0")], 0)
    produce(broker.addr, "snap", [(None, b"early-1")], 1)
    df = read_topic_incremental(spark, broker.addr, "snap")[0]
    produce(broker.addr, "snap", [(None, b"late-0")], 0)
    produce(broker.addr, "snap", [(None, b"late-1")], 1)
    assert sorted(bytes(r["value"]) for r in df.collect()) == [
        b"early-0",
        b"early-1",
    ]


def test_spark_write_topic_round_robin(spark, broker):
    from pyspark.sql import functions as F

    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental, write_topic

    broker.add_topic("t3", 2)
    df = spark.range(20).select(
        F.concat_ws("-", F.lit("msg"), F.col("id")).alias("value")
    )
    n = write_topic(df, broker.addr, "t3")
    assert n == 20
    back = read_topic_incremental(spark, broker.addr, "t3")[0].collect()
    assert len(back) == 20
    assert {bytes(r["value"]).decode() for r in back} == {
        f"msg-{i}" for i in range(20)
    }
    assert {r["partition"] for r in back} == {0, 1}


def test_write_topic_spreads_a_local_frame_over_every_partition(spark, broker):
    """A pandas-created frame is one input partition; its records must
    still spread round-robin over every Kafka partition, not land on 0."""
    import pandas as pd

    from flink_kakfa_spark.streaming.dataplane import write_topic

    broker.add_topic("spread", 4)
    df = spark.createDataFrame(pd.DataFrame({"value": [f"m{i}" for i in range(8)]}))
    assert write_topic(df, broker.addr, "spread") == 8
    ends = [list_offset(broker.addr, "spread", p, LATEST) for p in range(4)]
    assert ends == [2, 2, 2, 2]


def test_keyed_records_land_where_kafka_puts_them(spark, broker):
    """A keyed record goes to (murmur2(key) & 0x7fffffff) % n, Kafka's
    default partitioner, so every record of one key shares a partition;
    unkeyed records still go round-robin."""
    from flink_kakfa_spark.streaming.dataplane import (
        murmur2,
        read_topic_incremental,
        write_topic,
    )

    broker.add_topic("keyed", 4)
    keys = ["21", "foobar", "abc"]  # partitions 0, 2 and 3 of 4
    # Three keys over four partitions: record order (i mod 4) would
    # spread each key over every partition.
    rows = [(keys[i % 3], f"v{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "key string, value string")
    assert write_topic(df, broker.addr, "keyed", key_col="key") == 12
    back = read_topic_incremental(spark, broker.addr, "keyed")[0].collect()
    where = {}
    for r in back:
        where.setdefault(bytes(r["key"]).decode(), set()).add(r["partition"])
    assert where == {
        k: {(murmur2(k.encode()) & 0x7FFFFFFF) % 4} for k in keys
    }

    broker.add_topic("unkeyed", 4)
    plain = spark.createDataFrame([(f"v{i}",) for i in range(8)], "value string")
    assert write_topic(plain, broker.addr, "unkeyed") == 8
    ends = [list_offset(broker.addr, "unkeyed", p, LATEST) for p in range(4)]
    assert ends == [2, 2, 2, 2]


def test_kafka_wordcount_round_trip(spark, broker):
    """The reference's integration flow: produce sentences -> consume via
    Spark -> word count == batch word count of the same sentences
    (go/integration/integration_test.go:20-62)."""
    from pyspark.sql import functions as F

    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental, write_topic
    from flink_kakfa_spark.streaming.generator import sentence_batch

    broker.add_topic("wc", 2)
    sent = sentence_batch(spark, 60).select("value")
    assert write_topic(sent, broker.addr, "wc") == 60

    consumed = read_topic_incremental(spark, broker.addr, "wc")[0].select(
        F.col("value").cast("string").alias("line")
    )
    got = {
        (r["word"], r["cnt"])
        for r in consumed.select(
            F.explode(F.split("line", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    want = {
        (r["word"], r["cnt"])
        for r in sent.select(
            F.explode(F.split(F.col("value"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


def test_foreach_batch_sink_streams_to_kafka(spark, broker, tmp_path):
    """A streaming query sinks micro-batches to the topic through the
    foreachBatch adapter; records land with their payloads intact."""
    import time

    from pyspark.sql import functions as F

    from flink_kakfa_spark.streaming.dataplane import foreach_batch_sink

    broker.add_topic("s1", 1)
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "100")
        .load()
        .select(F.concat_ws("-", F.lit("r"), F.col("value")).alias("value"))
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_sink(broker.addr, "s1"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if list_offset(broker.addr, "s1", 0, LATEST) > 0:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    recs = fetch_range(
        broker.addr, "s1", 0, 0, list_offset(broker.addr, "s1", 0, LATEST)
    )
    assert recs, "no records reached the topic"
    assert all(bytes(r.value).startswith(b"r-") for r in recs)


def test_cli_producer_consumer_via_stdlib_data_plane(
    spark, broker, tmp_path, monkeypatch, capsys
):
    """The reference's full lifecycle, jar-free: `producer` streams
    generated sentences into the topic through the foreachBatch
    fallback, `consumer` drains and logs them reference-style
    ("Received: ..."), both configured via the same env vars the
    reference honors."""
    import json
    from argparse import Namespace

    from flink_kakfa_spark.cli import cmd_consumer, cmd_producer

    broker.add_topic("cli-words", 1)
    monkeypatch.setenv("KAFKA_BROKER", broker.addr)
    monkeypatch.setenv("KAFKA_TOPIC", "cli-words")
    cfg_path = tmp_path / "producer.json"
    cfg_path.write_text(json.dumps({"interval": "50ms"}))

    rc = cmd_producer(
        Namespace(
            config=str(cfg_path),
            sink=None,
            checkpoint=str(tmp_path / "ckpt"),
            duration=8,
        )
    )
    assert rc == 0
    # quiescence poll (reference's deadline loop,
    # go/integration/integration_test.go:122-140): cmd_producer's
    # stop() interrupts the final micro-batch, but produce RPCs its
    # executor tasks already opened can still be queued in the fake
    # broker's accept loop — sampling LATEST immediately undercounts
    # what eventually lands (observed 80-sampled vs 140-landed on a
    # contended host). Wait for the offset to hold still before
    # pinning the expected count.
    n, stable_since = 0, time.time()
    deadline = time.time() + 30
    while time.time() < deadline:
        cur = list_offset(broker.addr, "cli-words", 0, LATEST)
        if cur != n:
            n, stable_since = cur, time.time()
        elif n > 0 and time.time() - stable_since >= 2.0:
            break
        time.sleep(0.25)
    assert n > 0, "producer wrote nothing through the stdlib sink"

    rc = cmd_consumer(
        Namespace(config=None, source=None, duration=None, available_now=True)
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert out.count("Received: ") == n


def test_incremental_read_sees_each_record_exactly_once(spark, broker):
    """Two consume rounds with caller-persisted offsets: no overlap, no
    gap, and a replay of round 1's offsets reproduces round 1 exactly —
    the exactly-once contract consumer groups cannot give."""
    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental

    broker.add_topic("inc", 2)
    produce(broker.addr, "inc", [(None, b"a0"), (None, b"a1")], 0)
    produce(broker.addr, "inc", [(None, b"b0")], 1)

    df1, end1 = read_topic_incremental(spark, broker.addr, "inc")
    got1 = {(r["partition"], r["offset"], bytes(r["value"])) for r in df1.collect()}
    assert got1 == {(0, 0, b"a0"), (0, 1, b"a1"), (1, 0, b"b0")}
    assert end1 == {0: 2, 1: 1}

    produce(broker.addr, "inc", [(None, b"a2")], 0)
    df2, end2 = read_topic_incremental(spark, broker.addr, "inc", end1)
    got2 = {(r["partition"], r["offset"], bytes(r["value"])) for r in df2.collect()}
    assert got2 == {(0, 2, b"a2")}
    assert end2 == {0: 3, 1: 1}

    # replay round 1 from the same offsets: byte-identical increment
    df1r, _ = read_topic_incremental(spark, broker.addr, "inc", {0: 0, 1: 0})
    full = {(r["partition"], r["offset"], bytes(r["value"])) for r in df1r.collect()}
    assert full == got1 | got2


def test_read_topic_incremental_frame_never_refetches(spark, broker):
    """The records are fetched during the call: once it returns, the
    frame answers from what it holds, whatever the broker does next."""
    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental

    broker.add_topic("once", 2)
    produce(broker.addr, "once", [(None, b"a0")], 0)
    produce(broker.addr, "once", [(None, b"a1")], 0)
    produce(broker.addr, "once", [(None, b"b0")], 1)
    df, _ = read_topic_incremental(spark, broker.addr, "once")
    broker.short_fetch = True  # any fetch from here on would raise
    assert df.count() == 3
    assert sorted(bytes(r["value"]) for r in df.collect()) == [b"a0", b"a1", b"b0"]


def test_read_frame_comes_from_one_arrow_table(spark, broker):
    """The increment frame has the read schema, nullability included,
    and no PythonRDD in its lineage: no job over it starts a Python
    worker."""
    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental

    broker.add_topic("arrow", 2)
    produce(broker.addr, "arrow", [(b"k", b"a0"), (None, b"a1")], 0)
    produce(broker.addr, "arrow", [(None, b"b0")], 1)
    df, end = read_topic_incremental(spark, broker.addr, "arrow")
    assert end == {0: 2, 1: 1}
    assert df.schema == _read_struct()
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert {
        (r["key"] and bytes(r["key"]), bytes(r["value"]), r["partition"], r["offset"])
        for r in df.collect()
    } == {(b"k", b"a0", 0, 0), (None, b"a1", 0, 1), (None, b"b0", 1, 0)}


def test_empty_read_leaves_the_view_commit_unchanged(spark, broker, tmp_path):
    """A read with no new records is an empty frame of the read schema,
    and an increment over it commits nothing."""
    import os

    from flink_kakfa_spark.streaming.dataplane import read_topic_incremental
    from flink_kakfa_spark.streaming.kafka_matview import consume_wordcount_increment

    broker.add_topic("idle", 2)
    df, end = read_topic_incremental(spark, broker.addr, "idle")
    assert end == {0: 0, 1: 0}
    assert df.schema == _read_struct() and df.count() == 0

    state = str(tmp_path / "state")
    produce(broker.addr, "idle", [(None, b"alpha beta")], 1)
    c = consume_wordcount_increment(spark, broker.addr, "idle", state)
    assert c["new_rows"] == 1
    df, _ = read_topic_incremental(spark, broker.addr, "idle", {0: 0, 1: 1})
    assert df.schema == _read_struct() and df.count() == 0

    commit_path = os.path.join(state, "commit.json")
    with open(commit_path, "rb") as f:
        before = f.read()
    c = consume_wordcount_increment(spark, broker.addr, "idle", state)
    assert c["new_rows"] == 0 and c["version"] == 1
    with open(commit_path, "rb") as f:
        assert f.read() == before


def _counts_dict(df):
    return {r["word"]: r["cnt"] for r in df.collect()}


def test_kafka_matview_exactly_once_across_increments_and_crash(
    spark, broker, tmp_path
):
    """Two increments accumulate correctly; a simulated crash between
    the table write and the commit rename replays the SAME offset range
    without double counting."""
    import json
    import os
    import shutil

    from flink_kakfa_spark.streaming.kafka_matview import (
        consume_wordcount_increment,
        current_counts,
    )

    broker.add_topic("mv", 1)
    state = str(tmp_path / "state")

    produce(broker.addr, "mv", [(None, b"alpha beta"), (None, b"alpha")])
    c1 = consume_wordcount_increment(spark, broker.addr, "mv", state)
    assert c1["version"] == 1 and c1["new_rows"] == 2
    assert _counts_dict(current_counts(spark, state)) == {"alpha": 2, "beta": 1}

    produce(broker.addr, "mv", [(None, b"beta gamma")])
    c2 = consume_wordcount_increment(spark, broker.addr, "mv", state)
    assert c2["version"] == 2 and c2["new_rows"] == 1
    assert _counts_dict(current_counts(spark, state)) == {
        "alpha": 2,
        "beta": 2,
        "gamma": 1,
    }

    # no new data: no version churn
    c3 = consume_wordcount_increment(spark, broker.addr, "mv", state)
    assert c3["version"] == 2 and c3["new_rows"] == 0

    # crash simulation: v3 was written but the commit rename never
    # happened — roll the commit file back to v1 and delete v2's
    # authority; replaying from the v1 offsets must reproduce v2's
    # totals exactly (the same offset range re-read, not re-counted
    # on top of itself)
    with open(os.path.join(state, "commit.json")) as f:
        committed = json.load(f)
    assert committed["version"] == 2
    rollback = {"version": 1, "offsets": {"0": 2}}
    with open(os.path.join(state, "commit.json"), "w") as f:
        json.dump(rollback, f)
    shutil.rmtree(os.path.join(state, "v2"))

    c4 = consume_wordcount_increment(spark, broker.addr, "mv", state)
    assert c4["version"] == 2 and c4["new_rows"] == 1
    assert _counts_dict(current_counts(spark, state)) == {
        "alpha": 2,
        "beta": 2,
        "gamma": 1,
    }


def test_kafka_matview_short_read_fails_without_committing(
    spark, broker, tmp_path
):
    """A broker that answers a fetch with nothing in range must fail the
    increment and leave commit.json byte-identical — never commit end
    offsets over records the increment did not read."""
    import json
    import os

    from flink_kakfa_spark.streaming.kafka_matview import (
        consume_wordcount_increment,
        current_counts,
    )

    broker.add_topic("mv-short", 1)
    state = str(tmp_path / "state")
    produce(broker.addr, "mv-short", [(None, b"alpha")])
    consume_wordcount_increment(spark, broker.addr, "mv-short", state)
    commit_path = os.path.join(state, "commit.json")
    with open(commit_path, "rb") as f:
        before = f.read()
    assert json.loads(before)["offsets"] == {"0": 1}

    produce(broker.addr, "mv-short", [(None, b"beta")])
    produce(broker.addr, "mv-short", [(None, b"gamma")])
    broker.short_fetch = True  # fetch withholds the batch holding gamma
    with pytest.raises(Exception, match="returned nothing at offset 2"):
        consume_wordcount_increment(spark, broker.addr, "mv-short", state)
    with open(commit_path, "rb") as f:
        assert f.read() == before

    # once the broker serves the whole range, the retry reaches the oracle
    broker.short_fetch = False
    c = consume_wordcount_increment(spark, broker.addr, "mv-short", state)
    assert c["offsets"] == {"0": 3} and c["new_rows"] == 2
    assert _counts_dict(current_counts(spark, state)) == {
        "alpha": 1,
        "beta": 1,
        "gamma": 1,
    }


def test_kafka_matview_counts_no_transaction_marker(spark, broker, tmp_path):
    """A commit marker at the end of the increment is not counted as a
    word, and the view commits the offset past it."""
    from flink_kakfa_spark.streaming.kafka_matview import (
        consume_wordcount_increment,
        current_counts,
    )

    broker.add_topic("mv-txn", 1)
    state = str(tmp_path / "state")
    produce(broker.addr, "mv-txn", [(None, b"alpha beta"), (None, b"alpha")])
    _append_marker(broker, "mv-txn")
    c = consume_wordcount_increment(spark, broker.addr, "mv-txn", state)
    assert c["offsets"] == {"0": 3} and c["new_rows"] == 2
    assert _counts_dict(current_counts(spark, state)) == {"alpha": 2, "beta": 1}


def test_kafka_matview_commit_fsyncs_its_directory(tmp_path, monkeypatch):
    """The commit rename survives a power loss only once the directory
    holding it is fsynced, not just the renamed file."""
    import os
    import stat

    from flink_kakfa_spark.streaming import kafka_matview

    synced_dirs = []
    fsync = os.fsync

    def recording_fsync(fd):
        synced_dirs.append(stat.S_ISDIR(os.fstat(fd).st_mode))
        fsync(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    kafka_matview._write_commit_atomic(
        str(tmp_path), {"version": 1, "offsets": {"0": 1}}
    )
    assert any(synced_dirs)
    assert kafka_matview._read_commit(str(tmp_path))["version"] == 1


def test_record_batch_roundtrip_property():
    """Property: any list of optional-bytes (key, value) pairs survives
    encode->decode bit-exactly, at any base offset."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    opt_bytes = st.one_of(st.none(), st.binary(max_size=200))

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(st.tuples(opt_bytes, opt_bytes), min_size=1, max_size=20),
        st.integers(min_value=0, max_value=2**40),
    )
    def check(pairs, base):
        batch = encode_record_batch(pairs, base_offset=base, timestamp_ms=1)
        out = decode_record_batches(batch)
        assert [(r.key, r.value) for r in out] == pairs
        assert [r.offset for r in out] == list(range(base, base + len(pairs)))

    check()


def test_record_batch_gzip_and_headers_roundtrip(broker):
    """Gzip-compressed batches with record headers survive the full
    produce->store->fetch path (broker re-encodes uncompressed — codec
    negotiation is per-batch, exactly as real brokers may down-convert)."""
    hdrs = [("trace-id", b"abc123"), ("null-h", None)]
    batch = encode_record_batch(
        [(b"k", b"compressed payload " * 20, hdrs)],
        base_offset=0,
        timestamp_ms=5,
        compress=True,
    )
    plain = encode_record_batch(
        [(b"k", b"compressed payload " * 20, hdrs)],
        base_offset=0,
        timestamp_ms=5,
    )
    assert len(batch) < len(plain)  # gzip actually engaged
    out = decode_record_batches(batch)
    assert out[0].value == b"compressed payload " * 20
    assert out[0].headers == (("trace-id", b"abc123"), ("null-h", None))

    broker.add_topic("gz", 1)
    produce(broker.addr, "gz", [(b"k", b"via-rpc", [("h", b"v")])])
    recs, _, _ = fetch(broker.addr, "gz", 0, 0)
    assert recs[0].headers == (("h", b"v"),)


def test_decoder_never_crashes_on_arbitrary_bytes():
    """Property: decode_record_batches on arbitrary bytes either
    returns records or raises TopicAdminError — never hangs, never
    raises anything else (hostile/corrupt broker hardening)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=400))
    def check(blob):
        try:
            decode_record_batches(blob)
        except TopicAdminError:
            pass

    check()

    # a structurally-valid prefix with a corrupted interior must raise
    # TopicAdminError (CRC), not IndexError/struct.error
    good = encode_record_batch([(b"k", b"v" * 50)])
    for i in range(20, len(good), 7):
        mutated = bytearray(good)
        mutated[i] ^= 0x55
        try:
            decode_record_batches(bytes(mutated))
        except TopicAdminError:
            pass
