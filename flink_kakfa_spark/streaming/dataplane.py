"""Spark ↔ Kafka data plane over the stdlib wire client (``wire.py``).

Completes the reference's produce/consume surface (S2/S3) with no
Kafka connector jar; ``kafka.py`` builds the stream source on the same
wire calls. The wire code runs on the driver: an increment of a few
thousand records costs less to move there than one Spark job costs to
schedule. Records cross between the driver and the JVM as one Arrow
table each way, so the data plane starts no Python worker: a frame
built from a Python row list would put a ``PythonRDD`` in its lineage
and send every job over it through one.

- ``snapshot_and_drain`` — the one read both readers share: snapshot
  every partition's end offset with ListOffsets, then fetch
  [start, end) per partition.
- ``read_topic_incremental`` — that read as a frame of ``READ_SCHEMA``
  (key, value, topic, partition, offset, timestamp_ms), built from one
  Arrow table, plus the end offsets.
- ``write_topic``  — produce: the rows come back as one Arrow table; a
  keyed record goes to the partition Kafka's default partitioner picks
  (``murmur2`` of the key), unkeyed record *i* to partition *i mod n*,
  in bounded record batches.
- ``foreach_batch_sink`` — adapter so a streaming query can sink to
  Kafka through ``writeStream.foreachBatch``, keyed by the batch's
  ``key`` column when it has one (exactly-once per batch id is the
  caller's dedup contract, as with any foreachBatch sink).

Partitioning parity note: the reference producer uses kafka-go's
``LeastBytes`` balancer (``go/producer/producer.go:74``). With the
generator's near-equal message sizes LeastBytes degenerates to the
per-record round-robin ``write_topic`` implements for unkeyed records.
Keyed records follow the Java client's default partitioner, so a
consumer of one partition sees every record of its keys.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.streaming.topics import (
    ERR_NONE,
    ERR_UNKNOWN_TOPIC,
    TopicAdminError,
    cluster_metadata,
)
from flink_kakfa_spark.streaming.wire import (
    LATEST,
    Record,
    fetch_range,
    list_offset,
    produce,
)

READ_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp_ms", pa.int64()),
    ]
)

_PRODUCE_CHUNK = 500  # records per Produce RPC

_M32 = 0xFFFFFFFF


def murmur2(data: bytes) -> int:
    """Kafka's 32-bit murmur2 (``org.apache.kafka.common.utils.Utils``),
    as a signed int like the Java one."""
    m, n = 0x5BD1E995, len(data)
    h = (0x9747B28C ^ n) & _M32
    n4 = n & ~3
    for i in range(0, n4, 4):
        k = (int.from_bytes(data[i : i + 4], "little") * m) & _M32
        k = ((k ^ (k >> 24)) * m) & _M32
        h = ((h * m) & _M32) ^ k
    if n & 3:
        h ^= int.from_bytes(data[n4:], "little")
        h = (h * m) & _M32
    h = ((h ^ (h >> 13)) * m) & _M32
    h ^= h >> 15
    return h - (1 << 32) if h & 0x80000000 else h


def partition_ids(bootstrap: str, topic: str) -> list[int]:
    """Sorted partition ids for a topic (Metadata v1)."""
    _, _, meta = cluster_metadata(bootstrap, [topic])
    err, pids = meta.get(topic, (ERR_UNKNOWN_TOPIC, []))
    if err != ERR_NONE:
        raise TopicAdminError(f"Metadata({topic}) error {err}")
    return pids


def drain(
    bootstrap: str, topic: str, start: dict[int, int], end: dict[int, int]
) -> list[tuple[int, Record]]:
    """Every ``(partition, record)`` with offset in
    [start[p], end[p]) for each partition of ``end``; a partition
    missing from ``start`` is read from offset 0."""
    return [
        (p, r)
        for p, hi in end.items()
        for r in fetch_range(bootstrap, topic, p, start.get(p, 0), hi)
    ]


def snapshot_and_drain(
    bootstrap: str, topic: str, start: dict[int, int]
) -> tuple[list[tuple[int, Record]], dict[int, int]]:
    """Snapshot every partition's end offset with ListOffsets, then
    ``drain`` up to it; returns the records and the end offsets. Rows
    produced after the snapshot belong to the next read."""
    end = {
        p: list_offset(bootstrap, topic, p, LATEST)
        for p in partition_ids(bootstrap, topic)
    }
    return drain(bootstrap, topic, start, end), end


def read_topic_incremental(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    start_offsets: dict[int, int] | None = None,
) -> tuple[DataFrame, dict[int, int]]:
    """Offset-bounded incremental read: rows in
    [start_offsets[p], high_watermark_p) per partition, plus the end
    offsets to persist for the next call.

    This is the consumer-group replacement the engine standardizes on
    (SURVEY.md §1.2): the CALLER owns the offsets — persist them with
    the output in one atomic commit (a checkpoint file, a table
    column) and a replayed micro-batch reproduces exactly the same
    rows, which is how Spark's Kafka source achieves exactly-once
    where the reference's group coordination gives at-least-once. The
    end offsets are snapshotted via ListOffsets BEFORE the fetch, so
    rows produced mid-read land in the next increment, never split
    across two. The records are fetched here, once: a short read
    raises before the caller can commit, and the returned frame never
    goes back to the broker.
    """
    records, end = snapshot_and_drain(bootstrap, topic, start_offsets or {})
    table = pa.table(
        {
            "key": [r.key for _, r in records],
            "value": [r.value for _, r in records],
            "topic": [topic] * len(records),
            "partition": [p for p, _ in records],
            "offset": [r.offset for _, r in records],
            "timestamp_ms": [r.timestamp_ms for _, r in records],
        },
        schema=READ_SCHEMA,
    )
    return spark.createDataFrame(table), end


def write_topic(
    df: DataFrame,
    bootstrap: str,
    topic: str,
    value_col: str = "value",
    key_col: str | None = None,
) -> int:
    """Produce every row of ``df``; returns the number of records written.

    The rows are collected once, as one Arrow table. A record with a key
    goes to partition ``(murmur2(key) & 0x7fffffff) % n``, as Kafka's
    default partitioner sends it; record *i* without one goes to
    partition *i mod n*. Each partition's records go in
    ``_PRODUCE_CHUNK``-record batches (bounded RPC frames however many
    rows ``df`` holds).
    """
    n_kafka = len(partition_ids(bootstrap, topic))
    cols = [F.col(value_col).cast("binary").alias("value")]
    if key_col is not None:
        cols.append(F.col(key_col).cast("binary").alias("key"))
    table = df.select(*cols).toArrow()
    values = table.column("value").to_pylist()
    keys = (
        table.column("key").to_pylist()
        if key_col is not None
        else [None] * len(values)
    )
    by_partition = [[] for _ in range(n_kafka)]
    for i, (k, v) in enumerate(zip(keys, values)):
        p = i % n_kafka if k is None else (murmur2(k) & 0x7FFFFFFF) % n_kafka
        by_partition[p].append((k, v))
    for p, records in enumerate(by_partition):
        for i in range(0, len(records), _PRODUCE_CHUNK):
            produce(bootstrap, topic, records[i : i + _PRODUCE_CHUNK], partition=p)
    return len(values)


def foreach_batch_sink(bootstrap: str, topic: str):
    """``writeStream.foreachBatch`` adapter producing each micro-batch,
    with its ``key`` column as the record key when it has one."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        key_col = "key" if "key" in batch_df.columns else None
        write_topic(batch_df, bootstrap, topic, key_col=key_col)

    return sink
