"""Spark ↔ Kafka data plane over the stdlib wire client (``wire.py``).

Completes the reference's produce/consume surface (S2/S3) without the
``spark-sql-kafka-0-10`` connector jar this container cannot obtain:

- ``read_topic_incremental`` — distributed batch read of offsets
  [start, end) per partition, end offsets snapshotted by ListOffsets:
  one Spark task fetches one Kafka partition (the same task↔partition
  mapping the real connector uses), emitting the connector-compatible
  schema (key, value, topic, partition, offset, timestamp).
- ``read_topic``   — its snapshot read from offset 0: the whole topic
  as of the call.
- ``write_topic``  — distributed produce: each input partition's rows
  are appended via Produce RPCs in bounded record batches.
- ``foreach_batch_sink`` — adapter so a streaming query can sink to
  Kafka through ``writeStream.foreachBatch`` (exactly-once per batch
  id is the caller's dedup contract, as with any foreachBatch sink).

Worker-side imports: the fetch/produce closures capture the repo root
and lazily ``sys.path``-insert it before importing ``wire`` — workers
spawned by a driver that imported ``__spark_entry__.py`` by path from
a foreign cwd cannot import the package otherwise (cloudpickle ships
the closure by value but module references by name). On a real
multi-host cluster, ship the package with ``--py-files`` instead; the
capture is then a no-op.

Partitioning parity note: the reference producer uses kafka-go's
``LeastBytes`` balancer (``go/producer/producer.go:74``). With the
generator's near-equal message sizes LeastBytes degenerates to
round-robin, which is what ``write_topic`` implements (input partition
index mod Kafka partition count); byte-weighted balancing needs global
feedback a distributed one-pass sink deliberately avoids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.streaming.topics import (
    ERR_NONE,
    ERR_UNKNOWN_TOPIC,
    TopicAdminError,
    cluster_metadata,
)

_PKG_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

READ_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp_ms long"
)

_PRODUCE_CHUNK = 500  # records per Produce RPC


def partition_ids(bootstrap: str, topic: str) -> list[int]:
    """Sorted partition ids for a topic (Metadata v1)."""
    _, _, meta = cluster_metadata(bootstrap, [topic])
    err, pids = meta.get(topic, (ERR_UNKNOWN_TOPIC, []))
    if err != ERR_NONE:
        raise TopicAdminError(f"Metadata({topic}) error {err}")
    return pids


def read_topic(spark: SparkSession, bootstrap: str, topic: str) -> DataFrame:
    """The whole topic as of this call: ``read_topic_incremental`` from
    offset 0. End offsets are fixed here, so the frame yields the same
    rows however many records land after it."""
    return read_topic_incremental(spark, bootstrap, topic)[0]


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
    across two.
    """
    pids = partition_ids(bootstrap, topic)
    start = {p: 0 for p in pids}
    if start_offsets:
        start.update(start_offsets)
    pkg_root = _PKG_ROOT
    from flink_kakfa_spark.streaming.wire import LATEST, list_offset

    end = {p: list_offset(bootstrap, topic, p, LATEST) for p in pids}

    def gen(batches):
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        import pandas as pd

        from flink_kakfa_spark.streaming.wire import fetch_range

        for pdf in batches:
            for p, lo, hi in zip(pdf["partition"], pdf["lo"], pdf["hi"]):
                p = int(p)
                rows = fetch_range(bootstrap, topic, p, int(lo), int(hi))
                yield pd.DataFrame(
                    {
                        "key": [r.key for r in rows],
                        "value": [r.value for r in rows],
                        "topic": [topic] * len(rows),
                        "partition": [p] * len(rows),
                        "offset": [r.offset for r in rows],
                        "timestamp_ms": [r.timestamp_ms for r in rows],
                    }
                )

    seed = spark.createDataFrame(
        [(p, start[p], end[p]) for p in pids], "partition int, lo long, hi long"
    )
    df = seed.repartition(len(pids), "partition").mapInPandas(
        gen, schema=READ_SCHEMA
    )
    return df, end


def write_topic(
    df: DataFrame,
    bootstrap: str,
    topic: str,
    value_col: str = "value",
    key_col: str | None = None,
) -> int:
    """Distributed produce; returns the number of records written.

    Each Spark partition appends its rows round-robin-by-partition-
    index to the topic's Kafka partitions in ``_PRODUCE_CHUNK``-record
    batches (bounded RPC frames regardless of partition size).
    """
    n_kafka = len(partition_ids(bootstrap, topic))
    pkg_root = _PKG_ROOT
    cols = [F.col(value_col).cast("binary").alias("value")]
    if key_col is not None:
        cols.append(F.col(key_col).cast("binary").alias("key"))
    payload = df.select(*cols).withColumn(
        "_pid", F.spark_partition_id() % F.lit(n_kafka)
    )

    def prod(batches):
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        import pandas as pd

        from flink_kakfa_spark.streaming.wire import produce

        for pdf in batches:
            n = 0
            for pid, group in pdf.groupby("_pid"):
                rows = [
                    (
                        None
                        if "key" not in group or row.get("key") is None
                        else bytes(row["key"]),
                        None if row["value"] is None else bytes(row["value"]),
                    )
                    for _, row in group.iterrows()
                ]
                for i in range(0, len(rows), _PRODUCE_CHUNK):
                    chunk = rows[i : i + _PRODUCE_CHUNK]
                    produce(bootstrap, topic, chunk, partition=int(pid))
                    n += len(chunk)
            yield pd.DataFrame({"n": [n]})

    out = payload.mapInPandas(prod, schema="n long")
    total = out.agg(F.sum("n").alias("t")).collect()[0]["t"]
    return int(total or 0)


def foreach_batch_sink(bootstrap: str, topic: str, value_col: str = "value"):
    """``writeStream.foreachBatch`` adapter producing each micro-batch."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_topic(batch_df, bootstrap, topic, value_col=value_col)

    return sink
