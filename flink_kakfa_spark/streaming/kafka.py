"""Kafka stream source (SURVEY.md §2.1 S3) over the stdlib wire client.

A PySpark Python data source (``DataSource`` +
``SimpleDataSourceStreamReader``): each micro-batch snapshots every
partition's end offset with ListOffsets and drains ``[start, end)``
once (``dataplane.snapshot_and_drain``), as ``(key, value, ts)`` rows — the
engine twin of ``string(message.Value)`` (``go/consumer/consumer.go:80``).
The sink side is ``dataplane.foreach_batch_sink``.

Semantics deltas vs the reference, by design:
- Offsets/consumer-groups: the reader returns each batch's end offsets
  (``{partition: offset}``), so Spark's offset log in the checkpoint
  owns them, not Kafka group coordination. A replayed batch re-reads
  exactly its logged range (``readBetweenOffsets``), so recovery is
  exactly-once, strictly stronger than the reference's at-least-once
  (its tests assert ``received >= sent``,
  ``go/producer/producer_test.go:187-194``).
- Fetch batching (MinBytes/MaxBytes, ``go/consumer/consumer.go:103-104``):
  a micro-batch takes everything up to the end-offset snapshot.
- A short fetch raises inside ``read``, so the batch fails before Spark
  commits its offsets.

Spark runs the reader in a Python process of its own, started by the
JVM: ``flink_kakfa_spark`` must be importable there. Local mode needs
the repo on ``PYTHONPATH`` when the driver runs from another directory;
a cluster needs the ``tools/package_pyfiles.py`` zip on ``--py-files``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from flink_kakfa_spark.config import ConsumerConfig
from flink_kakfa_spark.streaming.dataplane import (
    drain,
    partition_ids,
    snapshot_and_drain,
)

MSG_SCHEMA = "key string, value string, ts timestamp"


def _text(b: bytes | None) -> str | None:
    return None if b is None else b.decode("utf-8", "replace")


def _ints(offsets: dict) -> dict[int, int]:
    return {int(p): o for p, o in offsets.items()}


def _rows(records):
    return iter([
        (
            _text(r.key),
            _text(r.value),
            dt.datetime.fromtimestamp(r.timestamp_ms / 1000, dt.timezone.utc),
        )
        for _, r in records
    ])


class KafkaStreamReader(SimpleDataSourceStreamReader):
    """Offsets are ``{str(partition): next offset}`` (JSON object keys)."""

    def __init__(self, broker: str, topic: str) -> None:
        self.broker, self.topic = broker, topic

    def initialOffset(self) -> dict:
        return {str(p): 0 for p in partition_ids(self.broker, self.topic)}

    def read(self, start: dict):
        # Fetched now, not lazily: a short read raises here, before Spark
        # logs ``end``. A partition missing from ``start`` is new.
        records, end = snapshot_and_drain(self.broker, self.topic, _ints(start))
        return _rows(records), {str(p): o for p, o in end.items()}

    def readBetweenOffsets(self, start: dict, end: dict):
        return _rows(drain(self.broker, self.topic, _ints(start), _ints(end)))


class KafkaSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "flink_kakfa_spark_kafka"

    def schema(self) -> str:
        return MSG_SCHEMA

    def simpleStreamReader(self, schema) -> KafkaStreamReader:
        return KafkaStreamReader(self.options["broker"], self.options["topic"])


def read_kafka_stream(spark: SparkSession, cfg: ConsumerConfig | None = None) -> DataFrame:
    """S3: the configured topic as a (key, value, ts) stream, from offset 0."""
    cfg = cfg or ConsumerConfig()
    spark.dataSource.register(KafkaSource)
    return (
        spark.readStream.format(KafkaSource.name())
        .option("broker", cfg.broker)
        .option("topic", cfg.topic)
        .load()
    )
