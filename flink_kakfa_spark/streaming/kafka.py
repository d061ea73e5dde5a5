"""Kafka source/sink (SURVEY.md §2.1 S2/S3, Tier A), config-gated.

Mirrors the reference's connectivity contract without requiring a
broker in tests — exactly the reference's own gating idiom
(``testing.Short()`` skips, env ``KAFKA_BROKER`` configures;
``go/producer/config.go:104``, ``go/producer/producer_test.go:21-23``).

Semantics deltas vs the reference, by design:
- Offsets/consumer-groups: Spark tracks offsets in the checkpoint
  (``checkpointLocation``), not Kafka group coordination — recovery is
  exactly-once, strictly stronger than the reference's at-least-once
  (its tests assert ``received >= sent``,
  ``go/producer/producer_test.go:187-194``).
- Partition balancing: the sink's default sticky/round-robin
  partitioner stands in for the reference writer's ``LeastBytes``
  balancer (``go/producer/producer.go:74``).
- Fetch batching (MinBytes/MaxBytes, ``go/consumer/consumer.go:103-104``)
  maps to ``maxOffsetsPerTrigger``/``minPartitions`` rate control.

Jar-free alternative: when the connector jar is unobtainable
(``connector_available`` is the one probe for it), the stdlib data
plane (``wire.py`` + ``dataplane.py``) provides executable
produce/consume — a driver-side per-partition fetch into a frame,
Produce v3 RecordBatch writes, and a ``foreachBatch`` streaming
sink — verified against the wire-protocol broker stand-in in
``tests/conftest.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flink_kakfa_spark.config import ConsumerConfig, ProducerConfig


def kafka_available() -> bool:
    """True when a broker is configured (same env var the reference honors)."""
    return bool(os.environ.get("KAFKA_BROKER"))


def connector_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector jar is on the classpath.

    Gates the choice between the connector path (continuous streaming
    reads) and the stdlib data plane (``dataplane.py``) the CLI falls
    back to when the jar is absent.
    """
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def _require_kafka_connector(spark: SparkSession) -> None:
    """Fail with an actionable message when the Kafka connector jar is
    absent (it is not bundled with a plain Spark install — submit with
    --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>).
    """
    if not connector_available(spark):
        raise RuntimeError(
            "Kafka source/sink requires the spark-sql-kafka connector on the "
            "classpath; launch with --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
            "(not bundled in this environment)"
        )


def read_kafka_stream(
    spark: SparkSession,
    cfg: ConsumerConfig | None = None,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S3: subscribe to the configured topic → (key, value, ts) stream.

    Decodes the reference's byte payloads to strings — the engine twin
    of ``string(message.Value)`` (``go/consumer/consumer.go:80``).
    """
    cfg = cfg or ConsumerConfig()
    _require_kafka_connector(spark)
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.broker)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", "earliest")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load()
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.col("timestamp").alias("ts"),
    )


def write_kafka_stream(
    df: DataFrame,
    cfg: ProducerConfig | None = None,
    checkpoint_dir: str = "/tmp/flink_kakfa_spark/kafka_sink_ckpt",
) -> StreamingQuery:
    """S2: write (key, value) rows to the configured topic.

    Per-message failures are retried by task retry + checkpoint replay
    (the engine's version of the producer's log-and-continue loop,
    ``go/producer/producer.go:91-94``).
    """
    cfg = cfg or ProducerConfig()
    _require_kafka_connector(df.sparkSession)
    out = df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.broker)
        .option("topic", cfg.topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
