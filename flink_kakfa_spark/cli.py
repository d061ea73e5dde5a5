"""Runnable program surface — drop-in parity with the reference's
binaries plus the job it never shipped.

The reference's user runs ``producer -config cfg.json`` and
``consumer -config cfg.json`` (``go/producer/main.go:12-42``,
``go/consumer/main.go:12-40``). This module provides:

  python -m flink_kakfa_spark producer  --config cfg.json
  python -m flink_kakfa_spark consumer  --config cfg.json
  python -m flink_kakfa_spark wordcount --config cfg.json

with the same JSON config schema, the same env overrides
(KAFKA_BROKER/KAFKA_TOPIC, env wins last; the reference's consumer
``group_id`` is accepted in the file and ignored, since Spark's
checkpoint owns the offsets), the same
graceful SIGINT/SIGTERM shutdown (``go/producer/main.go:28-35``) — and
``wordcount`` is the missing Flink job: input topic → windowed counts →
output topic (the topic the reference's consumer already reads,
``go/consumer/consumer.go:13``), with key = word and value = count.

Kafka is read by the stream source in ``streaming/kafka.py`` (Spark's
checkpoint owns the offsets, so a restart on the same ``--checkpoint``
resumes where the last run stopped) and written by
``dataplane.foreach_batch_sink``, both over the stdlib wire client.
``consumer`` prints ``Received: <value>`` per record
(``go/consumer/consumer.go:80``), whatever its source.

Broker-less operation (for tests and local runs): ``--source dir:PATH``
reads message parquet from a directory instead of Kafka, ``--sink
console|parquet:PATH`` replaces the Kafka sink. ``--duration N`` bounds
the run (otherwise runs until signaled, like the reference);
``--available-now`` processes what is there and exits.
"""

from __future__ import annotations

import argparse
import signal
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.config import (
    ConsumerConfig,
    ProducerConfig,
    load_consumer_config,
    load_producer_config,
)
from flink_kakfa_spark.session import get_spark
from flink_kakfa_spark.streaming.dataplane import foreach_batch_sink
from flink_kakfa_spark.streaming.kafka import MSG_SCHEMA, read_kafka_stream


def _source_stream(
    spark: SparkSession, source: str | None, cfg: ConsumerConfig
) -> DataFrame:
    if source and source.startswith("dir:"):
        return spark.readStream.schema(MSG_SCHEMA).parquet(source[4:] + "/*")
    return read_kafka_stream(spark, cfg)


def _start_sink(df: DataFrame, sink: str | None, cfg: ProducerConfig,
                checkpoint: str, available_now: bool = False):
    """Start ``df`` in append mode (the writer default) on the chosen sink."""
    if sink == "console" or (sink is None and not cfg.broker):
        w = df.writeStream.format("console").option("truncate", "false")
    elif sink and sink.startswith("parquet:"):
        w = (
            df.writeStream.format("parquet")
            .option("path", sink[8:])
            .option("checkpointLocation", checkpoint)
        )
    else:
        w = (
            df.writeStream.foreachBatch(foreach_batch_sink(cfg.broker, cfg.topic))
            .option("checkpointLocation", checkpoint)
        )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _await(query, duration: float | None, available_now: bool = False) -> None:
    """Run until done / duration elapses / SIGINT-SIGTERM — the engine
    twin of the reference's cancel-context signal handler.

    With ``available_now`` the query self-terminates once every pending
    input batch is processed — completion-bounded like the reference's
    deadline poll loop (go/integration/integration_test.go:122-140),
    not wall-clock-bounded, so it is immune to load-induced flake.
    """

    def stop(_sig, _frm):
        query.stop()

    signal.signal(signal.SIGINT, stop)
    signal.signal(signal.SIGTERM, stop)
    if available_now:
        query.awaitTermination()
        return
    if duration:
        query.awaitTermination(duration)
        query.stop()
    query.awaitTermination()


def cmd_producer(args) -> int:
    cfg = load_producer_config(args.config)
    spark = get_spark("producer")
    from flink_kakfa_spark.streaming.generator import sentence_stream

    msgs = sentence_stream(spark, cfg)
    q = _start_sink(
        msgs.select("key", "value"), args.sink, cfg,
        checkpoint=args.checkpoint or "/tmp/flink_kakfa_spark/producer_ckpt",
    )
    _await(q, args.duration)
    return 0


def cmd_consumer(args) -> int:
    cfg = load_consumer_config(args.config)
    spark = get_spark("consumer")
    msgs = _source_stream(spark, args.source, cfg)

    def log(batch_df: DataFrame, _batch_id: int) -> None:
        # processMessage-as-log (go/consumer/consumer.go:79-81)
        for r in batch_df.select("value").collect():
            print(f"Received: {r['value']}")

    w = msgs.writeStream.foreachBatch(log)
    if args.available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    _await(q, args.duration, args.available_now)
    return 0


def cmd_wordcount(args) -> int:
    """The missing job: input-words → windowed counts → word-count-output."""
    in_cfg = load_consumer_config(args.config)
    in_cfg.topic = args.input_topic or "input-words"  # producer default topic
    out_cfg = ProducerConfig(broker=in_cfg.broker, topic=args.output_topic or "word-count-output")
    spark = get_spark("wordcount")
    from flink_kakfa_spark.streaming.wordcount import windowed_word_counts

    msgs = _source_stream(spark, args.source, in_cfg)
    counts = windowed_word_counts(msgs, args.window, args.watermark)
    # Kafka message shape: key=word, value=count (FIXTURES.md §1.4)
    out = counts.select(
        F.col("word").alias("key"),
        F.col("cnt").cast("string").alias("value"),
        "win_start",
        "win_end",
        "word",
        "cnt",
    )
    q = _start_sink(
        out, args.sink, out_cfg,
        checkpoint=args.checkpoint or "/tmp/flink_kakfa_spark/wordcount_ckpt",
        available_now=args.available_now,
    )
    _await(q, args.duration, args.available_now)
    return 0


def cmd_topics(args) -> int:
    """S7 topic admin: the reference's test-setup flow as a command
    (controller discovery + CreateTopics, go/integration/
    integration_test.go:66-91). Pure control-plane RPC — no Spark."""
    from flink_kakfa_spark.streaming import topics as t

    broker = args.broker or load_producer_config(args.config).broker
    if not broker or ":" not in broker or not broker.rsplit(":", 1)[1].isdigit():
        print(
            f"error: no valid broker (need host:port, got {broker!r}); "
            "pass --broker or set one in the config file",
            file=sys.stderr,
        )
        return 2
    if args.action == "ensure":
        print(t.ensure_topic(broker, args.topic, args.partitions, args.replication_factor))
    elif args.action == "delete":
        print(t.delete_topic(broker, args.topic))
    else:  # exists
        print("true" if t.topic_exists(broker, args.topic) else "false")
    return 0


def cmd_query(args) -> int:
    """Run (or explain) any registered query by name — the batch half of
    the engine's user surface, one command per SURVEY.md §2 operator."""
    from flink_kakfa_spark.registry import all_queries

    qs = all_queries()
    if args.list or not args.name:
        for name in qs:
            print(name)
        if not args.list:
            # listing was implicit — hint the run surface so a
            # forgotten NAME argument isn't silently misread
            print("usage: query NAME [--explain] (or --list)", file=sys.stderr)
        return 0
    if args.name not in qs:
        print(f"error: unknown query {args.name!r} (see --list)", file=sys.stderr)
        return 2
    spark = get_spark(f"query-{args.name}")
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="flink_kakfa_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--config", default=None, help="JSON config file (reference schema)")
        sp.add_argument("--duration", type=float, default=None, help="seconds to run (default: until signal)")
        sp.add_argument("--source", default=None, help="dir:PATH to read message parquet instead of Kafka")
        sp.add_argument("--sink", default=None, help="console | parquet:PATH | kafka (default)")
        sp.add_argument("--checkpoint", default=None)
        sp.add_argument(
            "--available-now", action="store_true",
            help="process all currently-available input then exit "
                 "(completion-bounded; for finite sources)",
        )

    sp = sub.add_parser("producer", help="synthetic sentence generator → topic")
    common(sp)
    sp.set_defaults(fn=cmd_producer)

    sp = sub.add_parser("consumer", help="topic → log")
    common(sp)
    sp.set_defaults(fn=cmd_consumer)

    sp = sub.add_parser("wordcount", help="the word-count job (input-words → word-count-output)")
    common(sp)
    sp.add_argument("--input-topic", default=None)
    sp.add_argument("--output-topic", default=None)
    sp.add_argument("--window", default="10 seconds")
    sp.add_argument("--watermark", default="10 seconds")
    sp.set_defaults(fn=cmd_wordcount)

    sp = sub.add_parser("topics", help="topic admin: ensure/delete/exists (S7)")
    sp.add_argument("action", choices=["ensure", "delete", "exists"])
    sp.add_argument("topic")
    sp.add_argument("--broker", default=None, help="host:port (default: config/env)")
    sp.add_argument("--config", default=None, help="JSON config file (reference schema)")
    sp.add_argument("--partitions", type=int, default=1)
    sp.add_argument("--replication-factor", type=int, default=1)
    sp.set_defaults(fn=cmd_topics)

    sp = sub.add_parser("query", help="run/explain any registered batch query")
    sp.add_argument("name", nargs="?", default=None, help="query name (see --list)")
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sp.add_argument("--limit", type=int, default=20)
    sp.add_argument("--explain", action="store_true", help="print the formatted physical plan instead of rows")
    sp.add_argument("--list", action="store_true", help="list registered query names")
    sp.set_defaults(fn=cmd_query)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
