"""The missing Flink job (SURVEY.md Tier B, §2.8 T1–T5): streaming word
count with tumbling / sliding / session windows and watermark handling.

The reference's repo is named after this job and its consumer reads its
output topic (``word-count-output``, ``go/consumer/consumer.go:13``),
but the job itself was never written. This module is that job, on
Structured Streaming.

All transformations here accept either a batch or a streaming
DataFrame with columns (value: string, ts: timestamp) — the batch
engine is the oracle for the streaming engine (SURVEY.md §5.2 item 3).
``word_counts`` is the one word-count definition: the batch
``wordcount`` query runs it over ``documents.text`` and the Kafka
materialized view over each increment's record values.

Scale notes: windowed streaming aggs keep state per (window, word);
watermarks bound that state (T4) — without them, 100 TB/day of stream
would grow state forever. Output goes through the same partial/final
hash agg as the batch path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split_words(
    frame: DataFrame, text_col: Column | str = "value", keep: tuple[str, ...] = ("ts",)
) -> DataFrame:
    """Sentences → one row per non-empty word (split on a single space),
    carrying the ``keep`` columns (by default the message's event time)."""
    return frame.select(
        F.explode(F.split(text_col, " ")).alias("word"), *keep
    ).filter(F.col("word") != "")


def word_counts(frame: DataFrame, text_col: Column | str = "text") -> DataFrame:
    """split → explode → drop empties → groupBy(word).count()."""
    words = split_words(frame, text_col, keep=())
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def streaming_word_counts(messages: DataFrame) -> DataFrame:
    """T0/A1: global word count (complete-mode output for streams)."""
    return word_counts(messages, "value")


def _window_counts(messages: DataFrame, win: Column, watermark: str | None) -> DataFrame:
    """Per-(window, word) counts; the watermark applies to streams only."""
    if watermark is not None and messages.isStreaming:
        messages = messages.withWatermark("ts", watermark)
    return (
        split_words(messages)
        .groupBy(win.alias("win"), F.col("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "word",
            "cnt",
        )
    )


def windowed_word_counts(
    messages: DataFrame,
    window: str = "10 seconds",
    watermark: str | None = "10 seconds",
) -> DataFrame:
    """T1+T4: tumbling-window word count with optional watermark."""
    return _window_counts(messages, F.window(F.col("ts"), window), watermark)


def sliding_word_counts(
    messages: DataFrame,
    window: str = "30 seconds",
    slide: str = "10 seconds",
    watermark: str | None = "10 seconds",
) -> DataFrame:
    """T2: sliding-window word count (each row lands in window/slide panes)."""
    return _window_counts(messages, F.window(F.col("ts"), window, slide), watermark)


def session_word_counts(
    messages: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 seconds",
) -> DataFrame:
    """T3: session windows — a session closes after ``gap`` of silence."""
    return _window_counts(messages, F.session_window(F.col("ts"), gap), watermark)


def dedup_messages(
    messages: DataFrame,
    keys: list[str] | None = None,
    watermark: str | None = "10 seconds",
) -> DataFrame:
    """T5: streaming dedup; watermark-bounded state when streaming."""
    keys = keys or ["key"]
    if messages.isStreaming and watermark is not None:
        return messages.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return messages.dropDuplicates(keys)


def trending_topk(counts: DataFrame, k: int = 3) -> DataFrame:
    """Top-k words per tumbling window (deterministic tie-break).

    Rank-over-window isn't allowed directly on a streaming aggregate,
    so this runs as batch post-processing on each micro-batch's
    windowed counts (see :func:`materialize_trending`) — the standard
    "streaming topN" recipe: aggregate in the engine, rank in
    ``foreachBatch``.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("win_start").orderBy(
        F.col("cnt").desc(), F.col("word").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def materialize_trending(
    messages: DataFrame,
    path: str,
    checkpoint: str,
    window: str = "10 seconds",
    k: int = 3,
):
    """T-row composition: continuously-maintained "trending words"
    table — tumbling-window counts (streaming agg, complete mode),
    ranked per window in ``foreachBatch``, idempotently overwritten
    per window partition. Crash replay rewrites identical partitions,
    so the table is exactly-once like ``materialize_word_counts``.
    """
    counts = windowed_word_counts(messages, window, watermark=None)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            trending_topk(batch_df, k)
            .repartition("win_start")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("win_start")
            .parquet(path)
        )

    return (
        counts.writeStream.outputMode("complete")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
