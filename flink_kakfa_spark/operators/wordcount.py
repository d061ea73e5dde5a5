"""The flagship query: word count (SURVEY.md §2 P4 + A1 + O1, Tier B).

This is the stream-processing job the reference was visibly built
around but never implemented — its consumer reads topic
``word-count-output`` (``go/consumer/consumer.go:13``) and its producer
emits space-joined sentences (``go/producer/producer.go:127-138``).
Batch form here; ``word_counts`` itself lives in
``flink_kakfa_spark.streaming.wordcount``, shared with the streaming
job and the Kafka materialized view.

Tokenizer contract: split on a single space — the exact inverse of the
reference's ``strings.Join(words, " ")`` (``go/producer/producer.go:137``).

Scale notes (100 TB): split+explode is a narrow map — no shuffle until
the groupBy, which hash-partitions on ``word`` with map-side partial
aggregation (Catalyst plans partial_count + final count automatically).
Word cardinality is tiny relative to input, so the shuffle carries only
the partial aggregates, not the exploded rows. Whole-stage codegen
covers the full pipeline; zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table
from flink_kakfa_spark.streaming.wordcount import word_counts


@query(
    "wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: word frequency over documents.text, highest first."""
    docs = load_table(spark, "documents", sf_dir)
    return word_counts(docs).orderBy(F.col("cnt").desc(), F.col("word").asc())


@query(
    "wordcount_topk",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT 10
    """,
)
def q_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 words — exercises TakeOrderedAndProject (O2) after the agg."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        word_counts(docs)
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(10)
    )
