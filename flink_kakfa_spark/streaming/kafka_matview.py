"""Exactly-once Kafka → materialized word-count view, jar-free.

The reference's whole pipeline (produce sentences → count words →
publish counts) as an incremental, restart-safe job over the stdlib
data plane: each run drains new topic records via
``dataplane.read_topic_incremental``, folds them into a cumulative
word-count Parquet table, and commits {table version, end offsets}
ATOMICALLY via a write-then-rename commit file — the minimal
transaction log that makes consume-and-aggregate exactly-once:

- crash BEFORE the commit rename → the old commit still points at the
  old version + old offsets; the next run re-reads the same offset
  range and overwrites the orphaned version directory — same bytes,
  nothing double-counted;
- crash AFTER the rename → offsets and table advanced together.

This is the at-least-once consumer loop of the reference
(``go/consumer/consumer.go:41-76``) upgraded to the delivery contract
Spark's checkpointed sinks give (SURVEY.md §1.2), expressed with the
same caller-owned-offset primitive a real lakehouse commit protocol
(Delta/Iceberg) uses. State layout::

    state_dir/commit.json     {"version": N, "offsets": {"0": 17, ...}}
    state_dir/v{N}/           word-count parquet for that version

Scale: the increment shuffles once (word counts of NEW records only);
the merge unions the vocabulary-sized snapshot — bounded regardless of
topic volume. A fact-sized view would partition versions and rewrite
only touched partitions (see ``matview.py``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.streaming.dataplane import read_topic_incremental
from flink_kakfa_spark.streaming.wordcount import word_counts

_COMMIT = "commit.json"


def _read_commit(state_dir: str) -> dict:
    path = os.path.join(state_dir, _COMMIT)
    if not os.path.exists(path):
        return {"version": 0, "offsets": {}}
    with open(path) as f:
        return json.load(f)


def _write_commit_atomic(state_dir: str, commit: dict) -> None:
    path = os.path.join(state_dir, _COMMIT)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(commit, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)  # atomic on POSIX: the commit point
    fd = os.open(state_dir, os.O_RDONLY)
    try:
        os.fsync(fd)  # the rename is durable only once its directory is
    finally:
        os.close(fd)


def current_counts(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The committed snapshot (None before the first commit)."""
    commit = _read_commit(state_dir)
    if commit["version"] == 0:
        return None
    # the fixed schema saves a schema-inference job per increment
    return spark.read.schema("word string, cnt bigint").parquet(
        os.path.join(state_dir, f"v{commit['version']}")
    )


def consume_wordcount_increment(
    spark: SparkSession, bootstrap: str, topic: str, state_dir: str
) -> dict:
    """One exactly-once increment; returns the resulting commit record
    (plus ``"new_rows"``: how many topic records this run consumed).
    """
    os.makedirs(state_dir, exist_ok=True)
    commit = _read_commit(state_dir)
    start = {int(p): o for p, o in commit["offsets"].items()}
    df, end = read_topic_incremental(spark, bootstrap, topic, start)
    new_rows = df.count()
    if new_rows == 0:
        return {**commit, "new_rows": 0}

    inc = word_counts(df, F.col("value").cast("string"))
    prev = current_counts(spark, state_dir)
    merged = (
        inc
        if prev is None
        else prev.unionByName(inc).groupBy("word").agg(F.sum("cnt").alias("cnt"))
    )
    version = commit["version"] + 1
    # write the new version FIRST, commit the pointer+offsets LAST —
    # any failure in between leaves the previous commit authoritative
    merged.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"v{version}")
    )
    new_commit = {
        "version": version,
        "offsets": {str(p): o for p, o in end.items()},
    }
    _write_commit_atomic(state_dir, new_commit)
    return {**new_commit, "new_rows": new_rows}
