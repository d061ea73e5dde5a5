"""Scale-posture tests: skew salting, stream-static joins, AQE behavior."""

from __future__ import annotations

import uuid

from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.skew import salted_agg, salted_count
from flink_kakfa_spark.sources.tables import load_table


def test_salted_count_equals_plain_count(spark, sf_dir):
    """Salting must change the plan, never the answer."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    plain = {r["word"]: r["cnt"] for r in words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    salted = {r["word"]: r["cnt"] for r in salted_count(words, "word").collect()}
    assert salted == plain


def test_salted_sum_exact_on_skewed_key(spark):
    """90%-hot key: salted decimal sum still bit-exact."""
    rows = [Row(k="hot", v=1.11)] * 9000 + [Row(k="cold", v=2.22)] * 1000
    df = spark.createDataFrame(rows).repartition(16)
    got = {r["k"]: r["total"] for r in salted_agg(df, "k", F.col("v")).collect()}
    assert got == {"hot": round(1.11 * 9000, 4), "cold": round(2.22 * 1000, 4)}


def test_stream_static_join_enriches(spark, tmp_path):
    """J9: streaming word stream joined with a static dimension table."""
    from flink_kakfa_spark.streaming.wordcount import split_words

    msgs = spark.createDataFrame(
        [Row(key="k1", value="hello world", ts="2024-01-01 00:00:01")],
        "key string, value string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    msgs.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/b0")
    stream = spark.readStream.schema("key string, value string, ts timestamp").parquet(
        f"{tmp_path}/*"
    )
    dim = spark.createDataFrame(
        [Row(word="hello", category="greeting"), Row(word="world", category="noun")]
    )
    enriched = split_words(stream).join(F.broadcast(dim), "word", "left")
    name = f"ss_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {(r["word"], r["category"]) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {("hello", "greeting"), ("world", "noun")}


def test_aqe_coalesces_small_shuffle(spark, sf_dir):
    """AQE must shrink the 4-configured shuffle partitions for tiny data."""
    df = (
        load_table(spark, "nation", sf_dir)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan
