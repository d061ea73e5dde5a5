"""Word n-grams, the portable MinHash and the rolling 3-gram hash: the
Spark forms and the DuckDB forms agree value for value."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix
from flink_kakfa_spark.functions.shingles import (
    MH_BANDS,
    MH_SIG_SQL,
    band_key_eq,
    minhash_bands,
    minhash_signature,
    roll3,
    shingle_rows,
    sql_band_match,
    sql_minhash_bands,
    sql_ngram_rows,
    sql_word_ngrams,
    word_ngrams,
)

TEXTS = [
    "",
    "one",
    "one two",
    "one two three",
    "a b a b a b",
    "hello world flink kafka streaming hello world",
    "hello world flink kafka streaming hello world",
    "héllo 世界 data pipeline state",
    None,
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "doc_id int, text string")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(TEXTS)))
    con.execute(
        "CREATE VIEW tok AS SELECT doc_id, string_split(text, ' ') AS ts FROM docs"
    )
    yield con
    con.close()


@pytest.mark.parametrize("k", [2, 3, 4])
def test_word_ngrams_match_duckdb_and_are_total(docs, duck, k):
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    spark = {
        r["doc_id"]: r["g"]
        for r in toks.select("doc_id", word_ngrams("t", k).alias("g")).collect()
    }
    long_enough = dict(
        duck.execute(
            f"SELECT doc_id, {sql_word_ngrams('ts', k)} FROM tok WHERE len(ts) >= {k}"
        ).fetchall()
    )
    assert {i: g for i, g in spark.items() if g} == long_enough
    assert all(g == [] for i, g in spark.items() if i not in long_enough)
    ab = "a b a b a b".split()
    assert spark[TEXTS.index("a b a b a b")] == [
        " ".join(ab[j : j + k]) for j in range(len(ab) - k + 1)
    ]


@pytest.mark.parametrize("k", [2, 3, 4])
def test_shingle_rows_match_duckdb(docs, duck, k):
    spark = sorted(tuple(r) for r in shingle_rows(docs, k).collect())
    ddb = sorted(duck.execute(sql_ngram_rows(k)).fetchall())
    assert spark == ddb and spark


def test_minhash_signature_and_bands_match_duckdb(docs, duck):
    sh = docs.select(
        "doc_id", F.array_distinct(word_ngrams(F.split("text", " "), 3)).alias("sharr")
    ).filter(F.size("sharr") > 0)
    sigs = sh.withColumn("hl", F.transform("sharr", lambda s: md5_prefix(s))).select(
        "doc_id", *minhash_signature("hl")
    )
    bands = sigs.select("doc_id", F.explode(minhash_bands()).alias("bk")).select(
        "doc_id", "bk.*"
    )
    spark_bands = sorted(tuple(r) for r in bands.collect())
    duck.execute(
        "CREATE TEMP VIEW sh AS SELECT doc_id, list_distinct("
        f"{sql_word_ngrams('ts', 3)}) AS sharr FROM tok WHERE len(ts) >= 3"
    )
    duck.execute(
        "CREATE TEMP VIEW hashed AS SELECT doc_id, list_transform(sharr, s -> CAST(("
        f"{sql_md5_prefix('s')}) AS BIGINT)) AS hl FROM sh"
    )
    duck.execute(f"CREATE TEMP VIEW sigs AS SELECT doc_id, {MH_SIG_SQL} FROM hashed")
    duck_bands = sorted(
        (i, *b.values())
        for i, b in duck.execute(
            f"SELECT doc_id, UNNEST({sql_minhash_bands()}) FROM sigs"
        ).fetchall()
    )
    assert spark_bands == duck_bands
    assert len(spark_bands) == MH_BANDS * sigs.count()

    a, b = bands.alias("a"), bands.alias("b")
    spark_pairs = {
        (r[0], r[1])
        for r in a.join(b, band_key_eq("a", "b") & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id")
        .collect()
    }
    duck_pairs = set(
        duck.execute(
            "SELECT a.doc_id, b.doc_id FROM sigs a JOIN sigs b"
            f" ON a.doc_id < b.doc_id AND ({sql_band_match('a', 'b')})"
        ).fetchall()
    )
    assert spark_pairs == duck_pairs and spark_pairs


def test_roll3_is_the_same_text_in_both_engines(spark, duck):
    hs = [5, 2147483646, 17, 1000003, 0, 99]
    spark_vals = (
        spark.createDataFrame([(hs,)], "hs array<bigint>")
        .select(F.expr(f"transform(sequence(0, size(hs) - 3), j -> {roll3('hs', 'j')})"))
        .first()[0]
    )
    duck_vals = duck.execute(
        f"SELECT list_transform(generate_series(1, len(hs) - 2), i -> {roll3('hs', 'i')})"
        " FROM (SELECT ?::BIGINT[] AS hs)",
        [hs],
    ).fetchone()[0]
    assert spark_vals == duck_vals and len(spark_vals) == len(hs) - 2
