"""Corpus-curation operators round 2: incremental ingest dedup,
DSIR-style importance weighting, tokenizer fertility, and a
compression-ratio quality signal.

These fill the remaining gaps a production LLM training-data pipeline
has beyond the dedup/quality/decontam families already registered:

- **Incremental ingest** — production corpora grow by batches; each
  new batch must be checked against the EXISTING index (exact digests
  + near-dup shingle overlap) before admission, not re-deduped from
  scratch. (The reference's surface is append-only produce —
  go/producer/producer.go:105-115 — so admission control is exactly
  what a lake consumer bolts on first.)
- **DSIR importance weights** (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling"): rank every document by
  the log-likelihood ratio of a target-domain unigram LM vs the
  corpus-wide LM — the standard cheap proxy for "looks like the
  domain I want more of".
- **Tokenizer fertility** — tokens-per-word by language, the
  diagnostic that decides whether a tokenizer underserves a language
  (fertility ~1 for well-covered languages, >>1 for byte-fallback).
- **Compression ratio** — zlib bytes-out/bytes-in per document, the
  classic redundancy/quality gate (low ratio = highly repetitive
  boilerplate; used by Gopher-family "repetition" filters).

Scale notes (100 TB):
- Ingest: the NEW BATCH is small by construction (a day's crawl vs
  the accumulated index), so batch digests and batch shingles
  broadcast; the index streams past them map-side and is scanned
  once per structure. No shuffle carries document text.
- DSIR: two word-count aggregates (map-side combined), 1-row totals
  attached as broadcast, vocabulary broadcast onto the exploded
  corpus stream, one per-doc aggregate — the corpus shuffles once.
- Fertility: one narrow map + a #langs-row aggregate.
- Compression: Arrow-batched mapInPandas (zlib is unavailable to
  Spark SQL); pure narrow map, zero shuffles — scales with splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.shingles import shingle_rows, sql_ngram_rows
from flink_kakfa_spark.operators.decontam import DECONTAM_K
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table, parallelize

INGEST_MOD = 10  # doc_id % 10 == 0 -> the incoming batch; rest = index
NEAR_DUP_MIN_OVERLAP = 0.5


@query(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
      {sql_ngram_rows(DECONTAM_K)}
    ),
    bsh AS (SELECT * FROM sh WHERE doc_id % {INGEST_MOD} = 0),
    ish AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {INGEST_MOD} <> 0
    ),
    bdig AS (
      SELECT doc_id, md5(text) AS dig FROM documents
      WHERE doc_id % {INGEST_MOD} = 0
    ),
    idig AS (
      SELECT DISTINCT md5(text) AS dig FROM documents
      WHERE doc_id % {INGEST_MOD} <> 0
    ),
    ov AS (
      SELECT
        b.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN i.shingle IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_shared
      FROM bsh b LEFT JOIN ish i ON b.shingle = i.shingle
      GROUP BY b.doc_id
    )
    SELECT
      o.doc_id,
      o.n_shingles,
      o.n_shared,
      ROUND(CAST(o.n_shared AS DOUBLE) / o.n_shingles, 4) AS overlap_ratio,
      CASE
        WHEN e.dig IS NOT NULL THEN 'exact_dup'
        WHEN CAST(o.n_shared AS DOUBLE) / o.n_shingles
             >= {NEAR_DUP_MIN_OVERLAP} THEN 'near_dup'
        ELSE 'new'
      END AS status
    FROM ov o
    JOIN bdig b ON o.doc_id = b.doc_id
    LEFT JOIN idig e ON b.dig = e.dig
    """,
)
def q_dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission control for an incoming batch against the standing
    corpus index: per new document, ``exact_dup`` (digest already
    indexed), ``near_dup`` (>= half its distinct 4-gram shingles
    already indexed), or ``new``.

    Plan shape is dictated by the size asymmetry: the BATCH side
    (digests, shingles) broadcasts; the 100 TB index side streams
    map-side through the broadcast joins and is never re-shuffled.
    The only exchanges carry batch-doc keys (one per-doc aggregate).
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark)
    is_batch = (F.col("doc_id") % INGEST_MOD) == 0
    batch, index = d.filter(is_batch), d.filter(~is_batch)

    bdig = batch.select("doc_id", F.md5("text").alias("dig"))
    # Broadcast-filter FIRST, distinct after: the index side streams
    # map-side past the broadcast batch digests and only the (tiny)
    # surviving hits ever enter an exchange — the index is never
    # shuffled at its own size.
    idig = index.select(F.md5("text").alias("dig"))
    exact = idig.join(F.broadcast(bdig), "dig").select("doc_id").distinct()

    bsh = shingle_rows(batch, DECONTAM_K)
    # same order for shingles: map-side broadcast semi-join against
    # the batch's distinct shingles, THEN dedup the survivors (rows
    # entering the exchange are bounded by index occurrences of
    # batch shingles, not the index's full shingle stream)
    ish = (
        shingle_rows(index, DECONTAM_K)
        .select("shingle")
        .join(F.broadcast(bsh.select("shingle").distinct()), "shingle")
        .distinct()
    )
    hits = (
        ish.withColumn("_hit", F.lit(1))
        .join(F.broadcast(bsh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    n_sh = bsh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    ratio = F.col("n_shared").cast("double") / F.col("n_shingles")
    return (
        n_sh.join(F.broadcast(hits), "doc_id", "left")
        .withColumn(
            "n_shared", F.coalesce("n_shared", F.lit(0)).cast("long")
        )
        .join(
            F.broadcast(exact.withColumn("_exact", F.lit(1))), "doc_id", "left"
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(ratio, 4).alias("overlap_ratio"),
            F.when(F.col("_exact") == 1, F.lit("exact_dup"))
            .when(ratio >= NEAR_DUP_MIN_OVERLAP, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


DSIR_TARGET_LANG = "en"


@query(
    "corpus_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ),
    allc AS (SELECT word, COUNT(*) AS c_a FROM tok GROUP BY word),
    tgtc AS (
      SELECT word, COUNT(*) AS c_t FROM tok
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY word
    ),
    tot AS (
      SELECT
        (SELECT CAST(SUM(c_a) AS DOUBLE) FROM allc) AS t_a,
        (SELECT CAST(COALESCE(SUM(c_t), 0) AS DOUBLE) FROM tgtc) AS t_t,
        (SELECT CAST(COUNT(*) AS DOUBLE) FROM allc) AS v
    ),
    llr AS (
      SELECT
        a.word,
        LN((COALESCE(t.c_t, 0) + 1.0) / (tot.t_t + tot.v))
          - LN((a.c_a + 1.0) / (tot.t_a + tot.v)) AS w_llr
      FROM allc a LEFT JOIN tgtc t ON a.word = t.word, tot
    )
    SELECT
      tok.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      ROUND(AVG(l.w_llr), 4) + 0.0 AS dsir_logratio
    FROM tok JOIN llr l ON tok.word = l.word
    GROUP BY tok.doc_id
    """,
)
def q_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight per document: mean unigram
    log-likelihood ratio of the target-domain LM (here: ``lang='en'``
    documents stand in for the target distribution) against the
    corpus-wide LM, add-one smoothed.

    Positive means "more target-like than the corpus average" —
    importance resampling keeps documents with probability
    proportional to exp(weight). Two word aggregates (map-side
    combined), 1-row totals and the vocabulary LLR table broadcast
    onto the token stream; the corpus shuffles once (per-doc mean).
    Same plan skeleton as ``text_unigram_surprisal``.
    """
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    allc = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c_a"))
    tgtc = (
        tok.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    tot = allc.agg(
        F.sum("c_a").cast("double").alias("t_a"),
        F.count(F.lit(1)).cast("double").alias("v"),
    ).crossJoin(
        F.broadcast(
            tgtc.agg(
                F.coalesce(F.sum("c_t"), F.lit(0)).cast("double").alias("t_t")
            )
        )
    )
    llr = (
        allc.join(F.broadcast(tgtc), "word", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "word",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0)
                    / (F.col("t_t") + F.col("v"))
                )
                - F.log((F.col("c_a") + 1.0) / (F.col("t_a") + F.col("v")))
            ).alias("w_llr"),
        )
    )
    return (
        tok.join(F.broadcast(llr), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # "+ 0.0" on BOTH sides normalizes IEEE negative zero: a tiny
            # negative mean rounds to -0.0 in DuckDB (sign-preserving) but
            # +0.0 in Spark (BigDecimal round has no -0), and value-hash
            # comparators that render the sign see a mismatch even though
            # the doubles compare ==. IEEE: -0.0 + 0.0 = +0.0 exactly.
            (F.round(F.avg("w_llr"), 4) + F.lit(0.0)).alias("dsir_logratio"),
        )
    )


FERTILITY_HIGH = 1.5
_LEX_PATTERN = "[a-z0-9]+|[^a-z0-9 ]"


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT
        lang,
        CAST(len(regexp_extract_all(text, '{_LEX_PATTERN}')) AS DOUBLE)
          / len(string_split(text, ' ')) AS fert
      FROM documents
    )
    SELECT
      lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      ROUND(AVG(fert), 4) AS avg_fertility,
      ROUND(
        CAST(SUM(CASE WHEN fert > {FERTILITY_HIGH} THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 4) AS high_fertility_share
    FROM per_doc
    GROUP BY lang
    """,
)
def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: regex-lexer tokens per
    whitespace word, plus the share of documents above {FERTILITY_HIGH}
    (the "tokenizer underserves this language" red flag).

    One narrow map (two token counts per row, JVM regex) folding
    map-side to a #langs-row aggregate — scan-bound at any scale.
    """
    d = load_table(spark, "documents", sf_dir)
    fert = (
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_LEX_PATTERN), F.lit(0))
        ).cast("double")
        / F.size(F.split("text", " "))
    )
    return (
        d.select("lang", fert.alias("fert"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("fert"), 4).alias("avg_fertility"),
            F.round(
                F.sum(
                    F.when(F.col("fert") > FERTILITY_HIGH, 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("high_fertility_share"),
        )
    )


@query("quality_compression_ratio")  # no SQL oracle: zlib (python-oracle pytest)
def q_quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio: compressed bytes over
    original UTF-8 bytes. Highly repetitive/boilerplate text
    compresses far below ~0.4; near-random text sits near 1.0 —
    the standard cheap redundancy gate (Gopher-family filters).

    Rows-only by necessity, not convenience: every output column is
    either zlib-derived (comp_bytes, compression_ratio — no SQL
    engine exposes zlib, and no closed-form SQL expression equals a
    DEFLATE output length) or trivially implied (orig_bytes). The
    pytest oracle recomputes ratios with Python zlib directly
    (deterministic: zlib level 6 output length is fixed for a given
    input), and the deterministic redundancy signal this gate pairs
    with — per-doc character entropy — is value-exact under
    ``text_char_entropy``'s DuckDB oracle, so splitting deterministic
    columns out of this query would only duplicate that one. Spark
    side is an Arrow-batched ``mapInPandas`` narrow map — zero
    shuffles, scales with input splits. The UDF is a closure (NOT a
    module-level function) so that cloudpickle serializes it by value:
    a driver that imports this module by file path from a foreign cwd
    cannot resolve a pickled-by-reference module-level function on the
    executor side, and the job dies with ModuleNotFoundError.
    """
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def compress(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            comp = pdf["text"].map(
                lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": raw.astype("int64"),
                    "comp_bytes": comp.astype("int64"),
                    "compression_ratio": (comp / raw).round(4),
                }
            )

    return d.filter(F.col("text").isNotNull()).mapInPandas(
        compress,
        "doc_id long, orig_bytes long, comp_bytes long, compression_ratio double",
    )
