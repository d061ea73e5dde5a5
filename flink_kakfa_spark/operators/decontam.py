"""Corpus-hygiene operators for LLM training pipelines: benchmark
decontamination and intra-document repetition scoring.

These extend the reference's data-processing surface the way a
training-data pipeline needs (driver mandate "text analysis" /
"deduplication" family); the reference itself has no analogue — its
corpus handling stops at produce/consume of sentences
(go/producer/producer.go:119-131).

Scale notes (100 TB):
- Decontamination joins the corpus's shingle inverted index against
  the eval set's shingles. The eval side is tiny by construction
  (benchmarks are KBs-to-MBs, corpora are TBs), so it broadcasts —
  the corpus is touched exactly once, one shuffle for the per-doc
  aggregate, and no shuffle carries document text (only 4-gram
  strings).
- Repetition scoring is a pure narrow map: every statistic (total /
  distinct / max-repeat of bigrams) is computed per row with
  higher-order functions on the token array. Zero shuffles, zero
  Python — it scales linearly with input splits and survives any
  corpus size that scans do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_prefix
from flink_kakfa_spark.functions.shingles import (
    SHINGLE_K,
    band_key_eq,
    minhash_bands,
    minhash_signature,
    shingle_rows,
    sql_band_match,
    sql_minhash_ctes,
    sql_ngram_rows,
    sql_word_ngram,
    word_ngrams,
)
from flink_kakfa_spark.functions.vectors import as_double, dot, norm
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table, parallelize

EVAL_MOD = 101  # doc_id % EVAL_MOD == 0 -> held-out "benchmark" split
# Words per decontamination shingle: longer than the 3-gram dedup index,
# because decontamination wants high-precision matches (a shared longer
# n-gram is strong evidence the benchmark text leaked), not fuzzy
# similarity. Real pipelines use 8-13; 4 is the precision knee for this
# fixture's 16-word vocabulary.
DECONTAM_K = 4


@query(
    "decontam_eval_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
      {sql_ngram_rows(DECONTAM_K)}
    ),
    ev AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0
    ),
    tr AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} <> 0)
    SELECT
      tr.doc_id,
      COUNT(*) AS n_shingles,
      CAST(SUM(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_shared,
      CAST(SUM(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END)
           AS DOUBLE) / COUNT(*) AS contamination_ratio
    FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
    GROUP BY tr.doc_id
    ORDER BY n_shared DESC, doc_id ASC
    LIMIT 50
    """,
)
def q_decontam_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the 50 training docs sharing the most
    distinct 4-gram shingles with the held-out eval split
    (``doc_id % 101 == 0`` stands in for a benchmark suite).

    Plan shape: eval shingles are DISTINCT'd then BROADCAST — the
    training-side inverted index streams past them map-side; the only
    shuffle is the per-doc count aggregate.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark)
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    ev = (
        shingle_rows(d.filter(is_eval), DECONTAM_K)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr = shingle_rows(d.filter(~is_eval), DECONTAM_K)
    return (
        tr.join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_shared"),
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("contamination_ratio"),
        )
        .orderBy(F.col("n_shared").desc(), F.col("doc_id").asc())
        .limit(50)
    )


def _max_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements in a sorted
    array — i.e. the max occurrence count of any element — computed
    with F.aggregate entirely JVM-side (no explode, no shuffle)."""
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


@query(
    "text_repetition_ngrams",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    bg AS (
      SELECT doc_id, {sql_word_ngram("ts", 2)} AS bigram
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
      WHERE len(ts) >= 2
    ),
    cnt AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2
    )
    SELECT
      doc_id,
      CAST(SUM(c) AS BIGINT) AS n_bigrams,
      COUNT(*) AS n_distinct,
      CAST(1 AS DOUBLE)
        - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
        AS dup_fraction,
      CAST(MAX(c) AS BIGINT) AS max_repeat
    FROM cnt
    GROUP BY doc_id
    """,
)
def q_text_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals: per document, the total
    and distinct bigram counts, the duplicated-bigram fraction, and the
    highest single-bigram repeat count.

    Every statistic comes from higher-order functions over the token
    array of the row itself — the whole query is a narrow map over the
    scan: no wide (hash) exchange anywhere, verify with .explain().
    The only exchange is parallelize()'s round-robin split of the
    single-row-group fixture file, a no-op at lake scale where inputs
    arrive in many splits. The oracle computes the same numbers the
    relational way (explode + two aggregates).
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark).select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )  # tokens as a column: an inline split() re-evaluates per HOF element
    t = F.col("_toks")
    bigrams = word_ngrams(t, 2)
    n_total = F.size(bigrams)
    n_distinct = F.size(F.array_distinct(bigrams))
    return d.filter(F.size(t) >= 2).select(
        "doc_id",
        n_total.cast("long").alias("n_bigrams"),
        n_distinct.cast("long").alias("n_distinct"),
        (
            F.lit(1.0) - n_distinct.cast("double") / n_total.cast("double")
        ).alias("dup_fraction"),
        _max_run(F.array_sort(bigrams)).cast("long").alias("max_repeat"),
    )


# ---- near-duplicate contamination: MinHash across train/eval ---------
#
# Exact n-gram decontamination (above) misses lightly-paraphrased
# leaks; the production follow-up (e.g. GPT-3 appendix C, Dolma) runs
# fuzzy dedup BETWEEN the training corpus and the benchmark split.
# Uses the portable MinHash of functions/shingles.py (16 affine perms
# over md5 shingle hashes, 4x4 banding) so the whole cross-relation LSH
# is value-exact under the DuckDB oracle.


@query(
    "decontam_minhash",
    oracle=f"""
    WITH {sql_minhash_ctes()},
    ev AS (SELECT * FROM sigs WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (SELECT * FROM sigs WHERE doc_id % {EVAL_MOD} <> 0),
    cand AS (
      SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
             tr.sharr AS sh_t, ev.sharr AS sh_e
      FROM tr JOIN ev ON ({sql_band_match("tr", "ev")})
    )
    SELECT
      train_doc, eval_doc,
      CAST(len(list_intersect(sh_t, sh_e)) AS DOUBLE)
        / (len(sh_t) + len(sh_e) - len(list_intersect(sh_t, sh_e)))
        AS jaccard
    FROM cand
    ORDER BY jaccard DESC, train_doc ASC, eval_doc ASC
    LIMIT 20
    """,
)
def q_decontam_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: training docs whose MinHash signature
    collides with a held-out eval doc in any LSH band, rescored by
    exact shingle Jaccard — catches paraphrased benchmark leakage the
    exact 4-gram overlap above cannot.

    Plan shape: signatures are one narrow pass per side; the eval
    side's banded keys BROADCAST (benchmarks are KB-MB at any corpus
    size), so the training corpus streams past them map-side with no
    corpus-sized shuffle; only bucket-mates reach the exact rescore.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark)
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("tokens")).filter(
        F.size("tokens") >= SHINGLE_K
    )
    sh = toks.select(
        "doc_id", F.array_distinct(word_ngrams("tokens", SHINGLE_K)).alias("sharr")
    )
    hashed = sh.withColumn("hl", F.transform("sharr", lambda s: md5_prefix(s)))
    sigs = hashed.select("doc_id", "sharr", *minhash_signature("hl"))
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0

    def banded(df: DataFrame) -> DataFrame:
        return df.select("doc_id", F.explode(minhash_bands()).alias("bk")).select(
            "doc_id", "bk.*"
        )

    tr_b = banded(sigs.filter(~is_eval)).alias("tr")
    ev_b = banded(sigs.filter(is_eval)).alias("ev")
    pairs = (
        tr_b.join(F.broadcast(ev_b), band_key_eq("tr", "ev"))
        .select(
            F.col("tr.doc_id").alias("train_doc"),
            F.col("ev.doc_id").alias("eval_doc"),
        )
        .dropDuplicates(["train_doc", "eval_doc"])
    )
    sh_only = sigs.select("doc_id", "sharr")
    cand = pairs.join(
        sh_only.select(
            F.col("doc_id").alias("train_doc"), F.col("sharr").alias("sh_t")
        ),
        "train_doc",
    ).join(
        F.broadcast(
            sh_only.select(
                F.col("doc_id").alias("eval_doc"), F.col("sharr").alias("sh_e")
            ).filter(F.col("eval_doc") % EVAL_MOD == 0)
        ),
        "eval_doc",
    )
    inter = F.size(F.array_intersect("sh_t", "sh_e"))
    return (
        cand.select(
            "train_doc",
            "eval_doc",
            (
                inter.cast("double")
                / (F.size("sh_t") + F.size("sh_e") - inter)
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("train_doc"), F.asc("eval_doc"))
        .limit(20)
    )


# Embedding-space decontamination threshold. Real deployments use
# ~0.9 on trained encoders; this fixture's embeddings are synthetic
# (max corpus-vs-eval cosine ~0.49), so the gate sits at the
# fixture's ~p95 to exercise the path with a non-trivial survivor set.
EMB_DECONTAM_TAU = 0.35
_EMB_EVAL_MOD = 20  # vec_id % 20 == 0 -> held-out eval split


@query(
    "decontam_embedding",
    oracle=f"""
    WITH ev AS (
      SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {_EMB_EVAL_MOD} = 0
    ),
    co AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {_EMB_EVAL_MOD} <> 0
    ),
    pairs AS (
      SELECT co.vec_id, ev.eval_id,
             ROUND(list_cosine_similarity(co.v, ev.v), 6) AS c
      FROM co, ev
    ),
    best AS (
      SELECT vec_id, eval_id, c,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY c DESC, eval_id DESC
             ) AS rn
      FROM pairs
    )
    SELECT
      vec_id,
      eval_id AS best_eval_id,
      c AS best_cos
    FROM best
    WHERE rn = 1 AND c >= {EMB_DECONTAM_TAU}
    """,
)
def q_decontam_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors whose nearest
    held-out eval vector exceeds the cosine gate — the semantic
    complement of ``decontam_eval_overlap`` (exact 4-grams) and
    ``decontam_minhash`` (lexical fuzz): it catches translated or
    heavily reworded benchmark leakage that shares no surface n-grams.

    Plan: the eval split is KB–MB BY CONSTRUCTION (benchmarks are
    small), so it broadcasts and the corpus streams past it map-side
    in one narrow pass — O(n·|eval|) with no corpus shuffle; the only
    exchange is the per-vector argmax aggregate. Cosines round to
    6 dp before the (cos, eval_id) argmax so both engines pick the
    same winner at near-ties.
    """
    e = parallelize(load_table(spark, "embeddings", sf_dir), spark).select(
        "vec_id",
        as_double("embedding").alias("v"),
    )
    # Norms are computed ONCE PER ROW on each side before the join:
    # higher-order-function folds are not codegen'd, so evaluating
    # them per PAIR would triple the dominant per-pair cost (measured
    # 3x on the 10x corpus). Only the dot product runs per pair.
    is_eval = (F.col("vec_id") % _EMB_EVAL_MOD) == 0
    ev = e.filter(is_eval).select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ve"),
        norm("v").alias("norm_e"),
    )
    co = e.filter(~is_eval).select("vec_id", "v", norm("v").alias("norm_v"))
    cos = F.round(dot("v", "ve") / (F.col("norm_v") * F.col("norm_e")), 6)
    best = (
        co.crossJoin(F.broadcast(ev))
        .select("vec_id", "eval_id", cos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max(F.struct("c", "eval_id")).alias("m"))
    )
    return best.filter(F.col("m.c") >= EMB_DECONTAM_TAU).select(
        "vec_id",
        F.col("m.eval_id").alias("best_eval_id"),
        F.col("m.c").alias("best_cos"),
    )
