"""Corpus quality filtering (Tier C, SURVEY.md §2.9 E4 extension).

Rule-based document quality gates in the style of the published Gopher
heuristics (Rae et al. 2021, "Scaling Language Models", appendix A —
public paper): word-count bounds, mean word length bounds, stopword
presence, alphabetic-word fraction, unique-word fraction. Plus a
corpus-containment score: per document, the fraction of its shingles
that also appear in at least one other document — the standard signal
for "how much of this doc is boilerplate shared with the rest of the
crawl".

Scale notes (100 TB):
- The Gopher rules are a narrow, shuffle-free map — pure higher-order
  functions over the tokenized text, whole-stage-codegen'd, no Python.
  At lake scale this is a streaming-friendly single pass.
- Containment reuses the inverted-index shingle formulation from
  ``dedup.py`` (reference for parity: the reference repo has no such
  operator; anchor is the driver mandate): one shuffle to count
  document frequency per shingle, one shingle-keyed join back (AQE
  handles hot-shingle skew), one per-doc aggregation. Never an
  all-pairs product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.shingles import SHINGLE_K, shingle_rows, sql_ngram_rows
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table, parallelize

# Fixed stopword list for the fixture vocabulary (the corpus is
# lowercase SQL-ish words; a real deployment would use a per-language
# list). Kept in exact sync with the oracle SQL below.
_STOPWORDS = ["a", "the", "data", "value", "table", "query", "row", "key"]

_MIN_WORDS, _MAX_WORDS = 20, 100_000
_MIN_MWL, _MAX_MWL = 3.0, 10.0
_MIN_STOP = 2
_MIN_ALPHA_FRAC = 0.8
_MIN_UNIQ_FRAC = 0.2


@query(
    "quality_gopher_filter",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    m AS (
      SELECT
        doc_id,
        len(ts) AS n_words,
        ROUND(CAST(list_sum(list_transform(ts, w -> length(w))) AS DOUBLE)
              / len(ts), 4) AS mean_wlen,
        len(list_intersect(list_distinct(ts),
            ['a','the','data','value','table','query','row','key'])) AS n_stop,
        ROUND(CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]')))
              AS DOUBLE) / len(ts), 4) AS alpha_frac,
        ROUND(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 4) AS uniq_frac
      FROM tok
    )
    SELECT
      doc_id, n_words, mean_wlen, n_stop, alpha_frac, uniq_frac,
      (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}) AS r_wordcount,
      (mean_wlen BETWEEN {_MIN_MWL} AND {_MAX_MWL}) AS r_mean_wlen,
      (n_stop >= {_MIN_STOP}) AS r_stopwords,
      (alpha_frac >= {_MIN_ALPHA_FRAC}) AS r_alpha,
      (uniq_frac >= {_MIN_UNIQ_FRAC}) AS r_unique,
      ((n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
        AND (mean_wlen BETWEEN {_MIN_MWL} AND {_MAX_MWL})
        AND n_stop >= {_MIN_STOP}
        AND alpha_frac >= {_MIN_ALPHA_FRAC}
        AND uniq_frac >= {_MIN_UNIQ_FRAC}) AS keep
    FROM m
    """,
)
def q_quality_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule flags per document, plus the final keep verdict.

    Single narrow pass: tokenize once, derive every metric with
    built-in higher-order functions (no UDF, no shuffle, no explode —
    the token array never leaves the row).
    """
    d = load_table(spark, "documents", sf_dir)
    t = F.split(F.col("text"), " ")
    m = d.select(
        "doc_id",
        F.size(t).alias("n_words"),
        F.round(
            F.aggregate(
                t, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
            )
            / F.size(t),
            4,
        ).alias("mean_wlen"),
        F.size(
            F.array_intersect(
                F.array_distinct(t), F.array(*[F.lit(w) for w in _STOPWORDS])
            )
        ).alias("n_stop"),
        F.round(
            F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).cast("double")
            / F.size(t),
            4,
        ).alias("alpha_frac"),
        F.round(
            F.size(F.array_distinct(t)).cast("double") / F.size(t), 4
        ).alias("uniq_frac"),
    )
    r_wc = F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
    r_mwl = F.col("mean_wlen").between(_MIN_MWL, _MAX_MWL)
    r_stop = F.col("n_stop") >= _MIN_STOP
    r_alpha = F.col("alpha_frac") >= _MIN_ALPHA_FRAC
    r_uniq = F.col("uniq_frac") >= _MIN_UNIQ_FRAC
    return m.select(
        "*",
        r_wc.alias("r_wordcount"),
        r_mwl.alias("r_mean_wlen"),
        r_stop.alias("r_stopwords"),
        r_alpha.alias("r_alpha"),
        r_uniq.alias("r_unique"),
        (r_wc & r_mwl & r_stop & r_alpha & r_uniq).alias("keep"),
    )


@query(
    "quality_containment_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
      {sql_ngram_rows(SHINGLE_K)}
    ),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT
      s.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_shingles,
      CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      ROUND(CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*), 4) AS containment
    FROM sh s JOIN dfreq d ON s.shingle = d.shingle
    GROUP BY s.doc_id
    """,
)
def q_quality_containment_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 3-gram shingles shared with >=1 other document.

    Inverted-index formulation: shingle document-frequency is computed
    once (one shuffle over 3-word strings); the join back is
    shingle-keyed (AQE skew-safe); the final per-doc aggregation is the
    only other exchange. A doc whose every shingle appears elsewhere
    (containment = 1.0) is boilerplate; this is the corpus-level dual
    of pairwise near-dup detection — O(n·shingles), never O(n²).
    """
    sh = shingle_rows(
        parallelize(load_table(spark, "documents", sf_dir), spark), SHINGLE_K
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_shingles"), 4
            ).alias("containment"),
        )
    )



_PSI_BINS = 10
# Laplace smoothing so empty bins never hit ln(0): (c+1)/(n+BINS)
_PSI_ORACLE = f"""
    WITH v AS (
      SELECT event_type, epoch_us(ts) AS us, value FROM events
    ),
    rng AS (
      SELECT MIN(us) AS lo_us, MAX(us) AS hi_us,
             MIN(value) AS lo_v, MAX(value) AS hi_v
      FROM v
    ),
    binned AS (
      SELECT
        event_type,
        CASE WHEN us <= lo_us + (hi_us - lo_us) // 2
             THEN 'a' ELSE 'b' END AS period,
        CASE WHEN hi_v = lo_v THEN 0
             ELSE LEAST({_PSI_BINS - 1},
                        CAST(FLOOR((value - lo_v) * {_PSI_BINS}.0
                                   / (hi_v - lo_v)) AS BIGINT))
        END AS bin
      FROM v CROSS JOIN rng
    ),
    cell AS (
      SELECT event_type, bin,
             CAST(COALESCE(SUM(CASE WHEN period = 'a' THEN 1 END), 0)
                  AS BIGINT) AS ca,
             CAST(COALESCE(SUM(CASE WHEN period = 'b' THEN 1 END), 0)
                  AS BIGINT) AS cb
      FROM binned GROUP BY event_type, bin
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb
      FROM cell GROUP BY event_type
    )
    SELECT
      c.event_type,
      MAX(t.na) AS n_a,
      MAX(t.nb) AS n_b,
      ROUND(SUM(
        (CAST(c.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS})
         - CAST(c.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS}))
        * LN((CAST(c.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS}))
             / (CAST(c.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS})))
      ), 6) AS psi,
      CAST(CASE WHEN SUM(
        (CAST(c.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS})
         - CAST(c.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS}))
        * LN((CAST(c.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS}))
             / (CAST(c.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS})))
      ) > 0.2 THEN 1 ELSE 0 END AS BIGINT) AS drifted
    FROM cell c JOIN tot t USING (event_type)
    GROUP BY c.event_type
    ORDER BY c.event_type
"""


@query("drift_psi_report", oracle=_PSI_ORACLE)
def q_drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift report per event type.

    The standard ML-monitoring question: did the ``value``
    distribution shift between the first and second half of the
    stream?  Rows are equal-width-binned over the global value range,
    per-(type, period, bin) counts become Laplace-smoothed shares,
    and PSI = sum((p - q) * ln(p/q)) with the conventional 0.2 alert
    threshold.  Every arithmetic step (integer halving for the time
    split, one shared float expression for the bin) is written
    identically in both engines, so the report is value-exact.

    Scale: ONE narrow pass bins the fact table (the 1-row global
    range is broadcast), then a (type, bin)-keyed map-side-combined
    count — at most |types| x |bins| cells — carries all further
    math; nothing per-row ever shuffles.  The same shape works as a
    foreachBatch monitor on the streaming side.
    """
    e = load_table(spark, "events", sf_dir)
    v = e.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "value",
    )
    rng = v.agg(
        F.min("us").alias("lo_us"),
        F.max("us").alias("hi_us"),
        F.min("value").alias("lo_v"),
        F.max("value").alias("hi_v"),
    )
    b = _PSI_BINS
    binned = v.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.when(
            F.col("us")
            <= F.col("lo_us")
            + F.floor((F.col("hi_us") - F.col("lo_us")) / 2).cast("long"),
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("period"),
        F.when(F.col("hi_v") == F.col("lo_v"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(b - 1).cast("long"),
                F.floor(
                    (F.col("value") - F.col("lo_v"))
                    * float(b)
                    / (F.col("hi_v") - F.col("lo_v"))
                ).cast("long"),
            )
        )
        .alias("bin"),
    )
    cell = binned.groupBy("event_type", "bin").agg(
        F.coalesce(F.sum(F.when(F.col("period") == "a", 1)), F.lit(0))
        .cast("long")
        .alias("ca"),
        F.coalesce(F.sum(F.when(F.col("period") == "b", 1)), F.lit(0))
        .cast("long")
        .alias("cb"),
    )
    tot = cell.groupBy("event_type").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    p = (F.col("ca") + 1).cast("double") / (F.col("na") + b)
    q = (F.col("cb") + 1).cast("double") / (F.col("nb") + b)
    term = (p - q) * F.log(p / q)
    return (
        cell.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.round(F.sum(term), 6).alias("psi"),
            F.when(F.sum(term) > 0.2, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("drifted"),
        )
        .orderBy("event_type")
    )


# Keyword set for the structured-text (code/query-log) detector. The
# fixture vocabulary is SQL-ish word salad, so SQL keywords are the
# demonstration set; a code-corpus deployment swaps in per-language
# token lists (def/class/import, function/const/var, ...) — the
# operator is the density machinery, not the list.
_CODE_KEYWORDS = [
    "join", "filter", "sort", "group", "order", "window",
    "merge", "scan", "agg", "hash",
]
_SQL_CODE_KEYWORDS = "[" + ", ".join(f"'{w}'" for w in _CODE_KEYWORDS) + "]"
_CODE_THRESH_BP = 3500  # >=35% keyword tokens -> structured


@query(
    "quality_code_detector",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> list_contains({_SQL_CODE_KEYWORDS}, w)))
                  * 10000 // len(string_split(text, ' ')) AS BIGINT)
               AS density_bp
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    )
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN density_bp >= {_CODE_THRESH_BP} THEN 1 ELSE 0 END)
           AS BIGINT) AS n_structured,
      CAST(SUM(density_bp) // COUNT(*) AS BIGINT) AS avg_density_bp,
      CAST(MIN(density_bp) AS BIGINT) AS min_density_bp,
      CAST(MAX(density_bp) AS BIGINT) AS max_density_bp
    FROM d GROUP BY source ORDER BY source
    """,
)
def q_quality_code_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-text detector by keyword-token density — the cheap
    first-stage router every mixed crawl needs to separate code /
    query logs / markup from prose before language-specific pipelines
    run (the heuristic behind fastText code filters, minus the model:
    a fixed keyword list and a density threshold). Per document,
    density = keyword tokens / tokens in basis points; per source:
    doc counts above the {_CODE_THRESH_BP} bp threshold plus the
    density distribution (avg/min/max), so a mis-threshold is visible
    in the same report.

    Scale: pure narrow map (HOF filter over the token array — no
    explode, no shuffle) followed by one |sources|-row aggregate;
    integer basis points end-to-end, so value-exact.
    """
    d = load_table(spark, "documents", sf_dir)
    t = F.split(F.col("text"), " ")
    kw = F.array([F.lit(w) for w in _CODE_KEYWORDS])
    density = F.floor(
        F.size(F.filter(t, lambda w: F.array_contains(kw, w)))
        * 10000
        / F.size(t)
    ).cast("long")
    docs = d.filter(F.size(t) > 0).select(
        "source", density.alias("density_bp")
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("density_bp") >= _CODE_THRESH_BP, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_structured"),
            F.floor(F.sum("density_bp") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_density_bp"),
            F.min("density_bp").alias("min_density_bp"),
            F.max("density_bp").alias("max_density_bp"),
        )
        .orderBy("source")
    )
