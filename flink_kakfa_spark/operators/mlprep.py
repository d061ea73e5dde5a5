"""ML feature-preparation operators: leakage-safe target encoding,
k-anonymity auditing, and the feature-hashing trick.

The feature-engineering layer every tabular-ML pipeline runs on the
lake before training:

- **Out-of-fold target encoding** (`feature_target_encode`): replace a
  categorical feature with the mean of the target computed on the
  OTHER k-1 folds — the standard leakage-safe encoding (each row's
  own fold is excluded, so its target never contributes to its own
  feature). Folds are assigned by the portable md5 prefix
  (functions/hashing.py), so both engines pick identical folds; target
  sums are exact DECIMAL.
- **k-anonymity audit** (`privacy_k_anonymity`): report
  quasi-identifier combinations identifying fewer than k individuals
  — the release gate run before publishing any user-level extract
  (complements the PII scan/redact family with a structural check).
- **Feature hashing** (`text_hashing_trick`): hash words into a fixed
  bucket space (Weinberger et al., 2009) and report per-bucket load
  and collision counts — the memory-bounded alternative to a vocab
  dictionary, with the collision accounting you need to size it.

Scale notes: target encoding is one shuffle on (category, fold)
followed by a window over the category grid (|categories| x k rows —
KB forever); k-anonymity is a single hash aggregate on the
quasi-identifier key; feature hashing aggregates (bucket, word) then
bucket — both keys are bounded (buckets) or sublinear (vocab), and
the md5 bucket math is engine-portable integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table

_FOLDS = 5
_K_ANON = 10
_HASH_BUCKETS = 64

@query(
    "feature_target_encode",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority AS category,
             CAST(({sql_md5_prefix("CAST(o_orderkey AS VARCHAR)")})
                  % {_FOLDS} AS BIGINT) AS fold,
             CAST(o_totalprice AS DECIMAL(18,2)) AS t
      FROM orders
    ),
    g AS (
      SELECT category, fold,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(t) AS s
      FROM o GROUP BY category, fold
    )
    SELECT category, fold, n_rows,
           ROUND(CAST(SUM(s) OVER (PARTITION BY category) - s AS DOUBLE)
                 / (SUM(n_rows) OVER (PARTITION BY category) - n_rows),
                 4) AS oof_mean
    FROM g
    """,
)
def q_feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe (out-of-fold) target encoding of order priority
    against order value.

    Rows are dealt into {_FOLDS} folds by ``md5(o_orderkey) mod k``
    (identical deal in both engines); each (category, fold) cell's
    encoded value is the target mean over the category's OTHER folds
    — exact DECIMAL sums subtracted cell-from-category, one double
    division at the end.

    Scale: one shuffle on the (category, fold) key with map-side
    partial aggregation; the window pass runs over the |categories|*k
    grid, which is KB at any corpus size. The encoded table is then a
    broadcast join back onto the fact — the standard serving shape.
    """
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("category"),
        (md5_prefix(F.col("o_orderkey").cast("string")) % _FOLDS).alias("fold"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("t"),
    )
    g = o.groupBy("category", "fold").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("t").alias("s")
    )
    w = W.partitionBy("category")
    return g.select(
        "category",
        "fold",
        "n_rows",
        F.round(
            (F.sum("s").over(w) - F.col("s")).cast("double")
            / (F.sum("n_rows").over(w) - F.col("n_rows")),
            4,
        ).alias("oof_mean"),
    )


@query(
    "privacy_k_anonymity",
    oracle=f"""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    HAVING COUNT(*) < {_K_ANON}
    """,
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: quasi-identifier combos (nation, market
    segment) that identify fewer than k={_K_ANON} customers.

    Any such combo makes a "de-identified" extract re-identifiable —
    the release gate is that this query returns zero rows (or the
    offending combos get generalized/suppressed).

    Scale: a single hash aggregate on the quasi-identifier key;
    output is bounded by the QI-combination cardinality.
    """
    c = load_table(spark, "customer", sf_dir)
    return (
        c.groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") < _K_ANON)
    )


@query(
    "text_hashing_trick",
    oracle=f"""
    WITH w AS (
      SELECT u.w AS word
      FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
    ),
    b AS (
      SELECT CAST(({sql_md5_prefix("word")}) % {_HASH_BUCKETS}
                  AS BIGINT) AS bucket,
             word
      FROM w
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_words
    FROM b GROUP BY bucket
    """,
)
def q_text_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing: corpus token stream hashed into
    {_HASH_BUCKETS} buckets, with per-bucket load and collision
    accounting (distinct words > 1 in a bucket = collisions the
    hashed feature space conflates).

    Scale: the bucket key is md5-derived — uniform by construction,
    so the aggregate is skew-free regardless of word skew; distinct
    counting per bucket shuffles (bucket, word) pairs once. The
    bucket space is fixed, so downstream feature vectors are
    memory-bounded with no vocab dictionary.
    """
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(F.explode(F.split("text", " ")).alias("word"))
    return (
        toks.withColumn("bucket", md5_prefix(F.col("word")) % _HASH_BUCKETS)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct(F.col("word")).alias("n_distinct_words"),
        )
    )


_L_DIVERSITY = 2  # required distinct sensitive values per QI class


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH classes AS (
      SELECT o_orderpriority,
             date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS diversity,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1, 2
    )
    SELECT
      o_orderpriority AS priority,
      CAST(COUNT(*) AS BIGINT) AS n_classes,
      CAST(SUM(CASE WHEN diversity < {_L_DIVERSITY} THEN 1 ELSE 0 END)
           AS BIGINT) AS n_violating,
      CAST(MIN(diversity) AS BIGINT) AS min_diversity,
      CAST(SUM(CASE WHEN diversity < {_L_DIVERSITY} THEN n_rows ELSE 0 END)
           AS BIGINT) AS rows_at_risk
    FROM classes
    GROUP BY priority
    ORDER BY priority
    """,
)
def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the companion
    gate to ``privacy_k_anonymity``: a release can be k-anonymous and
    still leak — if every row in a quasi-identifier class shares ONE
    sensitive value, membership in the class reveals it. Here the QI
    is (order priority, order month), the sensitive attribute is order
    status, and a class violates when it carries < l = {_L_DIVERSITY}
    distinct statuses (homogeneity attack surface). Reported per
    priority: class count, violating classes, worst diversity, and how
    many rows sit in violating classes.

    Scale: two map-side-combinable hash aggregates — the QI groupBy
    (distinct-count over a 3-value attribute collapses in the partial
    aggregate) and the |priorities|-row rollup. Same single-pass shape
    as the k-anonymity gate; output bounded by attribute cardinality.
    """
    o = load_table(spark, "orders", sf_dir)
    classes = o.groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
    ).agg(
        F.countDistinct("o_orderstatus").cast("long").alias("diversity"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return (
        classes.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(
                F.when(F.col("diversity") < _L_DIVERSITY, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_violating"),
            F.min("diversity").cast("long").alias("min_diversity"),
            F.sum(
                F.when(
                    F.col("diversity") < _L_DIVERSITY, F.col("n_rows")
                ).otherwise(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
        )
        .orderBy("priority")
    )
