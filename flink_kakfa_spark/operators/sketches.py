"""Mergeable sketches and recursive SQL (Tier C extensions).

Two 100 TB workhorse patterns the relational block doesn't yet cover:

- **Re-aggregatable HLL sketches** (Apache DataSketches, built into
  Spark 3.5+ as ``hll_sketch_agg``/``hll_union_agg``): the cube/rollup
  answer to COUNT(DISTINCT) at lake scale. Fine-grained sketches (per
  day) are computed once and *merged* to any coarser grain without
  rescanning the fact table — distinct counts become additive the way
  SUM always was. A 100 TB deployment materializes the daily sketch
  table (KBs per group) and answers month/quarter/all-time distincts
  from it.

- **Recursive CTEs** (Spark 4.0+ ``WITH RECURSIVE``): dimension/spine
  generation inside the engine. Used here to build a month spine over
  the orders table and gap-fill the monthly order series — the
  standard reporting shape where missing months must appear as zero
  rows, which no plain GROUP BY can produce.

The reference repo (a Kafka produce/consume demo) has no counterpart;
anchor is the driver mandate (BASELINE.json:6) and SURVEY.md §2.4/§2.7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table

# |approx - exact| / exact tolerance for the default HLL lgConfigK=12
# (relative standard error ~1.6%; 3 sigma ≈ 5%).
_HLL_TOL = 0.05


@query(
    "agg_hll_mergeable_rollup",
    oracle="""
    SELECT
      event_type,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      TRUE AS within_tol
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL sketches of distinct users, merged up to event_type.

    The estimate itself is engine-specific, so (like
    ``agg_approx_count_distinct``) the oracle is a tolerance contract
    that still binds real values: both engines hash-compare the EXACT
    per-type distinct count, and the query additionally asserts the
    merged-sketch estimate lands within 3-sigma of it. The exact count
    exists here only to power that assertion — at 100 TB you'd keep
    the daily sketch table and never recompute it.
    """
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= _HLL_TOL
            ).alias("within_tol"),
        )
    )


@query(
    "sql_recursive_month_spine",
    oracle="""
    WITH RECURSIVE spine(mon, hi) AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
      FROM orders
      UNION ALL
      SELECT CAST(mon + INTERVAL 1 MONTH AS DATE), hi FROM spine
      WHERE mon < hi
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             COUNT(*) AS n,
             SUM(o_totalprice) AS tp
      FROM orders GROUP BY 1
    )
    SELECT
      strftime(s.mon, '%Y-%m') AS mon_str,
      CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders,
      ROUND(CAST(COALESCE(m.tp, 0) AS DOUBLE), 2) AS total_price
    FROM spine s LEFT JOIN monthly m ON s.mon = m.mon
    """,
)
def q_sql_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE month spine + gap-filled monthly order rollup.

    The spine is generated by the engine (bounded by the recursion
    guard at ~one row per month — trivially driver-safe), then
    left-joined to the aggregated fact so absent months surface as
    zeros. The monthly aggregate shuffles once; the spine side is a
    few dozen rows and broadcast by AQE.
    """
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE spine(mon, hi) AS (
          SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
                 CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
          FROM orders
          UNION ALL
          SELECT add_months(mon, 1), hi FROM spine
          WHERE mon < hi
        ),
        monthly AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
                 COUNT(*) AS n,
                 SUM(o_totalprice) AS tp
          FROM orders GROUP BY 1
        )
        SELECT
          date_format(s.mon, 'yyyy-MM') AS mon_str,
          CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders,
          ROUND(CAST(COALESCE(m.tp, 0) AS DOUBLE), 2) AS total_price
        FROM spine s LEFT JOIN monthly m ON s.mon = m.mon
        """
    )


# Rank error for percentile_approx at accuracy=100 (eps = 1/accuracy).
_PCT_EPS = 0.01


@query(
    "agg_approx_percentile_bounds",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
      ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
      TRUE AS p50_in_bounds,
      TRUE AS p90_in_bounds
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quantiles with a rank-error contract (§2.4 A4's quantile twin).

    ``percentile_approx`` guarantees rank error <= 1/accuracy, so the
    estimate at percentile p must land between the EXACT percentiles at
    p-eps and p+eps. Like the HLL rollup above, the oracle hash-binds
    the exact values and asserts the bound both engines can state. At
    100 TB the approx sketch is a fixed-size mergeable summary per
    group; the exact interpolated percentile needs a full sort.
    """
    li = load_table(spark, "lineitem", sf_dir)
    px = F.col("l_extendedprice")

    def bounded(p: float, name: str):
        approx = F.percentile_approx(px, F.lit(p), F.lit(int(1 / _PCT_EPS)))
        lo = F.percentile(px, F.lit(max(p - _PCT_EPS, 0.0)))
        hi = F.percentile(px, F.lit(min(p + _PCT_EPS, 1.0)))
        return ((approx >= lo) & (approx <= hi)).alias(name)

    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(px, F.lit(0.5)), 4).alias("exact_p50"),
        F.round(F.percentile(px, F.lit(0.9)), 4).alias("exact_p90"),
        bounded(0.5, "p50_in_bounds"),
        bounded(0.9, "p90_in_bounds"),
    )


# Count-min sketch geometry: 3 rows x 256 buckets, hashed from the
# portable 2-hex-digit md5 prefix of salt || word (functions/hashing.py).
_CMS_DEPTH = 3
_CMS_WIDTH = 256


def _cms_bucket_spark(word, salt: int):
    return md5_prefix(F.concat(F.lit(f"{salt}:"), word), 2).cast("int")


def cms_cells(df: DataFrame) -> DataFrame:
    """``df``'s rows once per sketch depth, each with that depth's
    ``(salt, bucket)`` cell of its ``word`` column.

    One in-array explode, not a 3-way union: a union would clone the
    input subtree and triple its shuffle, while with explode two
    consumers of the same input share one Exchange via ReusedExchange.
    """
    return df.select(
        *df.columns,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(salt).alias("salt"),
                        _cms_bucket_spark(F.col("word"), salt).alias("bucket"),
                    )
                    for salt in range(_CMS_DEPTH)
                ]
            )
        ).alias("sb"),
    ).select(*df.columns, "sb.salt", "sb.bucket")


def _cms_bucket_sql(salt: int, word: str = "word") -> str:
    return "(" + sql_md5_prefix(f"'{salt}:' || {word}", 2) + ")"


@query(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH words AS (
      SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM words WHERE word <> '' GROUP BY word
    ),
    buckets AS (
      SELECT d.salt,
             CASE d.salt
               WHEN 0 THEN {_cms_bucket_sql(0)}
               WHEN 1 THEN {_cms_bucket_sql(1)}
               ELSE {_cms_bucket_sql(2)}
             END AS bucket,
             CAST(SUM(exact_cnt) AS BIGINT) AS total
      FROM counts, (SELECT UNNEST([0, 1, 2]) AS salt) d
      GROUP BY 1, 2
    ),
    top20 AS (
      SELECT word, exact_cnt FROM counts
      ORDER BY exact_cnt DESC, word LIMIT 20
    )
    SELECT t.word, t.exact_cnt,
           MIN(b.total) AS cms_estimate,
           MIN(b.total) - t.exact_cnt AS overestimate
    FROM top20 t
    JOIN buckets b
      ON b.bucket = CASE b.salt
                      WHEN 0 THEN {_cms_bucket_sql(0, "t.word")}
                      WHEN 1 THEN {_cms_bucket_sql(1, "t.word")}
                      ELSE {_cms_bucket_sql(2, "t.word")}
                    END
    GROUP BY t.word, t.exact_cnt
    """,
)
def q_sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: point estimates for the exact top-20 words.

    The sketch is 3x256 counters built from word counts in one extra
    (tiny) shuffle: word counts explode to 3 (salt, bucket) cells and
    re-aggregate — the sketch table is 768 rows regardless of corpus
    size, which is the whole point: at 100 TB the sketch is the only
    state that must fit anywhere, and sketches from different shards
    merge by cell-wise addition (same mergeability story as
    ``agg_hll_mergeable_rollup``). Estimates are min-over-rows; the
    CMS guarantee (estimate >= exact) surfaces as a non-negative
    ``overestimate`` column. Hashes derive from md5 hex digits so
    DuckDB rebuilds the identical sketch.
    """
    d = load_table(spark, "documents", sf_dir)
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))

    sketch = (
        cms_cells(counts)
        .groupBy("salt", "bucket")
        .agg(F.sum("exact_cnt").alias("total"))
    )
    top20 = counts.orderBy(F.col("exact_cnt").desc(), "word").limit(20)
    joined = cms_cells(top20).join(F.broadcast(sketch), ["salt", "bucket"])
    return joined.groupBy("word", "exact_cnt").agg(
        F.min("total").alias("cms_estimate"),
        (F.min("total") - F.col("exact_cnt")).alias("overestimate"),
    )


_WAU_DAYS = 7


@query(
    "rolling_wau_hll",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT
      d.day,
      CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_wau,
      TRUE AS within_tol
    FROM days d JOIN ud u
      ON u.day BETWEEN d.day - {_WAU_DAYS - 1} AND d.day
    GROUP BY d.day
    """,
)
def q_rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users via merged daily HLL sketches — the
    100 TB companion to ``analytics.py::rolling_wau_7d``.

    The exact rewrite fans every (user, day) out ×7; at lake scale the
    standing design is ONE daily sketch table (KBs/day) whose sketches
    are re-merged into any trailing window without touching the fact
    table again — each report day unions its 7 daily sketches. Same
    tolerance contract as ``agg_hll_mergeable_rollup``: both engines
    hash-compare the EXACT rolling count; the query additionally
    asserts the merged estimate lands within 3-sigma.
    """
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    daily_sk = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # observed-day spine comes from the (already aggregated, tiny)
    # sketch table — no extra pass or shuffle over the fact rows
    days = daily_sk.select("day")
    contrib = daily_sk.select(
        "sk",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), _WAU_DAYS - 1))
        ).alias("rday"),
    )
    approx = (
        contrib.join(days.withColumnRenamed("day", "rday"), "rday", "left_semi")
        .groupBy("rday")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_wau"))
    )
    exact = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), _WAU_DAYS - 1))
            ).alias("rday"),
        )
        .join(days.withColumnRenamed("day", "rday"), "rday", "left_semi")
        .groupBy("rday")
        .agg(F.countDistinct("user_id").alias("exact_wau"))
    )
    return exact.join(approx, "rday").select(
        F.col("rday").alias("day"),
        "exact_wau",
        (
            F.abs(F.col("approx_wau") - F.col("exact_wau")) / F.col("exact_wau")
            <= _HLL_TOL
        ).alias("within_tol"),
    )


@query(
    "agg_hist_quantile_rollup",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
      ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
      TRUE AS p50_within_2x,
      TRUE AS p95_within_2x
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_hist_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log2-histogram quantile sketch, rolled up from daily
    grain — the quantile sibling of ``agg_hll_mergeable_rollup``.

    The bucket layout (floor(log2(price))) is DATA-INDEPENDENT, which
    is what makes the sketch mergeable: per-(flag, ship-day) bucket
    counts are computed once, and any coarser grain (here: flag) is a
    plain SUM of counts — no rescan of the fact table, ever. The
    quantile estimate reads the merged cumulative histogram (first
    bucket where cum >= q·total, midpoint 1.5·2^b), guaranteed within
    a factor 2 of the true quantile by construction.

    Oracle contract mirrors the HLL rollup: both engines hash-compare
    the EXACT interpolated percentiles, and the query asserts the
    sketch estimate lands within its 2x band (TRUE columns). At
    100 TB you materialize the daily bucket table (≤ ~64 rows per
    group per day) and answer any-grain percentile queries from it.
    """
    li = load_table(spark, "lineitem", sf_dir)
    bucket = F.floor(F.log2("l_extendedprice")).cast("int")
    daily = li.groupBy(
        "l_returnflag", "l_shipdate", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = daily.groupBy("l_returnflag", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    from pyspark.sql import Window

    by_bucket = Window.partitionBy("l_returnflag").orderBy("bucket")
    cum = merged.select(
        "l_returnflag",
        "bucket",
        F.sum("cnt")
        .over(by_bucket.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("total"),
    )

    def est(q: float):
        return F.pow(
            F.lit(2.0),
            F.min(
                F.when(
                    F.col("cum") >= F.lit(q) * F.col("total"), F.col("bucket")
                )
            ).cast("double"),
        ) * 1.5

    sketch = cum.groupBy("l_returnflag").agg(
        est(0.5).alias("est_p50"), est(0.95).alias("est_p95")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias(
            "exact_p50"
        ),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias(
            "exact_p95"
        ),
    )
    within = lambda e, x: (F.col(e) / F.col(x) >= 0.5) & (  # noqa: E731
        F.col(e) / F.col(x) <= 2.0
    )
    return exact.join(sketch, "l_returnflag").select(
        "l_returnflag",
        "exact_p50",
        "exact_p95",
        within("est_p50", "exact_p50").alias("p50_within_2x"),
        within("est_p95", "exact_p95").alias("p95_within_2x"),
    )


# k-minimum-values (KMV) distinct sketch (Bar-Yossef et al. 2002;
# the Theta-sketch family's simplest member). Unlike the HLL rollup
# above, the whole sketch is PORTABLE integer math over a portable
# hash, so the estimate itself — not just the exact count — is
# value-exact against the SQL oracle.
from pyspark.sql.window import Window

_KMV_K = 64
_KMV_SPACE = 1 << 32  # md5_32 hash space


@query(
    "sketch_kmv_distinct_rollup",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT
        event_type,
        CAST(ts AS DATE) AS d,
        CAST(({sql_md5_prefix("CAST(user_id AS VARCHAR)")}) AS BIGINT) AS hv
      FROM events
    ),
    daily AS (
      SELECT event_type, d, hv
      FROM h
      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, d ORDER BY hv) <= {_KMV_K}
    ),
    merged AS (
      SELECT event_type, hv
      FROM (SELECT DISTINCT event_type, hv FROM daily)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) <= {_KMV_K}
    ),
    sk AS (
      SELECT event_type, COUNT(*) AS n_held, MAX(hv) AS kth
      FROM merged GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    )
    SELECT
      e.event_type,
      CAST(e.exact_users AS BIGINT) AS exact_users,
      CAST(CASE WHEN s.n_held < {_KMV_K} THEN s.n_held
                ELSE ({_KMV_K} - 1) * {_KMV_SPACE} // GREATEST(s.kth, 1)
           END AS BIGINT) AS kmv_users,
      CAST(ABS(CASE WHEN s.n_held < {_KMV_K} THEN s.n_held
                    ELSE ({_KMV_K} - 1) * {_KMV_SPACE} // GREATEST(s.kth, 1)
               END - e.exact_users) * 10000 // e.exact_users
           AS BIGINT) AS err_bp
    FROM exact e JOIN sk s USING (event_type)
    ORDER BY event_type
    """,
)
def q_sketch_kmv_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable k-minimum-values distinct sketch: daily per-type
    sketches (the k smallest distinct 32-bit hashes of user_id) merged
    up to event_type, with the classic estimator
    ``(k-1) * |hash space| / kth_min`` — all integer arithmetic over
    the portable md5_32 hash, so the ESTIMATE is value-exact across
    engines, unlike opaque binary sketches.

    Merge correctness (why the rollup never rescans facts): the k
    smallest of a union equal the k smallest of the union of each
    part's k smallest — so the KB-sized daily sketch table answers any
    coarser grain. When the merged sketch holds fewer than k values,
    every day held fewer than k, the union IS the full distinct hash
    set, and the sketch degrades gracefully to the exact count.

    Scale: one distinct shuffle on (type, day, hash); the per-day
    k-min is a bounded window (top-k rows per group, map-side
    prunable); everything after operates on <= k rows per (type, day)
    — the 100 TB pattern is materializing that daily sketch table once
    and folding it at query time. The exact count here exists only to
    report the sketch's realized error.
    """
    ev = load_table(spark, "events", sf_dir)
    hv = md5_prefix(F.col("user_id").cast("string"))
    h = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        hv.alias("hv"),
    ).distinct()
    w_day = Window.partitionBy("event_type", "d").orderBy("hv")
    daily = h.withColumn("rn", F.row_number().over(w_day)).filter(
        F.col("rn") <= _KMV_K
    )
    w_type = Window.partitionBy("event_type").orderBy("hv")
    merged = (
        daily.select("event_type", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(w_type))
        .filter(F.col("rn") <= _KMV_K)
    )
    sk = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_held"), F.max("hv").alias("kth")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    est = _kmv_estimate(F.col("n_held"), F.col("kth"))
    return (
        exact.join(sk, "event_type")
        .select(
            "event_type",
            "exact_users",
            est.cast("long").alias("kmv_users"),
            F.floor(
                F.abs(est - F.col("exact_users"))
                * 10000
                / F.col("exact_users")
            )
            .cast("long")
            .alias("err_bp"),
        )
        .orderBy("event_type")
    )


_KMV_KEY_SQL = sql_md5_prefix(
    "(CAST(user_id AS VARCHAR) || '_' || CAST(CAST(ts AS DATE) AS VARCHAR))"
)


@query(
    "sketch_kmv_set_overlap",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(({_KMV_KEY_SQL}) AS BIGINT) AS hv
      FROM events
    ),
    km AS (
      SELECT event_type, hv FROM h
      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) <= {_KMV_K}
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM h) a
      JOIN (SELECT DISTINCT event_type FROM h) b ON a.event_type < b.event_type
    ),
    uk AS (
      SELECT type_a, type_b, hv FROM (
        SELECT DISTINCT p.type_a, p.type_b, k.hv
        FROM pairs p JOIN km k
          ON k.event_type = p.type_a OR k.event_type = p.type_b
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY hv) <= {_KMV_K}
    ),
    usk AS (
      SELECT u.type_a, u.type_b,
             COUNT(*) AS n_u, MAX(u.hv) AS el,
             COUNT(ka.hv) FILTER (WHERE kb.hv IS NOT NULL) AS matches
      FROM uk u
      LEFT JOIN km ka ON ka.event_type = u.type_a AND ka.hv = u.hv
      LEFT JOIN km kb ON kb.event_type = u.type_b AND kb.hv = u.hv
      GROUP BY u.type_a, u.type_b
    ),
    exact AS (
      SELECT p.type_a, p.type_b, COUNT(*) AS exact_overlap
      FROM pairs p
      JOIN h a ON a.event_type = p.type_a
      JOIN h b ON b.event_type = p.type_b AND b.hv = a.hv
      GROUP BY p.type_a, p.type_b
    )
    SELECT
      e.type_a, e.type_b,
      CAST(e.exact_overlap AS BIGINT) AS exact_overlap,
      CAST(CASE WHEN s.n_u < {_KMV_K} THEN s.matches
                ELSE s.matches * (({_KMV_K} - 1) * {_KMV_SPACE} // GREATEST(s.el, 1)) // {_KMV_K}
           END AS BIGINT) AS kmv_overlap,
      CAST(ABS(CASE WHEN s.n_u < {_KMV_K} THEN s.matches
                    ELSE s.matches * (({_KMV_K} - 1) * {_KMV_SPACE} // GREATEST(s.el, 1)) // {_KMV_K}
               END - e.exact_overlap) * 10000 // GREATEST(e.exact_overlap, 1)
           AS BIGINT) AS err_bp
    FROM exact e JOIN usk s USING (type_a, type_b)
    ORDER BY type_a, type_b
    """,
)
def q_sketch_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET INTERSECTION on KMV sketches: for every
    unordered pair of event types, estimate the overlap of their
    distinct (user, day) activity sets FROM THE SKETCHES ALONE —
    union the two k-min sets, re-take the k smallest, count how many
    of those appear in both sides, and scale: the k union minima are
    a uniform sample of the union, so
    ``overlap ~= matches / k * U_kmv`` (Beyer et al. 2007), all in
    portable integer math so the estimate is value-exact vs the SQL
    oracle. Below k the union sketch IS the union and the estimate
    collapses to the exact overlap.

    Engine plan: one distinct shuffle of the fact table builds the
    per-type hash sets; the k-min sketch table is <= |types| * k rows
    (KB-sized forever after), so pair enumeration, union re-min and
    membership probes are all broadcast-side work. The exact overlap
    (reported to measure realized error) is the only other fact-scale
    pass — at 100 TB you'd ship ONLY the sketch table and skip it;
    the sketches themselves answer any pair, which is the point of
    sketch set algebra (|A u B| and |A n B| for 10 pairs from 320
    retained hashes, no second scan).
    """
    ev = load_table(spark, "events", sf_dir)
    key = F.concat_ws(
        "_", F.col("user_id").cast("string"), F.col("ts").cast("date").cast("string")
    )
    h = ev.select(
        "event_type", md5_prefix(key).alias("hv")
    ).distinct()
    # two-phase salted k-min (see _kmv_salted_kmin): the oracle takes
    # the per-type k-min directly and sees identical sketches.
    # NOTE (round 11, re-tested round 12): the sketch table is consumed
    # 4x and each lazy consumer re-runs the whole 3-exchange k-min from
    # its own fact scan — but pinning it (localCheckpoint on km, or on
    # km AND h) was tried and REVERTED: the synchronous materialization
    # serializes work the scheduler otherwise overlaps across idle
    # cores, measured 1.66 s -> 2.74 s (km) / 2.33 s (km+h) at sf0.1,
    # and the verdict-ordered re-test at the 10x fixture (10M events)
    # confirms it: lazy 1.67 s vs 2.58 s (km) / 1.94 s (km+h) minima —
    # the overlap still wins where the fact is 10x bigger. At lake
    # scale the sketch build is the persisted intermediate and the
    # exact census is skipped entirely (see docstring), so the
    # redundant-scan exposure is a fixture-only artifact.
    km = _kmv_salted_kmin(h)
    types = h.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    # union k-mins per pair: each pair pulls both sides' sketch rows.
    # Two broadcast-hash equi-joins unioned — never an OR-condition
    # nested-loop join.
    km_a = km.select(F.col("event_type").alias("type_a"), "hv")
    km_b = km.select(F.col("event_type").alias("type_b"), "hv")
    both = (
        pairs.join(F.broadcast(km_a), "type_a")
        .select("type_a", "type_b", "hv")
        .unionByName(
            pairs.join(F.broadcast(km_b), "type_b").select(
                "type_a", "type_b", "hv"
            )
        )
        .distinct()
    )
    w_p = Window.partitionBy("type_a", "type_b").orderBy("hv")
    uk = (
        both.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    ka = km.select(
        F.col("event_type").alias("ka_t"), F.col("hv").alias("ka_hv")
    )
    kb = km.select(
        F.col("event_type").alias("kb_t"), F.col("hv").alias("kb_hv")
    )
    usk = (
        uk.join(
            F.broadcast(ka),
            (F.col("ka_t") == F.col("type_a")) & (F.col("ka_hv") == F.col("hv")),
            "left",
        )
        .join(
            F.broadcast(kb),
            (F.col("kb_t") == F.col("type_b")) & (F.col("kb_hv") == F.col("hv")),
            "left",
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_u"),
            F.max("hv").alias("el"),
            F.count(
                F.when(
                    F.col("ka_hv").isNotNull() & F.col("kb_hv").isNotNull(), 1
                )
            ).alias("matches"),
        )
    )
    # exact overlap via ONE hv-keyed aggregation — see _hv_pair_census
    # (every pair here has overlap >= 1 by construction of the inner
    # join below; the oracle's exact CTE likewise only emits pairs
    # with at least one shared hash)
    exact = _hv_pair_census(h).select(
        "type_a",
        "type_b",
        F.col("overlap").cast("long").alias("exact_overlap"),
    )
    u_est = F.floor(
        F.lit((_KMV_K - 1) * _KMV_SPACE) / F.greatest(F.col("el"), F.lit(1))
    )
    est = F.when(F.col("n_u") < _KMV_K, F.col("matches")).otherwise(
        F.floor(F.col("matches") * u_est / F.lit(_KMV_K))
    )
    return (
        exact.join(usk, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_overlap",
            est.cast("long").alias("kmv_overlap"),
            F.floor(
                F.abs(est - F.col("exact_overlap"))
                * 10000
                / F.greatest(F.col("exact_overlap"), F.lit(1))
            )
            .cast("long")
            .alias("err_bp"),
        )
        .orderBy("type_a", "type_b")
    )


def _kmv_salted_kmin(h: DataFrame) -> DataFrame:
    """Per-type k-min over (event_type, hv) via salted two-phase
    windows — no per-type window ever sees more than 64*k rows in its
    final pass (the k smallest overall are each among the k smallest
    of their own salt bucket, so the merge is exact)."""
    w_s = Window.partitionBy("event_type", "salt").orderBy("hv")
    partial = (
        h.withColumn("salt", F.pmod(F.col("hv"), F.lit(64)))
        .withColumn("rn", F.row_number().over(w_s))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "hv")
    )
    w_t = Window.partitionBy("event_type").orderBy("hv")
    return (
        partial.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )


def _hv_pair_census(h: DataFrame) -> DataFrame:
    """Exact per-type-pair overlap census via ONE hv-keyed aggregation
    (round 11, guide §2.3 "aggregate before you shuffle"; shared by
    ``sketch_kmv_set_overlap`` and ``sketch_theta_difference`` so the
    documented equivalence stays in lockstep): group the distinct
    (event_type, hv) relation by hv, collect the (<= |types|, bounded)
    type set holding that hash, and expand its ordered pairs in-array —
    each shared hv contributes exactly one row per unordered type pair,
    so the per-pair count IS |A ∩ B|. Replaces the pre-r11 form that
    fanned h out |types|-1 ways against the pair table and hash-joined
    it against h AGAIN on (type, hv) — two fact-scale exchanges plus
    the replicated join stream; this is one exchange of (hv, type-set)
    rows and the pair math never leaves the aggregate output. Same
    (type_a < type_b) orientation as the oracles: the set is sorted,
    pairs expand rare-side-first exactly like the oracle's a < b.

    Returns (type_a, type_b, overlap) — only pairs with overlap >= 1
    appear; zero-overlap pairs must be re-introduced by the caller
    (left join + coalesce) where required.
    """
    type_sets = h.groupBy("hv").agg(
        F.array_sort(F.collect_set("event_type")).alias("ts")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ts"),
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size("ts")),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    return (
        type_sets.select(F.explode(pair_arr).alias("p"))
        .groupBy(
            F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("overlap"))
    )


def _kmv_estimate(n_col, kth_col):
    """The KMV estimator in portable integer math: exact below k,
    (k-1) * space / kth_min at or above."""
    return F.when(n_col < _KMV_K, n_col).otherwise(
        F.floor(
            F.lit((_KMV_K - 1) * _KMV_SPACE) / F.greatest(kth_col, F.lit(1))
        )
    )


_KMV_EST_SQL = (
    "CASE WHEN {n} < %(k)d THEN {n} "
    "ELSE (%(k)d - 1) * %(space)d // GREATEST({kth}, 1) END"
    % {"k": _KMV_K, "space": _KMV_SPACE}
)


@query(
    "sketch_theta_difference",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(({_KMV_KEY_SQL}) AS BIGINT) AS hv
      FROM events
    ),
    km AS (
      SELECT event_type, hv FROM h
      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) <= {_KMV_K}
    ),
    per_type AS (
      SELECT event_type, COUNT(*) AS n_held, MAX(hv) AS kth
      FROM km GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM h) a
      JOIN (SELECT DISTINCT event_type FROM h) b ON a.event_type < b.event_type
    ),
    uk AS (
      SELECT type_a, type_b, hv FROM (
        SELECT DISTINCT p.type_a, p.type_b, k.hv
        FROM pairs p JOIN km k
          ON k.event_type = p.type_a OR k.event_type = p.type_b
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY hv) <= {_KMV_K}
    ),
    usk AS (
      SELECT type_a, type_b, COUNT(*) AS n_u, MAX(hv) AS el
      FROM uk GROUP BY type_a, type_b
    ),
    est AS (
      SELECT
        u.type_a, u.type_b,
        {_KMV_EST_SQL.format(n="pa.n_held", kth="pa.kth")} AS u_a,
        {_KMV_EST_SQL.format(n="pb.n_held", kth="pb.kth")} AS u_b,
        {_KMV_EST_SQL.format(n="u.n_u", kth="u.el")} AS u_union
      FROM usk u
      JOIN per_type pa ON pa.event_type = u.type_a
      JOIN per_type pb ON pb.event_type = u.type_b
    ),
    exact AS (
      SELECT p.type_a, p.type_b,
             COUNT(*) FILTER (WHERE b.hv IS NULL) AS only_a,
             COUNT(*) FILTER (WHERE b.hv IS NOT NULL) AS inter_n
      FROM pairs p
      JOIN h a ON a.event_type = p.type_a
      LEFT JOIN h b ON b.event_type = p.type_b AND b.hv = a.hv
      GROUP BY p.type_a, p.type_b
    )
    SELECT
      e.type_a, e.type_b,
      CAST(x.only_a AS BIGINT) AS exact_only_a,
      CAST(GREATEST(e.u_a - GREATEST(e.u_a + e.u_b - e.u_union, 0), 0)
           AS BIGINT) AS est_only_a,
      CAST(ABS(GREATEST(e.u_a - GREATEST(e.u_a + e.u_b - e.u_union, 0), 0)
               - x.only_a) * 10000 // GREATEST(x.only_a, 1)
           AS BIGINT) AS err_bp
    FROM est e JOIN exact x USING (type_a, type_b)
    ORDER BY type_a, type_b
    """,
)
def q_sketch_theta_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET DIFFERENCE (A-NOT-B) on KMV sketches: for each
    event-type pair, estimate |A \\ B| from the sketches alone by
    inclusion-exclusion — |A n B| ~= u(A) + u(B) - u(A u B) from the
    three KMV estimates (the union sketch re-mins the two k-min sets),
    then |A \\ B| ~= u(A) - |A n B|, clamped at 0. This is the other
    half of sketch set algebra next to ``sketch_kmv_set_overlap``'s
    matches-based intersection: A-NOT-B is how audience/segment
    engines (Druid/Pinot theta sketches) answer "active on X but never
    on Y" without a second fact scan. Integer math end-to-end, so the
    estimate is value-exact vs the SQL oracle; the exact difference is
    computed only to report realized error.

    Scale: the sketch-feed distinct and the exact-error pass are the
    two declared fact-scale passes (the latter absent in production);
    the salted two-phase k-min bounds every window; all pair algebra
    runs on <=|types|*k sketch rows.
    """
    ev = load_table(spark, "events", sf_dir)
    key = F.concat_ws(
        "_", F.col("user_id").cast("string"), F.col("ts").cast("date").cast("string")
    )
    h = ev.select("event_type", md5_prefix(key).alias("hv")).distinct()
    km = _kmv_salted_kmin(h)
    per_type = km.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_held"), F.max("hv").alias("kth")
    )
    types = h.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    km_a = km.select(F.col("event_type").alias("type_a"), "hv")
    km_b = km.select(F.col("event_type").alias("type_b"), "hv")
    both = (
        pairs.join(F.broadcast(km_a), "type_a")
        .select("type_a", "type_b", "hv")
        .unionByName(
            pairs.join(F.broadcast(km_b), "type_b").select(
                "type_a", "type_b", "hv"
            )
        )
        .distinct()
    )
    w_p = Window.partitionBy("type_a", "type_b").orderBy("hv")
    usk = (
        both.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_u"), F.max("hv").alias("el"))
    )
    pa = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("n_held").alias("na"),
        F.col("kth").alias("ka"),
    )
    pb = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("n_held").alias("nb"),
        F.col("kth").alias("kb"),
    )
    est = (
        usk.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .select(
            "type_a",
            "type_b",
            _kmv_estimate(F.col("na"), F.col("ka")).alias("u_a"),
            _kmv_estimate(F.col("nb"), F.col("kb")).alias("u_b"),
            _kmv_estimate(F.col("n_u"), F.col("el")).alias("u_union"),
        )
    )
    # exact A-NOT-B via the integer identity |A \ B| = |A| - |A n B|
    # (round 11, guide §2.3): a type-keyed count of A plus the shared
    # hv-keyed overlap census (_hv_pair_census) replace the previous
    # pair-replicated fact join + per-hv LEFT membership probe: one
    # exchange of (hv, type-set) rows instead of two fact-scale joins
    # of the distinct relation. The left join + coalesce(0) below
    # re-introduces zero-overlap pairs the census cannot emit.
    counts_a = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_a"))
    overlap = _hv_pair_census(h).select(
        "type_a", "type_b", F.col("overlap").alias("c")
    )
    exact = (
        pairs.join(
            F.broadcast(
                counts_a.select(F.col("event_type").alias("type_a"), "n_a")
            ),
            "type_a",
        )
        .join(overlap, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            (F.col("n_a") - F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("only_a"),
        )
    )
    inter = F.greatest(
        F.col("u_a") + F.col("u_b") - F.col("u_union"), F.lit(0)
    )
    diff_est = F.greatest(F.col("u_a") - inter, F.lit(0))
    return (
        est.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("only_a").alias("exact_only_a"),
            diff_est.cast("long").alias("est_only_a"),
            F.floor(
                F.abs(diff_est - F.col("only_a"))
                * 10000
                / F.greatest(F.col("only_a"), F.lit(1))
            )
            .cast("long")
            .alias("err_bp"),
        )
        .orderBy("type_a", "type_b")
    )
