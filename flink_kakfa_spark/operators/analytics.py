"""Product/behavioral analytics over the event stream and order history
(Tier C extension; round 5).

The reference's consumer terminates at a log line per message
(``go/consumer/consumer.go:79-81``); these are the standing reports a
team with that event stream actually ships: cohort retention, revenue
growth, behavioral transition matrices, BM25 retrieval over the
document corpus, skew-hardened fact-to-dim joins, and smoothed
time-series views.

Scale posture (100 TB of events / documents):

- every query shuffles the fact table at most once (on ``user_id`` or
  ``doc_id``); all second-stage relations are per-cohort / per-month /
  per-type aggregates that are KB-sized at any corpus size;
- global scalars (corpus size, average document length) attach as
  broadcast 1-row frames — the same lazy pattern as
  ``prep.py::text_unigram_surprisal`` — never as driver-side
  ``collect``;
- the EWMA uses alpha = 0.5 so every smoothing weight is a power of
  two: scaling by 2**i is exact in IEEE-754, which keeps the recursive
  smoother bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table


@query(
    "cohort_weekly_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT
        e.user_id,
        fs.cohort_week,
        CAST(date_trunc('week', e.ts) AS DATE) AS act_week
      FROM events e JOIN first_seen fs ON e.user_id = fs.user_id
      WHERE CAST(date_trunc('week', e.ts) AS DATE) >= fs.cohort_week
    ),
    counts AS (
      SELECT
        cohort_week,
        CAST(datediff('day', cohort_week, act_week) / 7 AS INTEGER) AS week_offset,
        CAST(COUNT(*) AS BIGINT) AS n_active
      FROM activity GROUP BY 1, 2
    )
    SELECT
      cohort_week, week_offset, n_active,
      CAST(n_active AS DOUBLE)
        / MAX(CASE WHEN week_offset = 0 THEN n_active END)
            OVER (PARTITION BY cohort_week) AS retention
    FROM counts
    """,
)
def q_cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly signup-cohort retention matrix.

    Users are assigned to the ISO week of their first ``signup``; each
    later week in which the user produced ANY event marks them active
    for that (cohort, offset) cell. ``retention`` is the cell count
    over the cohort's week-0 size (week 0 always contains the signup
    itself, so offset 0 is the cohort census).

    Scale: one shuffle of the fact table on ``user_id`` (the
    first-signup aggregate and the activity join share the hash
    partitioning); the distinct and the cell counts run over
    (user, week) pairs — ~1/1000th of event volume — and the
    retention window runs over the cohort × offset grid, which is
    KB-sized forever.
    """
    ev = load_table(spark, "events", sf_dir)
    week = lambda c: F.to_date(F.date_trunc("week", c))  # noqa: E731
    first_seen = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(week(F.min("ts")).alias("cohort_week"))
    )
    activity = (
        ev.select("user_id", week(F.col("ts")).alias("act_week"))
        .join(first_seen, "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .select("user_id", "cohort_week", "act_week")
        .distinct()
    )
    counts = activity.groupBy(
        "cohort_week",
        (F.datediff("act_week", "cohort_week") / 7).cast("int").alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    w0 = Window.partitionBy("cohort_week")
    base = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w0)
    return counts.select(
        "cohort_week",
        "week_offset",
        "n_active",
        (F.col("n_active").cast("double") / base).alias("retention"),
    )


@query(
    "growth_mom_revenue",
    oracle="""
    WITH m AS (
      SELECT
        CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    )
    SELECT
      month,
      rev AS revenue,
      rev - LAG(rev) OVER (ORDER BY month) AS delta,
      (rev - LAG(rev) OVER (ORDER BY month))
        / LAG(rev) OVER (ORDER BY month) AS mom_pct
    FROM m
    """,
)
def q_growth_mom_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth (absolute and percent).

    The monthly rollup is the only fact-sized shuffle (partial
    map-side sums over a decimal cast, so the totals are
    order-insensitive). The ``lag`` runs over the month spine — ~12
    rows per year of history regardless of corpus size — so the
    unpartitioned window's single-partition exchange moves a
    KB-sized relation, the same justified shape as
    ``corpus.py::_mixture_rates``. First month reports NULL deltas.
    """
    o = load_table(spark, "orders", sf_dir)
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("rev"))
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        F.col("rev").alias("revenue"),
        (F.col("rev") - prev).alias("delta"),
        ((F.col("rev") - prev) / prev).alias("mom_pct"),
    )


@query(
    "markov_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT
        event_type AS from_type,
        LEAD(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT
      from_type, to_type, n,
      CAST(n AS DOUBLE)
        / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
    FROM pairs
    """,
)
def q_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams.

    P(next = to | current = from), estimated from adjacent event pairs
    within each user's timeline. The session-modeling workhorse:
    navigation models, next-action prediction baselines, anomaly
    scores for improbable transitions.

    Scale: one ``lead`` window over ``partitionBy(user_id)`` — a
    single exchange of the fact table, reusing the same hash
    partitioning every behavioral query here uses. The pair counts
    and the row-normalizing window run over the |event_type|² grid
    (25 cells here; bounded by the type vocabulary, not the data).
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wf)).alias("p"),
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("window", "merge", "scan")
_BM25_TOPK = 10


def _bm25_oracle() -> str:
    tf_cols = ",\n        ".join(
        f"CAST(SUM(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n        ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score_terms = "\n        + ".join(
        f"LN(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * ({_BM25_K1} + 1))"
        f" / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
      SELECT
        doc_id,
        CAST(COUNT(*) AS BIGINT) AS dl,
        {tf_cols}
      FROM tok WHERE w <> '' GROUP BY doc_id
    ),
    stats AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        AVG(CAST(dl AS DOUBLE)) AS avgdl,
        {df_cols}
      FROM per_doc
    ),
    scored AS (
      SELECT
        doc_id,
        {score_terms} AS score
      FROM per_doc, stats
      WHERE tf0 + tf1 + tf2 > 0
    )
    SELECT doc_id, ROUND(score, 4) AS score
    FROM scored ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """


@query("rag_bm25_topk", oracle=_bm25_oracle())
def q_rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-k documents for the fixed query
    {'window', 'merge', 'scan'} (k1 = 1.2, b = 0.75).

    The lexical half of a RAG retrieval stack (the dense half is the
    ``sim_*`` family). idf uses the Lucene-style
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` form — always positive, so
    stopword-frequency terms can't flip scores negative.

    Scale: the corpus is tokenized ONCE; per-doc term frequencies and
    document length come from one ``groupBy(doc_id)`` (conditional
    sums — no per-term passes). Corpus stats (N, avgdl, per-term df)
    reduce to a 1-row frame that attaches as a broadcast nested-loop
    join (the lazy scalar-attach pattern), and the final top-k is a
    ``TakeOrderedAndProject`` — no global sort. Docs containing no
    query term are filtered before scoring, so the scored relation is
    df-sized, not corpus-sized.
    """
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    tf_aggs = [
        F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"), *tf_aggs
    )
    df_aggs = [
        F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
        for i in range(len(_BM25_TERMS))
    ]
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *df_aggs,
    )
    hit = sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS)))
    scored = per_doc.crossJoin(F.broadcast(stats)).filter(hit > 0)
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            1 + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        part = (
            idf
            * (F.col(f"tf{i}") * (_BM25_K1 + 1))
            / (
                F.col(f"tf{i}")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    return (
        scored.select("doc_id", score.alias("raw"))
        .orderBy(F.col("raw").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select("doc_id", F.round("raw", 4).alias("score"))
    )


@query(
    "join_salted_skew_revenue",
    oracle="""
    SELECT
      o.o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_items,
      ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_salted_skew_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority through the salt-split fact-to-dim join.

    The skew-hardened twin of ``join_inner_revenue``: the fact side
    (lineitem) is salted 8 ways and the dim side (orders) replicated
    per salt, so a pathological hot key spreads over 8 reducers
    instead of one (``functions/skew.py::salted_join``). The oracle is
    the PLAIN join-aggregate — salting must be invisible in the
    result. At local test scale AQE may still broadcast the dim side
    (which also defeats skew); the salted plan is the explicit form
    for dims too large to broadcast with AQE disabled.
    """
    from flink_kakfa_spark.functions.skew import salted_join

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8)
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(rev.cast("double"), 2).alias("revenue"),
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT
      o_orderkey,
      o_custkey,
      first_value(o_totalprice) OVER w AS first_price,
      last_value(o_totalprice) OVER w AS last_price,
      nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family completion: first_value / last_value / nth_value.

    Each order row carries its customer's first, latest, and second
    order price (date order, orderkey tie-break). The frame is pinned
    to the full partition explicitly — ``last_value`` under the
    default frame (CURRENT ROW upper bound) is the classic silent-bug;
    both engines get the identical frame spec. One exchange on
    ``o_custkey``.
    """
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


# EWMA with alpha = 0.5: the weight ratio r = 1/(1-alpha) = 2, so every
# smoothing weight is an exact power of two and the normalized form
#   ewma_t = SUM_{i<=t} x_i * 2^i / SUM_{i<=t} 2^i
# (the common (1-alpha)^t factor cancels) is bit-deterministic: scaling
# a double by 2^i is exact, and the cumulative window sums evaluate in
# the same row order in both engines.
_EWMA_R = 2


@query(
    "ts_ewma_event_value",
    oracle=f"""
    WITH daily AS (
      SELECT
        event_type,
        CAST(ts AS DATE) AS day,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    )
    SELECT
      event_type, day,
      x AS daily_mean,
      SUM(x * POWER({_EWMA_R}, i)) OVER w / SUM(POWER({_EWMA_R}, i)) OVER w
        AS ewma
    FROM seq
    WINDOW w AS (PARTITION BY event_type ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_ts_ewma_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.5) of the daily
    mean event value, per event type.

    The EWMA recurrence is order-dependent and so normally
    oracle-hostile; rewriting it as a ratio of two cumulative
    power-weighted sums (weights 2^i — exact in IEEE-754, see module
    constant) makes it a pure window expression both engines evaluate
    identically. The daily mean itself sums through a decimal cast so
    the pre-smoothing input is partitioning-independent too.

    Scale: one fact shuffle into the (type, day) rollup; the smoothing
    windows run over the per-type day spine (365 rows/year/type).
    """
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("x")
    )
    wi = Window.partitionBy("event_type").orderBy("day")
    seq = daily.withColumn("i", F.row_number().over(wi))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    weight = F.pow(F.lit(float(_EWMA_R)), F.col("i"))
    return seq.select(
        "event_type",
        "day",
        F.col("x").alias("daily_mean"),
        (F.sum(F.col("x") * weight).over(wc) / F.sum(weight).over(wc)).alias(
            "ewma"
        ),
    )


_ATTR_WINDOW_DAYS = 7


@query(
    "attribution_last_touch",
    oracle=f"""
    SELECT
      p.event_id AS purchase_event_id,
      p.user_id,
      t.event_id AS touch_event_id,
      t.event_type AS touch_type
    FROM events p, LATERAL (
      SELECT event_id, event_type
      FROM events t
      WHERE t.user_id = p.user_id
        AND t.event_type IN ('click', 'view')
        AND (t.ts, t.event_id) < (p.ts, p.event_id)
        AND t.ts >= p.ts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
      ORDER BY t.ts DESC, t.event_id DESC LIMIT 1
    ) t
    WHERE p.event_type = 'purchase'
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click/view within the preceding 7 days.

    The per-purchase "latest preceding touch" is a running ``max`` of a
    ``struct(ts, event_id, event_type)`` over the 1-PRECEDING frame —
    struct ordering is lexicographic, so the max IS the latest-then-
    highest-id touch, exactly the oracle's ``ORDER BY ts DESC,
    event_id DESC LIMIT 1`` lateral pick. One exchange on ``user_id``;
    the oracle's per-row lateral scan is the formulation you'd never
    run at scale.
    """
    ev = load_table(spark, "events", sf_dir)
    relevant = ev.filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select("user_id", "event_id", "event_type", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.max(
        F.when(
            F.col("event_type").isin("click", "view"),
            F.struct("ts", "event_id", "event_type"),
        )
    ).over(w)
    return (
        relevant.withColumn("touch", touch)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("touch").isNotNull()
            & (
                F.col("touch.ts")
                >= F.col("ts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS")
            )
        )
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("touch.event_id").alias("touch_event_id"),
            F.col("touch.event_type").alias("touch_type"),
        )
    )


_WAU_DAYS = 7


@query(
    "rolling_wau_7d",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT
      d.day,
      CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d JOIN ud u
      ON u.day BETWEEN d.day - {_WAU_DAYS - 1} AND d.day
    GROUP BY d.day
    """,
)
def q_rolling_wau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) for every observed day.

    Spark has no ``COUNT(DISTINCT) OVER RANGE``; the scalable rewrite
    explodes each distinct (user, day) into the {_WAU_DAYS} report days
    it contributes to, then counts distinct users per report day — a
    bounded ×{_WAU_DAYS} fan-out of the (user, day) relation (already
    ~1/1000th of event volume), versus the oracle's day×activity range
    join, which is quadratic in the day span. Contribution days past
    the observed range are clipped by the semi join with the observed
    day set.
    """
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    exploded = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), _WAU_DAYS - 1))
        ).alias("rday"),
    )
    return (
        exploded.join(days.withColumnRenamed("day", "rday"), "rday", "left_semi")
        .groupBy(F.col("rday").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@query(
    "trend_slope_per_type",
    oracle="""
    WITH s AS (
      SELECT
        event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                      AS DECIMAL(19,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(value AS DECIMAL(19,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                      AS DECIMAL(19,6))
                 * CAST(value AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                      AS DECIMAL(19,6))
                 * CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                        AS DECIMAL(19,6))) AS DOUBLE) AS sx2
      FROM events GROUP BY event_type
    )
    SELECT
      event_type,
      CAST(n AS BIGINT) AS n,
      ROUND((sxy - sx * sy / n) / (sx2 - sx * sx / n), 6) AS slope_per_day,
      ROUND((sy - ((sxy - sx * sy / n) / (sx2 - sx * sx / n)) * sx) / n, 4)
        AS intercept
    FROM s
    """,
)
def q_trend_slope_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event value over calendar days —
    ordinary least squares from exact raw moments in ONE pass.

    The distributed-regression workhorse: slope and intercept come from
    n, Σx, Σy, Σxy, Σx² (x = epoch day), which are algebraic aggregates
    — map-side partials, one shuffle, no per-group iteration. Like
    ``agg_corr_covar``, the moments route through DECIMAL sums with
    operands cast BEFORE the product, so every partitioning and both
    engines sum identical exact decimals; the closed-form combination
    is then the same IEEE arithmetic everywhere (residual 1-ulp
    decimal→double cast skew absorbed by the fixed ROUND).
    """
    ev = load_table(spark, "events", sf_dir)
    d19 = "decimal(19,6)"
    x = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast(d19)
    y = F.col("value").cast(d19)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sx2"),
    )
    nn = F.col("n")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / nn) / (
        F.col("sx2") - F.col("sx") * F.col("sx") / nn
    )
    return agg.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / nn, 4).alias("intercept"),
    )


ASSOC_MIN_PAIR_SUPPORT = 3  # absolute co-occurrence floor for a rule


@query(
    "basket_association_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
    cnt AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1
    ),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS cab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {ASSOC_MIN_PAIR_SUPPORT}
    ),
    rules AS (
      SELECT pa AS antecedent, pb AS consequent, cab FROM pair
      UNION ALL
      SELECT pb AS antecedent, pa AS consequent, cab FROM pair
    )
    SELECT
      r.antecedent, r.consequent, r.cab AS pair_count,
      ROUND(CAST(r.cab AS DOUBLE) / nn.n, 6) AS support,
      ROUND(CAST(r.cab AS DOUBLE) / ca.c, 6) AS confidence,
      ROUND(CAST(nn.n AS DOUBLE) * r.cab / (ca.c * cb.c), 6) AS lift
    FROM rules r
    JOIN cnt ca ON ca.l_partkey = r.antecedent
    JOIN cnt cb ON cb.l_partkey = r.consequent
    CROSS JOIN nn
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 20
    """,
)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 association rules (a ⇒ b) by lift over the order
    baskets — support / confidence / lift, the Agrawal-era
    market-basket surface (and, for a training-data lake, the
    co-occurrence mining shape behind tag/domain affinity reports).

    Scale: pair generation is the co-purchase shape (≤ C(7,2) pairs
    per order, in-array expansion — linear in the fact table); the
    absolute support floor prunes the pair relation BEFORE the rule
    join; item counts are a catalog-sized relation joined by key.
    Every ratio divides exact int64 counts, so the doubles (and the
    lift ordering) are bit-identical across engines.
    """
    li = load_table(spark, "lineitem", sf_dir)
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n"))
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("parts"),
                    lambda x, i: F.transform(
                        F.slice(F.col("parts"), i + 2, F.size("parts")),
                        lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                    ),
                )
            )
        ).alias("e")
    ).select("e.pa", "e.pb")
    pair = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= ASSOC_MIN_PAIR_SUPPORT)
    )
    rules = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("antecedent"),
                    F.col("pb").alias("consequent"),
                    F.col("cab"),
                ),
                F.struct(
                    F.col("pb").alias("antecedent"),
                    F.col("pa").alias("consequent"),
                    F.col("cab"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.cab")
    return (
        rules.join(
            F.broadcast(
                cnt.select(
                    F.col("l_partkey").alias("antecedent"),
                    F.col("c").alias("ca"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                cnt.select(
                    F.col("l_partkey").alias("consequent"),
                    F.col("c").alias("cb"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("cab").alias("pair_count"),
            F.round(F.col("cab").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("cab").cast("double") / F.col("ca"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n").cast("double")
                * F.col("cab")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(20)
    )


SEARCH_QUERY = "smal rign"  # misspelled "small ring" — the fuzzy-search demo


@query(
    "search_trigram_parts",
    oracle=f"""
    WITH qt AS (
      SELECT list_distinct(list_transform(
               generate_series(1, len('{SEARCH_QUERY}') - 2),
               i -> substr('{SEARCH_QUERY}', i, 3))) AS qg
    ),
    pt AS (
      SELECT p_partkey, p_name,
             list_distinct(list_transform(
               generate_series(1, len(lower(p_name)) - 2),
               i -> substr(lower(p_name), i, 3))) AS pg
      FROM part
      WHERE len(p_name) >= 3
    ),
    scored AS (
      SELECT
        p.p_partkey, p.p_name,
        CAST(len(list_intersect(p.pg, q.qg)) AS BIGINT) AS n_shared,
        ROUND(CAST(len(list_intersect(p.pg, q.qg)) AS DOUBLE)
              / (len(p.pg) + len(q.qg) - len(list_intersect(p.pg, q.qg))),
              6) AS jaccard
      FROM pt p CROSS JOIN qt q
    )
    SELECT p_partkey, p_name, n_shared, jaccard
    FROM scored
    WHERE n_shared > 0
    ORDER BY jaccard DESC, p_partkey
    LIMIT 15
    """,
)
def q_search_trigram_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy catalog search: top-15 parts by character-trigram Jaccard
    against a (misspelled) query string — the pg_trgm / Elasticsearch
    fuzzy-match shape as one narrow scan.

    Trigrams of each name are built in-array (no explode), the query's
    trigram set is a literal, and the score is a ratio of exact set
    sizes — deterministic across engines. For a standing search
    service at scale the same trigram sets become an inverted index
    (the ``text_winnow_fingerprints`` layout: explode + equi-join on
    the trigram) so each query touches only candidate buckets; the
    single-query form here is deliberately scan-shaped
    (TakeOrdered(15), no shuffle at all).
    """
    q_grams = sorted(
        {SEARCH_QUERY[i : i + 3] for i in range(len(SEARCH_QUERY) - 2)}
    )
    qg = F.array(*[F.lit(g) for g in q_grams])
    p = load_table(spark, "part", sf_dir).filter(F.length("p_name") >= 3)
    name = F.lower(F.col("p_name"))
    pg = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(name) - 2),
            lambda i: name.substr(i, F.lit(3)),
        )
    )
    scored = p.select(
        "p_partkey",
        "p_name",
        pg.alias("pg"),
    ).select(
        "p_partkey",
        "p_name",
        F.size(F.array_intersect("pg", qg)).cast("long").alias("n_shared"),
        F.round(
            F.size(F.array_intersect("pg", qg)).cast("double")
            / (
                F.size("pg")
                + F.lit(len(q_grams))
                - F.size(F.array_intersect("pg", qg))
            ),
            6,
        ).alias("jaccard"),
    )
    return (
        scored.filter(F.col("n_shared") > 0)
        .orderBy(F.desc("jaccard"), "p_partkey")
        .limit(15)
    )


_PATH_LEN = 5


@query(
    "path_top_sequences",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id,
             STRING_AGG(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= {_PATH_LEN}
      GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def q_path_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top onboarding paths: the 20 most common first-5
    event sequences across users.

    ``markov_event_transitions`` models adjacent pairs; this is the
    full-sequence complement — the "what do users actually do first"
    path-mining query behind every product-analytics flow chart.
    Ordering inside a user is made total with the (ts, event_id)
    tie-break used across this repo, so the path strings (and the
    top-20 cut, totally ordered by (count DESC, path)) are
    deterministic.

    Scale: the row_number window and the per-user path aggregate
    share ONE user_id exchange (same partitioning, Catalyst reuses
    the Exchange); the path-frequency aggregate shuffles only the
    short path strings (map-side combined), and the
    top-20 is a TakeOrdered, never a global sort.
    """
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        e.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= _PATH_LEN)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


_RRF_K = 60


def _rrf_oracle() -> str:
    lex_inner = _bm25_oracle().strip().rstrip()
    # reuse the BM25 oracle verbatim as a ranked subquery, and the
    # cosine oracle shape from similarity.py as the dense ranker
    return f"""
    WITH lex0 AS ({lex_inner}),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rl
      FROM lex0
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id = 0
    ),
    dense0 AS (
      SELECT e.vec_id,
             ROUND(list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY cos_sim DESC, e.vec_id ASC
      LIMIT 10
    ),
    dense AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rd
      FROM dense0
    )
    SELECT
      COALESCE(l.doc_id, d.vec_id) AS doc_id,
      CAST(l.rl AS BIGINT) AS lex_rank,
      CAST(d.rd AS BIGINT) AS dense_rank,
      ROUND(COALESCE(1.0 / ({_RRF_K} + l.rl), 0)
            + COALESCE(1.0 / ({_RRF_K} + d.rd), 0), 6) AS rrf
    FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.vec_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """


@query("rag_hybrid_rrf_topk", oracle=_rrf_oracle())
def q_rag_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical) and cosine (dense) top-10
    lists fused by Reciprocal Rank Fusion (Cormack et al. 2009,
    rrf = Σ 1/(60 + rank)) — the standard modern search stack, built
    by COMPOSING two registered rankers: ``rag_bm25_topk`` over
    ``documents`` and ``sim_cosine_topk`` over the id-aligned
    ``embeddings`` table.

    Ranks are assigned over each ranker's rounded scores with the
    repo-wide (score DESC, id) tie-break, and the fused score is the
    same rational sum in both engines, so the fusion is value-exact.
    A doc ranked by only one side keeps that side's contribution
    (COALESCE 0) and a NULL rank column — exactly DuckDB's FULL
    OUTER semantics.

    Scale: each ranker is already lake-scale (BM25: two token-keyed
    exchanges; cosine: broadcast query + TakeOrdered); the fusion
    itself joins two 10-row lists — driver-side-free and constant
    cost regardless of corpus size.
    """
    from pyspark.sql import Window as W

    from flink_kakfa_spark.operators.similarity import q_sim_cosine_topk

    lex = q_rag_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score"), "doc_id"))
        .cast("long")
        .alias("rl"),
    )
    dense = q_sim_cosine_topk(spark, sf_dir).select(
        F.col("vec_id"),
        F.row_number()
        .over(W.orderBy(F.desc("cos_sim"), "vec_id"))
        .cast("long")
        .alias("rd"),
    )
    fused = lex.join(dense, lex["doc_id"] == dense["vec_id"], "full_outer")
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            F.col("rl").alias("lex_rank"),
            F.col("rd").alias("dense_rank"),
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rl")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rd")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix

_AB_ARM_SQL = f"(({sql_md5_prefix('CAST(user_id AS VARCHAR)')}) % 2)"


@query(
    "ab_test_proportions",
    oracle=f"""
    WITH per_user AS (
      SELECT
        user_id,
        CAST({_AB_ARM_SQL} AS BIGINT) AS arm,
        CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS np
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(np) AS BIGINT) AS sum_np
      FROM per_user
    ),
    arms AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN arm = 0 AND p.np * t.n_users > t.sum_np
                 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN arm = 1 AND p.np * t.n_users > t.sum_np
                 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
      FROM per_user p CROSS JOIN tot t
    ),
    stats AS (
      SELECT
        n_a, conv_a, n_b, conv_b,
        CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE) / n_a ELSE 0.0 END AS ra,
        CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE) / n_b ELSE 0.0 END AS rb,
        CASE WHEN n_a > 0 AND n_b > 0 THEN sqrt(
          (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
          * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
          * (1.0 / n_a + 1.0 / n_b)
        ) ELSE 0.0 END AS se
      FROM arms
    )
    SELECT
      n_a, conv_a, n_b, conv_b,
      ROUND(ra, 6) AS rate_a,
      ROUND(rb, 6) AS rate_b,
      ROUND(CASE WHEN se > 0 THEN (ra - rb) / se ELSE 0.0 END, 4) AS z_score,
      CAST(CASE WHEN se > 0 AND ABS((ra - rb) / se) > 1.96
           THEN 1 ELSE 0 END AS INT) AS significant
    FROM stats
    """,
)
def q_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: users hash-split into arms A/B by md5
    parity (the portable sticky bucketing every experimentation
    platform uses — no assignment table), conversion defined as
    "strictly above the mean purchase count" (an integer-exact,
    scale-invariant mid-split: ``np * n_users > sum_np`` — never
    degenerates to all-converted the way an absolute threshold does as
    volume grows), judged by the two-proportion pooled z-test at
    alpha = 0.05. A hash split is an A/A experiment, so |z| should be
    small — the query doubles as a bucketing-bias health check.

    Engine plan: one user_id-keyed shuffle builds per-user purchase
    counts (map-side combinable); the global (n_users, sum_np) scalar
    attaches as a broadcast 1-row frame (the module's standard lazy-
    scalar pattern, no driver collect); one conditional global
    aggregate folds both arms in a single pass — no pivot shuffle.
    The z arithmetic runs on four BIGINTs in one projection with a
    guarded denominator (se = 0 -> z = 0, so an all-converted or
    empty-arm input degrades to "not significant" instead of a
    divide-by-zero); both engines evaluate the identical IEEE tree, so
    ROUND(.., 4/6) is value-exact.
    """
    ev = load_table(spark, "events", sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("np")
    )
    tot = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("np").cast("long").alias("sum_np"),
    )
    pu = per_user.crossJoin(F.broadcast(tot)).select(
        (md5_prefix(F.col("user_id").cast("string")) % 2).alias("arm"),
        (F.col("np") * F.col("n_users") > F.col("sum_np"))
        .cast("int")
        .alias("converted"),
    )
    arms = pu.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    # WHEN-guarded divisions: CaseWhen evaluates only the matched
    # branch, so the ANSI divide-by-zero can never fire on an empty or
    # single-arm input (the 0-row sweep hits this with n_a = NULL).
    ra = F.when(
        F.col("n_a") > 0, F.col("conv_a").cast("double") / F.col("n_a")
    ).otherwise(F.lit(0.0))
    rb = F.when(
        F.col("n_b") > 0, F.col("conv_b").cast("double") / F.col("n_b")
    ).otherwise(F.lit(0.0))
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.sqrt(
            pooled
            * (F.lit(1.0) - pooled)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
    ).otherwise(F.lit(0.0))
    z = F.when(se > 0, (ra - rb) / se).otherwise(F.lit(0.0))
    return arms.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("significant"),
    )


def _retrieval_eval_oracle() -> str:
    tf_cols = ",\n        ".join(
        f"CAST(SUM(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n        ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score_terms = "\n        + ".join(
        f"LN(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * ({_BM25_K1} + 1))"
        f" / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    rel_expr = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
      SELECT
        doc_id,
        CAST(COUNT(*) AS BIGINT) AS dl,
        {tf_cols}
      FROM tok WHERE w <> '' GROUP BY doc_id
    ),
    stats AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        AVG(CAST(dl AS DOUBLE)) AS avgdl,
        {df_cols}
      FROM per_doc
    ),
    scored AS (
      SELECT
        doc_id,
        CAST(({rel_expr}) AS BIGINT) AS rel,
        {score_terms} AS score
      FROM per_doc, stats
      WHERE tf0 + tf1 + tf2 > 0
    ),
    ranked AS (
      SELECT doc_id, rel,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM scored QUALIFY rnk <= {_BM25_TOPK}
    ),
    ideal AS (
      SELECT rel,
             ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rnk
      FROM scored QUALIFY rnk <= {_BM25_TOPK}
    ),
    dcg AS (
      SELECT CAST(list_reduce(
               list(CAST((1 << rel) - 1 AS DOUBLE) / log2(rnk + 1)
                    ORDER BY rnk),
               (a, b) -> a + b) AS DOUBLE) AS dcg,
             CAST(SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits10,
             MIN(CASE WHEN rel >= 2 THEN rnk END) AS first_hit
      FROM ranked
    ),
    idcg AS (
      SELECT CAST(list_reduce(
               list(CAST((1 << rel) - 1 AS DOUBLE) / log2(rnk + 1)
                    ORDER BY rnk),
               (a, b) -> a + b) AS DOUBLE) AS idcg
      FROM ideal
    ),
    nrel AS (
      SELECT CAST(SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_relevant
      FROM scored
    )
    SELECT
      ROUND(CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0.0 END, 6)
        AS ndcg_10,
      ROUND(CASE WHEN d.first_hit IS NOT NULL
                 THEN 1.0 / d.first_hit ELSE 0.0 END, 6) AS mrr_10,
      ROUND(d.hits10 / {_BM25_TOPK}.0, 6) AS p_at_10,
      n.n_relevant
    FROM dcg d CROSS JOIN idcg i CROSS JOIN nrel n
    """


@query("eval_retrieval_metrics", oracle=_retrieval_eval_oracle())
def q_eval_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics for the BM25 retriever: NDCG@10, MRR@10
    and precision@10 against a label the ranker does not optimize —
    graded relevance = number of DISTINCT query terms the document
    contains (0-3; binary-relevant at >=2). BM25 ranks by tf/idf
    weighting, the label only by term presence, so the metrics measure
    real agreement, not a tautology. This is the eval harness every
    retrieval stack (the rag_* family here) is tuned against.

    Determinism: DCG terms (2^rel - 1)/log2(rank + 1) are folded in
    rank order on both engines (sorted-list reduce), so the float
    addition sequence is identical — no summation-order drift; the
    NDCG division happens once on two scalars.

    Scale: reuses the BM25 single-pass shape (one tokenize, one doc_id
    groupBy, 1-row stats broadcast); both rankings are TakeOrdered
    top-10s and every metric reduces over <=10 rows, so the eval adds
    one KB-sized stage to the ranker it audits.
    """
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    tf_aggs = [
        F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"), *tf_aggs
    )
    df_aggs = [
        F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
        for i in range(len(_BM25_TERMS))
    ]
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *df_aggs,
    )
    hit = sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS)))
    rel = sum(
        F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
        for i in range(len(_BM25_TERMS))
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            1 + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        part = (
            idf
            * (F.col(f"tf{i}") * (_BM25_K1 + 1))
            / (
                F.col(f"tf{i}")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(hit > 0)
        .select(
            "doc_id", rel.cast("long").alias("rel"), score.alias("score")
        )
    )
    scored = scored.localCheckpoint()  # 3 consumers; AQE never reuses
    gain = lambda: (  # noqa: E731
        (F.pow(F.lit(2.0), F.col("rel").cast("double")) - 1)
        / F.log2(F.col("rnk") + 1)
    )

    def _fold_dcg(df, alias):
        terms = F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("rnk"), gain().alias("g")))
            ),
            lambda s: s["g"],
        )
        return df.agg(
            F.aggregate(terms, F.lit(0.0), lambda a, x: a + x).alias(alias)
        )

    from pyspark.sql.window import Window as _Wnd

    ranked = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .withColumn(
            "rnk",
            F.row_number().over(
                _Wnd.orderBy(F.col("score").desc(), "doc_id")
            ),
        )
    )
    ideal = (
        scored.orderBy(F.col("rel").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .withColumn(
            "rnk",
            F.row_number().over(_Wnd.orderBy(F.col("rel").desc(), "doc_id")),
        )
    )
    dcg = ranked.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("rnk"), gain().alias("g")))
                ),
                lambda s: s["g"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("dcg"),
        F.sum(F.when(F.col("rel") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("hits10"),
        F.min(F.when(F.col("rel") >= 2, F.col("rnk"))).alias("first_hit"),
    )
    idcg = _fold_dcg(ideal, "idcg")
    nrel = scored.agg(
        F.sum(F.when(F.col("rel") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_relevant")
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(nrel))
        .select(
            F.round(
                F.when(
                    F.col("idcg") > 0, F.col("dcg") / F.col("idcg")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg_10"),
            F.round(
                F.when(
                    F.col("first_hit").isNotNull(),
                    F.lit(1.0) / F.col("first_hit"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("mrr_10"),
            F.round(F.col("hits10") / F.lit(float(_BM25_TOPK)), 6).alias(
                "p_at_10"
            ),
            "n_relevant",
        )
    )


@query(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS x
      FROM events GROUP BY 1, 2
    ),
    keyed AS (
      SELECT event_type, d, x,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(x) OVER (PARTITION BY event_type) AS DECIMAL(28,6))
               AS tot
      FROM daily
    ),
    pref AS (
      SELECT event_type, d, n,
             SUM(x * n - tot) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING
             ) AS p
      FROM keyed
    ),
    cusum AS (
      SELECT event_type, d, n, p,
             p - MIN(p) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING
             ) AS s
      FROM pref
    )
    SELECT
      event_type,
      CAST(n AS BIGINT) AS n_days,
      d AS change_day,
      CAST(s AS DOUBLE) AS max_cusum_scaled
    FROM cusum
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY s DESC, d
    ) = 1
    ORDER BY event_type
    """,
)
def q_ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type (Page 1954): the
    day where the one-sided cumulative sum of deviations from the
    per-type mean peaks — the standard "when did this metric shift"
    scan over a daily series. The recursion S_t = max(0, S_{t-1} +
    d_t) is rewritten relationally as S_t = P_t - min_{j<=t} P_j
    (prefix sum minus running prefix minimum), so no iterative state
    is needed — two ordered window passes compute the exact CUSUM.

    Determinism: deviations are scaled by n (d_t = x_t * n - total)
    so the mean never divides — every window sum is exact DECIMAL;
    the reported peak is scaled by n accordingly (argmax position is
    scale-invariant). Ties resolve to the earliest day.

    Scale: one map-side-combinable (type, day) aggregate of the fact
    table; the windows run per type over calendar-bounded day counts
    (a partition is years-of-days rows, never fact rows).
    """
    ev = load_table(spark, "events", sf_dir)
    return cusum_from_daily(cusum_daily(ev))


def cusum_daily(events: DataFrame) -> DataFrame:
    """The mergeable (type, day) -> decimal-sum state the CUSUM runs
    over — per-batch partials of this aggregate fold exactly (SUM is
    commutative/associative over DECIMAL), which is what lets the
    streaming monitor (streaming/monitors.py) maintain it
    incrementally."""
    return events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(28,6)")
        .alias("x")
    )


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """Exact CUSUM peak per type from the (type, day, x) state (see
    q_ts_cusum_changepoint for the relational-recursion derivation)."""
    from pyspark.sql.window import Window as _Wd

    w_all = _Wd.partitionBy("event_type")
    keyed = daily.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("x").over(w_all).cast("decimal(28,6)").alias("tot"),
    )
    w_ord = (
        _Wd.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(_Wd.unboundedPreceding, _Wd.currentRow)
    )
    pref = keyed.withColumn(
        "p", F.sum(F.col("x") * F.col("n") - F.col("tot")).over(w_ord)
    )
    cusum = pref.withColumn("s", F.col("p") - F.min("p").over(w_ord))
    w_pick = _Wd.partitionBy("event_type").orderBy(
        F.col("s").desc(), F.col("d").asc()
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("d").alias("change_day"),
            F.col("s").cast("double").alias("max_cusum_scaled"),
        )
        .orderBy("event_type")
    )


_MQ_QUERIES = {
    "q_join": ("join", "filter"),
    "q_scan": ("scan", "table"),
    "q_stream": ("stream", "window"),
}
_MQ_TOPK = 5


def _bm25_multiquery_oracle() -> str:
    all_terms = sorted({t for ts in _MQ_QUERIES.values() for t in ts})
    tf_cols = ",\n        ".join(
        f"CAST(SUM(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{t}"
        for t in all_terms
    )
    df_cols = ",\n        ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in all_terms
    )

    def score(terms):
        return "\n          + ".join(
            f"LN(1 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
            f" * (tf_{t} * ({_BM25_K1} + 1))"
            f" / (tf_{t} + {_BM25_K1}"
            f" * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
            for t in terms
        )

    branches = "\n      UNION ALL\n      ".join(
        f"SELECT '{q}' AS query_id, doc_id,\n          {score(ts)} AS score\n"
        f"        FROM scored WHERE {' + '.join(f'tf_{t}' for t in ts)} > 0"
        for q, ts in sorted(_MQ_QUERIES.items())
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
      SELECT
        doc_id,
        CAST(COUNT(*) AS BIGINT) AS dl,
        {tf_cols}
      FROM tok WHERE w <> '' GROUP BY doc_id
    ),
    stats AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        AVG(CAST(dl AS DOUBLE)) AS avgdl,
        {df_cols}
      FROM per_doc
    ),
    scored AS (SELECT * FROM per_doc, stats),
    ranked AS (
      {branches}
    )
    SELECT query_id, doc_id, ROUND(score, 4) AS score,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS BIGINT) AS rnk
    FROM ranked
    QUALIFY rnk <= {_MQ_TOPK}
    ORDER BY query_id, rnk
    """


@query("rag_bm25_multiquery_topk", oracle=_bm25_multiquery_oracle())
def q_rag_bm25_multiquery_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25: top-{_MQ_TOPK} documents for EACH query in a
    query set — the production retrieval shape (``rag_bm25_topk`` is
    the single-query teaching form; real stacks score a batch of
    queries per pass). The corpus is tokenized and aggregated ONCE for
    the union of all query terms; each query's score reuses the same
    per-doc tf columns, and ranking is a window PARTITIONED BY
    query_id — parallel across queries, never a global sort.

    Scale: corpus cost is one doc_id groupBy regardless of query
    count (term columns grow with the term-union, not the corpus);
    the per-query candidate sets (docs with >=1 term hit) are
    df-sized; at 100 TB with thousands of queries the term-union tf
    map becomes a (doc, term)->tf skinny table joined to an inverted
    query-term list — same single corpus pass, same partitioned rank.
    """
    d = load_table(spark, "documents", sf_dir)
    all_terms = sorted({t for ts in _MQ_QUERIES.values() for t in ts})
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in all_terms
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(
                f"df_{t}"
            )
            for t in all_terms
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))

    def score(terms):
        s = None
        for t in terms:
            idf = F.log(
                1
                + (F.col("n_docs") - F.col(f"df_{t}") + 0.5)
                / (F.col(f"df_{t}") + 0.5)
            )
            part = (
                idf
                * (F.col(f"tf_{t}") * (_BM25_K1 + 1))
                / (
                    F.col(f"tf_{t}")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            )
            s = part if s is None else s + part
        return s

    # ONE pass over the per-doc aggregate: every query's (score, hit)
    # is computed inline and exploded — no per-query union re-scanning
    # the corpus relation
    qstructs = F.array(
        *[
            F.struct(
                F.lit(q).alias("query_id"),
                score(ts).alias("score"),
                sum(F.col(f"tf_{t}") for t in ts).alias("hit"),
            )
            for q, ts in sorted(_MQ_QUERIES.items())
        ]
    )
    ranked = (
        scored.select("doc_id", F.explode(qstructs).alias("qs"))
        .filter(F.col("qs.hit") > 0)
        .select(F.col("qs.query_id").alias("query_id"), "doc_id", F.col("qs.score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        ranked.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _MQ_TOPK)
        .select("query_id", "doc_id", F.round("score", 4).alias("score"), "rnk")
        .orderBy("query_id", "rnk")
    )
