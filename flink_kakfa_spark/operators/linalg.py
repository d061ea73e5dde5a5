"""Distributed linear algebra over the embedding lake (Tier C, round 5).

Two spectral diagnostics a training-data pipeline runs over its
embedding store: the exact covariance structure (which dimensions
carry the variance, which pairs are redundant) and the top principal
component via power iteration — PCA's workhorse, here computed in
EXACT integer fixed-point so an iterative linear-algebra job becomes
value-hashable against an independent SQL oracle (the same
determinism trick as ``graph.py``'s PageRank: floor divisions and
int64 sums are exactly associative; no IEEE summation-order drift).

Numeric safety (why every intermediate fits): components quantize to
x_q = floor(x·1e3) (|x_q| ≤ ~600 on unit-ish embeddings), so
n·P_jk ≤ n²·3.6e5 and every dividend stays far below 2^53 — integer-
valued doubles divide exactly, making FLOOR(a/b) engine-portable even
for negative dividends.

Scale posture (10⁹ vectors · d = 64):

- The Gram pass is the only data-sized work: per row an in-array
  outer product (d² = 4096 longs), posexploded and SUM-aggregated by
  flat index. Partial aggregation collapses each partition to ≤ 4096
  rows BEFORE the exchange, so the shuffle carries
  (#partitions · d²) rows regardless of n — the map-side-combine
  shape, not a join.
- Everything after (covariance relation, eigen-iteration) runs on
  d² = 4096-row KB-sized relations: per-round joins and 1-row maxima
  are dimension-sized, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.vectors import dot, sq_l2, sq_norm, sql_dot, sql_sq_norm
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table, parallelize

_DIMS = 64
_QSCALE = 1000  # component quantization: x_q = floor(x * 1e3)
_VSCALE = 1_000_000  # eigenvector fixed-point scale
_POWER_ITERS = 3

# Shared oracle CTEs: quantized components -> per-dim sums -> raw
# Gram matrix -> integer covariance relation c(j, k) with
# c = floor((n·P_jk − S_j·S_k) / n²)  (covariance of x_q, floored).
_COV_SQL = f"""
    q AS (
      SELECT vec_id, j,
             CAST(FLOOR(list_extract(CAST(embedding AS DOUBLE[]), j)
                        * {_QSCALE}) AS BIGINT) AS x
      FROM embeddings, UNNEST(generate_series(1, {_DIMS})) AS g(j)
    ),
    s AS (SELECT j, SUM(x) AS sj FROM q GROUP BY j),
    p AS (
      SELECT a.j AS j, b.j AS k, SUM(a.x * b.x) AS pjk
      FROM q a JOIN q b USING (vec_id)
      GROUP BY 1, 2
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    c AS (
      SELECT p.j, p.k,
             CAST(FLOOR((nn.n * p.pjk - sa.sj * sb.sj)
                        / (nn.n * nn.n)) AS BIGINT) AS c
      FROM p
      JOIN s sa ON sa.j = p.j
      JOIN s sb ON sb.j = p.k
      CROSS JOIN nn
    )
"""


def _cov_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer covariance relation (j, k, c), 1-based dims, d² rows.

    The Gram pass is one narrow map (outer product in-array) +
    posexplode + a flat-index SUM with map-side partial aggregation —
    the shuffle moves ≤ partitions·d² pre-aggregated rows, never the
    vectors. No join on vec_id (the naive self-join formulation would
    shuffle the whole quantized component table twice).
    """
    e = parallelize(load_table(spark, "embeddings", sf_dir), spark)
    xq = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * _QSCALE).cast("long")
    )
    rows = e.select(xq.alias("xq"))
    # flat outer product: op[(j-1)*d + (k-1)] = x_j * x_k
    op = F.flatten(
        F.transform(
            F.col("xq"),
            lambda xi: F.transform(F.col("xq"), lambda xj: xi * xj),
        )
    )
    p = (
        rows.select(F.posexplode(op).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("pjk"))
        .select(
            (F.col("pos") / _DIMS + 1).cast("int").alias("j"),
            (F.col("pos") % _DIMS + 1).cast("int").alias("k"),
            "pjk",
        )
    )
    s = (
        rows.select(F.posexplode("xq").alias("pos", "x"))
        .groupBy((F.col("pos") + 1).cast("int").alias("j"))
        .agg(F.sum("x").alias("sj"))
    )
    n = e.agg(F.count(F.lit(1)).alias("n"))
    return (
        p.join(F.broadcast(s.select(F.col("j"), F.col("sj").alias("sa"))), "j")
        .join(
            F.broadcast(
                s.select(F.col("j").alias("k"), F.col("sj").alias("sb"))
            ),
            "k",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "j",
            "k",
            F.floor(
                (F.col("n") * F.col("pjk") - F.col("sa") * F.col("sb"))
                / (F.col("n") * F.col("n"))
            )
            .cast("long")
            .alias("c"),
        )
    )


@query(
    "emb_covariance_stats",
    oracle=f"""
    WITH {_COV_SQL},
    tr AS (SELECT CAST(SUM(c) AS BIGINT) AS trace_fp FROM c WHERE j = k)
    SELECT c.j, c.k, c.c AS cov_fp, tr.trace_fp
    FROM c CROSS JOIN tr
    WHERE c.j < c.k
    ORDER BY ABS(c.c) DESC, c.j, c.k
    LIMIT 10
    """,
)
def q_emb_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 strongest off-diagonal covariances + total variance
    (trace), all in exact integer fixed-point.

    The redundancy report over an embedding store: strongly covarying
    dimension pairs signal a collapsed/rotatable basis (candidates
    for the matryoshka truncation checked by
    ``emb_matryoshka_quality``), and the trace anchors each pair's
    share of total variance.
    """
    c = _cov_relation(spark, sf_dir)
    tr = c.filter(F.col("j") == F.col("k")).agg(
        F.sum("c").alias("trace_fp")
    )
    return (
        c.filter(F.col("j") < F.col("k"))
        .crossJoin(F.broadcast(tr))
        .select("j", "k", F.col("c").alias("cov_fp"), "trace_fp")
        .orderBy(F.abs(F.col("cov_fp")).desc(), "j", "k")
        .limit(10)
    )


def _power_oracle() -> str:
    """Unrolled k-round integer power iteration oracle."""
    prev = "v0"
    steps = []
    for i in range(1, _POWER_ITERS + 1):
        steps.append(
            f"""
    w{i} AS (
      SELECT c.j, SUM(c.c * v.v) AS w
      FROM c JOIN {prev} v ON v.j = c.k
      GROUP BY c.j
    ),
    m{i} AS (
      SELECT GREATEST(CAST(FLOOR(MAX(ABS(w)) / {_VSCALE}) AS BIGINT), 1)
             AS m
      FROM w{i}
    ),
    v{i} AS (
      SELECT w.j, CAST(FLOOR(w.w / m.m) AS BIGINT) AS v
      FROM w{i} w CROSS JOIN m{i} m
    )"""
        )
        prev = f"v{i}"
    return f"""
    WITH {_COV_SQL},
    v0 AS (
      SELECT j, CAST({_VSCALE} AS BIGINT) AS v
      FROM (SELECT DISTINCT j FROM c)
    ),{",".join(steps)},
    u AS (
      SELECT j, CAST(FLOOR(v / 1000.0) AS BIGINT) AS u, v FROM {prev}
    ),
    ray AS (
      SELECT CAST(FLOOR(
               (SELECT SUM(ua.u * c.c * ub.u)
                FROM c JOIN u ua ON ua.j = c.j JOIN u ub ON ub.j = c.k)
               / (SELECT SUM(u * u) FROM u)
             ) AS BIGINT) AS lambda_fp
    )
    SELECT u.j AS dim, u.v AS v_fp, ray.lambda_fp
    FROM u CROSS JOIN ray
    ORDER BY dim
    """


@query("emb_power_iteration_top", oracle=_power_oracle())
def q_emb_power_iteration_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by power iteration, in exact int64
    fixed-point — PCA's first axis as a value-hashable distributed job.

    Each round: w = C·v over the d²-row covariance relation (integer
    multiply-sums, exactly associative), then renormalize by the
    1-row max |w| via floor division (divisor always positive, so
    floor semantics agree across engines for negative components).
    After k fixed rounds the Rayleigh quotient λ = ⌊uᵀCu / uᵀu⌋ on a
    down-scaled copy of v bounds every product far inside int64.

    Scale: the Gram pass (see ``_cov_relation``) touches the data
    once; iteration cost is d²-row joins per round — micro-work at
    any corpus size. Convergence on the fixture is adequate at k = 3
    (dominant-eigenvalue ratio pinned by test); production k scales
    as the log of the spectral gap, still data-free.
    """
    # Materialize the covariance relation once: every round (and the
    # Rayleigh pass) consumes it via BROADCAST joins, which put no
    # exchange on c — so exchange reuse cannot dedupe the data-sized
    # Gram subtree and without this it would recompute per round.
    # Retained blocks are d² rows (KB), so the localCheckpoint
    # retention caveat (SCALE.md) is immaterial here.
    c = _cov_relation(spark, sf_dir).localCheckpoint()
    v = c.select("j").distinct().select(
        "j", F.lit(_VSCALE).cast("long").alias("v")
    )
    for _ in range(_POWER_ITERS):
        w = (
            c.join(
                F.broadcast(v.select(F.col("j").alias("k"), "v")), "k"
            )
            .groupBy("j")
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        m = w.agg(
            F.greatest(
                F.floor(F.max(F.abs(F.col("w"))) / _VSCALE).cast("long"),
                F.lit(1).cast("long"),
            ).alias("m")
        )
        v = w.crossJoin(F.broadcast(m)).select(
            "j", F.floor(F.col("w") / F.col("m")).cast("long").alias("v")
        )
    # The converged iterate feeds FOUR consumers (Rayleigh numerator
    # twice, denominator, output); without materializing these 64
    # rows, each consumer would replay the whole k-round join chain
    # (measured as a 119-exchange plan).
    v = v.localCheckpoint()
    u = v.select("j", "v", F.floor(F.col("v") / 1000.0).cast("long").alias("u"))
    num = (
        c.join(F.broadcast(u.select(F.col("j"), F.col("u").alias("ua"))), "j")
        .join(
            F.broadcast(u.select(F.col("j").alias("k"), F.col("u").alias("ub"))),
            "k",
        )
        .agg(F.sum(F.col("ua") * F.col("c") * F.col("ub")).alias("num"))
    )
    den = u.agg(F.sum(F.col("u") * F.col("u")).alias("den"))
    lam = num.crossJoin(F.broadcast(den)).select(
        F.floor(F.col("num") / F.col("den")).cast("long").alias("lambda_fp")
    )
    return (
        u.crossJoin(F.broadcast(lam))
        .select(F.col("j").alias("dim"), F.col("v").alias("v_fp"), "lambda_fp")
        .orderBy("dim")
    )


_KM_K = 8  # clusters; seeds = the k lowest vec_ids (deterministic)
_KM_ROUNDS = 2


def _kmeans_oracle() -> str:
    """Unrolled Lloyd rounds in exact integer arithmetic."""
    prev = "cent0"
    steps = []
    for r in range(1, _KM_ROUNDS + 1):
        steps.append(
            f"""
    d{r} AS (
      SELECT q.vec_id, c.cid, SUM((q.x - c.c) * (q.x - c.c)) AS d2
      FROM q JOIN {prev} c ON c.i = q.i
      GROUP BY 1, 2
    ),
    a{r} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d{r}
      ) WHERE rn = 1
    ),
    u{r} AS (
      SELECT a.cid, q.i,
             CAST(FLOOR(SUM(q.x) / COUNT(*)) AS BIGINT) AS c
      FROM a{r} a JOIN q ON q.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    cent{r} AS (
      SELECT p.cid, p.i, COALESCE(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN u{r} u ON u.cid = p.cid AND u.i = p.i
    )"""
        )
        prev = f"cent{r}"
    return f"""
    WITH q AS (
      SELECT vec_id, i,
             CAST(FLOOR(list_extract(CAST(embedding AS DOUBLE[]), i)
                        * {_QSCALE}) AS BIGINT) AS x
      FROM embeddings, UNNEST(generate_series(1, {_DIMS})) AS g(i)
    ),
    seeds AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT {_KM_K})
    ),
    cent0 AS (
      SELECT s.cid, q.i, q.x AS c
      FROM seeds s JOIN q ON q.vec_id = s.vec_id
    ),{",".join(steps)}
    SELECT
      a.cid AS cluster_id,
      CAST(COUNT(DISTINCT a.vec_id) AS BIGINT) AS n_members,
      MAX(CASE WHEN c.i = 1 THEN c.c END) AS c1,
      MAX(CASE WHEN c.i = 2 THEN c.c END) AS c2,
      MAX(CASE WHEN c.i = 3 THEN c.c END) AS c3,
      MAX(CASE WHEN c.i = 4 THEN c.c END) AS c4
    FROM a{_KM_ROUNDS} a
    JOIN cent{_KM_ROUNDS} c ON c.cid = a.cid
    GROUP BY a.cid
    ORDER BY cluster_id
    """


@query("emb_kmeans_portable", oracle=_kmeans_oracle())
def q_emb_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means in exact integer arithmetic — the
    value-hashable twin of ``sim_ivf_kmeans_topk``'s engine-seeded
    pyspark.ml KMeans (which is rows-only checked by design; THIS
    query pins the distributed clustering algorithm itself against
    the oracle, the same determinism upgrade PageRank and power
    iteration bring to their families).

    Seeds are the k lowest vec_ids; each round assigns every vector
    to the nearest centroid by integer squared distance (ties to the
    lowest cluster id) and re-centers with floored integer means;
    empty clusters keep their previous centroid. Every operation is
    exactly associative, so assignments and centroids are
    bit-identical across engines, partition counts, and retries.

    Scale: per round, assignment is a crossJoin against the
    BROADCAST k-row centroid frame evaluated in-array (n·k narrow
    rows, no shuffle) followed by one n-row argmin aggregate; the
    update posexplodes assigned vectors and map-side-combines to
    ≤ partitions·k·d rows before its exchange. k and d are constants;
    nothing quadratic in n anywhere.
    """
    e = parallelize(load_table(spark, "embeddings", sf_dir), spark)
    vecs = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _QSCALE).cast("long"),
        ).alias("xq"),
    )
    seeds = (
        vecs.orderBy("vec_id")
        .limit(_KM_K)
        .select(
            (F.row_number().over(_seed_window()) - 1).alias("cid"),
            F.col("xq").alias("cent"),
        )
    )
    cent = seeds
    for _ in range(_KM_ROUNDS):
        d2 = sq_l2("xq", "cent", F.lit(0).cast("long"))
        assigned = (
            vecs.crossJoin(F.broadcast(cent))
            .select("vec_id", "xq", "cid", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d2", "cid", "xq")).alias("m")
            )
            .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.xq").alias("xq"))
        )
        upd = (
            assigned.select("cid", F.posexplode("xq").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(
                F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("c")
            )
        )
        upd_arr = upd.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))),
                lambda s: s["c"],
            ).alias("new_cent")
        )
        cent = (
            cent.join(F.broadcast(upd_arr), "cid", "left")
            .select(
                "cid",
                F.coalesce("new_cent", "cent").alias("cent"),
            )
        )
        last_assigned = assigned
    return (
        last_assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(F.broadcast(cent), "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.element_at("cent", 1).alias("c1"),
            F.element_at("cent", 2).alias("c2"),
            F.element_at("cent", 3).alias("c3"),
            F.element_at("cent", 4).alias("c4"),
        )
        .orderBy("cluster_id")
    )


def _seed_window():
    from pyspark.sql import Window

    return Window.orderBy("vec_id")


from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix

_JL_M = 16  # projected dimensionality
_JL_SCALE = 16384  # 2^14 component quantization — keeps every sum < 2^53

_JL_SIGN_SQL = sql_md5_prefix(
    "(CAST(g.i AS VARCHAR) || '_' || CAST(g.j AS VARCHAR))"
)


@query(
    "emb_jl_projection_quality",
    oracle=f"""
    WITH grid AS (
      SELECT g.j,
             list(CASE WHEN CAST(({_JL_SIGN_SQL}) AS BIGINT) % 2 = 0
                       THEN 1 ELSE -1 END ORDER BY g.i) AS srow
      FROM (SELECT i.i, j.j
            FROM UNNEST(generate_series(0, {_DIMS - 1})) AS i(i),
                 UNNEST(generate_series(0, {_JL_M - 1})) AS j(j)) g
      GROUP BY g.j
    ),
    smat AS (SELECT list(srow ORDER BY j) AS S FROM grid),
    v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * {_JL_SCALE}) AS BIGINT)) AS xq
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id, label,
        CAST({sql_sq_norm("xq")} AS BIGINT) AS nx,
        list_transform(
          S, srow -> CAST({sql_dot("xq", "srow")} AS BIGINT)
        ) AS y
      FROM v CROSS JOIN smat
    ),
    ratio AS (
      SELECT label,
        CASE WHEN nx > 0 THEN CAST(FLOOR(
          CAST(CAST({sql_sq_norm("y")} AS BIGINT) AS DOUBLE)
          / ({_JL_M} * CAST(nx AS DOUBLE)) * 1000000
        ) AS BIGINT) ELSE 0 END AS micros
      FROM proj
    )
    SELECT
      CAST(label AS INT) AS label,
      CAST(COUNT(*) AS BIGINT) AS n_vecs,
      ROUND(CAST(CAST(SUM(micros) AS BIGINT) AS DOUBLE)
            / (COUNT(*) * 1000000.0), 6) AS avg_ratio,
      ROUND(MIN(micros) / 1000000.0, 6) AS min_ratio,
      ROUND(MAX(micros) / 1000000.0, 6) AS max_ratio
    FROM ratio
    GROUP BY label
    ORDER BY label
    """,
)
def q_emb_jl_projection_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection QA: project every
    embedding from d = {_DIMS} to m = {_JL_M} dims with a portable
    Rademacher (+-1) sign matrix — sign(i, j) from md5 parity, the
    same seedless construction both engines can derive — and report,
    per label, how well the projection preserves squared norms:
    ``ratio = ||y||^2 / (m * ||x||^2)`` (expectation exactly 1 for
    +-1 projections). The distribution of that ratio IS the JL
    guarantee; a mean far from 1 or a wide min/max spread means the
    projection (the cheap ANN / sketching front-end) is distorting
    geometry.

    Determinism: components quantize to floor(x * 2^14), making every
    dot product / norm an exact int64 (max |y_j| ~ 2^20, ny ~ 2^44,
    all < 2^53); the only division happens once per vector and is
    floored to integer micro-units, so per-label AVG/MIN/MAX aggregate
    exact integers — no IEEE summation-order drift anywhere.

    Engine plan: the sign matrix is built by one 1-row projection of
    nested HOF transforms (never a d x m join) and broadcast-cross-
    joined; projection + norms are per-row narrow HOF folds; the only
    shuffle is the final |labels|-row aggregate. At 100 TB this is a
    single map-side-combined pass — the exact shape you want for a
    sketch that feeds ``sim_lsh_ann_topk``-style pruning.
    """
    e = parallelize(load_table(spark, "embeddings", sf_dir), spark).select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _JL_SCALE).cast("long"),
        ).alias("xq"),
    )
    sign = lambda i, j: (  # noqa: E731
        F.when(
            md5_prefix(F.concat_ws("_", i.cast("string"), j.cast("string"))) % 2
            == 0,
            F.lit(1),
        ).otherwise(F.lit(-1))
    )
    smat = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_JL_M - 1)),
            lambda j: F.transform(
                F.sequence(F.lit(0), F.lit(_DIMS - 1)),
                lambda i: sign(i, j),
            ),
        ).alias("S")
    )
    zero = F.lit(0).cast("long")
    proj = e.crossJoin(F.broadcast(smat)).select(
        "label",
        sq_norm("xq", zero).alias("nx"),
        F.transform(F.col("S"), lambda srow: dot("xq", srow, zero)).alias("y"),
    )
    ny = sq_norm("y", zero)
    micros = F.when(
        F.col("nx") > 0,
        F.floor(
            ny.cast("double") / (_JL_M * F.col("nx").cast("double")) * 1000000
        ).cast("long"),
    ).otherwise(zero)
    return (
        proj.select("label", micros.alias("micros"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum("micros").cast("double")
                / (F.count(F.lit(1)) * 1000000.0),
                6,
            ).alias("avg_ratio"),
            F.round(F.min("micros") / 1000000.0, 6).alias("min_ratio"),
            F.round(F.max("micros") / 1000000.0, 6).alias("max_ratio"),
        )
        .orderBy("label")
    )


_DIMQ = 1 << 12  # 2^12 per-component quantization for dim stats


@query(
    "emb_dim_variance_top",
    oracle=f"""
    WITH v AS (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * {_DIMQ}) AS BIGINT)) AS xq
      FROM embeddings
    ),
    comp AS (
      SELECT g.i - 1 AS dim, xq[g.i] AS val
      FROM v, UNNEST(generate_series(1, len(xq))) AS g(i)
    ),
    stats AS (
      SELECT CAST(dim AS INT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(val) AS BIGINT) AS sum_q,
             CAST(SUM(val * val) AS BIGINT) AS ss
      FROM comp GROUP BY dim
    )
    SELECT dim, n, sum_q,
           CAST((ss * n - sum_q * sum_q) // (n * n) AS BIGINT) AS var_q
    FROM stats
    ORDER BY var_q DESC, dim
    LIMIT 10
    """,
)
def q_emb_dim_variance_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance profile of the embedding table: the 10
    highest-variance dimensions with exact integer moment sums — the
    feature-QA pass run before whitening/standardizing or before
    Matryoshka-style dimension truncation (a dead dimension has ~0
    variance and can be dropped; one dimension dominating variance
    means the encoder collapsed). Companion to ``emb_covariance_stats``
    (full Gram matrix) when only the diagonal is needed — at 100 TB
    the diagonal pass moves d values per partition instead of d².

    Determinism: components quantize to floor(x * 2^12); count/sum/
    sum-of-squares are exact int64 (|val| <= 2^13 -> ss*n < 2^60 at
    SF 1); variance uses the integer identity
    ``(n*ss - s^2) div n^2`` whose numerator is non-negative
    (Cauchy-Schwarz), so truncating and flooring division agree across
    engines.

    Scale: one posexplode then a d-key map-side-combined aggregate —
    partials are (dim, n, s, ss) triples, d=64 rows per partition; the
    final relation is d rows and the top-k is a TakeOrdered, no global
    sort of data.
    """
    e = parallelize(load_table(spark, "embeddings", sf_dir), spark).select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _DIMQ).cast("long"),
        ).alias("xq")
    )
    comp = e.select(F.posexplode(F.col("xq")).alias("dim", "val"))
    stats = comp.groupBy(F.col("dim").cast("int").alias("dim")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val").cast("long").alias("sum_q"),
        F.sum(F.col("val") * F.col("val")).cast("long").alias("ss"),
    )
    return (
        stats.select(
            "dim",
            "n",
            "sum_q",
            F.expr("(ss * n - sum_q * sum_q) DIV (n * n)").alias("var_q"),
        )
        .orderBy(F.col("var_q").desc(), "dim")
        .limit(10)
    )
