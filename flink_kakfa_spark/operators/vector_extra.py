"""Vector-pipeline extensions: product quantization and SemDeDup.

Two operators from the modern embedding-pipeline toolbox, both with
value-exact DuckDB oracles via the portable-codebook idiom
(``similarity.py``: deterministic codebooks + floor-quantized integer
distances, so assignment is bit-identical across engines):

- **PQ + ADC top-k** (`sim_pq_adc_topk`): product quantization
  (Jegou, Douze, Schmid, TPAMI 2011) — split the 64-dim vector into
  8 subspaces of 8 dims, code each subvector as its nearest of 16
  sub-centroids, and answer queries with the Asymmetric Distance
  Computation: a 128-entry query-to-centroid lookup table replaces
  all float math during the scan. Codes compress 64 floats to 8
  nibbles — the memory trick behind billion-vector FAISS indexes.
- **SemDeDup** (`dedup_semdedup`): semantic deduplication (Abbas et
  al., 2023) — bucket embeddings into coarse cells, and inside each
  cell drop members whose cosine to the cell representative exceeds a
  threshold. The embedding-space analogue of MinHash document dedup.

Scale notes: PQ assignment and ADC scoring are ONE narrow pass
(codebook and lookup table are broadcast 1-row frames; no shuffle
before TakeOrdered(shortlist)); SemDeDup shuffles once on the
cell id, and the per-cell representative join is a broadcast (#cells
rows). Both follow the survey's ANN mandate: brute force as baseline,
bucketed/compressed variants as the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.vectors import as_double, cosine, spark_sql_sq_l2
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table, parallelize

_PQ_M = 8          # subspaces
_PQ_DSUB = 8       # dims per subspace (8 x 8 = 64)
_PQ_K = 16         # sub-centroids per subspace (vectors 1..16)
_PQ_SHORTLIST = 50

_SEM_CELLS = 8     # coarse cells (vectors 1..8 as anchors)
_SEM_TAU = 0.25    # drop members with cosine-to-representative >= tau


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with double array + floor-quantized integer array."""
    e = parallelize(load_table(spark, "embeddings", sf_dir), spark).select(
        "vec_id", as_double("embedding").alias("emb")
    )
    return e.withColumn(
        "qa", F.transform("emb", lambda x: F.floor(x * 1000000).cast("long"))
    )


@query(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qa
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, m.m,
             list_slice(qa, m.m * {_PQ_DSUB} + 1,
                        m.m * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
      FROM q, UNNEST(generate_series(0, {_PQ_M - 1})) AS m(m)
    ),
    cents AS (
      SELECT vec_id - 1 AS c, m, sv AS cv FROM sub
      WHERE vec_id BETWEEN 1 AND {_PQ_K}
    ),
    asg AS (
      SELECT s.vec_id, s.m, c.c,
             (SELECT SUM((s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))
              FROM UNNEST(generate_series(1, {_PQ_DSUB})) AS g(i)) AS d2
      FROM sub s JOIN cents c ON s.m = c.m
    ),
    codes AS (
      SELECT vec_id, m, c, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d2 ASC, c ASC) AS rk
      FROM asg
    ),
    qd2 AS (SELECT m, c, d2 AS qdist FROM asg WHERE vec_id = 0),
    adc AS (
      SELECT k.vec_id, CAST(SUM(t.qdist) AS BIGINT) AS adc_d2
      FROM codes k JOIN qd2 t ON k.m = t.m AND k.c = t.c
      WHERE k.rk = 1 AND k.vec_id <> 0
      GROUP BY k.vec_id
    ),
    short AS (
      SELECT vec_id, adc_d2 FROM adc
      ORDER BY adc_d2 ASC, vec_id ASC LIMIT {_PQ_SHORTLIST}
    )
    SELECT s.vec_id, s.adc_d2,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(eq.embedding AS DOUBLE[])),
                 6) AS cos_sim
    FROM short s
    JOIN embeddings e ON e.vec_id = s.vec_id
    JOIN embeddings eq ON eq.vec_id = 0
    ORDER BY cos_sim DESC, s.vec_id ASC
    LIMIT 10
    """,
)
def q_sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: code every vector as 8 sub-centroid
    ids, score candidates via the ADC lookup table, exact-rescore the
    shortlist.

    Sub-codebooks are the subvectors of vectors 1..16 (the
    deterministic stand-in for trained sub-centroids — plumbing and
    plan shape identical); assignment and ADC distances are squared L2
    over floor-quantized integers, so codes, lookup table, and the
    shortlist ranking are all bit-identical across engines. Exact
    cosine rescores the top-{_PQ_SHORTLIST} down to 10.

    Scale: the codebook (128 structs) and the query's ADC table (128
    entries) are broadcast 1-row frames; coding + ADC scoring is one
    narrow whole-stage-codegen pass over the scan (zero shuffles),
    then TakeOrdered({_PQ_SHORTLIST}) and a broadcast rescore. At
    100 TB the codes (8 bytes/vector) would be written back as a
    compact index column; the scan-side math never touches floats.
    """
    qz = _quantized(spark, sf_dir)
    subs = qz.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), m -> "
                f"struct(m AS m, slice(qa, m * {_PQ_DSUB} + 1, {_PQ_DSUB}) AS sv))"
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sv")
    cents = subs.filter(F.col("vec_id").between(1, _PQ_K)).select(
        (F.col("vec_id") - 1).alias("c"), "m", F.col("sv").alias("cv")
    )
    codebook = cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("m", "c", "cv"))).alias("cb")
    )
    # query ADC table: d2 from the query's 8 subvectors to all 128
    # sub-centroids — 128 rows, folded to a broadcast 1-row flat lookup
    # table qdl[m*K + c] = d2(query_sub_m, cent_c): O(1) per-subspace
    # lookup instead of a 128-struct scan
    qd = (
        subs.filter(F.col("vec_id") == 0)
        .join(F.broadcast(cents), "m")
        .select((F.col("m") * _PQ_K + F.col("c")).alias("idx"),
                F.expr(spark_sql_sq_l2("sv", "cv")).alias("qdist"))
        .groupBy()
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(idx, qdist))),"
                " s -> s.qdist)"
            ).alias("qdl")
        )
    )
    # one narrow pass per vector, written as a single expression with
    # explicit let-bindings (`transform(array(x), v -> ...)` evaluates
    # x once): subvectors sliced ONCE, argmin over each subspace's
    # centroids (lexicographic struct min = d2 then c tie-break), then
    # ADC = flat-table lookups at the codes. Chained withColumns here
    # let the optimizer inline each intermediate array into the next
    # lambda, re-evaluating it per element (the 12x trap measured on
    # text_winnow_fingerprints).
    adc_expr = f"""
    flatten(transform(
      array(transform(sequence(0, {_PQ_M - 1}),
                      m -> slice(qa, m * {_PQ_DSUB} + 1, {_PQ_DSUB}))), subsv ->
      transform(
        array(transform(sequence(0, {_PQ_M - 1}), m ->
          array_min(transform(filter(cb, e -> e.m = m),
            e -> struct({spark_sql_sq_l2("subsv[m]", "e.cv")} AS d2,
                        e.c AS c))).c)), codes ->
        aggregate(transform(sequence(0, {_PQ_M - 1}),
                            m -> qdl[int(m * {_PQ_K}) + int(codes[m])]),
                  0L, (s, x) -> s + x))))[0]
    """
    scored = (
        qz.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(codebook))
        .crossJoin(F.broadcast(qd))
        .withColumn("adc_d2", F.expr(adc_expr))
    )
    short = (
        scored.select("vec_id", "emb", "adc_d2")
        .orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
        .limit(_PQ_SHORTLIST)
    )
    qvec = qz.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qvec"))
    return (
        short.crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "adc_d2",
            F.round(cosine(F.col("emb"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@query(
    "dedup_semdedup",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qa
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id - 1 AS cell, qa AS ca FROM q
      WHERE vec_id BETWEEN 1 AND {_SEM_CELLS}
    ),
    dists AS (
      SELECT v.vec_id, c.cell,
             (SELECT SUM((v.qa[i] - c.ca[i]) * (v.qa[i] - c.ca[i]))
              FROM UNNEST(generate_series(1, 64)) AS g(i)) AS d2
      FROM q v, cents c
    ),
    assigned AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, cell ASC) AS rk
      FROM dists
    ),
    cells AS (SELECT vec_id, cell FROM assigned WHERE rk = 1),
    reps AS (SELECT cell, MIN(vec_id) AS rep FROM cells GROUP BY cell),
    cs AS (
      SELECT m.cell, r.rep,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(er.embedding AS DOUBLE[])),
                   6) AS c
      FROM cells m
      JOIN reps r ON m.cell = r.cell
      JOIN embeddings e ON e.vec_id = m.vec_id
      JOIN embeddings er ON er.vec_id = r.rep
      WHERE m.vec_id <> r.rep
    )
    SELECT cell,
           CAST(ANY_VALUE(rep) AS BIGINT) AS rep_vec_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN c >= {_SEM_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           ROUND(AVG(c), 4) AS avg_cos
    FROM cs GROUP BY cell
    """,
)
def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: per-cell semantic dedup stats.

    Coarse-quantize embeddings into {_SEM_CELLS} cells (anchors =
    vectors 1..{_SEM_CELLS}, integer-d2 assignment, ties to the lowest
    cell — engine-portable), elect the minimum vec_id as each cell's
    representative, and flag members whose 6-decimal cosine to the
    representative reaches tau={_SEM_TAU} as semantic duplicates.
    Reports member/dropped counts and mean cosine per cell.

    Scale: one shuffle on the cell id; anchors and per-cell
    representatives are broadcast (#cells rows). At 100 TB the cell id
    doubles as the partition key, so the per-cell cosine pass is
    co-located with the data — the SemDeDup paper's "cluster with
    k-means, dedup within clusters" recipe with the cluster step made
    deterministic.
    """
    qz = _quantized(spark, sf_dir)
    cents = (
        qz.filter(F.col("vec_id").between(1, _SEM_CELLS))
        .select((F.col("vec_id") - 1).alias("cell"), F.col("qa").alias("ca"))
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("cell", "ca"))).alias("cb"))
    )
    best = (
        "array_min(transform(cb, e -> struct("
        f"{spark_sql_sq_l2('qa', 'e.ca')} AS d2, e.cell AS cell))).cell"
    )
    cells = (
        qz.crossJoin(F.broadcast(cents))
        .withColumn("cell", F.expr(best))
        .select("vec_id", "emb", "cell")
    )
    reps = cells.groupBy("cell").agg(F.min("vec_id").alias("rep"))
    # fish the representatives' vectors out with an explicit broadcast
    # of the #cells-row reps frame — never a fact-sized shuffle
    rep_vecs = (
        cells.select(F.col("vec_id").alias("rep"), F.col("emb").alias("remb"))
        .join(F.broadcast(reps), "rep")
        .select("cell", "rep", "remb")
    )
    members = (
        cells.join(F.broadcast(rep_vecs), "cell")
        .filter(F.col("vec_id") != F.col("rep"))
        .withColumn("c", F.round(cosine(F.col("emb"), F.col("remb")), 6))
    )
    return members.groupBy("cell").agg(
        F.first("rep").alias("rep_vec_id"),
        (F.count(F.lit(1)) + 1).alias("n_members"),
        F.sum(
            F.when(F.col("c") >= F.lit(_SEM_TAU), 1).otherwise(0)
        ).alias("n_dropped"),
        F.round(F.avg("c"), 4).alias("avg_cos"),
    )


# ---------------------------------------------------------------------------
# ANN recall audit (round 7, VERDICT r6 item 5): every ANN shortlist in
# the engine measured against the brute-force ground truth, as a query.
# Both sides are deterministic, so this composes the four ANN oracles
# with the exact-cosine oracle into one value-exact DuckDB statement.

_RECALL_K = 10
_RECALL_METHODS = [
    # (method label, registered query whose top-10 is audited)
    ("ivf_portable", "sim_ivf_portable_topk"),
    ("lsh", "sim_lsh_ann_topk"),
    ("lsh_multiprobe", "sim_lsh_multiprobe_topk"),
    ("pq_adc", "sim_pq_adc_topk"),
    ("sq8", "sim_sq8_rescore_topk"),
]


def _recall_oracle() -> str:
    from flink_kakfa_spark.registry import ORACLES

    union = "\n      UNION ALL ".join(
        f"SELECT '{m}' AS method, vec_id FROM ({ORACLES[qname]})"
        for m, qname in _RECALL_METHODS
    )
    return f"""
    WITH exact AS (
      SELECT vec_id FROM ({ORACLES["sim_cosine_topk"]})
    ),
    u AS (
      {union}
    )
    SELECT u.method,
           CAST({_RECALL_K} AS INTEGER) AS k,
           CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits,
           ROUND(COUNT(e.vec_id) / {_RECALL_K}.0, 6) AS recall
    FROM u LEFT JOIN exact e USING (vec_id)
    GROUP BY u.method
    ORDER BY u.method
    """


@query("sim_ann_recall_at_k", oracle=_recall_oracle())
def q_sim_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every ANN shortlist (IVF, hyperplane LSH, PQ/ADC,
    SQ8-rescore) against the brute-force cosine top-10 — the retrieval
    eval harness's discipline (``eval_retrieval_metrics``) applied to
    the engine's own index structures.

    Composes the already-registered ANN queries wholesale: each one's
    final top-10 ids join against the exact top-10 (a broadcast 10-row
    frame), and recall is hits/k per method. Because every component
    query is deterministic (integer-quantized hyperplanes/codebooks,
    pinned tie-breaks), recall itself is value-exact and
    oracle-checked — an ANN regression (a quantizer change that drops
    recall) fails CORRECTNESS, not just a benchmark eyeball.

    Scale: the audit runs each ANN plan once at whatever SF the tables
    are — on a cluster you'd point it at a sampled partition; the
    join side is always k rows, broadcast.
    """
    from flink_kakfa_spark.operators.similarity import (
        q_sim_cosine_topk,
        q_sim_ivf_portable_topk,
        q_sim_lsh_ann_topk,
        q_sim_lsh_multiprobe_topk,
        q_sim_sq8_rescore_topk,
    )

    fns = {
        "ivf_portable": q_sim_ivf_portable_topk,
        "lsh": q_sim_lsh_ann_topk,
        "lsh_multiprobe": q_sim_lsh_multiprobe_topk,
        "pq_adc": q_sim_pq_adc_topk,
        "sq8": q_sim_sq8_rescore_topk,
    }
    exact = (
        q_sim_cosine_topk(spark, sf_dir)
        .select("vec_id")
        .withColumn("_hit", F.lit(1))
    )
    u = None
    for method, _qname in _RECALL_METHODS:
        part = fns[method](spark, sf_dir).select(
            F.lit(method).alias("method"), "vec_id"
        )
        u = part if u is None else u.unionByName(part)
    return (
        u.join(F.broadcast(exact), "vec_id", "left")
        .groupBy("method")
        .agg(
            F.lit(_RECALL_K).cast("int").alias("k"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.lit(_RECALL_K), 6
            ).alias("recall"),
        )
        .orderBy("method")
    )
