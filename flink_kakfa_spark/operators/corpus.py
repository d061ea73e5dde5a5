"""Corpus-composition operators: source/domain-level hygiene and data
mixing for LLM training pipelines.

Web-scale training corpora are curated per SOURCE (domain, crawl,
dataset shard), not only per document: C4 drops whole domains,
GPT-3/The-Pile re-weight datasets by quality ("mixture weights"), and
every production pipeline reports per-source health dashboards. These
operators provide that layer over the ``documents`` table's ``source``
column, plus the embedding-space diagnostic (label-centroid purity)
used to sanity-check learned representations.

The reference has no analogue — its corpus surface is produce/consume
of generated sentences (go/producer/producer.go:119-131); this module
is part of the training-data mandate (dedup / text-analysis family).

Scale notes (100 TB):
- Everything aggregates to O(#sources) or O(#labels) rows (tens to
  thousands), so every join back to the corpus broadcasts the small
  side. The corpus is scanned once per query; no shuffle ever carries
  document text (only 16-byte digests and per-source counters).
- Mixture math routes double sums through DECIMAL so any partitioning
  of the sum yields identical bits (decimal addition is associative);
  sqrt (exact per IEEE-754, unlike pow/log) is the temperature knob.
- Temperature sampling keys on the portable md5 uniform
  (functions/hashing.py), so the sampled SET is deterministic across
  engines, partitionings, and retries — a replayed 100 TB sampling job
  re-selects byte-identical training data (critical for reproducible
  training runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_uniform, sql_md5_uniform
from flink_kakfa_spark.functions.vectors import as_double, sq_norm, sql_sq_norm
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table

# Temperature-0.5 mixture: weight ∝ count^0.5 via sqrt (bit-exact in
# both engines; pow() drifts by ulps between libm implementations).
SAMPLE_BUDGET_FRACTION = 0.5  # target corpus size after mixing


# Shared mixture-rate CTE (DuckDB): per-source sqrt-count weights and
# the resulting per-source keep rate. Decimal sums keep the weight
# denominator associative; doubles only at the final division.
_SQL_RATES = """
    counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    rates AS (
      SELECT
        source,
        n_docs,
        CAST(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE)
          / CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(28,12))) OVER () AS DOUBLE)
          AS weight,
        LEAST(
          1.0,
          (CAST(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE)
           / CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(28,12))) OVER () AS DOUBLE))
          * (SUM(n_docs) OVER () * {budget}) / n_docs
        ) AS sample_rate
      FROM counts
    )
""".format(budget=SAMPLE_BUDGET_FRACTION)


def _mixture_rates(d: DataFrame) -> DataFrame:
    """source -> (n_docs, weight, sample_rate) under temperature-0.5.

    weight_s = sqrt(n_s) / Σ sqrt(n); rate_s = min(1, weight_s · B / n_s)
    where B = total · SAMPLE_BUDGET_FRACTION. The Σ and B run over a
    decimal cast so the (tiny) window sums are order-insensitive; no
    driver action — total comes from the same O(#sources) relation.
    The window-over-all is a single-partition exchange of that tiny
    relation, never of the corpus.
    """
    sqrt_dec = F.sqrt(F.col("n_docs").cast("double")).cast("decimal(28,12)")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    weight = sqrt_dec.cast("double") / F.sum(sqrt_dec).over(w).cast("double")
    budget = F.sum("n_docs").over(w) * F.lit(SAMPLE_BUDGET_FRACTION)
    return counts.select(
        "source",
        "n_docs",
        weight.alias("weight"),
        F.least(F.lit(1.0), weight * budget / F.col("n_docs")).alias("sample_rate"),
    )


@query(
    "corpus_source_stats",
    oracle="""
    SELECT
      source,
      COUNT(*) AS n_docs,
      COUNT(DISTINCT md5(text)) AS n_uniq_texts,
      1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate,
      COUNT(DISTINCT lang) AS n_langs,
      CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def q_corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard: volume, exact-dup rate,
    language spread, mean document length.

    The first report any corpus curation run produces (per domain in
    C4, per dataset in The Pile). Distinct-text counting shuffles the
    16-byte md5 digest, never the document text — at 100 TB the
    shuffle is ~0.02% of corpus bytes. avg is exact-integer-sum / count
    (deterministic bits at any parallelism).
    """
    d = load_table(spark, "documents", sf_dir)
    n = F.count(F.lit(1))
    uniq = F.countDistinct(F.md5("text"))
    return d.groupBy("source").agg(
        n.alias("n_docs"),
        uniq.alias("n_uniq_texts"),
        (F.lit(1.0) - uniq.cast("double") / n).alias("dup_rate"),
        F.countDistinct("lang").alias("n_langs"),
        (F.sum("n_chars").cast("double") / n).alias("avg_chars"),
    )


@query(
    "corpus_mixture_weights",
    oracle="WITH " + _SQL_RATES + " SELECT source, n_docs, weight, sample_rate FROM rates",
)
def q_corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights: temperature-0.5 source re-weighting.

    GPT-3-style mixture: sampling probability ∝ n^T flattens the head
    (huge crawls) and boosts the tail (small curated sets). Emits the
    per-source weight and the concrete per-document keep rate for a
    SAMPLE_BUDGET_FRACTION-sized output corpus; rates >= 1 mean the
    source is taken whole (budget re-flows to capped sources is left
    to the sampler's caller, as in the published recipes).
    """
    return _mixture_rates(load_table(spark, "documents", sf_dir))


@query(
    "corpus_temperature_sample",
    oracle="WITH "
    + _SQL_RATES
    + f"""
    SELECT d.doc_id, d.source, d.lang, d.n_chars
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {sql_md5_uniform('doc_id')} < r.sample_rate
    """,
)
def q_corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixture: deterministic per-source temperature sampling.

    Each document draws a portable uniform from md5(doc_id) and is kept
    iff u < its source's rate — so the sampled set is a pure function
    of the data, reproducible across engines, retries, and cluster
    re-partitioning (a re-run of a 100 TB mixing job emits the same
    training corpus, which is what makes training runs auditable).
    The rates relation is O(#sources) and broadcasts; the corpus scan
    stays narrow (one md5 + one comparison per row).
    """
    d = load_table(spark, "documents", sf_dir)
    rates = _mixture_rates(d).select("source", "sample_rate")
    return (
        d.join(F.broadcast(rates), "source")
        .filter(md5_uniform(F.col("doc_id")) < F.col("sample_rate"))
        .select("doc_id", "source", "lang", "n_chars")
    )


@query(
    "corpus_domain_filter",
    oracle="""
    WITH src AS (
      SELECT source, CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS src_avg_chars
      FROM documents GROUP BY source
    ),
    thresh AS (
      SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS corpus_avg FROM documents
    )
    SELECT d.doc_id, d.source, s.src_avg_chars
    FROM documents d
    JOIN src s ON d.source = s.source, thresh t
    WHERE s.src_avg_chars >= t.corpus_avg
    """,
)
def q_corpus_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style domain filtering: keep documents from sources whose
    aggregate signal clears a corpus-level threshold.

    The two-level pattern — per-source aggregate, corpus-global
    threshold, semi-join back — is how domain blocklists are actually
    computed (not hand-written): both the per-source relation and the
    1-row threshold broadcast, so the corpus is scanned once and never
    shuffled. Signal here is mean document length (the fixture's
    quality proxy); in production the same plan carries any per-source
    score. All arithmetic is exact-integer-sum / count, so the
    threshold comparison is deterministic to the bit.
    """
    d = load_table(spark, "documents", sf_dir)
    src = d.groupBy("source").agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("src_avg_chars")
    )
    thresh = d.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("corpus_avg")
    )
    return (
        d.join(F.broadcast(src), "source")
        .join(F.broadcast(thresh))
        .filter(F.col("src_avg_chars") >= F.col("corpus_avg"))
        .select("doc_id", "source", "src_avg_chars")
    )


@query(
    "emb_centroid_purity",
    oracle="""
    WITH comp AS (
      SELECT vec_id, label, g.pos, embedding[g.pos] AS val
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS g(pos)
    ),
    cent AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c_val
      FROM comp GROUP BY label, pos
    ),
    dist AS (
      SELECT comp.vec_id, comp.label, cent.c_label,
             SUM(CAST(ROUND(
               (CAST(comp.val AS DOUBLE) - cent.c_val)
               * (CAST(comp.val AS DOUBLE) - cent.c_val)
               * 1e12) AS BIGINT)) AS d2
      FROM comp JOIN cent ON comp.pos = cent.pos
      GROUP BY comp.vec_id, comp.label, cent.c_label
    ),
    nearest AS (
      SELECT vec_id, label, c_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      FROM dist
    )
    SELECT
      label,
      COUNT(*) AS n_vecs,
      CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_pure,
      CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        AS purity
    FROM nearest WHERE rn = 1
    GROUP BY label
    """,
)
def q_emb_centroid_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diagnostic: label-centroid purity.

    Computes each label's centroid (per-dimension mean through DECIMAL
    sums, so centroids are bit-identical at any partitioning), assigns
    every vector to its nearest centroid by squared L2, and reports per
    label how many of its vectors come home — the standard quick check
    that an embedding column is healthy before spending GPU time on it.

    Scale shape: centroids are O(#labels × dim) — KBs — computed with
    one aggregation and broadcast; the assignment pass is a narrow map
    over vectors (explode to components only inside the aggregation,
    never shuffled raw). The per-vector argmin is min(struct(d2,
    c_label)) — a hash aggregate with map-side partials, i.e. the
    shuffle carries #labels rows per vector of 3 small columns, not
    the embeddings themselves, and no window sort.
    """
    e = load_table(spark, "embeddings", sf_dir)
    comp = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "val")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
    cent = comp.groupBy(F.col("label").alias("c_label"), "pos").agg(
        (F.sum(F.col("val").cast("decimal(20,10)")).cast("double") / F.count(F.lit(1))).alias(
            "c_val"
        )
    )
    # d2 quantized to int64: each term is the same IEEE double in both
    # engines ((x-c)^2 * 1e12, < 2^53 so ROUND is exact), and integer
    # addition is associative — any accumulation order produces the
    # same value, so the argmin cannot flip on float-summation ties.
    # Primitive longs stay inside whole-stage codegen; the previous
    # DECIMAL(38,18) accumulator boxed a BigDecimal per term (~2x wall
    # time), and an array-fold variant dropped out of codegen entirely
    # (higher-order functions interpret their lambdas). The x64xL row
    # blowup below is pipelined inside one codegen stage — never
    # materialized — and the partial aggregate combines map-side, so
    # the one exchange carries N_vecs x N_labels rows of 3 small
    # columns. Argmin via min(struct(d2, c_label)): lexicographic
    # struct ordering = the oracle's ROW_NUMBER ORDER BY d2, c_label.
    diff = F.col("val").cast("double") - F.col("c_val")
    term = F.round(diff * diff * F.lit(1e12)).cast("long")
    dist = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(term).alias("d2"))
    )
    nearest = (
        dist.groupBy("vec_id")
        .agg(
            F.any_value("label").alias("label"),
            F.min(F.struct("d2", "c_label")).alias("b"),
        )
        .select("vec_id", "label", F.col("b.c_label").alias("c_label"))
    )
    pure = F.sum(F.when(F.col("c_label") == F.col("label"), 1).otherwise(0))
    n = F.count(F.lit(1))
    return nearest.groupBy("label").agg(
        n.alias("n_vecs"),
        pure.alias("n_pure"),
        (pure.cast("double") / n).alias("purity"),
    )


@query(
    "emb_quality_stats",
    oracle="""
    WITH comp AS (
      SELECT vec_id, label, g.pos, embedding[g.pos] AS val
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS g(pos)
    ),
    norms AS (
      SELECT vec_id, ANY_VALUE(label) AS label,
             SQRT(CAST(SUM(CAST(
               CAST(val AS DOUBLE) * CAST(val AS DOUBLE)
             AS DECIMAL(38,18))) AS DOUBLE)) AS nrm,
             COUNT(*) AS dim,
             SUM(CASE WHEN val = 0 THEN 1 ELSE 0 END) AS n_zero_comp
      FROM comp GROUP BY vec_id
    )
    SELECT
      label,
      CAST(COUNT(*) AS BIGINT) AS n_vecs,
      CAST(MIN(dim) AS BIGINT) AS min_dim,
      CAST(MAX(dim) AS BIGINT) AS max_dim,
      ROUND(CAST(SUM(CAST(nrm AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 4)
        AS avg_norm,
      ROUND(MIN(nrm), 4) AS min_norm,
      ROUND(MAX(nrm), 4) AS max_norm,
      CAST(SUM(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_degenerate
    FROM norms
    GROUP BY label
    """,
)
def q_emb_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column health check: norm distribution, dim consistency,
    degenerate (near-zero) vectors, per label.

    The per-vector squared-norm accumulates through DECIMAL so the
    64-term sum is associative (bit-identical at any partitioning and
    in the oracle engine); group-level norm sums use the same trick.
    This is the gate a vector pipeline runs before building any index:
    mixed dimensions, zero vectors, or collapsed norms all surface
    here. One explode-aggregate (vec_id-local, no raw-embedding
    shuffle) + one label aggregate.
    """
    e = load_table(spark, "embeddings", sf_dir)
    comp = e.select("vec_id", "label", F.explode("embedding").alias("val"))
    sq = (F.col("val").cast("double") * F.col("val").cast("double")).cast(
        "decimal(38,18)"
    )
    norms = comp.groupBy("vec_id").agg(
        F.any_value("label").alias("label"),
        F.sqrt(F.sum(sq).cast("double")).alias("nrm"),
        F.count(F.lit(1)).alias("dim"),
        F.sum(F.when(F.col("val") == 0, 1).otherwise(0)).alias("n_zero_comp"),
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_norm"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.sum(F.when(F.col("nrm") < 1e-6, 1).otherwise(0)).alias("n_degenerate"),
    )


@query(
    "emb_matryoshka_quality",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings
    ),
    norms AS (
      SELECT
        vec_id, label,
        SQRT({sql_sq_norm("emb[1:16]")}) AS norm16,
        SQRT({sql_sq_norm("emb")}) AS norm_full
      FROM v
    )
    SELECT
      label,
      CAST(COUNT(*) AS BIGINT) AS n_vecs,
      ROUND(AVG(norm16 / norm_full), 6) AS avg_retention,
      ROUND(MIN(norm16 / norm_full), 6) AS min_retention
    FROM norms
    GROUP BY label
    """,
)
def q_emb_matryoshka_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation diagnostic: how much of each vector's norm
    the first 16 of 64 dimensions retain, summarized per label.

    For a zero-padded prefix truncation, cosine(full, truncated) equals
    ||v[:16]|| / ||v|| — so retention IS the exact cosine between the
    full vector and its 16-dim matryoshka truncation. Run before
    swapping a pipeline to truncated embeddings: labels with low
    retention lose their geometry first.

    100 TB shape: one narrow map computes both norms with in-array
    folds (no explode, nothing but (label, two doubles) reaches the
    shuffle), then a label-count-sized aggregate. AVG order-dependence
    is rounded off at 6 decimals on both engines.
    """
    e = load_table(spark, "embeddings", sf_dir)
    emb = as_double("embedding")
    norms = e.select(
        "label",
        F.sqrt(sq_norm(F.slice(emb, 1, 16))).alias("norm16"),
        F.sqrt(sq_norm(emb)).alias("norm_full"),
    )
    retention = F.col("norm16") / F.col("norm_full")
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(retention), 6).alias("avg_retention"),
        F.round(F.min(retention), 6).alias("min_retention"),
    )


@query(
    "corpus_dataset_card",
    oracle="""
    WITH tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
             CAST(SUM(n_chars) AS BIGINT) AS corpus_chars
      FROM documents
    )
    SELECT
      d.source,
      d.lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
      ROUND(CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
      ROUND(100.0 * COUNT(*) / ANY_VALUE(t.total_docs), 4) AS pct_docs,
      ROUND(100.0 * CAST(SUM(d.n_chars) AS DOUBLE)
            / ANY_VALUE(t.corpus_chars), 4) AS pct_chars
    FROM documents d CROSS JOIN tot t
    GROUP BY d.source, d.lang
    """,
)
def q_corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per-(source, language) composition datasheet.

    What every released corpus publishes (C4, The Pile, Dolma dataset
    cards): document/char/token volumes per slice plus each slice's
    share of the whole. Shares divide exact integer sums by exact
    integer totals in double — bit-deterministic at any parallelism.

    Scale (100 TB): one fact shuffle at (source, lang) grain; the
    corpus-wide totals are a 1-row broadcast attached before the
    aggregate (no driver action, plan stays lazy). Token counts ride
    the same pass as char sums — the corpus is read once.
    """
    d = load_table(spark, "documents", sf_dir)
    tot = d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_chars").alias("corpus_chars"),
    )
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(n_tok).alias("total_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_chars"),
            F.round(
                F.lit(100.0) * F.count(F.lit(1)) / F.any_value("total_docs"),
                4,
            ).alias("pct_docs"),
            F.round(
                F.lit(100.0)
                * F.sum("n_chars").cast("double")
                / F.any_value("corpus_chars"),
                4,
            ).alias("pct_chars"),
        )
    )


# Epoch-capped budget allocator (waterfilling) constants: spend 92 %
# of corpus tokens, but no source may contribute more than 95 % of its
# own tokens (its "epoch cap") — surplus re-flows to uncapped sources.
_WF_BUDGET_PCT = 92
_WF_CAP_PCT = 95
_WF_ROUNDS = 4


def _waterfill_oracle() -> str:
    prev = "s0"
    steps = []
    for r in range(1, _WF_ROUNDS + 1):
        steps.append(
            f"""
    t{r} AS (
      SELECT
        CAST((SELECT b FROM budget) - SUM(assigned) AS BIGINT) AS rem,
        CAST(COALESCE(SUM(w) FILTER (WHERE NOT capped), 0) AS BIGINT)
          AS wsum
      FROM {prev}
    ),
    s{r} AS (
      SELECT
        s.source, s.avail, s.cap, s.w,
        LEAST(s.cap,
              s.assigned + CASE
                WHEN NOT s.capped AND t.wsum > 0
                THEN CAST(FLOOR(t.rem * CAST(s.w AS DOUBLE) / t.wsum)
                          AS BIGINT)
                ELSE 0 END) AS assigned,
        LEAST(s.cap,
              s.assigned + CASE
                WHEN NOT s.capped AND t.wsum > 0
                THEN CAST(FLOOR(t.rem * CAST(s.w AS DOUBLE) / t.wsum)
                          AS BIGINT)
                ELSE 0 END) >= s.cap AS capped
      FROM {prev} s CROSS JOIN t{r} t
    )"""
        )
        prev = f"s{r}"
    return f"""
    WITH src AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    budget AS (
      SELECT CAST(FLOOR(SUM(avail) * {_WF_BUDGET_PCT} / 100.0) AS BIGINT)
        AS b
      FROM src
    ),
    s0 AS (
      SELECT source, avail,
             CAST(FLOOR(avail * {_WF_CAP_PCT} / 100.0) AS BIGINT) AS cap,
             CAST(FLOOR(SQRT(avail) * 1000) AS BIGINT) AS w,
             CAST(0 AS BIGINT) AS assigned,
             FALSE AS capped
      FROM src
    ),{",".join(steps)}
    SELECT
      source,
      avail AS avail_tokens,
      cap AS cap_tokens,
      assigned AS assigned_tokens,
      ROUND(CAST(assigned AS DOUBLE) / avail, 4) AS epochs
    FROM {prev}
    ORDER BY source
    """


@query("corpus_epoch_capped_budget", oracle=_waterfill_oracle())
def q_corpus_epoch_capped_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped token-budget allocation by waterfilling — the
    re-flow step ``corpus_mixture_weights`` deliberately leaves to its
    caller: temperature-flattened shares over-subscribe small sources
    past their epoch cap, so each round caps the over-subscribed and
    redistributes the surplus to the rest (the LLaMA/Pile mixing
    recipe's "at most k epochs of any source" constraint).

    K = {4} unrolled rounds: each round at least one source caps or
    the budget is exhausted, so K bounds the cap cascade; any residue
    after K rounds stays unallocated IDENTICALLY in both engines
    (floor arithmetic over exact int64 token counts — the allocation
    is bit-deterministic, unlike a float-share formulation whose
    rounding order would drift).

    Scale: ONE corpus scan builds the per-source token counts
    (map-side-combined aggregate); the waterfilling itself iterates
    over the |sources|-row relation — KB forever — materialized once
    so the rounds never re-touch the corpus.
    """
    d = load_table(spark, "documents", sf_dir)
    src = (
        d.groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " "))).alias("avail")
        )
        # the rounds reference this tiny (|sources|-row) relation
        # 2x per round — materialize once so plan duplication never
        # re-runs the corpus scan (same rationale as linalg.py)
        .localCheckpoint()
    )
    budget = src.agg(
        F.floor(F.sum("avail") * _WF_BUDGET_PCT / 100.0)
        .cast("long")
        .alias("b")
    )
    state = src.crossJoin(F.broadcast(budget)).select(
        "source",
        "avail",
        F.floor(F.col("avail") * _WF_CAP_PCT / 100.0).cast("long").alias("cap"),
        F.floor(F.sqrt("avail") * 1000).cast("long").alias("w"),
        F.lit(0).cast("long").alias("assigned"),
        F.lit(False).alias("capped"),
        "b",
    )
    for _ in range(_WF_ROUNDS):
        tots = state.agg(
            (F.max("b") - F.sum("assigned")).cast("long").alias("rem"),
            F.coalesce(
                F.sum(F.when(~F.col("capped"), F.col("w"))), F.lit(0)
            )
            .cast("long")
            .alias("wsum"),
        )
        inc = F.when(
            (~F.col("capped")) & (F.col("wsum") > 0),
            F.floor(
                F.col("rem") * F.col("w").cast("double") / F.col("wsum")
            ).cast("long"),
        ).otherwise(F.lit(0))
        new_assigned = F.least(F.col("cap"), F.col("assigned") + inc)
        state = state.crossJoin(F.broadcast(tots)).select(
            "source",
            "avail",
            "cap",
            "w",
            new_assigned.alias("assigned"),
            (new_assigned >= F.col("cap")).alias("capped"),
            "b",
        )
    return state.select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.col("cap").alias("cap_tokens"),
        F.col("assigned").alias("assigned_tokens"),
        F.round(
            F.col("assigned").cast("double") / F.col("avail"), 4
        ).alias("epochs"),
    ).orderBy("source")
