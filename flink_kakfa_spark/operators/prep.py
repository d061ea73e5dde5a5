"""Training/RAG preparation extras (Tier C, SURVEY.md §2.9 family).

- **Chunking**: split each document into fixed-size overlapping word
  windows — the retrieval-corpus shape every RAG pipeline needs.
  Chunk boundaries are pure arithmetic over the token array
  (posexplode of a stride sequence), so the operator is a narrow map:
  no shuffle, no UDF, parallel across whatever splits the scan gives.

- **Unigram surprisal**: score each document by the average negative
  log-probability of its words under the corpus's own unigram model —
  the cheapest useful "how out-of-distribution is this text" signal
  (high = rare-word salad, low = stopword soup). Two aggregates over
  the exploded words (vocab counts, then per-doc average) with the
  vocabulary broadcast back — at 100 TB the vocab table is MBs while
  the corpus is TBs, the same asymmetry decontamination exploits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import (
    md5_prefix,
    md5_uniform,
    sql_md5_prefix,
    sql_md5_uniform,
)
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table

_CHUNK = 32  # words per chunk
_STRIDE = 24  # overlap = _CHUNK - _STRIDE = 8 words


@query(
    "pipeline_chunk_documents",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    chunks AS (
      SELECT
        doc_id,
        CAST((g.start - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
        list_slice(ts, g.start, LEAST(g.start + {_CHUNK} - 1, len(ts))) AS cw
      FROM tok,
        UNNEST(generate_series(1, GREATEST(len(ts) - {_CHUNK} + {_STRIDE}, 1),
                               {_STRIDE})) AS g(start)
    )
    SELECT
      doc_id, chunk_id,
      CAST(len(cw) AS INTEGER) AS n_tokens,
      array_to_string(cw, ' ') AS chunk_text
    FROM chunks
    """,
)
def q_pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping {32-word / stride-24} chunks per document.

    Start offsets are generated up to the last position that still
    begins a (possibly short) final chunk, mirroring the tokenizer
    sliding-window convention; every document yields >=1 chunk.
    """
    d = load_table(spark, "documents", sf_dir)
    t = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(t) - F.lit(_CHUNK - _STRIDE), F.lit(1)),
        F.lit(_STRIDE),
    )
    return (
        d.select("doc_id", t.alias("ts"), F.posexplode(starts).alias("pos", "start"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("chunk_id"),
            F.slice(F.col("ts"), F.col("start"), F.lit(_CHUNK)).alias("cw"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("cw").alias("n_tokens"),
            F.array_join("cw", " ").alias("chunk_text"),
        )
    )


@query(
    "text_unigram_surprisal",
    oracle="""
    WITH w AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
    ),
    vocab AS (
      SELECT word, CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM w) AS p
      FROM w GROUP BY word
    )
    SELECT
      w.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      ROUND(AVG(-LN(v.p)), 4) AS surprisal
    FROM w JOIN vocab v ON w.word = v.word
    GROUP BY w.doc_id
    """,
)
def q_text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average negative log-probability under the corpus unigram LM.

    The vocabulary aggregate (one shuffle over words) joins back onto
    the exploded corpus WITHOUT a broadcast hint (round 10): the
    vocabulary grows with the corpus (Heaps' law, 1e8-1e9 types at
    crawl scale), so forcing it broadcast is an OOM at exactly the
    scale that matters — AQE converts to broadcast from runtime stats
    whenever it actually fits, and otherwise the join degrades to a
    partitioned word-keyed shuffle. The per-doc average is the final
    exchange.
    """
    d = load_table(spark, "documents", sf_dir)
    w = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    counts = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("tot"))
    # no driver-side action: the corpus total joins in as a broadcast
    # 1-row frame, keeping the whole plan lazy and distributed
    vocab = counts.crossJoin(F.broadcast(total)).select(
        "word", (F.col("c").cast("double") / F.col("tot")).alias("p")
    )
    return (
        w.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("p"))), 4).alias("surprisal"),
        )
    )


_RESERVOIR_K = 5


@query(
    "sample_k_per_source",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= {_RESERVOIR_K}
    """,
)
def q_sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: the distributed reservoir.

    Ordering by ``md5(source:doc_id)`` gives every row an engine-
    portable pseudo-random rank, so both engines (and every retry)
    select the SAME k docs per source — the property monte-carlo
    ``rand()`` sampling can't give an oracle. One exchange on source;
    at scale the same pattern runs as a top-k partial aggregate
    (TakeOrdered per group) rather than a full sort.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    key = F.md5(
        F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))
    )
    w = W.partitionBy("source").orderBy(key, "doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _RESERVOIR_K)
    )


_CURRICULUM_STAGES = 4


@query(
    "pipeline_curriculum_order",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             NTILE({_CURRICULUM_STAGES}) OVER (
               ORDER BY len(string_split(text, ' ')), doc_id
             ) AS stage
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(stage AS INTEGER) AS stage,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY stage
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS pos
    FROM scored
    """,
)
def q_pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: shortest-first stages, shuffled within.

    The standard curriculum-learning data layout: documents are split
    into K difficulty stages (here: token count as the difficulty
    proxy, NTILE over a total order — doc_id breaks ties so both
    engines tile identically), and within each stage rows get a
    deterministic pseudo-random training position (portable md5 rank,
    same trick as ``sample_k_per_source``) so every epoch, engine and
    retry sees the same order — reproducible runs being the point.

    Scale (100 TB): the stage tiling is computed by
    ``operators/distributed_rank.py`` — range-bin + per-bin offsets +
    bin-partitioned local rank over the skinny (doc_id, n_tokens)
    projection — NOT an unpartitioned NTILE window, so no Exchange
    SinglePartition ever sees the corpus (the driver's hash vs
    DuckDB's true NTILE proves exact equivalence). The within-stage
    rank partitions by stage (K partitions) which at extreme scale
    would re-split as (stage, md5-prefix) subranks — noted, not
    needed at test scale.
    """
    from pyspark.sql import Window as W

    from flink_kakfa_spark.operators.distributed_rank import with_global_ntile

    d = load_table(spark, "documents", sf_dir)
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    scored = d.select("doc_id", n_tok.alias("n_tokens"))
    staged = with_global_ntile(
        scored,
        ["n_tokens", "doc_id"],
        _CURRICULUM_STAGES,
        value_col="n_tokens",
        tile_name="stage",
    ).drop("_grn")
    pos = F.row_number().over(
        W.partitionBy("stage").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return staged.select(
        "doc_id", "n_tokens", "stage", pos.cast("long").alias("pos")
    )


_N_SHARDS = 16


@query(
    "pipeline_shuffle_shards",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS hx,
             ({sql_md5_prefix("CAST(doc_id AS VARCHAR)", 2)}) % {_N_SHARDS} AS shard
      FROM documents
    )
    SELECT doc_id,
           CAST(shard AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id)
                AS BIGINT) AS pos,
           CAST(COUNT(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_size
    FROM hashed
    """,
)
def q_pipeline_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards.

    The write-side of every pretraining run: assign each document a
    shard (first md5 byte mod N — uniform, engine-portable, stable
    under retries) and a position within the shard (md5 order — the
    "shuffle"). Downstream trainers read shard files sequentially and
    still see a pseudo-random document order with no RNG state to
    coordinate.

    Scale (100 TB): one shuffle on the shard key (the same exchange the
    physical write would need anyway); the md5 sort is per-shard, i.e.
    1/N of the data per task, and only (doc_id, 32-byte hex) ever
    moves. In production the same frame feeds
    ``write.partitionBy("shard")`` (sources/io.py).
    """
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    hx = F.md5(F.col("doc_id").cast("string"))
    shard = md5_prefix(F.col("doc_id").cast("string"), 2).cast("int") % _N_SHARDS
    hashed = d.select("doc_id", hx.alias("hx"), shard.alias("shard"))
    w = W.partitionBy("shard").orderBy("hx", "doc_id")
    return hashed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
        F.count(F.lit(1)).over(W.partitionBy("shard")).alias("shard_size"),
    )


@query(
    "pipeline_train_split",
    oracle=f"""
    WITH tagged AS (
      SELECT
        n_chars,
        CASE
          WHEN ({sql_md5_prefix("CAST(doc_id AS VARCHAR)", 1)}) < 12 THEN 'train'
          WHEN ({sql_md5_prefix("CAST(doc_id AS VARCHAR)", 1)}) < 14 THEN 'val'
          ELSE 'test'
        END AS split
      FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(n_chars) AS DOUBLE)
                 / (SELECT SUM(n_chars) FROM documents), 4) AS char_share
    FROM tagged GROUP BY split
    """,
)
def q_pipeline_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split by content-free
    hash of the document id.

    The split is a pure function of ``md5(doc_id)`` — stable across
    runs, engines, partitionings, and re-shards, which is what makes
    it safe to recompute instead of materializing a membership table.
    One narrow map plus a 3-group aggregate; the scalar total attaches
    lazily (no driver action). Leakage check: a doc's split never
    depends on anything but its id, so regenerating any other column
    cannot migrate documents between splits.
    """
    d = load_table(spark, "documents", sf_dir)
    nib = md5_prefix(F.col("doc_id").cast("string"), 1).cast("int")
    tagged = d.select(
        "n_chars",
        F.when(nib < 12, "train").when(nib < 14, "val").otherwise("test").alias(
            "split"
        ),
    )
    total = d.agg(F.sum("n_chars").alias("_total"))
    per = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return per.crossJoin(F.broadcast(total)).select(
        "split",
        "n_docs",
        "total_chars",
        F.round(F.col("total_chars").cast("double") / F.col("_total"), 4).alias(
            "char_share"
        ),
    )


from pyspark.sql import Window as _W

_WEIGHTED_K = 20
# exact half-ULP-of-2^32 shift: u = (raw + 0.5) / 2^32 stays strictly
# inside (0,1) and every term is an exact dyadic, so u is bit-identical
# across engines
_HALF_STEP = 1.0 / 8589934592.0


@query(
    "sample_weighted_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT
        doc_id, source, n_chars,
        LN({sql_md5_uniform('doc_id')} + {_HALF_STEP!r}) / n_chars AS k
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS INTEGER) AS rk
    FROM keyed
    ORDER BY k DESC, doc_id LIMIT {_WEIGHTED_K}
    """,
)
def q_sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement: Efraimidis–Spirakis
    exponential keys, selection probability proportional to doc length.

    The length-biased counterpart of ``sample_k_per_source``: each doc
    draws a deterministic uniform u from md5(doc_id) and ranks by
    ln(u)/weight — the distributed one-pass equivalent of weighted
    reservoir sampling (Efraimidis & Spirakis 2006). Both engines see
    bit-identical u (exact dyadic arithmetic on the md5 prefix), so
    the SAME k docs are selected everywhere, every retry — the
    determinism rand()-based sampling cannot give an oracle. Top-k by
    key is a TakeOrdered partial — no global sort at scale.
    """
    d = load_table(spark, "documents", sf_dir)
    u = md5_uniform(F.col("doc_id")) + F.lit(_HALF_STEP)
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    w = _W.orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.orderBy(F.col("k").desc(), "doc_id")
        .limit(_WEIGHTED_K)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .drop("k")
    )


_NEYMAN_TOTAL = 60  # total sample budget across strata


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH m AS (
      SELECT
        lang,
        CAST(COUNT(*) AS BIGINT) AS nh,
        CAST(SUM(n_chars) AS BIGINT) AS s1,
        CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, nh,
             CAST(FLOOR(nh * SQRT(
               (CAST(nh AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
               / (CAST(nh AS DOUBLE) * (nh - 1))
             ) * 1000) AS BIGINT) AS w_fp
      FROM m WHERE nh > 1
    ),
    alloc AS (
      SELECT lang, nh, w_fp,
             LEAST(
               CAST(FLOOR({_NEYMAN_TOTAL} * CAST(w_fp AS DOUBLE)
                          / (SELECT SUM(w_fp) FROM w)) AS BIGINT),
               nh) AS n_alloc
      FROM w
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, a.n_alloc,
             ROW_NUMBER() OVER (
               PARTITION BY d.lang
               ORDER BY md5('ney:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rk
      FROM documents d JOIN alloc a ON a.lang = d.lang
    )
    SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk, n_alloc
    FROM ranked WHERE rk <= n_alloc
    """,
)
def q_sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocated stratified sample: the fixed budget splits
    across language strata proportional to N_h · S_h (stratum size x
    within-stratum std of doc length) — the variance-minimizing
    allocation from survey sampling, and the statistically-grounded
    upgrade over the equal-k reservoir (``sample_k_per_source``).

    Determinism: stratum variance comes from exact integer moments
    (n·Σx² − (Σx)², every product < 2^53 so the doubles are exact),
    weights floor to int64 fixed-point so their TOTAL is an exact sum
    (a float total would make allocations rounding-order-dependent),
    and membership ranks by the portable md5 key — both engines (and
    every retry) select the identical sample. Floor allocation may
    undershoot the budget by < |strata| rows; by design (no
    remainder redistribution — it would need a cross-stratum
    tie-break ordering for no statistical gain).

    Scale: one moments aggregate (map-side combined) and one rank
    window, both on the lang key; the |strata|-row allocation table
    broadcasts back.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    var = (
        F.col("nh").cast("double") * F.col("s2")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("nh").cast("double") * (F.col("nh") - 1))
    w = (
        m.filter(F.col("nh") > 1)
        .select(
            "lang",
            "nh",
            F.floor(F.col("nh") * F.sqrt(var) * 1000)
            .cast("long")
            .alias("w_fp"),
        )
    )
    tot = w.agg(F.sum("w_fp").alias("tot_w"))
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.floor(
                _NEYMAN_TOTAL * F.col("w_fp").cast("double") / F.col("tot_w")
            ).cast("long"),
            F.col("nh").cast("long"),  # a stratum can't over-supply
        ).alias("n_alloc"),
    )
    key = F.md5(F.concat(F.lit("ney:"), F.col("doc_id").cast("string")))
    rk = F.row_number().over(W.partitionBy("lang").orderBy(key, "doc_id"))
    return (
        d.join(F.broadcast(alloc), "lang")
        .select("doc_id", "lang", rk.alias("rk"), "n_alloc")
        .filter(F.col("rk") <= F.col("n_alloc"))
    )


@query(
    "prep_winsorize_values",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    ),
    clipped AS (
      SELECT e.event_type,
             e.value,
             LEAST(GREATEST(e.value, c.lo), c.hi) AS w,
             c.lo, c.hi
      FROM events e JOIN cuts c USING (event_type)
    )
    SELECT
      event_type,
      ROUND(MAX(lo), 6) AS p01,
      ROUND(MAX(hi), 6) AS p99,
      CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clipped_low,
      CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clipped_high,
      CAST(SUM(CAST(w AS DECIMAL(18,4))) AS DOUBLE) AS winsorized_sum
    FROM clipped
    GROUP BY event_type
    """,
)
def q_prep_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report per event type: exact p01/p99 cut points,
    how many values each tail clips, and the decimal-exact sum of the
    clipped (winsorized) series — the outlier-robust normalization
    step before features/metrics are computed over a long-tailed
    value column (the apply-side sibling of the MAD/z-score gates,
    which only FLAG outliers).

    Scale: one exact-percentile aggregate per type (a |types|-row
    relation broadcast back) and one narrow clipping pass — the fact
    table never shuffles; the winsorized sum routes through DECIMAL
    so it hashes identically at any partitioning. At lake scale the
    exact percentiles swap for the mergeable histogram sketch
    (``agg_hist_quantile_rollup``) without touching the clip logic.
    """
    ev = load_table(spark, "events", sf_dir)
    cuts = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("lo"),
        F.percentile("value", F.lit(0.99)).alias("hi"),
    )
    w = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .select(
            "event_type",
            "value",
            "lo",
            "hi",
            w.cast("decimal(18,4)").alias("w"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.max("lo"), 6).alias("p01"),
            F.round(F.max("hi"), 6).alias("p99"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.sum("w").cast("double").alias("winsorized_sum"),
        )
    )


_KFOLDS = 5
_KF_KEY = "(CAST(doc_id AS VARCHAR) || '_fold')"
_KF_SQL = "((" + sql_md5_prefix(_KF_KEY) + f") % {_KFOLDS})"


@query(
    "pipeline_kfold_assignment",
    oracle=f"""
    WITH tagged AS (
      SELECT CAST({_KF_SQL} AS BIGINT) AS fold, source, n_chars
      FROM documents
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tagged
    ),
    folds AS (
      SELECT fold,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM tagged GROUP BY fold
    )
    SELECT
      f.fold, f.n_docs, f.total_chars, f.n_sources,
      CAST(ABS(f.n_docs * {_KFOLDS} - t.n_total) * 10000
           // GREATEST(t.n_total, 1) AS BIGINT) AS imbalance_bp
    FROM folds f CROSS JOIN tot t
    ORDER BY f.fold
    """,
)
def q_pipeline_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (k={_KFOLDS}):
    fold = md5(doc_id || '_fold') mod k — content-free like the
    train/val/test split, so folds are stable across runs, engines and
    re-shards, and a salt distinct from any other sampling decision
    keeps fold choice independent of them. The report is the balance
    audit run before trusting a CV estimate: per fold, doc count,
    char mass, source coverage, and the deviation of the fold's doc
    share from the ideal 1/k in basis points (|n_docs * k - N| / N).

    Scale: one narrow hash map plus a k-row aggregate; the 1-row total
    attaches as a broadcast (lazy-scalar pattern). Rebalancing is never
    needed — hash assignment self-balances with sampling error
    O(1/sqrt(N/k)), which the imbalance column makes visible.
    """
    d = load_table(spark, "documents", sf_dir)
    tagged = d.select(
        (
            md5_prefix(F.concat(F.col("doc_id").cast("string"), F.lit("_fold")))
            % _KFOLDS
        ).alias("fold"),
        "source",
        "n_chars",
    )
    tot = tagged.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    folds = tagged.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return (
        folds.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_docs",
            "total_chars",
            "n_sources",
            F.floor(
                F.abs(F.col("n_docs") * _KFOLDS - F.col("n_total"))
                * 10000
                / F.greatest(F.col("n_total"), F.lit(1))
            )
            .cast("long")
            .alias("imbalance_bp"),
        )
        .orderBy("fold")
    )
