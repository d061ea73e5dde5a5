"""Advanced text analysis: bigram LM scoring and winnowing fingerprints.

Two operators real pretraining pipelines run corpus-wide:

- **Interpolated bigram cross-entropy** (`text_bigram_perplexity`):
  per-document average negative log-probability under a corpus-level
  Jelinek-Mercer bigram LM, ``p(w2|w1) = l*c(w1,w2)/c(w1) +
  (1-l)*c(w2)/N`` — the classic KenLM-style quality signal used to
  filter web text (CCNet uses exactly this shape with a 5-gram model).
  Upgrades ``text_unigram_surprisal`` from context-free to contextual.
- **Winnowing fingerprints** (`text_winnow_fingerprints`): the MOSS
  algorithm (Schleimer, Wilkerson, Aiken, SIGMOD 2003) — hash every
  k-gram, slide a window of w consecutive k-gram hashes, record the
  window minimum. Guarantees any shared run of >= w+k-1 tokens yields
  a shared fingerprint while storing ~2/(w+1) of the hashes — the
  sub-linear substring-overlap detector between pure n-gram Jaccard
  and suffix arrays.

Scale notes: the bigram model is two hash aggregates (unigram,
bigram); the vocabulary is broadcast (sublinear in corpus size) while
the bigram join shuffles on the aggregated (w1, w2) key — the same
key distribution as the pair stream itself, so no extra skew is
introduced. Winnowing is computed entirely in-array (transform /
array_distinct — zero shuffles until the fingerprint inverted-index
self-join, which carries only (doc_id, fp) pairs). Both oracles are
value-exact: integer hash math is engine-portable and the float
cross-entropy is pinned to 4 decimals like ``text_unigram_surprisal``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import spark_sql_md5_prefix, sql_md5_prefix
from flink_kakfa_spark.functions.shingles import roll3
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table

_LAMBDA = 0.75  # Jelinek-Mercer interpolation weight on the bigram term

_WINNOW_W = 4   # window: one fingerprint per 4 consecutive k-gram hashes

# DuckDB (doc_id, i, fp): the window-of-W minimum ending at each 3-gram
# rolling hash; full windows are those with i >= W
_WINNOW_WINS_SQL = f"""d AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
                            w -> CAST({sql_md5_prefix('w')} AS BIGINT)) AS hs
      FROM documents
    ),
    kg AS (
      SELECT doc_id, g.i, {roll3("hs", "g.i")} AS kh
      FROM d, UNNEST(generate_series(1, len(hs) - 2)) AS g(i)
      WHERE len(hs) >= 3
    ),
    wins AS (
      SELECT doc_id, i,
             MIN(kh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                           AND CURRENT ROW) AS fp
      FROM kg
    )"""

# phase-1 mini-prefix of the adaptive top-k pair join: fingerprints
# indexed per doc while seeding the 20th-best-score lower bound
_WINNOW_SEED_PREFIX = 3


def _winnow_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints, one exploded row per
    selected distinct fingerprint.

    0-based twin of the oracle's 1-based folds: kgram j covers
    hs[j..j+2]; full windows end at kgram j >= W-1 (oracle i >= W).

    The whole per-document computation is ONE expression with explicit
    let-bindings (``transform(array(x), v -> ...)`` evaluates x once
    and binds the value): naming the intermediate arrays as chained
    withColumns instead lets the optimizer inline their trees into the
    downstream lambdas, re-evaluating the md5 token hashes per window
    element — measured 40x slower at sf0.1 (SCALE.md).
    """
    return _winnow_fps_from(load_table(spark, "documents", sf_dir))


def _winnow_fparr_from(docs: DataFrame) -> DataFrame:
    """(doc_id, fparr) — each document's winnowing fingerprint set as a
    SORTED distinct array (ascending, so the first element of an
    ``array_intersect`` between two of them is the pair's minimal
    shared fingerprint — the witness the zero-materialization pair
    join keys on). See ``_winnow_fp_frame``."""
    win_mins = ", ".join(f"karr[j - {o}]" for o in range(_WINNOW_W))
    fps_expr = f"""
    array_sort(array_distinct(flatten(transform(
      array(transform(split(text, ' '), w -> {spark_sql_md5_prefix('w')})), hsv ->
      flatten(transform(
        array(CASE WHEN size(hsv) >= 3 THEN
          transform(sequence(0, size(hsv) - 3), j -> {roll3("hsv", "j")})
          ELSE array() END), karr ->
        CASE WHEN size(karr) >= {_WINNOW_W} THEN
          transform(sequence({_WINNOW_W - 1}, size(karr) - 1),
                    j -> least({win_mins}))
          ELSE array() END))))))
    """
    return docs.select("doc_id", F.expr(fps_expr).alias("fparr"))


def _winnow_fps_from(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints over an arbitrary
    (doc_id, text) frame — see ``_winnow_fp_frame``."""
    return _winnow_fparr_from(docs).select(
        "doc_id", F.explode("fparr").alias("fp")
    )


@query(
    "text_bigram_perplexity",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    toks AS (SELECT doc_id, u.w FROM d, UNNEST(ws) AS u(w)),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
    pairs AS (
      SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
      FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS g(i)
      WHERE len(ws) >= 2
    ),
    bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM pairs GROUP BY w1, w2
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-LN({_LAMBDA} * b.c2 / u1.c
                         + {1 - _LAMBDA} * u2.c / t.n)), 4) AS bigram_xent
    FROM pairs p
    JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
    JOIN uni u1 ON p.w1 = u1.w
    JOIN uni u2 ON p.w2 = u2.w
    CROSS JOIN tot t
    GROUP BY p.doc_id
    """,
)
def q_text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under the corpus Jelinek-Mercer bigram LM.

    ``-ln(l*c2/c1 + (1-l)*c(w2)/N)`` averaged over a document's
    adjacent word pairs. Both engines evaluate the identical
    left-to-right double expression over identical integer counts, so
    only the final ln/avg needs the 4-decimal pin.

    Scale: unigram vocab + the 1-row total are broadcast; the bigram
    count table joins the pair stream on its own (w1, w2) key — an
    already-aggregated shuffle join, no skew beyond the corpus's own
    bigram skew (mitigate hot bigrams with the salted-agg pattern in
    ``functions/skew.py`` if a corpus demands it).
    """
    d = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    toks = d.select(F.explode("ws").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    pairs = (
        d.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(ws, 1, size(ws) - 1),"
                    " (w, i) -> struct(w AS w1, ws[i + 1] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    # bigram count as a window over the pair stream itself: ONE
    # exchange on (w1, w2) instead of groupBy + re-join (same key
    # distribution, half the shuffled volume)
    from pyspark.sql import Window as W

    with_c2 = pairs.withColumn(
        "c2", F.count(F.lit(1)).over(W.partitionBy("w1", "w2"))
    )
    p = (
        F.lit(_LAMBDA) * F.col("c2") / F.col("c1")
        + F.lit(1 - _LAMBDA) * F.col("cw2") / F.col("n")
    )
    return (
        with_c2
        .join(
            F.broadcast(
                uni.withColumnRenamed("c", "c1").withColumnRenamed("w", "w1")
            ),
            "w1",
        )
        .join(
            F.broadcast(
                uni.withColumnRenamed("c", "cw2").withColumnRenamed("w", "w2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 4).alias("bigram_xent"),
        )
    )


@query(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH {_WINNOW_WINS_SQL},
    fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE i >= {_WINNOW_W}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def q_text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing: doc pairs ranked by shared selected fingerprints.

    3-gram rolling hashes (same portable polynomial as
    ``text_fingerprint_rolling``), window-of-4 minima selected as the
    document's fingerprint set, then an inverted-index self-join
    counts fingerprints shared per doc pair. Any shared token run of
    length >= 6 (w + k - 1) is guaranteed to surface — the winnowing
    coverage theorem — at ~2/(w+1) of full shingle storage.

    Exact-collapse-first (round 7): identical texts carry identical
    fingerprint sets, so the inverted-index self-join used to produce
    |fps| x m(m-1)/2 rows per digest group of m verbatim copies — the
    100x sweep measured ~50x wall time (quadratic in duplicate
    multiplicity) before the collapse. The fingerprint join runs on
    one representative per text digest; a rep pair's n_shared stands
    for every member pair across the two groups, each multi-member
    group is its own class at n_shared = |its fingerprint set|, and
    classes expand through their 21 smallest member ids
    (top-20-sufficient — see ``dedup.expand_collapsed_pairs``).

    ADAPTIVE TWO-PHASE PREFIX top-k join (round 9): on the
    MUTATED-duplicate 100x corpus (each copy perturbed by one token)
    digests all differ while fingerprint sets stay near-identical, so
    posting lists deepen ~100x and the old groupBy(pair) aggregation
    genuinely defines ~3.5e9 pre-aggregation rows whose partial rows
    fan out across fingerprint-hash partitions — the pair exchange
    spilled >24 GB and was killed at 18 min; even exchange-free, a
    full inverted index streams all ~3.5e9 candidate rows (killed at
    45 min). The classic top-k set-similarity answer bounds the
    *candidate generation itself*:

    - Phase 1 (seed): index only each doc's {_WINNOW_SEED_PREFIX}
      RAREST fingerprints (global (document-frequency, fp) order —
      rare-first, so a corpus-hot boilerplate fp never lands in a
      prefix and every indexed bucket is bounded by true near-dup
      multiplicity). Any pair whose mini-prefixes share a
      fingerprint gets its TRUE score (full-array intersect); with
      the self classes these 20 best seed scores give t_lb <= the
      true 20th-best score. A ~({_WINNOW_SEED_PREFIX}/|fps|)^2
      fraction of the full volume, collected eagerly (20 rows) at
      plan-construction time — the registry's documented "driver-side
      scalar picks the plan" exception, like
      ``dedup_embedding_cosine``'s COUNT.
    - Phase 2 (complete): index each doc's ``|fparr| - t_lb + 1``
      rarest fingerprints. For any pair with overlap >= t_lb, its
      RAREST shared fingerprint provably sits in BOTH prefixes (if
      it were outside A's prefix, A would hold >= t_lb common
      elements at-or-after it in the global order — more than the
      t_lb - 1 slots remaining), so
      indexing only prefixes loses no pair that can reach the top-20,
      and that rarest shared fingerprint doubles as the
      WITNESS: a joined row survives only when its join fingerprint
      equals element 1 of the prefix-slice intersection, so every
      pair survives EXACTLY ONCE and the full-array intersect that
      scores it runs only on witness rows. On the mutated corpus the
      seed phase finds near-complete fingerprint sharing (t_lb ~ 24
      of ~25), so phase-2 prefixes are 1-2 fingerprints and the
      quadratic candidate mass never materializes ANYWHERE — no pair
      aggregation, no pair-dedup, class expansion explodes in-stage
      straight into TakeOrdered(20).

    The oracle still scores the UNCOLLAPSED corpus with the full
    inverted-index aggregation, re-proving collapse + seed-bound +
    prefix + witness lossless end to end.

    Scale: hashing, k-gram folding, window minima, and dedup all
    happen in-array per document (zero shuffles, plan-asserted in
    tests); both phases shuffle (rep_id, fparr ~25 longs, members) —
    linear in distinct texts; candidate work is quadratic only in
    per-bucket depth of the PREFIX index, which t_lb keeps ~equal to
    the true near-dup density. At 100 TB the df-cap twin
    (``text_winnow_guarded``) remains the unconditional-guard form.
    """
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    eligible = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "text", F.md5(F.col("text").cast("binary")).alias("grp")
    )
    from flink_kakfa_spark.operators.dedup import members_capped, with_member_rank

    groups = with_member_rank(eligible, "grp", "doc_id").groupBy("grp").agg(
        F.min("doc_id").alias("rep_id"),
        F.min("text").alias("text"),
        F.count(F.lit(1)).alias("n_members"),
        members_capped("doc_id"),  # bounded buffer — see with_member_rank
    ).localCheckpoint()  # consumed by the fp pipeline AND the self classes
    # re-order each doc's fingerprint set RARE-FIRST under the global
    # (document-frequency, fp) total order — the prefix theorem holds
    # for ANY fixed global order, but only a rare-first order keeps
    # prefix buckets bounded by duplicate multiplicity: numerically
    # small fps can be corpus-hot boilerplate, and indexing one hot fp
    # costs C(df, 2) joined rows. Same canonicalization as
    # ``dedup.ppjoin_candidates`` / ``dedup_near_unique``; the df
    # window shares the fp key the (tiny) phase joins shuffle on.
    from pyspark.sql import Window as W

    fpdf = (
        _winnow_fparr_from(groups.select(F.col("rep_id").alias("doc_id"), "text"))
        .select("doc_id", F.explode("fparr").alias("fp"))
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("fp")))
    )
    repfps = (
        fpdf.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "fp"))),
                lambda x: x["fp"],
            ).alias("fparr")
        )
        .join(
            groups.select(F.col("rep_id").alias("doc_id"), "members"), "doc_id"
        )
        .localCheckpoint()  # consumed by both phases + the self classes
    )

    def pair_stream(plen_col) -> DataFrame:
        """Witness-minimal expanded pair stream over the docs' first
        ``plen_col`` fingerprints (see docstring for the proof)."""
        plen_col = F.greatest(plen_col, F.lit(0))  # slice() rejects <0
        pref = repfps.select(
            "doc_id",
            "fparr",
            "members",
            plen_col.alias("plen"),
            F.explode(F.slice("fparr", F.lit(1), plen_col)).alias("fp"),
        )
        a = pref.alias("a")
        b = pref.alias("b")
        inter_pref = F.array_intersect(
            F.slice("a.fparr", F.lit(1), F.col("a.plen")),
            F.slice("b.fparr", F.lit(1), F.col("b.plen")),
        )
        n_shared = F.size(F.array_intersect("a.fparr", "b.fparr")).cast("long")
        return (
            a.join(
                b,
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            # witness-minimal: cheap prefix-slice intersect gates the
            # full-array intersect, which runs only on witness rows
            .filter(F.element_at(inter_pref, 1) == F.col("a.fp"))
            .select(
                n_shared.alias("n_shared"),
                F.col("a.members").alias("ma"),
                F.col("b.members").alias("mb"),
            )
            .select("n_shared", F.explode("ma").alias("x"), "mb")
            .select("n_shared", "x", F.explode("mb").alias("y"))
            .select(
                F.least("x", "y").alias("doc_a"),
                F.greatest("x", "y").alias("doc_b"),
                "n_shared",
            )
        )

    # a group's self class shares its WHOLE fingerprint set; groups
    # whose text yields no fingerprints never pair (repfps filter)
    selfc = (
        repfps.join(
            groups.filter(F.col("n_members") >= 2).select(
                F.col("rep_id").alias("doc_id")
            ),
            "doc_id",
        )
        .select(F.size("fparr").cast("long").alias("n_shared"), "members")
        .select("n_shared", F.explode("members").alias("x"), "members")
        .select("n_shared", "x", F.explode("members").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"), F.col("y").alias("doc_b"), "n_shared"
        )
    )
    # phase 1: true scores from the mini-prefix seed + self classes —
    # a small eager job whose 20th-best score bounds phase 2
    seed = (
        pair_stream(F.least(F.size("fparr"), F.lit(_WINNOW_SEED_PREFIX)))
        .unionByName(selfc)
        .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
        .collect()
    )
    t_lb = int(seed[-1]["n_shared"]) if len(seed) == 20 else 1
    # phase 2: complete under the seed bound (slice length <= 0 for
    # docs with |fparr| < t_lb — they cannot reach overlap t_lb)
    return (
        pair_stream(F.size("fparr") - F.lit(t_lb) + 1)
        .unionByName(selfc)
        .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
    )


# ---- model-evaluation-on-the-lake: classifier metrics ----------------

from flink_kakfa_spark.operators.text import STOPWORDS, _SQL_STOPWORDS  # noqa: E402


@query(
    "eval_langid_metrics",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                              w -> list_contains({_SQL_STOPWORDS}, w)))
                       AS DOUBLE)
                       / len(string_split(text, ' ')) >= 0.05
                  THEN 'en' ELSE 'unk' END AS pred_lang
      FROM documents
    ),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN lang = 'en' AND pred_lang = 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN lang <> 'en' AND pred_lang = 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN lang = 'en' AND pred_lang <> 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN lang <> 'en' AND pred_lang <> 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM pred
    )
    SELECT tp, fp, fn, tn,
           ROUND(CAST(tp AS DOUBLE) / (tp + fp), 4) AS precision_en,
           ROUND(CAST(tp AS DOUBLE) / (tp + fn), 4) AS recall_en,
           ROUND(2.0 * tp / (2.0 * tp + fp + fn), 4) AS f1_en
    FROM m
    """,
)
def q_eval_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation at corpus scale: confusion counts and
    precision/recall/F1 of the language-ID heuristic
    (``text_lang_id``) against the labeled ``lang`` column, treating
    'en' as the positive class.

    The "score a model over the whole lake" shape: prediction is a
    narrow map (here the stopword hit-rate classifier; in production
    a Pandas-UDF model), metrics are one algebraic global aggregate —
    a single reduce regardless of corpus size.
    """
    d = load_table(spark, "documents", sf_dir)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    t = F.split(F.col("text"), " ")
    hit_rate = (
        F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w))).cast(
            "double"
        )
        / F.size(t)
    )
    pred = d.select(
        "lang",
        F.when(hit_rate >= 0.05, "en").otherwise("unk").alias("pred_lang"),
    )
    is_en = F.col("lang") == "en"
    pred_en = F.col("pred_lang") == "en"
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    m = pred.agg(
        cnt(is_en & pred_en).alias("tp"),
        cnt(~is_en & pred_en).alias("fp"),
        cnt(is_en & ~pred_en).alias("fn"),
        cnt(~is_en & ~pred_en).alias("tn"),
    )
    return m.select(
        "tp", "fp", "fn", "tn",
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 4)
        .alias("precision_en"),
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 4)
        .alias("recall_en"),
        F.round(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")),
            4,
        ).alias("f1_en"),
    )


_WINNOW_DF_CAP = 20  # fingerprints in more docs than this are boilerplate


@query(
    "text_winnow_guarded",
    oracle=f"""
    WITH {_WINNOW_WINS_SQL},
    fps0 AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE i >= {_WINNOW_W}
    ),
    dfreq AS (SELECT fp, COUNT(*) AS df FROM fps0 GROUP BY fp),
    fps AS (
      SELECT f.doc_id, f.fp FROM fps0 f
      JOIN dfreq d ON f.fp = d.fp AND d.df <= {_WINNOW_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def q_text_winnow_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing with the document-frequency cap ON — the production
    form for dup-heavy corpora (SCALE.md: verbatim replicas inflate
    the uncapped pair join ~quadratically inside duplicate groups).

    A fingerprint appearing in more than {_WINNOW_DF_CAP} documents is
    boilerplate with no discriminating signal; dropping it bounds every
    bucket of the inverted-index join. The df count rides a window
    over the same fp key the pair join shuffles on, so the cap adds no
    extra fact-sized exchange (the partitioning is reused).
    """
    from pyspark.sql import Window as W

    fps = _winnow_fp_frame(spark, sf_dir).withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("fp"))
    ).filter(F.col("df") <= _WINNOW_DF_CAP).select("doc_id", "fp")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
    )
