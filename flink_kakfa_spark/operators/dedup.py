"""Deduplication operators for LLM training-data pipelines (E1/E2 +
driver mandate: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

Scale notes (100 TB):
- Exact dedup is a hash-groupBy on a 128-bit content digest — the
  shuffle key is 16 bytes/doc, not the document text.
- N-gram Jaccard uses the inverted-index (shingle-join) formulation:
  candidates are generated only for docs sharing a shingle, never the
  O(n²) cross product. Hot shingles are the skew risk — AQE skew-join
  plus the DISTINCT-before-join keeps the blowup bounded; a production
  run would also drop top-frequency shingles (stop-shingles).
- MinHash-LSH (banding) is the sub-quadratic path: fixed-size
  signatures (k hashes/doc) → band buckets → join on bucket. Cost is
  O(n·k) + bucket collisions, independent of pair count.
- SimHash packs a document into one 64-bit word; near-dup = Hamming
  distance on an integer — the cheapest candidate filter of all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix
from flink_kakfa_spark.functions.shingles import (
    MH_BANDS,
    SHINGLE_K,
    band_key_eq,
    minhash_bands,
    minhash_signature,
    shingle_rows,
    sql_band_match,
    sql_minhash_bands,
    sql_minhash_ctes,
    sql_ngram_rows,
    word_ngrams,
)
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table, parallelize


@query(
    "dedup_exact_stats",
    oracle="""
    SELECT
      COUNT(*) AS n_docs,
      COUNT(DISTINCT md5(text)) AS n_unique,
      COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
    FROM documents
    """,
)
def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: corpus-level exact-duplicate census via content digest."""
    d = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.col("text").cast("binary"))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(fp)).alias("n_dupes"),
    )


@query(
    "dedup_exact_keep_first",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: canonical-representative selection — keep lowest doc_id per digest.

    This is the deterministic form of ``dropDuplicates(["text"])`` (which
    keeps an arbitrary row); at scale the digest groupBy shuffles 16-byte
    keys instead of full documents.
    """
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
      {sql_ngram_rows(SHINGLE_K)}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      p.doc_a, p.doc_b, p.n_common,
      CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (exact form): top-20 most-similar doc pairs by 3-gram Jaccard.

    Inverted-index candidate generation: only docs sharing at least one
    shingle are ever paired.
    """
    return (
        _jaccard_pairs(spark, sf_dir)
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20)
    )


_GUARD_MAX_DF = 5


@query(
    "dedup_ngram_jaccard_guarded",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh0 AS (
      {sql_ngram_rows(SHINGLE_K)}
    ),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (
      SELECT s.doc_id, s.shingle FROM sh0 s
      JOIN dfreq d ON s.shingle = d.shingle AND d.df <= {_GUARD_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      p.doc_a, p.doc_b, p.n_common,
      CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def q_dedup_ngram_jaccard_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 with the stop-shingle guard ON — the production 100 TB form.

    Shingles appearing in more than max_shingle_df documents are
    excluded from candidate generation (and from the Jaccard
    denominators), bounding every inverted-index bucket to
    O(max_df^2) pairs no matter how much boilerplate the corpus
    contains. At sf0.01 the guard genuinely fires (29 shingles exceed
    df=5), so the oracle — which applies the identical cap — verifies
    the guard semantics, not just the happy path.
    """
    return (
        _jaccard_pairs(spark, sf_dir, max_shingle_df=_GUARD_MAX_DF)
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20)
    )


def _jaccard_pairs(
    spark: SparkSession, sf_dir: str, max_shingle_df: int | None = None
) -> DataFrame:
    """Candidate doc pairs with (n_common, jaccard), via shingle join.

    Shared by the top-k query and the clustering operator so the
    candidate generation / Jaccard definition can never drift between
    them. Join strategy for `sizes` is left to Catalyst/AQE (it will
    broadcast when small; at corpus scale it shuffles).

    ``max_shingle_df`` is the stop-shingle guard (SCALE.md): shingles
    appearing in more than that many documents are dropped from
    candidate generation, bounding each join bucket to
    O(max_df²) pairs regardless of boilerplate skew. Off by default —
    it changes Jaccard denominators, so the oracle-checked queries run
    unguarded; at 100 TB you would always set it.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark)
    return _jaccard_pairs_from(d, max_shingle_df)


def _jaccard_pairs_from(
    docs: DataFrame, max_shingle_df: int | None = None
) -> DataFrame:
    """Shingle-join Jaccard pairs over an arbitrary (doc_id, text) frame.

    Classic inverted-index + pair aggregation. This form is the right
    one for this helper's three callers — ``dedup_ngram_jaccard``
    (documented unguarded yardstick), ``dedup_ngram_jaccard_guarded``
    (the df-cap bounds every posting list, so the pair aggregation is
    bounded by construction — mutated-100x measured ~linear), and
    ``dedup_clusters`` (collapse-first). A round-9 experiment swapped
    in the witness-minimal array-riding form here and REGRESSED the
    guarded sweep ~12x: when buckets are already bounded, paying a
    full-array intersect per joined row costs far more than the
    bounded aggregation it replaced. The witness-minimal machinery
    lives where it earns its keep — ``dedup_near_unique`` (fixed
    threshold, unbounded buckets) and ``text_winnow_fingerprints``
    (adaptive top-k) — not here.

    ``max_shingle_df`` is the stop-shingle guard (SCALE.md): shingles
    appearing in more than that many documents are dropped from
    candidate generation AND the Jaccard denominators.
    """
    sh = shingle_rows(docs, SHINGLE_K)
    if max_shingle_df is not None:
        # document frequency via a window count: one shuffle of the
        # shingle set, no second scan / anti-join pass
        df_w = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = (
            sh.withColumn("df", df_w)
            .filter(F.col("df") <= max_shingle_df)
            .drop("df")
        )
    # per-doc shingle count rides along as a window column, so the
    # Jaccard denominator needs no sizes table and no join-backs —
    # the pair aggregation just carries n_a/n_b through (constant per
    # group). Two fewer join stages than the sizes-table formulation.
    sh = sh.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max(F.col("a.n")).alias("_na"),
            F.max(F.col("b.n")).alias("_nb"),
        )
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        (
            F.col("n_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("n_common"))
        ).alias("jaccard"),
    )


@query("dedup_minhash_lsh")  # rows-only: LSH bucketing is engine-seeded
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (scale form): MinHash-LSH candidate pairs, Jaccard-verified.

    shingle → binary feature vector (HashingTF) → MinHash signatures →
    LSH band buckets → bucket-join → exact Jaccard rescore of the
    candidates only. This is the O(n·k) path that replaces the exact
    shingle-join at 100 TB. Deterministic given the fixed seed, but the
    signature space is Spark-specific → rows-only oracle.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # the IsNotNull lands in the parquet scan (PushedFilters), so the
    # ml UDFs can never observe a null text no matter how the
    # optimizer reorders the collapsed projections; MinHash
    # additionally requires a non-zero vector, hence the shingle-size
    # gate below
    d = parallelize(
        load_table(spark, "documents", sf_dir).filter(
            F.col("text").isNotNull()
        ),
        spark,
    )
    # coalesce so the tokens array is never NULL even if a
    # deterministic UDF downstream is reordered past the size filter
    # (MinHashLSH's approxSimilarityJoin re-executes the plan and NPE'd
    # in HashingTF on a null-bearing corpus); a null text becomes [""]
    # and still fails the >= SHINGLE_K filter
    toks = d.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("tokens"),
    ).filter(F.size("tokens") >= SHINGLE_K)
    sh = toks.select(
        "doc_id",
        F.array_distinct(word_ngrams("tokens", SHINGLE_K)).alias("shingles"),
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    # localCheckpoint: approxSimilarityJoin re-executes its input plan
    # with the LSH hash UDF collapsed into it, and that re-execution
    # evaluated the UDF on rows the shingle-size filter excludes
    # (zero vectors -> "Must have at least 1 non zero entry");
    # materializing the filtered features makes the exclusion physical
    feats = tf.transform(
        sh.filter(F.size("shingles") >= 1)
    ).localCheckpoint()
    lsh = MinHashLSH(inputCol="features", outputCol="sig", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, threshold=0.8, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .orderBy(F.col("jaccard_dist").asc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(50)
    )


# Portable MinHash (functions/shingles.py): the oracle-checkable twin of
# the (engine-seeded) pyspark.ml MinHashLSH query above.
@query(
    "dedup_minhash_portable",
    oracle=f"""
    WITH {sql_minhash_ctes()},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sharr AS sh_a, b.sharr AS sh_b
      FROM sigs a JOIN sigs b
        ON a.doc_id < b.doc_id AND ({sql_band_match("a", "b")})
    )
    SELECT
      doc_a, doc_b,
      CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
    FROM cand
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 scale path with a value-exact oracle: portable MinHash-LSH.

    16 affine permutations (a*h+b mod 2^31-1) over md5-derived 32-bit
    shingle hashes; signatures band 4x4, docs agreeing on any whole
    band become candidates via a band equi-join (never all-pairs); the
    exact shingle Jaccard rescores candidates and keeps the top-20.
    Unlike the pyspark.ml MinHashLSH variant (engine-seeded, rows-only
    check), every constant here is explicit integer arithmetic both
    engines compute identically, so DuckDB verifies the whole pipeline
    value-exactly.

    Exact-collapse-first (round 7): identical texts share every band
    key, so each digest group of m copies used to expand to m(m-1)/2
    bucket pairs PER BAND — the 100x sweep measured 46.9x wall time
    (quadratic in duplicate multiplicity) before the collapse. Banding
    runs on one representative per text digest; a rep-level candidate
    (jaccard j) stands for ALL member pairs across the two groups
    (identical shingle sets => identical j), and each multi-member
    group is itself a jaccard-1.0 class expanding through its 21
    smallest member ids (top-20-sufficient, see
    ``expand_collapsed_pairs``).

    ZERO-MATERIALIZATION candidate path (round 9): on the MUTATED 100x
    corpus (each copy perturbed by one token) digests all differ while
    band keys mostly agree, so bucket depth grows with multiplicity
    and the candidate relation is genuinely quadratic in it — the
    regime that disk-filled ``dedup_simhash`` pre-r8. Jaccard — unlike
    hamming — is NOT a function of the signature, so no lossless
    second collapse exists; the medicine is the
    ``dedup_embedding_cosine`` r8 form instead: the shingle arrays and
    (<=21-id) member lists RIDE the band join (corpus x 4 bands rows,
    ~1 KB each — the cheap side when candidates >> corpus), the exact
    Jaccard computes where the join streams (JVM ``array_intersect``),
    classes expand by in-stage explode, and everything flows straight
    into TakeOrdered. No pair-dedup or re-attach exchange ever carries
    the candidate relation. A member pair surfaces at most once per
    shared band and its copies are ADJACENT under the total
    (jaccard DESC, doc_a, doc_b) order, so the top 20*4 ordered rows
    provably contain the top-20 distinct pairs; the dedup then runs on
    80 rows. The oracle still scores the UNCOLLAPSED corpus with a
    global pair-dedup, re-proving the whole factorization lossless.

    At 100 TB: signatures are 16 ints per distinct text computed in
    one narrow pass; each band join shuffles on a 4-int key; Jaccard
    rescoring touches only bucket-mates, linear in candidates — the
    irreducible LSH rescore work. Band count/rows trade recall vs cost
    (4x4 targets J >= ~0.7 pairs).
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark).select(
        "doc_id", "text"
    )
    # coalesce: a NULL text becomes [""] and fails the >= SHINGLE_K
    # filter, so every eligible row has non-null text (safe to md5)
    eligible = d.filter(
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")) >= SHINGLE_K
    ).select("doc_id", "text", F.md5(F.col("text").cast("binary")).alias("grp"))
    groups = with_member_rank(eligible, "grp", "doc_id").groupBy("grp").agg(
        F.min("doc_id").alias("rep_id"),
        F.min("text").alias("text"),
        F.count(F.lit(1)).alias("n_members"),
        # 21 smallest member ids (bounded buffer — see with_member_rank):
        # sufficient for any top-20 expansion
        members_capped("doc_id"),
    ).localCheckpoint()  # consumed by the band pipeline AND the self classes
    banded = _minhash_bands_from(
        groups.select(F.col("rep_id").alias("doc_id"), "text", "members")
    )
    a = banded.alias("a")
    b_ = banded.alias("b")
    n_common = F.size(F.array_intersect("a.sharr", "b.sharr"))
    cross = (
        a.join(b_, band_key_eq("a", "b") & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            (
                n_common.cast("double")
                / (F.size("a.sharr") + F.size("b.sharr") - n_common)
            ).alias("jaccard"),
            F.col("a.members").alias("ma"),
            F.col("b.members").alias("mb"),
        )
        .select("jaccard", F.explode("ma").alias("x"), "mb")
        .select("jaccard", "x", F.explode("mb").alias("y"))
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "jaccard",
        )
    )
    selfc = (
        groups.filter(F.col("n_members") >= 2)
        .select(F.explode("members").alias("x"), "members")
        .select("x", F.explode("members").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    top = (
        cross.unionByName(selfc)
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20 * MH_BANDS)
    )
    return (
        top.dropDuplicates(["doc_a", "doc_b"])
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20)
    )


_MEMBER_CAP = 21  # 21 smallest ids per class: top-20-sufficient


def with_member_rank(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Add ``_mr`` = 1-based rank of ``id_col`` within its ``key_col``
    group, so a bounded members list can be collected as
    ``collect_list(when(_mr <= cap, id))`` instead of
    ``slice(sort_array(collect_list(id)), 1, cap)``.

    The slice form is correct but materializes the ENTIRE duplicate
    group in one aggregation buffer before slicing — a viral
    boilerplate page duplicated 1e8 times in a crawl puts an
    800 MB array in a single buffer (collect_list's partial
    aggregation merges buffers, it doesn't bound them). The window
    rank instead rides the same ``key_col`` hash exchange the groupBy
    needs anyway (no extra shuffle; the per-group sort is Spark's
    disk-backed streaming sort), ``when`` returns NULL past the cap,
    and ``collect_list`` skips NULLs — so every aggregation buffer
    holds at most ``cap`` elements regardless of group size (round
    10; the fixtures never exposed this because their duplicate
    groups are small).
    """
    w = Window.partitionBy(key_col).orderBy(id_col)
    return df.withColumn("_mr", F.row_number().over(w))


def members_capped(id_col: str):
    """Bounded-members aggregate over a ``with_member_rank`` frame."""
    return F.sort_array(
        F.collect_list(F.when(F.col("_mr") <= _MEMBER_CAP, F.col(id_col)))
    ).alias("members")


def expand_collapsed_pairs(
    rep_pairs: DataFrame, groups: DataFrame, score_col: str
) -> DataFrame:
    """Expand representative-level pair classes back to member pairs.

    The collapse-first top-k pattern shared by ``dedup_minhash_portable``
    and ``text_winnow_fingerprints``: after exact-collapse, a scored
    pair of representatives stands for every cross-group member pair
    (identical texts => identical score), and each multi-member group
    is its own class at ``self_score`` (the score of a pair of
    identical texts). ``groups`` carries (rep_id, members, n_members,
    self_score) with ``members`` capped to the 21 smallest ids — the
    provably sufficient expansion for any global top-20 under
    (score DESC, doc_a, doc_b): a pair using a group's 22nd-smallest
    member is preceded by >= 21 pairs of its own class. Join strategy
    is left to AQE: rep_pairs is candidate-sized and typically
    broadcasts at runtime; forcing it would be wrong when a corpus has
    billions of distinct texts.
    """
    g = groups.select("rep_id", "members")
    cross = (
        rep_pairs.join(
            g.select(F.col("rep_id").alias("doc_a"), F.col("members").alias("ma")),
            "doc_a",
        )
        .join(
            g.select(F.col("rep_id").alias("doc_b"), F.col("members").alias("mb")),
            "doc_b",
        )
        .select(score_col, F.explode("ma").alias("x"), "mb")
        .select(score_col, "x", F.explode("mb").alias("y"))
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            score_col,
        )
    )
    selfc = (
        groups.filter(F.col("n_members") >= 2)
        .select(F.explode("members").alias("x"), "members", "self_score")
        .select("x", F.explode("members").alias("y"), "self_score")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.col("self_score").alias(score_col),
        )
    )
    return cross.unionByName(selfc)


def _minhash_bands_from(d: DataFrame) -> DataFrame:
    """Portable MinHash-LSH band frame over a (doc_id, text, members)
    frame: one row per (doc, band) carrying the band key (k0..k3), the
    distinct shingle array, and the member-id list — the payload-rides-
    the-join layout ``q_dedup_minhash_portable`` self-joins so the
    exact Jaccard rescore and the class expansion both run inside the
    join stage (see its docstring for why nothing narrower survives
    the mutated-duplicate regime)."""
    toks = d.select(
        "doc_id",
        "members",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("tokens"),
    ).filter(F.size("tokens") >= SHINGLE_K)
    sh = toks.select(
        "doc_id",
        "members",
        F.array_distinct(word_ngrams("tokens", SHINGLE_K)).alias("sharr"),
    )
    hashed = sh.withColumn("hl", F.transform("sharr", lambda s: md5_prefix(s)))
    # Pin the signature frame ONCE before the band explode (round 11):
    # the band self-join plans as a broadcast hash join, so there is
    # no exchange for reuse to dedupe and BOTH sides re-ran the whole
    # shingle + md5 + 16-permutation pipeline — sequentially, since
    # the broadcast side materializes before the stream side runs
    # (measured: the narrow pipeline is ~1.6 s of the row's wall at
    # sf0.1; 3.29 s -> 2.63 s minima after the pin, interleaved
    # sampler). Checkpointing
    # PRE-explode keeps the materialized payload 4x smaller than the
    # banded frame (one sharr copy per doc, not per band); each join
    # side re-runs only the cheap explode. At lake scale this is the
    # persisted signature table — same posture as the ``groups``
    # checkpoint upstream.
    sigs = hashed.select(
        "doc_id", "sharr", "members", *minhash_signature("hl")
    ).localCheckpoint()
    # band the signature: 4 bands of 4 ints; docs sharing any band pair
    # up. The explode carries the shingle array and member list WITH
    # the band key (4 rows of ~1 KB per doc — the cheap side when
    # candidates >> corpus, exactly the r8 embedding-cosine tradeoff):
    # on a dup-mutated corpus the candidate relation is quadratic in
    # duplicate multiplicity, so the narrow-pairs-then-re-attach form
    # this replaced pushed the WHOLE candidate set through a
    # pair-dedup exchange plus two doc_id re-attach joins — the
    # exchanges that disk-filled the simhash lister pre-r8.
    return sigs.select(
        "doc_id", "sharr", "members", F.explode(minhash_bands()).alias("bk")
    ).select("doc_id", "sharr", "members", "bk.*")


# SimHash oracle: DuckDB recomputes the identical md5-derived 32-bit
# token hash (bit b of the portable md5 prefix) and finds hamming<=3
# pairs by brute force — an independent all-pairs implementation
# checking the engine's banded sub-quadratic one.
_SIMHASH_VOTES = ",\n      ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(32)
)
_SIMHASH_SIG = " + ".join(
    f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
    ),
    hashed AS (
      SELECT doc_id, CAST({sql_md5_prefix('word')} AS BIGINT) AS h
      FROM tok WHERE word <> ''
    ),
    votes AS (
      SELECT doc_id,
      {_SIMHASH_VOTES}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id, CAST({_SIMHASH_SIG} AS BIGINT) AS simhash FROM votes
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY hamming ASC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: top-20 pairs within Hamming distance 3.

    Each document collapses to one 32-bit integer (per-bit majority
    vote over token hashes). The signature is derived from md5 — a
    hash both engines compute identically — so the whole pipeline is
    engine-portable and DuckDB can verify it value-exactly.

    Candidate generation is BANDED, never all-pairs: any pair within
    Hamming<=3 of a 4-band signature agrees on at least one whole
    byte band AND (round 8, second pigeonhole) on at least one 6-bit
    sub-band of that band's complement 24 bits, so candidates
    equi-join on (band, byte, sub, subv) and only bucket-mates are
    XOR/popcount-rescored — in the join stage, before any exchange.
    Collapse runs at TWO levels: identical texts share a digest
    (round 7), and — since the mutated-duplicate 100x sweep, where
    perturbed copies defeat the text collapse yet vocabulary-
    correlated signature bits concentrated 26% of the corpus into one
    byte bucket — identical SIGNATURES collapse too (hamming is a
    function of the signature alone), each class expanding through
    its 21 smallest member ids (``expand_collapsed_pairs``). The
    oracle recomputes signatures over the UNCOLLAPSED corpus and
    verifies by brute force, re-proving both collapses lossless.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark).select(
        "doc_id", "text"
    )
    eligible = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "text", F.md5(F.col("text").cast("binary")).alias("grp")
    )
    groups = with_member_rank(eligible, "grp", "doc_id").groupBy("grp").agg(
        F.min("doc_id").alias("rep_id"),
        F.min("text").alias("text"),
        F.count(F.lit(1)).alias("n_members"),
        members_capped("doc_id"),  # bounded buffer — see with_member_rank
    ).localCheckpoint()  # consumed by the signature pipeline + expansions
    tok = groups.select(
        F.col("rep_id").alias("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    ).filter(F.col("word") != "")
    h = md5_prefix("word")  # portable 32-bit token hash (functions/hashing.py)
    bit_votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(32)
    ]
    votes = tok.groupBy("doc_id").agg(*bit_votes)
    sig = None
    for b in range(32):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    sigs = votes.select("doc_id", sig.cast("long").alias("simhash"))
    # SECOND collapse, on the SIGNATURE itself (round 8): hamming is a
    # function of the signature alone, so docs sharing a simhash are a
    # hamming-0 class and only DISTINCT signatures need to enter the
    # band join. The mutated-duplicate 100x sweep (copies perturbed by
    # one token, so the text-digest collapse can't fire) showed why:
    # signature bits vote on shared vocabulary and correlate hard, so
    # one band byte held 26% of a 500k-doc corpus and the bucket cross
    # product filled the disk. Signature collapse cut that corpus
    # 3.9x; the sub-banding below cuts the remaining bucket depth
    # multiplicatively. Text-digest classes merge into signature
    # classes (members = 21 smallest of the union — the same
    # top-20-sufficiency argument, since every member shares the
    # class signature). Groups whose text yields no tokens have no
    # vote row and can never pair — the inner join with sigs drops
    # them, mirroring the uncollapsed pipeline and the oracle.
    sgroups = (
        groups.join(sigs.withColumnRenamed("doc_id", "rep_id"), "rep_id")
        # bounded union-of-members: the 21 smallest of the class union
        # all live in text groups whose own MINIMUM is among the 21
        # smallest minima (each union element x has its group min <= x),
        # so ranking the group rows by members[1] (their min — members
        # arrays are sorted) and flattening only the 21 best-ranked
        # groups loses nothing while capping the aggregation buffer at
        # 21 x 21 ids — a viral signature class of millions of text
        # groups would otherwise flatten into one unbounded array
        .withColumn(
            "_mr",
            F.row_number().over(
                Window.partitionBy("simhash").orderBy(
                    F.element_at("members", 1), "rep_id"
                )
            ),
        )
        .groupBy("simhash")
        .agg(
            F.min("rep_id").alias("rep_id"),
            F.sum("n_members").alias("n_members"),
            F.slice(
                F.sort_array(
                    F.flatten(
                        F.collect_list(
                            F.when(F.col("_mr") <= _MEMBER_CAP, F.col("members"))
                        )
                    )
                ),
                1,
                _MEMBER_CAP,
            ).alias("members"),
        )
        .withColumn("self_score", F.lit(0).cast("integer"))
        .localCheckpoint()  # consumed by the band pipeline + expansion
    )
    # DOUBLE pigeonhole (round 8): a hamming<=3 pair agrees on >= 1 of
    # the 4 signature bytes (3 flips can't touch all 4 bands), AND —
    # within that band's complement 24 bits, which also carry <= 3
    # flips — on >= 1 of its four 6-bit sub-bands. Joining on
    # (band, byte, sub, subv) is therefore still EXACT for hamming<=3
    # while cutting bucket depth by the sub-band split; the residual
    # hamming cut runs in the join stage, so no pre-filter cross
    # product is ever materialized (the pre-round-8 form spilled
    # ~2e9 rows into the pair-dedup exchange on the mutated corpus).
    def _band_struct(band: int, sub: int) -> str:
        lo_mask = (1 << (8 * band)) - 1
        rem = (
            f"(shiftleft(shiftright(simhash, {8 * (band + 1)}), {8 * band})"
            f" | (simhash & {lo_mask}))"
        )
        return (
            f"struct({band * 4 + sub} AS bk,"
            f" cast(shiftright(simhash, {8 * band}) & 255 AS int) AS byte,"
            f" cast(shiftright({rem}, {6 * sub}) & 63 AS int) AS subv)"
        )

    bands = sgroups.select(
        F.col("rep_id").alias("doc_id"),
        "simhash",
        F.explode(
            F.expr(
                "array("
                + ",".join(
                    _band_struct(band, sub)
                    for band in range(4)
                    for sub in range(4)
                )
                + ")"
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.*")
    a = bands.alias("a")
    b_ = bands.alias("b")
    rep_pairs = (
        a.join(
            b_,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.subv") == F.col("b.subv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    expanded = expand_collapsed_pairs(
        rep_pairs,
        sgroups.select("rep_id", "members", "n_members", "self_score"),
        "hamming",
    )
    return expanded.orderBy(
        F.col("hamming").asc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(20)


# Deterministic integer hyperplane LSH, computed identically by both
# engines: embeddings quantize to q_i = floor(x_i * 1e6) (exact in
# IEEE double), hyperplane weights come from an LCG over (table, bit,
# dim), and the signature bit is the sign of the integer dot product —
# no float accumulation anywhere, so Spark and DuckDB produce
# bit-identical buckets and the oracle is value-exact on the SAME
# sub-quadratic algorithm (not on a brute-force stand-in).
#
# BIT DEPTH IS ADAPTIVE (round 8): bits = max(8, ceil_log2(n) - 4),
# computed INTEGER-EXACTLY on both engines (Python int.bit_length vs
# DuckDB LENGTH(FORMAT('{:b}', n-1)) — no float log2 whose last ulp
# could diverge), so buckets stay ~16 vectors deep no matter the
# corpus. The mutated-duplicate 100x sweep is why: 200k distinct
# vectors under the fixture-tuned 8 fixed bits meant 780-deep buckets
# and 2.15e9 candidate rescores (~20 min/run even fully codegen'd);
# at the adaptive 14 bits the same corpus rescores ~1% of that. All
# committed fixtures have n <= 4096, so the driver/diffcheck scales
# still run at exactly 8 bits.
_EMB_DIMS = 64
_EMB_TABLES = 8
_EMB_BITS = 8


def _emb_bits(n_vectors: int) -> int:
    """Adaptive signature depth: ceil(log2(n)) - 4 (buckets ~16 deep),
    floored at the fixture-scale {_EMB_BITS}."""
    return max(_EMB_BITS, (max(n_vectors, 1) - 1).bit_length() - 4)


def _emb_lcg(t: int, j: int, i: int, bits: int) -> int:
    """Hyperplane weight for (table t, bit j, 0-based dim i)."""
    return ((1103515245 * ((t * bits + j) * _EMB_DIMS + i) + 12345) % 1048576) - 524288


_EMB_ORACLE = f"""
    WITH nb AS (
      SELECT GREATEST({_EMB_BITS},
                      LENGTH(FORMAT('{{:b}}', GREATEST(COUNT(*), 1) - 1)) - 4)
             AS b
      FROM embeddings
    ),
    qv AS (
      SELECT vec_id,
             i,
             CAST(FLOOR(list_extract(CAST(embedding AS DOUBLE[]), i) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings, UNNEST(generate_series(1, {_EMB_DIMS})) AS g(i)
    ),
    proj AS (
      SELECT vec_id, t, j, SUM(q * (
        ((1103515245 * ((t * nb.b + j) * {_EMB_DIMS} + (i - 1)) + 12345)
          % 1048576) - 524288
      )) AS p
      FROM qv, nb,
           UNNEST(generate_series(0, {_EMB_TABLES - 1})) AS tt(t),
           UNNEST(generate_series(0, nb.b - 1)) AS jj(j)
      GROUP BY vec_id, t, j
    ),
    sigs AS (
      SELECT vec_id, t,
             SUM(CASE WHEN p > 0 THEN (1 << j) ELSE 0 END) AS sig
      FROM proj GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sigs a JOIN sigs b
        ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT
      c.vec_a,
      c.vec_b,
      ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                   CAST(eb.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC
    LIMIT 20
"""


@query("dedup_embedding_cosine", oracle=_EMB_ORACLE)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: top-20 LSH-candidate pairs by cosine similarity.

    Candidate generation is hyperplane LSH (8 tables, adaptive sign-bit
    depth — ``_emb_bits``): vectors equi-join on (table, signature), so
    only bucket-mates are compared — an ordinary shuffled join on a
    small integer key, never an O(n^2) stage. Candidates are then
    exact-rescored (one whole-stage-codegen unrolled dot over hoisted
    norms) and the global top-20 kept. The hyperplanes are integer LCG
    weights over floor-quantized components, making the buckets
    deterministic and engine-portable: the DuckDB oracle runs the SAME
    algorithm — including the same integer-exact adaptive bit count —
    independently and matches value-exactly. Brute-force cosine remains
    as the recall yardstick in tests/test_llm_ops.py.

    At 100 TB: bits scale with log(n) to keep buckets ~16 deep (this
    is IMPLEMENTED, not aspirational — the fixture-pinned 8-bit floor
    only applies below 4097 vectors); each table is one shuffle on a
    small integer key; skewed buckets (dense regions) are AQE-split.

    NOTE (registry contract): this builder is NOT a pure lazy plan
    constructor — it runs two small eager jobs at construction time
    (the adaptive-bits COUNT below and the signature localCheckpoint),
    the documented "driver-side scalar picks the plan" exception in
    ``registry``'s module docstring. Inspect plans at sf0.001.
    """
    e = parallelize(load_table(spark, "embeddings", sf_dir), spark).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    # one cheap count action to size the index — the same "driver-side
    # scalar picks the plan" pattern as the BPE trainer's per-round
    # argmax; the oracle recomputes it from COUNT(*) identically
    bits = _emb_bits(e.count())
    # Exact-collapse-first (round 7): identical vectors share every
    # table signature, so duplicate embeddings (the normal product of
    # duplicate documents) used to expand O(m^2) bucket pairs per
    # group — the 100x sweep spilled >60 GB before this rewrite. The
    # LSH runs on one representative per distinct vector (the array
    # itself is the grouping key); each multi-member group is its own
    # class scored by the SAME rounded-cosine expression on (rep, rep)
    # — 1.0 for any nonzero vector, NULL for a zero vector, exactly as
    # the uncollapsed pipeline scores identical pairs — and classes
    # expand through their 21 smallest member ids
    # (``expand_collapsed_pairs``). Oracle unchanged (uncollapsed).
    self_dot = F.aggregate(
        F.zip_with("emb", "emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    self_norm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda s, x: s + x * x))
    vgroups = with_member_rank(e, "emb", "vec_id").groupBy("emb").agg(
        F.min("vec_id").alias("rep_id"),
        F.count(F.lit(1)).alias("n_members"),
        members_capped("vec_id"),  # bounded buffer — see with_member_rank
    ).withColumn(
        "self_score", F.round(self_dot / (self_norm * self_norm), 6)
    ).localCheckpoint()  # consumed by the LSH pipeline + expansions
    # Per-vector norm hoisted out of the pair loop, and folded with the
    # SAME left-associative order as the r7 HOF expression (bit-exact
    # doubles, oracle parity preserved).
    sq_sum = "(" + " + ".join(
        f"emb[{i}] * emb[{i}]" for i in range(_EMB_DIMS)
    ) + ")"
    qv = vgroups.select(
        F.col("rep_id").alias("vec_id"), "emb", "members"
    ).withColumn(
        "q", F.transform("emb", lambda x: F.floor(x * 1000000).cast("long"))
    ).withColumn("nrm", F.expr(f"sqrt({sq_sum})"))
    # One signature per table: sign bits of integer hyperplane
    # projections. The hyperplane weights are a tables*bits-row
    # BROADCAST RELATION carrying each plane's 64 weights as DATA, so
    # the signature stage contains exactly ONE unrolled 64-term dot
    # expression regardless of the adaptive bit depth — HOF folds stay
    # out of the hot path (interpreted per element), and the unroll is
    # bit-identical because integer addition is exactly associative.
    #
    # WHY weights-as-data (round 11): the previous form generated
    # tables*bits unrolled columns with INLINE LITERAL weights in one
    # Project. Each column codegens cleanly in isolation, but
    # whole-stage codegen fuses all of them into a single method — at
    # 8x8 = 64 columns that is ~4096 terms, Janino dies with "Code
    # grows beyond 64 KB", and Spark silently drops the ENTIRE
    # signature stage to interpreted expression evaluation. Measured:
    # 10.5 s vs the 3.7 s record at sf0.1 (quiet host, interleaved
    # sampler, sentinel at-record), and the stage dominated the
    # mutated-100x run (~27 min). The literal form's code also GROWS
    # with log n through the adaptive depth, so it re-fails harder at
    # exactly the crawl scale the adaptivity serves; the data form is
    # a few KB at any corpus size.

    # ZERO-MATERIALIZATION candidate path (round 8): under 8-bit
    # tables a dup-mutated 200k-vector corpus genuinely defines
    # ~6e8 bucket-mate pairs (LSH semantics say rescore them all), so
    # ANY exchange carrying the candidate relation — a pair-dedup, a
    # vector re-attach join — spills the disk dead (SCALE.md batch 7;
    # both the r7 payload-through-join form and a narrow-ids-then-
    # re-attach form died here). Instead the 64-double payload and
    # the (<=21-id) member list ride the band join — corpus x tables
    # rows, ~1 KB each, the CHEAP side when candidates >> corpus —
    # and everything downstream is stage-local: cosine computed where
    # the join streams, classes expanded by in-stage explode, straight
    # into TakeOrdered. A pair surfaces once per shared table, so the
    # top 20*_EMB_TABLES ordered rows provably contain the top-20
    # distinct pairs (the k-th distinct pair's last copy has at most
    # 8k predecessors); the dedup then runs on 160 rows, not 6e8.
    # Residual cost is the streamed cosines themselves — linear in
    # candidates, the irreducible LSH rescore work, bounded in
    # production by scaling bits with log(n).
    # Signature packing is ONE map-side-complete aggregation: the
    # (<=320-row) weight broadcast generates each vector's tables*bits
    # projection rows in-stage, and the partial aggregate collapses
    # them back to corpus*tables rows BEFORE the exchange — the same
    # volume the band join shuffles anyway. The groupBy replaces the
    # previous corpus-sized 64-extra-column localCheckpoint (which
    # existed as a CollapseProject barrier for the literal-weight
    # form); the narrower post-signature checkpoint keeps the lineage
    # cut so the self-join's two scans don't recompute the
    # projections. pw = 1 << j rides the weight row, so the packed
    # signature is the exact integer the old column fold produced.
    wrows = [
        (t, j, 1 << j, [_emb_lcg(t, j, i, bits) for i in range(_EMB_DIMS)])
        for t in range(_EMB_TABLES)
        for j in range(bits)
    ]
    wrel = spark.createDataFrame(wrows, "t int, j int, pw long, w array<long>")
    pdot = F.expr(
        "(" + " + ".join(f"q[{i}] * w[{i}]" for i in range(_EMB_DIMS)) + ")"
    )
    banded = (
        qv.crossJoin(F.broadcast(wrel))
        .select(
            "vec_id", "emb", "nrm", "members", "t",
            F.when(pdot > 0, F.col("pw"))
            .otherwise(F.lit(0).cast("long"))
            .alias("pj"),
        )
        .groupBy("vec_id", "t")
        .agg(
            F.first("emb").alias("emb"),
            F.first("nrm").alias("nrm"),
            F.first("members").alias("members"),
            F.sum("pj").alias("sig"),
        )
        .select("vec_id", "emb", "nrm", "members", "t", "sig")
        .localCheckpoint()
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # The per-pair rescore is ONE whole-stage-codegen expression: a
    # 64-term unrolled dot (higher-order aggregate/zip_with lambdas
    # run interpreted per element — ~100x slower on 1e8+ streamed
    # candidates) over pre-hoisted norms. Term order matches the HOF
    # fold left-associatively, so the doubles — and the oracle hash —
    # are bit-identical.
    dot = F.expr(
        "(" + " + ".join(f"a.emb[{i}] * b.emb[{i}]" for i in range(_EMB_DIMS)) + ")"
    )
    cross = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6).alias("cos_sim"),
            F.col("a.members").alias("ma"),
            F.col("b.members").alias("mb"),
        )
        .select("cos_sim", F.explode("ma").alias("x"), "mb")
        .select("cos_sim", "x", F.explode("mb").alias("y"))
        .select(
            F.least("x", "y").alias("vec_a"),
            F.greatest("x", "y").alias("vec_b"),
            "cos_sim",
        )
    )
    selfc = (
        vgroups.filter(F.col("n_members") >= 2)
        .select(F.explode("members").alias("x"), "members", "self_score")
        .select("x", F.explode("members").alias("y"), "self_score")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("vec_a"),
            F.col("y").alias("vec_b"),
            F.col("self_score").alias("cos_sim"),
        )
    )
    top = (
        cross.unionByName(selfc)
        .orderBy(
            F.col("cos_sim").desc(), F.col("vec_a").asc(), F.col("vec_b").asc()
        )
        .limit(20 * _EMB_TABLES)
    )
    return (
        top.dropDuplicates(["vec_a", "vec_b"])
        .orderBy(
            F.col("cos_sim").desc(), F.col("vec_a").asc(), F.col("vec_b").asc()
        )
        .limit(20)
    )


def _near_dup_edges(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs (3-gram Jaccard >= threshold) as undirected edges."""
    return (
        _jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      {sql_ngram_rows(SHINGLE_K)}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION SELECT doc_b, doc_a FROM edges
      UNION SELECT doc_a, doc_a FROM edges
      UNION SELECT doc_b, doc_b FROM edges
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    )
    SELECT
      MIN(dst) AS cluster_id,
      src AS doc_id
    FROM reach
    GROUP BY src
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over Jaccard>=0.5 edges.

    Exact-collapse-first (round 7): shingle-join candidates are
    quadratic in duplicate MULTIPLICITY — each verbatim copy multiplies
    every posting list, so 100x-replicated fixtures grew candidate
    pairs 10,000x and spilled >79 GB before this rewrite (the 100x
    sweep's finding). Since exact duplicates share identical shingle
    sets (pairwise Jaccard 1.0 >= any threshold), collapsing to one
    representative per text digest FIRST changes nothing semantically:
    rep-level edges carry every cross-text edge, multi-member digest
    groups contribute their representative as a component seed, and
    members re-attach by digest at the end. Docs whose text yields no
    shingles (<3 tokens or NULL) generate no candidates in the
    uncollapsed formulation and are excluded here too.

    Label propagation runs on the REPRESENTATIVE graph (bounded by
    distinct-text count, not corpus size): every node adopts the
    smallest label among itself and its neighbors until fixpoint —
    each round one distributed join+agg, O(log diameter) rounds with
    pointer jumping. label = min rep id = min doc id of the component
    (representatives are group minima), so cluster_id semantics are
    unchanged. The oracle computes the same components over the
    UNCOLLAPSED corpus via a recursive CTE — an independent
    transitive-closure implementation that also re-proves the
    collapse is lossless.

    At 100 TB this is the standard dedup-cluster pass (GraphFrames'
    connectedComponents is this same loop), and collapse-first is what
    makes it survive dup-heavy corpora: measured 100x data -> rep
    graph unchanged, wall time dominated by the one digest shuffle.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark).select(
        "doc_id", "text"
    )
    # eligibility = at least one 3-gram shingle; NULL text never joins
    eligible = d.filter(
        F.col("text").isNotNull() & (F.size(F.split("text", " ")) >= 3)
    ).select("doc_id", "text", F.md5(F.col("text").cast("binary")).alias("grp"))
    members = eligible.select("doc_id", "grp")
    reps = eligible.groupBy("grp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("text").alias("text"),
        F.count(F.lit(1)).alias("n_members"),
    )
    reps = reps.localCheckpoint()  # consumed by edges, seeds, and map-back
    edges = (
        _jaccard_pairs_from(reps.select("doc_id", "text"))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    # Symmetrize with inline(array(...)) — ONE pass over the jaccard
    # pipeline instead of a self-union that runs it twice — plus a
    # self-loop seed for every multi-member digest group (an exact-dup
    # pair IS a Jaccard-1.0 edge even when its representative has no
    # cross-text edge). localCheckpoint, not .cache(): a cold
    # InMemoryRelation build executes the plan WITHOUT AQE's runtime
    # broadcast conversions (measured 2.4x slower on this pipeline).
    seeds = reps.filter(F.col("n_members") >= 2).select(
        F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")
    )
    sym = (
        edges.select(
            F.inline(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            )
        )
        .unionByName(seeds)
        .distinct()
        .localCheckpoint()
    )
    rep_labels = propagate_min_labels(sym)
    # members re-attach through their digest group's representative.
    # No broadcast hint (round 10): the label frame is bounded by
    # distinct-text count, which still GROWS with the corpus — at
    # crawl scale forcing it broadcast is an OOM. AQE converts this
    # join to broadcast from runtime exchange stats whenever the
    # labels actually fit (they do at every fixture scale); otherwise
    # it degrades to a partitioned digest-keyed shuffle.
    result = (
        members.join(
            reps.select("grp", F.col("doc_id").alias("_rep")).join(
                rep_labels, F.col("_rep") == rep_labels.node
            ),
            "grp",
        )
        .select(F.col("label").alias("cluster_id"), "doc_id")
    )
    sym.unpersist()
    return result


def propagate_min_labels(sym: DataFrame, checkpoint_every: int = 5) -> DataFrame:
    """Connected components: min-label propagation + pointer jumping.

    ``sym`` is a symmetric edge list (src, dst); returns (node, label)
    with label = min node id in the component.

    Each round does two hops in one materialization: (1) hook — take
    the min label over direct neighbors; (2) compress — follow the
    resulting label one more step through the previous round's label
    map (label := label(label)). Compression makes label chains halve
    per round, so convergence is O(log diameter) rounds instead of the
    plain propagation's O(diameter) — on the 60-node path-graph test
    this is 7 rounds, not 59. Round 0 is fused into initialization
    (label = min(node, direct neighbors) straight off the edge list —
    one aggregate, no join), which alone converges clique-shaped
    near-dup groups.

    Termination: labels decrease monotonically and are bounded below,
    so `changed` reaches 0 — loop to convergence, no cap (a fixed cap
    would silently return wrong labels on a long chain).

    Lineage hardening: `.cache()` truncates recomputation but NOT the
    logical plan, so each round nests 3 more joins — every
    ``checkpoint_every`` rounds labels are localCheckpoint-ed (eager),
    cutting the plan back to a leaf (with O(log d) rounds the interim
    growth is bounded anyway). The convergence flag is read from the
    materialized round frame itself — `prev` rides along — so each
    round costs exactly one distributed materialization plus one
    count on already-materialized data, never a second join.
    """
    mat = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nmin"))
        .select("node", F.least(F.col("node"), F.col("nmin")).alias("label"))
        .localCheckpoint()
    )
    labels = mat
    rounds = 0
    while True:
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hooked = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("prev"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("hl"),
            )
        )
        ptr = labels.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        cur = (
            hooked.join(ptr, hooked.hl == ptr.pnode, "left")
            .select(
                "node",
                "prev",
                F.least(
                    F.col("hl"), F.coalesce(F.col("plabel"), F.col("hl"))
                ).alias("label"),
            )
        )
        rounds += 1
        if rounds % checkpoint_every == 0:
            cur = cur.localCheckpoint()  # eager: truncates lineage
        else:
            cur = cur.cache()
        # prev rides in the materialized frame: no join for the flag
        changed = cur.filter(F.col("label") != F.col("prev")).limit(1).count()
        mat.unpersist()  # superseded round's cache/checkpoint
        mat = cur  # the materialized frame (labels is a view over it)
        labels = cur.select("node", "label")
        if changed == 0:
            break
    # materialize before the caller releases upstream caches; also the
    # final lineage cut if the loop ended between checkpoints
    result = labels.localCheckpoint()
    mat.unpersist()
    return result


@query(
    "dedup_near_unique",
    oracle=f"""
    WITH uniq AS (
      SELECT MIN(doc_id) AS doc_id, text
      FROM documents
      GROUP BY text
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM uniq),
    sh AS (
      {sql_ngram_rows(SHINGLE_K)}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT
      p.doc_a, p.doc_b,
      CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.5
    """,
)
def q_dedup_near_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (production order): exact-collapse FIRST, then near-dup pairs.

    The scale-correct sequencing from SCALE.md — identical texts
    collapse to one representative (min doc_id) via a digest-cheap
    groupBy before any shingling, so duplicate groups contribute one
    node instead of a quadratic pair clique. Emits every remaining
    near-dup pair at Jaccard >= 0.5.

    PREFIX-FILTERED witness-minimal join (round 9): unlike the top-20
    listers this query HAS an a-priori threshold, so the AllPairs/
    PPJoin machinery applies losslessly — shingles order rare-first
    per doc under the global (document-frequency, shingle) total
    order, only each doc's ``n - ceil(n/2) + 1`` rarest shingles are
    indexed (any J >= 0.5 pair shares one of them in BOTH prefixes),
    and the size filter (J >= 0.5 forces sizes within 2x) rides the
    join condition. A joined row survives only when its join shingle
    IS the pair's rarest shared PREFIX shingle (witness-minimal on
    the prefix slices), so each pair surfaces exactly once and is
    verified by one in-stage full-array intersect — NO exchange
    anywhere carries a pair-level relation (a post-witness re-attach
    was tried and reverted: witness survivors are candidate-pairs,
    ~1.4e9 here, not answer-pairs, and shuffling them spilled >45 GB).
    On the mutated 100x corpus (digests distinct, postings ~100-deep)
    the prefix cuts the streamed volume ~3x vs the full inverted
    index (4.09e9 witness-gated rows, DuckDB-measured), and
    everything runs on DICTIONARY-ENCODED long ranks (an exact
    bijection — see the inline note), not strings, because the join
    copies both sides' riding payload into every streamed row. The
    oracle still runs the full inverted-index string aggregation over
    the SAME collapsed relation — re-proving prefix + size + witness
    + encoding lossless.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark)
    # explicit fan-out after the collapse: AQE coalesces the small
    # post-collapse shuffle to ~1 partition, which would single-thread
    # the 100x-multiplying shingle explode + self-join downstream
    # (measured 9.5s -> 1.5s at sf0.1).
    # NOTE (round 11): fusing the two exchanges by keying the fan-out
    # repartition on `text` BEFORE the groupBy measured 1.1 s faster
    # at sf0.1 and was REVERTED: a pre-aggregation repartition has no
    # map-side partial collapse, so a viral text duplicated 1e8x in a
    # crawl would cross the wire 1e8x into ONE reducer — the exact
    # dup-heavy regime collapse-first exists for. The groupBy exchange
    # partial-aggregates per map task (<= 1 row per distinct text per
    # task) and the round-robin then moves only collapsed rows.
    uniq = (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = shingle_rows(uniq, SHINGLE_K)
    # global rare-first canonical order + DICTIONARY ENCODING: each
    # distinct shingle maps to its exact global ROW_NUMBER under
    # (document-frequency, hash-fraction, shingle) — a bijection, so
    # set sizes and intersections (hence Jaccard) are untouched, while
    # the arrays riding the prefix explode shrink from ~20-byte
    # strings to fixed-width ranks and every intersect runs on
    # primitives (the string-array form spilled 19 GB of sort on the
    # mutated 100x corpus just carrying the payload). Ascending rank
    # IS the rare-first order, so a plain sort_array canonicalizes and
    # element 1 of any array_intersect is the pair's rarest common
    # shingle — the witness (the prefix/witness theorems hold for ANY
    # fixed total order; only rare-FIRST matters for bucket bounds).
    # The rank itself is the scale-safe two-pass ``global_row_number``
    # (no single-partition window).
    from flink_kakfa_spark.operators.distributed_rank import (
        global_row_number,
        tie_dispersed,
    )

    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # TIE-DISPERSED binning value (round 10): global_row_number bins by
    # percentile boundaries of its value column, and rows EQUAL on the
    # value always share a bin — on a real Zipf dictionary df=1 is the
    # majority of types, so binning on raw df funnels most of the
    # dictionary through ONE local-rank task (the single-partition
    # sort this module exists to avoid, resurrected through tie skew;
    # the synthetic fixtures dodge it only because their small vocab
    # spreads df). tie_dispersed packs a 20-bit hash fraction into the
    # double so equal-df ties spread uniformly across bins while the
    # integer part keeps the order df-ascending = rare-first. Exact
    # while df < 2^31 — the same precondition horizon as the
    # dictionary size itself. The balance property is CI-gated in
    # tests/test_distributed_rank.py (r10 VERDICT item 4).
    disp = tie_dispersed(F.col("df"), F.col("shingle"))
    rank = global_row_number(
        freq.withColumn("_v", disp), ["_v", "shingle"], value_col="_v",
        rn_name="rk",
    # rank stays LONG: a 32-bit cast silently wraps past ~2.1e9
    # distinct shingles, and rank collisions would corrupt the
    # dictionary-encoding bijection (hence Jaccard) in exactly the
    # 100 TB regime this rewrite targets — the memcpy win over the
    # string form comes from dropping ~20-byte strings, not from
    # int-vs-long width (ADVICE r9).
    ).select("shingle", F.col("rk").cast("long").alias("rk"))
    per_doc = (
        sh.join(rank, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rk")).alias("ws"))
        .select("doc_id", "ws", F.size("ws").cast("long").alias("n"))
        # cut the shingle-scan lineage once before the self-join fans out
        .localCheckpoint()
    )
    # prefix len for t = 1/2: n - ceil(n/2) + 1, integer ceil; the
    # prefix array is materialized ONCE per doc before the explode —
    # slicing it per joined row instead costs two array allocations
    # on every one of the ~4e9 streamed candidates. BOTH sides' full
    # rank arrays ride the join here: a post-witness re-attach variant
    # (only one full array through the join, the other re-joined after
    # the witness filter) was tried and REVERTED — witness survivors
    # are candidate pairs (~1.4e9 on the mutated-100x fixture), NOT
    # answer pairs, so shuffling them for the re-attach spilled >45 GB
    # (SCALE.md). The dictionary encoding is what makes carrying both
    # affordable: the same stream at ~2.3 KB/row of strings was ~9 TB
    # of memcpy; as primitive arrays it is a fraction of that.
    plen = F.col("n") - F.floor((F.col("n") + 1) / 2).cast("long") + 1
    pref = per_doc.select(
        "doc_id", "ws", "n", F.slice("ws", F.lit(1), plen).alias("pa")
    ).select("doc_id", "ws", "n", "pa", F.explode("pa").alias("w"))
    inter_pref = F.array_intersect("a.pa", "b.pa")
    n_common = F.size(F.array_intersect("a.ws", "b.ws")).cast("long")
    return (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: J >= 1/2 forces 2*min(n_a, n_b) >= max
            & (2 * F.col("a.n") >= F.col("b.n"))
            & (2 * F.col("b.n") >= F.col("a.n")),
        )
        .filter(F.element_at(inter_pref, 1) == F.col("a.w"))  # witness-minimal
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (
                n_common.cast("double")
                / (F.col("a.n") + F.col("b.n") - n_common)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


@query(
    "dedup_fuzzy_partnames",
    oracle="""
    SELECT
      a.p_partkey AS key_a,
      b.p_partkey AS key_b,
      a.p_name AS name_a,
      b.p_name AS name_b,
      CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 8
    ORDER BY edit_dist ASC, key_a ASC, key_b ASC
    LIMIT 20
    """,
)
def q_dedup_fuzzy_partnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) dedup with blocking: near-identical part
    names within a (brand, type) block.

    The blocked-join pattern for fuzzy matching at scale: the equi-keys
    (brand, type) keep the join a hash join — Levenshtein runs only
    within blocks, never across the full cross product.
    """
    p = load_table(spark, "part", sf_dir)
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_type") == F.col("b.p_type"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 8)
        .orderBy(F.col("edit_dist").asc(), F.col("key_a").asc(), F.col("key_b").asc())
        .limit(20)
    )


@query(
    "dedup_paragraphs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    seg AS (
      SELECT
        doc_id,
        md5(array_to_string(ts[(k*16+1):(k*16+16)], ' ')) AS h,
        len(ts[(k*16+1):(k*16+16)]) AS ntok
      FROM tok,
           UNNEST(generate_series(
             0, CAST(CEIL(len(ts) / 16.0) AS BIGINT) - 1)) AS g(k)
    ),
    shared AS (
      SELECT h FROM seg GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT
      seg.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_segments,
      CAST(SUM(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        AS n_dup_segments,
      CAST(SUM(CASE WHEN s.h IS NOT NULL THEN ntok ELSE 0 END) AS DOUBLE)
        / SUM(ntok) AS dup_token_fraction
    FROM seg LEFT JOIN shared s ON seg.h = s.h
    GROUP BY seg.doc_id
    """,
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup diagnostics (the Dolma/CCNet pass that
    removes boilerplate paragraphs repeated across documents, applied
    at segment granularity since the fixture corpus is unsegmented
    prose: consecutive 16-token blocks stand in for paragraphs).

    Per doc: segment count, segments shared with at least one OTHER
    document, and the token fraction those shared segments cover —
    the decision signal for paragraph-level removal vs whole-doc drop.

    100 TB plan: segments hash to md5 IMMEDIATELY after the narrow
    split/slice map, so the shared-segment groupBy and the join back
    shuffle only (doc_id, 32-byte hash, token count) — never segment
    text. The shared set is joined (not collected); no driver action,
    no broadcast assumption about duplicate volume.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark).select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )  # tokens as a column: an inline split() re-evaluates per HOF element
    t = F.col("_toks")
    n_seg = F.ceil(F.size(t) / F.lit(16.0)).cast("long")
    seg_texts = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda k: F.array_join(F.slice(t, k * 16 + 1, 16), " "),
    )
    seg = d.select(
        "doc_id", F.explode(seg_texts).alias("seg_text")
    ).select(
        "doc_id",
        F.md5(F.col("seg_text").cast("binary")).alias("h"),
        F.size(F.split(F.col("seg_text"), " ")).alias("ntok"),
    )
    # "shared with at least one OTHER document" == the h-group's doc_id
    # min and max differ — two constant-state window aggregates over ONE
    # h-keyed exchange (round 12, guide §2.4; same restructure as
    # dedup_substring_runs): the old count_distinct aggregate + LEFT
    # join-back ran the segment split+md5 pipeline twice and shuffled
    # the rows twice (different projections defeat exchange reuse).
    # Per-group window buffering matches the old SMJ's equal-key run
    # buffering at any duplicate depth.
    hw = Window.partitionBy("h")
    is_shared = F.min("doc_id").over(hw) != F.max("doc_id").over(hw)
    return (
        seg.withColumn("is_shared", is_shared)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(F.col("is_shared"), 1).otherwise(0)).alias(
                "n_dup_segments"
            ),
            (
                F.sum(
                    F.when(F.col("is_shared"), F.col("ntok")).otherwise(0)
                ).cast("double")
                / F.sum("ntok")
            ).alias("dup_token_fraction"),
        )
    )


@query(
    "dedup_substring_runs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    w AS (
      SELECT
        doc_id,
        i AS pos,
        md5(array_to_string(ts[i:i+7], ' ')) AS h,
        len(ts) AS n_tokens
      FROM tok, UNNEST(generate_series(1, len(ts) - 7)) AS g(i)
      WHERE len(ts) >= 8
    ),
    dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) > 1),
    m AS (
      SELECT
        w.doc_id, w.pos, w.n_tokens,
        CASE WHEN LAG(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos)
                  IS NULL
               OR w.pos - LAG(w.pos)
                  OVER (PARTITION BY w.doc_id ORDER BY w.pos) > 8
             THEN 1 ELSE 0 END AS new_run
      FROM w JOIN dup USING (h)
    ),
    r AS (
      SELECT doc_id, n_tokens, pos,
             SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos)
               AS run_id
      FROM m
    ),
    runs AS (
      SELECT doc_id, n_tokens, run_id,
             MIN(pos) AS s, MAX(pos) AS e
      FROM r GROUP BY 1, 2, 3
    )
    SELECT
      doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_dup_runs,
      CAST(MAX(e - s + 8) AS BIGINT) AS max_run_tokens,
      CAST(SUM(e - s + 8) AS BIGINT) AS dup_tokens,
      CAST(SUM(e - s + 8) AS DOUBLE) / MAX(n_tokens)
        AS dup_token_fraction
    FROM runs GROUP BY doc_id
    """,
)
def q_dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring runs (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per document, the
    maximal token spans covered by 8-token windows that occur more
    than once anywhere in the corpus (within- or cross-document).

    Their suffix-array pass marks every repeated substring >= a length
    floor; the distributed equivalent slides a fixed 8-token window,
    counts global window occurrences, and merges surviving positions
    into maximal runs (gaps-and-islands: a new run starts when the
    next duplicated window begins > 8 tokens after the previous one,
    i.e. coverage is no longer contiguous). ``dup_tokens`` is the
    exact union length of the covered spans — the "how much would
    substring-dedup cut" signal per document.

    100 TB plan: windows hash to md5 in the narrow map, so the
    occurrence count and the join back shuffle (doc_id, pos, digest)
    — never window text. The islands window partitions by doc_id
    (bounded per-doc rows), and the final per-doc aggregate rides the
    same doc_id partitioning. No driver action, no broadcast
    assumption about duplicate volume.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark).select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )  # tokens as a column: an inline split() re-evaluates per HOF element
    t = F.col("_toks")
    win = d.filter(F.size(t) >= 8).select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 7),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.array_join(F.slice(t, i, 8), " ").cast("binary")
                    ).alias("h"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", "n_tokens", "w.pos", "w.h")
    # Global occurrence count as ONE window over the digest instead of
    # the old groupBy(h) + join-back (round 12, guide §2.4): the join
    # form ran the shingle+md5 pipeline TWICE (the dup-aggregate's
    # exchange carries (h, partial-count) while the join side carries
    # (doc_id, pos, h) — different projections, so exchange reuse never
    # dedupes them) and moved the rows over the wire twice. The window
    # form is one pipeline run and one h-keyed exchange; its per-group
    # buffering matches the SMJ's equal-key run buffering at any
    # duplicate depth (both spillable). Measured 1.195 -> 0.851 s
    # interleaved minima at sf0.1, results identical.
    marked = (
        win.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("cnt") > 1)
        .drop("cnt")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    lagged = marked.withColumn(
        "new_run",
        F.when(
            F.lag("pos").over(by_pos).isNull()
            | (F.col("pos") - F.lag("pos").over(by_pos) > 8),
            1,
        ).otherwise(0),
    )
    runs = (
        lagged.withColumn(
            "run_id",
            F.sum("new_run").over(
                by_pos.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "n_tokens", "run_id")
        .agg(F.min("pos").alias("s"), F.max("pos").alias("e"))
    )
    run_len = F.col("e") - F.col("s") + 8
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_runs"),
        F.max(run_len).cast("long").alias("max_run_tokens"),
        F.sum(run_len).cast("long").alias("dup_tokens"),
        (
            F.sum(run_len).cast("double") / F.max("n_tokens")
        ).alias("dup_token_fraction"),
    )


# Prefix-filtered set-similarity join (PPJoin-style, Chaudhuri et al.
# 2006 / Xiao et al. 2008 — public papers). Threshold as an exact
# integer ratio so the match predicate is float-free.
_PP_T_NUM, _PP_T_DEN = 9, 10  # Jaccard >= 0.9

# candidate-join row count above which ppjoin_candidates switches from
# the narrow dropDuplicates pipeline to the exchange-free
# witness-minimal pipeline (~200M rows ≈ a 3-4 GB pair exchange —
# comfortably under executor spill limits with headroom)
_PP_WITNESS_THRESHOLD = 200_000_000


def ppjoin_candidates(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Candidate-generation stages of the prefix-filtered similarity
    self-join, shared by the query below and the scale instrumentation
    (``tools/zipf_ppjoin.py`` counts candidates per fixture with it).

    Returns ``(groups, cand)``: the exact-collapsed representative
    table (one row per distinct token set: rep id, group size g,
    sum of member ids, canonical rare-first token array, its size) and
    the candidate stream surviving the prefix filter + AllPairs size
    filter — EXACTLY ONE row per rep pair, carrying both full token
    arrays and group stats so verification and the census run where
    the join streams.

    STATS-DRIVEN PHYSICAL PLAN (round 9): one cheap eager aggregate
    over the prefix index (sum of C(bucket_df, 2) — the exact count
    of ORDERED candidate pairs surviving the a.rep < b.rep filter;
    the equi-join itself streams ~2x that, bucket_df^2 rows per
    bucket, before the filter — the fixed 2x does not change which
    side of the threshold a workload lands on) picks between
    two physically different but logically identical pipelines, the
    same way a cost-based optimizer picks a join strategy from stats:

    - BOUNDED volume (<= {_PP_WITNESS_THRESHOLD} rows): the classic
      narrow path — (da, db) id pairs through a dropDuplicates
      exchange, arrays + group stats re-attached to the DEDUPED
      relation by two hash joins. When the candidate relation fits an
      exchange this is much cheaper than paying per-row witness
      intersects (measured: the witness form alone regressed the
      31-word-vocabulary sf0.1 bench row 7.6 s -> 73.9 s).
    - UNBOUNDED volume: the witness-minimal path — a joined row
      survives only when its join token IS the pair's rarest shared
      prefix token (``array_intersect`` of the two canonical
      rare-first prefix slices, element 1 — both arrays share the
      global (df, token) total order, so the minimal common element
      is well-defined), every pair survives exactly once, and NO
      exchange ever carries the candidate relation — the
      mutated-duplicate corpora that disk-filled the narrow path
      (SCALE.md: 7.5e10 streamed rows on the 31-word vocab at
      mutated-100x) become compute-bound but memory-safe. Full
      arrays ride the prefix explode, the
      ``dedup_embedding_cosine``/``_minhash_bands_from`` tradeoff.

    The eager stat is the registry's documented "driver-side scalar
    picks the plan" exception (like the embedding-cosine COUNT);
    both paths emit the same schema and the oracle covers whichever
    runs.
    """
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # NOTE (round 11): dictionary-encoding the token arrays as global
    # (df, token) ranks — the ``dedup_near_unique`` bijection — was
    # implemented, verified all-exact (identical 2,074,954-candidate
    # census at sf0.1), and REVERTED: the rank build added ~1.8 s to
    # the representative-table checkpoint while saving nothing here —
    # the BOUNDED path prunes the arrays out of its candidate join
    # entirely (only the deduped pairs re-attach them), and the
    # witness path that would benefit from primitive payloads only
    # engages past the volume threshold, a regime the near-unique
    # lister already demonstrates the encoding on.
    # canonical rare-first token order per doc
    toks = (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "w"))),
                lambda x: x["w"],
            ).alias("ws")
        )
        .select("doc_id", "ws", F.size("ws").alias("n"))
    )
    # identical token sets share the canonical array, hence the digest
    groups = (
        toks.withColumn("digest", F.md5(F.array_join("ws", "\x1f")))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("g"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.min("doc_id").alias("rep"),
            F.first("ws").alias("ws"),
            F.first("n").alias("n"),
        )
        # consumed 2x (within-census + prefix index); exchange reuse
        # does not materialize across the duplicated pipelines, so pin
        # the collapsed representative table once — at lake scale this
        # is a persisted intermediate table
        .localCheckpoint()
    )
    # prefix len = n - ceil(t*n) + 1, integer ceil (a float ceil of
    # 0.9*n can land one short at IEEE boundaries and drop pairs)
    plen = (
        F.col("n")
        - F.floor(
            (F.lit(_PP_T_NUM) * F.col("n") + F.lit(_PP_T_DEN - 1))
            / F.lit(_PP_T_DEN)
        ).cast("long")
        + 1
    )
    pref = groups.select(
        "rep",
        "n",
        "g",
        "sum_ids",
        "ws",
        plen.alias("plen"),
        F.explode(F.slice("ws", 1, plen)).alias("w"),
    )
    # size filter (AllPairs/PPJoin): J >= t forces t·|y| <= |x|, so
    # pairs with >10% size difference never verify — measured 3.3x
    # candidate reduction on the dense-vocab fixture
    size_ok = (
        F.lit(_PP_T_DEN) * F.col("a.n") >= F.lit(_PP_T_NUM) * F.col("b.n")
    ) & (F.lit(_PP_T_DEN) * F.col("b.n") >= F.lit(_PP_T_NUM) * F.col("a.n"))
    # the eager stat: exact count of ordered candidate pairs (the
    # rows surviving a.rep < b.rep; the equi-join streams ~2x this
    # before the filter) plus the bucket count, from the prefix-bucket
    # depth histogram (a map-side aggregate over the reps x ~plen
    # prefix index — tiny). Same single driver scalar as before, now
    # also sizing the salt below.
    vstats = (
        pref.groupBy("w")
        .agg(F.count(F.lit(1)).alias("bdf"))
        .agg(
            F.sum(F.col("bdf") * (F.col("bdf") - 1) / 2).alias("v"),
            F.count(F.lit(1)).alias("nb"),
        )
        .collect()[0]
    )
    volume = vstats["v"] or 0
    n_buckets = vstats["nb"] or 0
    par = d.sparkSession.sparkContext.defaultParallelism
    # Salt the candidate self-join when the vocabulary yields fewer
    # prefix buckets than ~2 tasks/core (guide §2.5 hot-key salting):
    # with 17 buckets hashed into 32 partitions the deep-bucket SMJ
    # runs ~7-11 effective cores with one d²-sized straggler. The
    # a-side gets a deterministic salt from its rep (never rand() —
    # retried tasks must reproduce the assignment, SPARK-38388), the
    # b-side replicates across all k salts, so every (a, b) pair
    # still meets exactly once, at a's salt. k caps at 16: the b-side
    # prefix index inflates k-fold (it is reps x ~plen rows — KBs).
    # A real Zipf vocabulary has thousands of buckets and skips the
    # salt entirely (k = 1 keeps the round-9 single-exchange shape).
    salt_k = (
        1
        if n_buckets >= 2 * par
        else min(16, max(1, -(-(4 * par) // max(n_buckets, 1))))
    )
    sides = groups.select("rep", "ws", "n", "g", "sum_ids")
    if volume <= _PP_WITNESS_THRESHOLD:
        # explicit fan-out on the join key: the prefix index is INPUT-
        # small (reps x ~3 rows) so AQE coalesces its exchange to a
        # couple of partitions, but the self-join's OUTPUT is
        # candidate-sized — orders of magnitude larger — and would
        # stream near-single-threaded (measured ~7 of 32 cores on the
        # mutated-10x sweep). An explicit repartition is exempt from
        # AQE coalescing.
        if salt_k > 1:
            a = (
                pref.select("rep", "n", "w")
                .withColumn(
                    "_s", F.pmod(F.xxhash64("rep"), F.lit(salt_k)).cast("int")
                )
                .repartition(par, "w", "_s")
            )
            b = (
                pref.select("rep", "n", "w")
                .withColumn(
                    "_s", F.explode(F.sequence(F.lit(0), F.lit(salt_k - 1)))
                )
                .repartition(par, "w", "_s")
            )
            join_keys = ["w", "_s"]
        else:
            # one shared repartitioned index: both join sides read the
            # SAME exchange (reuse) — keep the exact round-9 shape
            a = b = pref.select("rep", "n", "w").repartition(par, "w")
            join_keys = ["w"]
        cand_ids = (
            a.alias("a")
            .join(b.alias("b"), join_keys)
            .filter((F.col("a.rep") < F.col("b.rep")) & size_ok)
            .select(F.col("a.rep").alias("da"), F.col("b.rep").alias("db"))
            .dropDuplicates(["da", "db"])
        )
        cand = cand_ids.join(
            sides.select(
                F.col("rep").alias("da"),
                F.col("ws").alias("wa"),
                F.col("n").alias("na"),
                F.col("g").alias("ga"),
                F.col("sum_ids").alias("sa"),
            ),
            "da",
        ).join(
            sides.select(
                F.col("rep").alias("db"),
                F.col("ws").alias("wb"),
                F.col("n").alias("nb"),
                F.col("g").alias("gb"),
                F.col("sum_ids").alias("sb"),
            ),
            "db",
        )
        return groups, cand
    inter_pref = F.array_intersect(
        F.slice("a.ws", F.lit(1), F.col("a.plen")),
        F.slice("b.ws", F.lit(1), F.col("b.plen")),
    )
    # witness path keeps the shared single repartition (both sides read
    # one exchange); its volume regime implies a real vocabulary whose
    # bucket count already spreads the join — salting would only
    # replicate the heavy full-array index rows k-fold
    pref_r = pref.repartition(par, "w")
    cand = (
        pref_r.alias("a")
        .join(pref_r.alias("b"), "w")
        .filter((F.col("a.rep") < F.col("b.rep")) & size_ok)
        .select(
            F.col("a.rep").alias("da"),
            F.col("b.rep").alias("db"),
            inter_pref.alias("_ip"),
            F.col("a.w").alias("_w"),
            F.col("a.ws").alias("wa"),
            F.col("b.ws").alias("wb"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            F.col("a.g").alias("ga"),
            F.col("b.g").alias("gb"),
            F.col("a.sum_ids").alias("sa"),
            F.col("b.sum_ids").alias("sb"),
        )
        .filter(F.element_at("_ip", 1) == F.col("_w"))  # witness-minimal
        .drop("_ip", "_w")
    )
    return groups, cand


@query(
    "dedup_jaccard_prefix_filter",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_distinct(string_split(text, ' '))) AS w
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    hits AS (
      SELECT p.da, p.db, p.c,
             CAST(p.c AS DOUBLE) / (sa.n + sb.n - p.c) AS j
      FROM pairs p
      JOIN sizes sa ON p.da = sa.doc_id
      JOIN sizes sb ON p.db = sb.doc_id
      WHERE {_PP_T_DEN} * p.c >= {_PP_T_NUM} * (sa.n + sb.n - p.c)
    )
    SELECT
      CAST(FLOOR(j * 20) AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(SUM(da + db) AS BIGINT) AS sum_keys
    FROM hits
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin family), reported as a per-similarity-bucket census so the
    oracle checks the COMPLETE pair set, not a top-k slice.

    Candidate generation indexes only each document's *prefix* — its
    rarest ``n - ceil(t*n) + 1`` tokens under a global
    (document-frequency, token) total order.  The prefix-filter
    theorem guarantees any pair with Jaccard >= t shares at least one
    prefix token, so pruning is lossless; the AllPairs size filter
    (J >= t forces sizes within a factor t) drops incompatible pairs
    before verification, and exact verification then intersects the
    full token arrays.  The threshold test is pure
    integer arithmetic (``10*c >= 9*(na+nb-c)``) and the prefix
    length uses integer ceil — no float boundary can drop a pair.

    Scale vs the plain inverted index (``dedup_ngram_jaccard``):
    EXACT-COLLAPSE FIRST — identical token sets (the dominant case in
    a dup-heavy crawl) collapse to one representative per canonical
    digest, and both the within-group (J = 1) and cross-group pair
    censuses expand back in CLOSED FORM (a group of g docs holds
    g·(g−1)/2 pairs with key-sum (g−1)·Σids; groups A,B contribute
    |A|·|B| pairs at the representatives' Jaccard), so replicas never
    reach the pair join at all — the factorization that kept
    ``dedup_near_unique`` linear on the 10× dup-heavy corpus.  Among
    representatives, prefix tokens are by construction each doc's
    RAREST tokens, so the candidate join's buckets stay small even
    under hot vocabulary; the full arrays ride the prefix join and
    every pair survives it exactly once (witness-minimal — see
    ``ppjoin_candidates``), so verification and the census both run
    where the join streams with no pair-level exchange.
    """
    groups, cand = ppjoin_candidates(
        parallelize(load_table(spark, "documents", sf_dir), spark)
    )
    within = groups.filter(F.col("g") > 1).select(
        F.lit(20).cast("long").alias("bucket"),
        F.expr("(g * (g - 1)) DIV 2").alias("n_pairs"),
        ((F.col("g") - 1) * F.col("sum_ids")).cast("long").alias("sum_keys"),
    )
    # cand already carries both full arrays and group stats (exactly
    # one row per rep pair — witness-minimal), so verification is a
    # streamed in-stage intersect and the census partial-aggregates in
    # the same stage; no re-attach joins, no pair exchange (round 9;
    # the per-bucket census output is ~41 rows)
    verified = (
        cand.select(
            F.size(F.array_intersect("wa", "wb")).alias("c"),
            "na",
            "nb",
            "ga",
            "gb",
            "sa",
            "sb",
        )
        .filter(
            F.lit(_PP_T_DEN) * F.col("c")
            >= F.lit(_PP_T_NUM) * (F.col("na") + F.col("nb") - F.col("c"))
        )
    )
    j = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    cross = verified.select(
        F.floor(j * 20).cast("long").alias("bucket"),
        (F.col("ga") * F.col("gb")).cast("long").alias("n_pairs"),
        (F.col("gb") * F.col("sa") + F.col("ga") * F.col("sb"))
        .cast("long")
        .alias("sum_keys"),
    )
    return (
        within.unionByName(cross)
        .groupBy("bucket")
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            F.sum("sum_keys").cast("long").alias("sum_keys"),
        )
        .orderBy("bucket")
    )


@query(
    "dedup_lsh_band_stats",
    oracle=f"""
    WITH {sql_minhash_ctes()},
    buckets AS (
      SELECT bk, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST({sql_minhash_bands()}) AS bk FROM sigs)
      GROUP BY bk
    )
    SELECT
      CAST(bk.band AS INT) AS band,
      CAST(COUNT(*) AS BIGINT) AS n_buckets,
      CAST(SUM(n) AS BIGINT) AS n_docs,
      CAST(MAX(n) AS BIGINT) AS max_bucket,
      CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
      CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY bk.band ORDER BY band
    """,
)
def q_dedup_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning diagnostics for the portable MinHash pipeline: per
    band, the bucket census that decides whether the (bands x rows)
    configuration is right BEFORE paying for the candidate join —
    bucket count, max bucket size (the skew hazard: one hot bucket is
    a quadratic candidate bomb), singleton share (docs generating no
    candidates in that band), and the exact candidate-pair volume
    sum(C(n,2)). Running this census on a sample is how band/row
    settings are chosen at 100 TB; the signature math is byte-shared
    with ``dedup_minhash_portable``, so the census describes exactly
    the join that query would run.

    Scale: signatures are one narrow pass; the census is a two-level
    hash aggregate on the (band, k0..k3) struct then band — never
    materializes a candidate pair.
    """
    d = parallelize(load_table(spark, "documents", sf_dir), spark).select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("_toks"),
    )  # tokens as a column: an inline split() re-evaluates per HOF element
    sh = d.select(
        "doc_id",
        F.array_distinct(word_ngrams("_toks", SHINGLE_K)).alias("sharr"),
    ).filter(F.size("sharr") > 0)
    hashed = sh.withColumn("hl", F.transform("sharr", lambda s: md5_prefix(s)))
    sigs = hashed.select("doc_id", *minhash_signature("hl"))
    buckets = (
        sigs.select(F.explode(minhash_bands()).alias("bk"))
        .groupBy("bk")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        buckets.groupBy(F.col("bk.band").cast("int").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("n").cast("long").alias("n_docs"),
            F.max("n").cast("long").alias("max_bucket"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("singletons"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("band")
    )


@query(
    "dedup_survivor_selection",
    oracle="""
    WITH g AS (
      SELECT doc_id, source, n_chars,
             md5(array_to_string(string_split(COALESCE(text, ''), ' ')[1:8], ' ')) AS grp,
             len(list_distinct(string_split(COALESCE(text, ''), ' '))) AS n_uniq
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, grp, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY grp
               ORDER BY n_uniq DESC, n_chars DESC, doc_id
             ) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS grp_size
      FROM g
    )
    SELECT
      CAST(doc_id AS BIGINT) AS survivor_id,
      source,
      grp_size,
      CAST(grp_size - 1 AS BIGINT) AS n_dropped
    FROM ranked
    WHERE rn = 1 AND grp_size > 1
    ORDER BY grp_size DESC, survivor_id
    """,
)
def q_dedup_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: after duplicate grouping (here
    the md5 of the first 8 tokens — the boilerplate-header criterion;
    swap in the full-text digest for exact dups), pick WHICH copy
    survives — highest unique-token count, then longest, then lowest
    doc_id — and report each multi-member group's survivor and
    casualty count. Dedup tools that drop "duplicates" without a
    deterministic survivor rule produce non-reproducible corpora;
    this is the rule, as a query.

    Scale: the ranking window partitions by the 16-byte digest —
    group sizes are duplicate multiplicities (bounded small in
    practice; a pathological mega-group is one key, which AQE's skew
    split handles) — and only (doc_id, source, two ints) cross the
    shuffle, never the text.
    """
    d = load_table(spark, "documents", sf_dir)
    t = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    g = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.concat_ws(" ", F.slice(t, 1, 8)).cast("binary")).alias("grp"),
        F.size(F.array_distinct(t)).alias("n_uniq"),
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("n_uniq").desc(), F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("grp")
    ranked = g.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("grp_size"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("grp_size") > 1))
        .select(
            F.col("doc_id").cast("long").alias("survivor_id"),
            "source",
            "grp_size",
            (F.col("grp_size") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy(F.col("grp_size").desc(), "survivor_id")
    )
