"""Text-analysis operators for LLM training-data pipelines (E4 + driver
mandate: language-ID, quality scoring, token counting, fingerprinting).

Same engine path as the flagship word count (split/explode/agg) — the
reference's latent tokenizer contract (split on single space, inverse
of ``strings.Join`` at ``go/producer/producer.go:137``) generalized
over the ``documents`` table.

Scale notes (100 TB): every query is per-row narrow computation (no
shuffle except the final small aggregation); all expressions are
built-in, codegen'd, Python-free. Ratios are computed as one integer
count divided by another in double — deterministic to the bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix
from flink_kakfa_spark.functions.shingles import (
    ROLL_B,
    ROLL_M,
    SHINGLE_K,
    shingle_rows,
    sql_ngram_rows,
    sql_word_ngram,
    word_ngrams,
)
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table, parallelize

# Tiny function-word list used by the quality score and the language-ID
# heuristic (the fixture corpus is synthetic English-ish word salad).
STOPWORDS = ["a", "the", "and", "of", "to", "in", "is", "it"]
_SQL_STOPWORDS = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def tokens(col: str = "text"):
    return F.split(F.col(col), " ")


@query(
    "text_token_stats",
    oracle="""
    SELECT
      doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_distinct(string_split(text, ' '))) AS n_uniq,
      n_chars,
      CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
        / len(string_split(text, ' ')) AS avg_token_len,
      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) AS uniq_ratio
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: per-document token statistics (counts, avg length, uniqueness)."""
    d = load_table(spark, "documents", sf_dir)
    t = tokens()
    n_tok = F.size(t)
    n_uniq = F.size(F.array_distinct(t))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq"),
        "n_chars",
        # chars excluding the (n_tokens - 1) separating spaces
        ((F.col("n_chars") - n_tok + 1).cast("double") / n_tok).alias("avg_token_len"),
        (n_uniq.cast("double") / n_tok).alias("uniq_ratio"),
    )


@query(
    "text_lang_distribution",
    oracle="""
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: corpus language distribution with size stats."""
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT
      doc_id,
      n_tokens,
      stop_cnt,
      CAST(stop_cnt AS DOUBLE) / n_tokens AS stopword_ratio,
      CAST(short_cnt AS DOUBLE) / n_tokens AS short_ratio,
      CASE WHEN n_tokens >= 40 AND n_tokens <= 120 THEN 1 ELSE 0 END AS len_ok
    FROM (
      SELECT
        doc_id,
        len(string_split(text, ' ')) AS n_tokens,
        len(list_filter(string_split(text, ' '),
                        w -> list_contains({_SQL_STOPWORDS}, w))) AS stop_cnt,
        len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS short_cnt
      FROM documents
    )
    """,
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, short-token ratio, length gate.

    The standard cheap heuristics (Gopher/C4-style) expressed as
    higher-order array functions — no UDF, fully codegen'd.
    """
    d = load_table(spark, "documents", sf_dir)
    t = tokens()
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tok = F.size(t)
    stop_cnt = F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w)))
    short_cnt = F.size(F.filter(t, lambda w: F.length(w) <= 2))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stop_cnt.alias("stop_cnt"),
        (stop_cnt.cast("double") / n_tok).alias("stopword_ratio"),
        (short_cnt.cast("double") / n_tok).alias("short_ratio"),
        F.when((n_tok >= 40) & (n_tok <= 120), 1).otherwise(0).alias("len_ok"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT
      doc_id,
      lang,
      CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                       w -> list_contains({_SQL_STOPWORDS}, w))) AS DOUBLE)
                / len(string_split(text, ' ')) >= 0.05
           THEN 'en' ELSE 'unk' END AS pred_lang
    FROM documents
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: function-word hit-rate thresholding.

    A real deployment swaps the stopword list per language and takes
    the argmax — the Spark shape (array HOFs per row, no shuffle) is
    identical.
    """
    d = load_table(spark, "documents", sf_dir)
    t = tokens()
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    hit_rate = F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w))).cast("double") / F.size(t)
    return d.select(
        "doc_id",
        "lang",
        F.when(hit_rate >= 0.05, "en").otherwise("unk").alias("pred_lang"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fp, length(text) AS n_bytes
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content hash as dedup key."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.length("text").alias("n_bytes"),
    )


# Rolling fingerprint over the portable md5 token hash
# (functions/hashing.py), with the polynomial of functions/shingles.py.
@query(
    "text_fingerprint_rolling",
    oracle=f"""
    SELECT
      doc_id,
      list_reduce(
        list_prepend(
          CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '),
                         w -> CAST({sql_md5_prefix('w')} AS BIGINT))
        ),
        (acc, x) -> (acc * {ROLL_B} + x) % {ROLL_M}
      ) AS rolling_fp
    FROM documents
    """,
)
def q_text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling (positional) fingerprint: order-sensitive token hash.

    Distinguishes permuted documents that a bag-of-words hash cannot.
    Polynomial fold acc = (acc*B + md5_32(word)) mod (2^31-1) over
    md5-derived token ints — integer arithmetic both engines perform
    identically (ANSI-safe: acc*B + h < 2^52), so the oracle is
    value-exact rather than the xxhash64 rows-only check this started
    as.
    """
    d = load_table(spark, "documents", sf_dir)
    rolled = F.aggregate(
        tokens(),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(ROLL_B) + md5_prefix(w)) % F.lit(ROLL_M),
    )
    return d.select("doc_id", rolled.alias("rolling_fp"))


@query(
    "text_token_count_estimate",
    oracle="""
    SELECT
      doc_id,
      len(string_split(text, ' ')) AS ws_tokens,
      CAST(CEIL(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens,
      len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS regex_tokens
    FROM documents
    """,
)
def q_text_token_count_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace, chars/4 BPE estimate, regex lexer."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.size(tokens()).alias("ws_tokens"),
        F.ceil(F.col("n_chars").cast("double") / 4.0).cast("bigint").alias("est_bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+|[^a-z0-9 ]"), F.lit(0))).alias("regex_tokens"),
    )


@query(
    "text_bigram_top20",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bg AS (
      SELECT {sql_word_ngram("ts", 2)} AS bigram
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
      WHERE len(ts) >= 2
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bg
    GROUP BY bigram
    ORDER BY cnt DESC, bigram ASC
    LIMIT 20
    """,
)
def q_text_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency top-20 — the n>1 form of the flagship
    word count (language-model data profiling staple)."""
    d = load_table(spark, "documents", sf_dir).select(
        F.split(F.col("text"), " ").alias("_toks")
    )  # tokens as a column: an inline split() re-evaluates per HOF element
    t = F.col("_toks")
    return (
        d.filter(F.size(t) >= 2)
        .select(F.explode(word_ngrams(t, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "text_tfidf_top20",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tok WHERE word <> '' GROUP BY 1, 2
    ),
    df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok WHERE word <> '' GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT
      tf.doc_id,
      tf.word,
      tf.tf,
      ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n
    ORDER BY tfidf DESC, tf.doc_id ASC, tf.word ASC
    LIMIT 20
    """,
)
def q_text_tfidf_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: the 20 most document-distinctive (doc, word) pairs.

    Three aggregations sharing one tokenization: term frequency per
    (doc, word), document frequency per word, corpus size as a lazy
    1-row frame. ln() rounded to 6 dp (libm ulp drift between
    engines).

    The df join carries NO broadcast hint (round 10): the vocabulary
    is small next to the corpus but it GROWS with it (Heaps' law puts
    a crawl-scale vocabulary at 1e8-1e9 types), and a forced broadcast
    of an unbounded relation is a job-killer at exactly the scale this
    engine targets. AQE converts the join to broadcast from runtime
    exchange stats whenever df actually fits, so small corpora keep
    the broadcast plan and huge ones degrade to a partitioned
    word-keyed shuffle instead of an OOM.
    """
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a lazy 1-row cross join (no eager count job at
    # plan-build time) — the same shape as the oracle's CROSS JOIN n
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), F.col("doc_id").asc(), F.col("word").asc())
        .limit(20)
    )


@query(
    "pipeline_training_prep",
    oracle=f"""
    WITH quality AS (
      SELECT
        doc_id, lang, source, n_chars,
        len(string_split(text, ' ')) AS n_tokens,
        md5(text) AS fp,
        CAST(len(list_filter(string_split(text, ' '),
                             w -> list_contains({_SQL_STOPWORDS}, w))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    ),
    kept AS (
      SELECT * FROM quality
      WHERE n_tokens >= 30 AND stop_ratio <= 0.5
        AND doc_id = (SELECT MIN(doc_id) FROM quality q2 WHERE q2.fp = quality.fp)
    )
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token
    FROM kept
    GROUP BY lang
    """,
)
def q_pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: quality-gate → exact-dedup →
    per-language token budget.

    The composed form of E1+E4 — the query a data-curation run executes
    before tokenization at 100 TB: one scan computes the quality
    signals, a digest groupBy picks canonical representatives, and the
    final rollup is the corpus datasheet.
    """
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    t = tokens()
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    quality = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(t).alias("n_tokens"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
        (
            F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w))).cast("double")
            / F.size(t)
        ).alias("stop_ratio"),
    )
    gated = quality.filter((F.col("n_tokens") >= 30) & (F.col("stop_ratio") <= 0.5))
    w = Window.partitionBy("fp")
    deduped = gated.withColumn("keep_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("keep_id")
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.sum("n_tokens")).alias("chars_per_token"),
    )


@query(
    "pipeline_pack_sequences",
    oracle="""
    WITH counted AS (
      SELECT
        doc_id,
        doc_id % 8 AS shard,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT
        doc_id, shard, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
          - n_tokens AS start_offset
      FROM counted
    )
    SELECT
      doc_id, shard, n_tokens, start_offset,
      start_offset // 512 AS pack_bin,
      (start_offset // 512) <> ((start_offset + n_tokens - 1) // 512)
        AS spans_boundary
    FROM packed
    """,
)
def q_pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concatenate the token
    stream and cut fixed 512-token bins, documents straddling cuts.

    The standard pack-by-concatenation layout: within each shard the
    docs form one contiguous token stream (running-sum window gives
    every doc its start offset); bin id is integer division by the
    context length, and spans_boundary marks docs split across two
    bins. Sharding by doc_id % 8 keeps the window per-shard — at
    100 TB each shard packs independently (one shuffle on the shard
    key, no global sort), and shard count scales with the cluster.
    """
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    counted = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = counted.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    pack_bin = F.expr("start_offset div 512")
    end_bin = F.expr("(start_offset + n_tokens - 1) div 512")
    return packed.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_offset",
        pack_bin.alias("pack_bin"),
        (pack_bin != end_bin).alias("spans_boundary"),
    )


@query(
    "pipeline_stratified_sample",
    oracle=f"""
    WITH hashed AS (
      SELECT
        lang,
        {sql_md5_prefix("CAST(doc_id AS VARCHAR)", 4)} AS h16,
        CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 50 ELSE 80 END AS pct
      FROM documents
    )
    SELECT
      lang,
      COUNT(*) AS n_total,
      COUNT(*) FILTER (h16 % 100 < pct) AS n_kept,
      ANY_VALUE(pct) AS target_pct
    FROM hashed
    GROUP BY lang
    """,
)
def q_pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling by language.

    Data-mixture rebalancing for training corpora: each language gets a
    keep-rate (downweight dominant en, upweight tail languages) and the
    keep decision is a pure function of doc_id — the first 16 bits of
    md5(doc_id) mod 100 against the stratum rate. No RNG state, so the
    sample is identical on any cluster, any partitioning, any engine —
    reproducible data recipes being the point. Output is the per-stratum
    census (totals, kept, target rate); the sampled rows themselves are
    the same filter without the rollup.
    """
    d = load_table(spark, "documents", sf_dir)
    h16 = md5_prefix(F.col("doc_id").cast("string"), 4)
    pct = (
        F.when(F.col("lang") == "en", 20)
        .when(F.col("lang") == "zh", 50)
        .otherwise(80)
    )
    hashed = d.select("lang", h16.alias("h16"), pct.alias("pct"))
    return hashed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("h16") % 100 < F.col("pct")).alias("n_kept"),
        F.any_value("pct").alias("target_pct"),
    )


@query(
    "text_length_histogram",
    oracle="""
    WITH counted AS (
      SELECT CAST(FLOOR(LOG2(len(string_split(text, ' ')))) AS BIGINT)
               AS bucket
      FROM documents
    ),
    hist AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM counted GROUP BY bucket
    )
    SELECT
      bucket,
      CAST(POW(2, bucket) AS BIGINT) AS bucket_lo,
      CAST(POW(2, bucket + 1) - 1 AS BIGINT) AS bucket_hi,
      n_docs,
      CAST(n_docs AS DOUBLE)
        / CAST(SUM(n_docs) OVER () AS DOUBLE) AS frac_docs
    FROM hist
    """,
)
def q_text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram in log2 buckets — the length
    datasheet a curation run reads before choosing context length and
    packing strategy.

    One narrow map (token count → bucket) + one tiny groupBy; the
    window SUM for fractions runs over the aggregated frame (≤ ~64
    rows regardless of corpus size), so the only data-sized shuffle is
    the map-side-combined bucket count. log2/floor are exact at bucket
    boundaries (powers of two are IEEE-exact in both engines).
    """
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    bucket = F.floor(F.log2(F.size(tokens()))).cast("long")
    hist = d.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = Window.partitionBy()
    return hist.select(
        "bucket",
        F.pow(F.lit(2), F.col("bucket")).cast("long").alias("bucket_lo"),
        (F.pow(F.lit(2), F.col("bucket") + 1) - 1).cast("long").alias("bucket_hi"),
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(total).cast("double")
        ).alias("frac_docs"),
    )


@query(
    "text_oov_rate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    freq AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY word),
    total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq),
    vocab AS (
      SELECT f.word FROM freq f, total t WHERE f.c >= 0.001 * t.n
    )
    SELECT
      tok.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_oov,
      CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS oov_rate
    FROM tok LEFT JOIN vocab v ON tok.word = v.word
    GROUP BY tok.doc_id
    """,
)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-pruning diagnostic: per-doc out-of-vocabulary rate
    against the corpus vocabulary kept at a relative frequency floor
    (count >= 0.1% of all tokens).

    Tokenizer/vocab design feedback for a training run: documents
    dominated by sub-floor words are candidates for the junk gate.
    Plan: one explode+groupBy builds the frequency table (map-side
    combined; vocabulary-sized, bounded by 1/floor = ≤1000 rows
    regardless of corpus size), the total rides a lazy 1-row cross
    join, and the vocab joins back BROADCAST against the exploded
    corpus — per-doc agg is the only data-sized shuffle. The floor is
    relative, so the vocab (and the plan) is scale-invariant.
    """
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(tokens()).alias("word"))
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    vocab = (
        freq.crossJoin(F.broadcast(total))
        .filter(F.col("c") >= 0.001 * F.col("n"))
        .select("word")
    )
    return (
        tok.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            (
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    counted AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    ),
    sized AS (
      SELECT doc_id, ch, c,
             SUM(c) OVER (PARTITION BY doc_id) AS n
      FROM counted
    )
    SELECT
      doc_id,
      CAST(MAX(n) AS BIGINT) AS n_chars,
      CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
      ROUND(CAST(SUM(CAST(
        (CAST(c AS DOUBLE) / n) * log2(CAST(n AS DOUBLE) / c)
        AS DECIMAL(18,12))) AS DOUBLE), 6) AS entropy_bits
    FROM sized
    GROUP BY doc_id
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document.

    A classic quality gate for training corpora: near-zero entropy
    flags repeated-character garbage, very high entropy flags
    random/binary junk (Gopher uses the same family of signals).

    Determinism: each term -p*log2(p) is computed with a pinned IEEE
    expression shape ((c/n) * log2(n/c), both operands derived from
    identical integers) and cast to DECIMAL(18,12) BEFORE the sum, so
    the per-doc accumulation is exact decimal addition — immune to
    summation order across partitions/engines; the final ROUND(...,6)
    leaves ~5 decimal digits of safety under the per-term cast.

    Scale (100 TB): the char explode is a 1000x row multiplier but each
    row is (doc_id, 1-char) and the per-(doc,char) partial aggregate
    combines map-side before the one shuffle at doc grain; nothing
    wider than ~20 bytes crosses the wire. All built-in, codegen'd,
    Python-free.
    """
    d = load_table(spark, "documents", sf_dir)
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counted = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window as W

    n = F.sum("c").over(W.partitionBy("doc_id"))
    term = (
        (F.col("c").cast("double") / F.col("n"))
        * F.log2(F.col("n").cast("double") / F.col("c"))
    ).cast("decimal(18,12)")
    return (
        counted.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(F.sum(term).cast("double"), 6).alias("entropy_bits"),
        )
    )


@query(
    "text_bpe_merge_pairs",
    oracle="""
    WITH words AS (
      SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
    ),
    pairs AS (
      SELECT substr(word, CAST(UNNEST(generate_series(1, length(word) - 1))
                           AS INTEGER), 2) AS pair
      FROM words WHERE length(word) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def q_text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: corpus-wide adjacent character-pair
    frequencies (the statistic byte-pair-encoding tokenizer training
    maximizes at every step).

    Words explode into their overlapping 2-grams with posexplode over
    an in-array index sequence — a narrow ~|word| fan-out with no
    shuffle until the pair counts (2-char keys, so the aggregate state
    is bounded by the alphabet squared regardless of corpus size, and
    partial aggregation collapses almost everything map-side). The
    TakeOrdered(20) top-k never sorts the full pair table. A full BPE
    trainer iterates this query against a shrinking symbol table; each
    iteration is the same one-shuffle shape.
    """
    d = load_table(spark, "documents", sf_dir)
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


@query(
    "text_ngram_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
      {sql_ngram_rows(SHINGLE_K, "doc_id, source")}
    ),
    df AS (
      SELECT shingle, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM sh GROUP BY shingle
    ),
    per_src AS (SELECT DISTINCT source, shingle FROM sh)
    SELECT
      p.source,
      CAST(COUNT(*) AS BIGINT) AS n_shingles,
      CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_shared,
      CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) * 10000
           // COUNT(*) AS BIGINT) AS dup_rate_bp
    FROM per_src p JOIN df d USING (shingle)
    GROUP BY p.source
    ORDER BY p.source
    """,
)
def q_text_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document n-gram duplication diagnosis, the corpus-level
    companion to ``text_repetition_ngrams`` (intra-doc): per source,
    how many distinct 3-gram shingles its documents contribute and
    what fraction of them also appear in at least one OTHER document
    corpus-wide (``n_docs > 1``). A source whose dup_rate is high is
    boilerplate-heavy or a mirror of another source — exactly the
    signal used to decide between doc-level dedup
    (``dedup_ngram_jaccard``) and substring-level dedup
    (``dedup_substring_runs``) before training.

    Scale: ONE shingle-keyed shuffle computes document frequency and
    the (<=|sources|-element) source set together, map-side combined;
    exploding the source set and the |sources|-row rollup never touch
    fact-sized data, and AQE's skew handling covers hot boilerplate
    shingles. Integer basis points keep the rate value-exact.
    """
    # parallelize before the shingle fan-out (round 11): the fixture
    # scan is a single split, so the explode + concat_ws compute ran
    # single-threaded into the groupBy's map side — one round-robin
    # exchange engages every core (measured 1.38 s -> 0.95 s minima at
    # sf0.1; a no-op at lake scale where scans arrive in many splits).
    d = parallelize(load_table(spark, "documents", sf_dir), spark)
    sh = shingle_rows(d, SHINGLE_K, keep=("doc_id", "source"))
    # ONE shingle-keyed shuffle: document frequency and the (bounded,
    # <=|sources|) source set aggregate together, then explode the
    # source set — no second distinct + join back on the vocab.
    # COUNT(*) == COUNT(DISTINCT doc_id) here because the shingle
    # array is per-doc array_distinct-ed, so each (doc, shingle)
    # appears exactly once — the plain count skips the distinct
    # aggregate's expand phase.
    per_shingle = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.collect_set("source").alias("sources"),
    )
    per_src = per_shingle.select(
        F.explode("sources").alias("source"), "n_docs"
    )
    return (
        per_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
            F.floor(
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                * 10000
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("dup_rate_bp"),
        )
        .orderBy("source")
    )


@query(
    "text_encoding_qa",
    oracle=r"""
    WITH d AS (
      SELECT source,
             length(text) AS n_cp,
             length(text)
               - length(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))
               AS n_nonprint,
             CASE WHEN regexp_matches(text, '�') THEN 1 ELSE 0 END
               AS has_replacement,
             CASE WHEN regexp_matches(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')
                  THEN 1 ELSE 0 END AS has_control
      FROM documents
    )
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(has_replacement) AS BIGINT) AS n_replacement_docs,
      CAST(SUM(has_control) AS BIGINT) AS n_control_docs,
      CAST(SUM(n_nonprint) AS BIGINT) AS nonprintable_cp,
      CAST(SUM(n_nonprint) * 10000 // GREATEST(SUM(n_cp), 1) AS BIGINT)
        AS nonprintable_bp
    FROM d GROUP BY source ORDER BY source
    """,
)
def q_text_encoding_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-quality audit per source: documents carrying U+FFFD
    replacement characters (the scar of a mojibake re-decode),
    documents with raw C0 control characters, and the share of
    non-printable-ASCII codepoints — the triage report that decides
    whether a source needs re-extraction before any content filter
    runs (a corrupt decode poisons every downstream token statistic).
    Counts are codepoint-based in both engines, which the unicode
    fixture sweep exercises.

    Scale: shuffle-free narrow regexp map (JVM-side, codegen'd) plus
    one |sources|-row aggregate; integer basis points keep the ratio
    value-exact.
    """
    d = load_table(spark, "documents", sf_dir)
    n_cp = F.length("text")
    n_nonprint = n_cp - F.length(
        F.regexp_replace(F.col("text"), "[^\\x20-\\x7E]", "")
    )
    has_repl = (
        F.col("text").rlike("�").cast("int")
    )
    has_ctrl = (
        F.col("text")
        .rlike("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
        .cast("int")
    )
    per = d.select(
        "source",
        n_cp.alias("n_cp"),
        n_nonprint.alias("n_nonprint"),
        has_repl.alias("has_replacement"),
        has_ctrl.alias("has_control"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("has_replacement").cast("long").alias("n_replacement_docs"),
            F.sum("has_control").cast("long").alias("n_control_docs"),
            F.sum("n_nonprint").cast("long").alias("nonprintable_cp"),
            F.floor(
                F.sum("n_nonprint")
                * 10000
                / F.greatest(F.sum("n_cp"), F.lit(1))
            )
            .cast("long")
            .alias("nonprintable_bp"),
        )
        .orderBy("source")
    )


_JS_TOPV = 1000  # vocabulary truncation for the divergence grid


@query(
    "text_js_divergence_sources",
    oracle=f"""
    WITH w AS (
      SELECT source, u.w AS word
      FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
      WHERE u.w <> ''
    ),
    sw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM w GROUP BY source, word
    ),
    vocab AS (
      SELECT word, CAST(SUM(c) AS BIGINT) AS cw
      FROM sw GROUP BY word
      ORDER BY cw DESC, word LIMIT {_JS_TOPV}
    ),
    stot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sw GROUP BY source
    ),
    gtot AS (
      SELECT CAST(SUM(cw) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM vocab
    ),
    grid AS (
      SELECT s.source, s.ns, vb.word, vb.cw, g.n, g.v,
             COALESCE(c.c, 0) AS csw
      FROM stot s
      CROSS JOIN vocab vb
      CROSS JOIN gtot g
      LEFT JOIN sw c ON c.source = s.source AND c.word = vb.word
    ),
    terms AS (
      SELECT source, word,
        0.5 * ((csw + 0.5) / (ns + 0.5 * v))
            * LN(((csw + 0.5) / (ns + 0.5 * v))
                 / (0.5 * ((csw + 0.5) / (ns + 0.5 * v))
                    + 0.5 * ((cw + 0.5) / (n + 0.5 * v))))
        + 0.5 * ((cw + 0.5) / (n + 0.5 * v))
            * LN(((cw + 0.5) / (n + 0.5 * v))
                 / (0.5 * ((csw + 0.5) / (ns + 0.5 * v))
                    + 0.5 * ((cw + 0.5) / (n + 0.5 * v))))
          AS t
      FROM grid
    )
    SELECT
      source,
      ROUND(CAST(list_reduce(list(t ORDER BY word), (a, b) -> a + b)
                 AS DOUBLE), 6) AS js_divergence
    FROM terms GROUP BY source ORDER BY source
    """,
)
def q_text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the corpus — the text-side drift report next to
    ``drift_psi_report`` (events): a source whose JS is high writes in
    a different register than the rest of the mix and deserves its own
    curation settings. Laplace-smoothed over the top-{_JS_TOPV} corpus
    vocabulary (the standard truncation — tail words contribute
    O(1/N) and the grid stays |sources| x V at any corpus size).

    Determinism: both engines evaluate the identical smoothed-share
    expression tree per (source, word) cell and fold the terms in
    sorted word order (sorted-list reduce), so the float addition
    sequence matches exactly — the sorted fold is the same toolkit the
    retrieval eval uses.

    Scale: one (source, word) shuffle of the token stream (map-side
    combined); vocabulary and per-source totals are vocab-/source-
    sized; the grid is built by crossing two tiny relations, never the
    corpus.
    """
    d = load_table(spark, "documents", sf_dir)
    w = d.select(
        "source", F.explode(tokens()).alias("word")
    ).filter(F.col("word") != "")
    sw = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    sw = sw.localCheckpoint()  # 3 consumers; AQE never reuses exchanges
    vocab = (
        sw.groupBy("word")
        .agg(F.sum("c").cast("long").alias("cw"))
        .orderBy(F.col("cw").desc(), "word")
        .limit(_JS_TOPV)
    )
    stot = sw.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    gtot = vocab.agg(
        F.sum("cw").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    grid = (
        stot.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(gtot))
        .join(sw, ["source", "word"], "left")
        .select(
            "source",
            "word",
            "ns",
            "cw",
            "n",
            "v",
            F.coalesce(F.col("c"), F.lit(0)).alias("csw"),
        )
    )
    p = (F.col("csw") + 0.5) / (F.col("ns") + 0.5 * F.col("v"))
    q = (F.col("cw") + 0.5) / (F.col("n") + 0.5 * F.col("v"))
    m = 0.5 * p + 0.5 * q
    term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    return (
        grid.select("source", "word", term.alias("t"))
        .groupBy("source")
        .agg(
            F.round(
                F.aggregate(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct(F.col("word"), F.col("t")))
                        ),
                        lambda s: s["t"],
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("js_divergence")
        )
        .orderBy("source")
    )


@query(
    "text_keyphrase_rake",
    oracle=f"""
    WITH marked AS (
      SELECT doc_id,
             string_split(
               array_to_string(
                 list_transform(
                   string_split(text, ' '),
                   w -> CASE WHEN list_contains({_SQL_STOPWORDS}, w)
                             THEN '|' ELSE w END
                 ), ' '
               ), '|'
             ) AS chunks
      FROM documents
    ),
    phr AS (
      SELECT doc_id, trim(c.p) AS phrase
      FROM marked, UNNEST(chunks) AS c(p)
      WHERE trim(c.p) <> ''
    ),
    pw AS (
      SELECT phrase, u.w AS word,
             len(string_split(phrase, ' ')) AS plen
      FROM phr, UNNEST(string_split(phrase, ' ')) AS u(w)
    ),
    wstat AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS degree
      FROM pw GROUP BY word
    ),
    dphr AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM phr GROUP BY phrase
    ),
    scoredw AS (
      SELECT d.phrase, d.n_occ, u.w AS word,
             CAST(s.degree AS DOUBLE) / s.freq AS wscore
      FROM dphr d, UNNEST(string_split(d.phrase, ' ')) AS u(w)
      JOIN wstat s ON s.word = u.w
    )
    SELECT
      phrase, n_occ,
      CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words,
      ROUND(CAST(list_reduce(list(wscore ORDER BY word, wscore),
                             (a, b) -> a + b) AS DOUBLE), 4) AS score
    FROM scoredw
    GROUP BY phrase, n_occ
    ORDER BY score DESC, phrase
    LIMIT 20
    """,
)
def q_text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; a word's score is
    degree/frequency (degree = summed length of every phrase it occurs
    in — co-occurrence reach); a phrase's score is the sum of its
    words' scores. Top-20 phrases corpus-wide — the classic cheap
    keyword/topic surfacing pass over a new corpus before any model
    runs.

    Determinism: word scores are exact rationals evaluated identically
    (one division); the per-phrase sum folds word scores in sorted
    order on both engines (sorted-list reduce — duplicate words in a
    phrase carry equal scores, so the tie is harmless).

    Scale: phrase chunking is a narrow in-array map (stopwords
    replaced by separators, split — no regex backtracking); word stats
    are one (word) aggregate; phrase scoring joins the DISTINCT phrase
    table (vocab-scale) to the word-score table — fact-sized data
    crosses exactly one (phrase) shuffle.
    """
    d = load_table(spark, "documents", sf_dir)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    chunks = F.split(
        F.array_join(
            F.transform(
                tokens(),
                lambda w: F.when(
                    F.array_contains(stop_arr, w), F.lit("|")
                ).otherwise(w),
            ),
            " ",
        ),
        "\\|",
    )
    phr = (
        d.select("doc_id", F.explode(chunks).alias("p"))
        .select(F.trim(F.col("p")).alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pw = phr.select(
        "phrase",
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
        F.size(F.split(F.col("phrase"), " ")).alias("plen"),
    )
    wstat = pw.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    dphr = phr.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    scoredw = (
        dphr.select(
            "phrase",
            "n_occ",
            F.explode(F.split(F.col("phrase"), " ")).alias("word"),
        )
        .join(wstat, "word")
        .select(
            "phrase",
            "n_occ",
            "word",
            (F.col("degree").cast("double") / F.col("freq")).alias("wscore"),
        )
    )
    return (
        scoredw.groupBy("phrase", "n_occ")
        .agg(
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(F.col("word"), F.col("wscore"))
                        )
                    ),
                    lambda s: s["wscore"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("raw")
        )
        .select(
            "phrase",
            "n_occ",
            F.size(F.split(F.col("phrase"), " ")).cast("long").alias("n_words"),
            F.round(F.col("raw"), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(20)
    )
