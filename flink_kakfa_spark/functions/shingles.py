"""Word n-grams and the portable MinHash: one spelling per engine.

The reference's producer joins 1-5 words with a single space
(``go/producer/producer.go:127-138``), so every text operator keys on
single-space word n-grams ("shingles"): ``k`` consecutive tokens of
``split(text, ' ')`` joined by one space. Near-duplicate operators use
``SHINGLE_K``-word shingles, decontamination 4, repetition and bigram
counts 2.

The portable MinHash hashes each distinct shingle with the md5 prefix
of ``functions/hashing.py``, takes 16 affine permutations
``(h*a + b) mod (2^31-1)`` and bands the signature 4x4. Every constant
is a literal, so the Spark expressions and the DuckDB oracle compute
bit-identical signatures. The 3-gram rolling hash of the winnowing and
rolling-fingerprint operators shares the same modulus.

Each piece has a Spark form and a DuckDB oracle form; the oracle forms
stay independent references — they share this module's spelling, never
a call into Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import sql_md5_prefix

SHINGLE_K = 3  # words per near-duplicate shingle


def word_ngrams(tokens: Column | str, k: int) -> Column:
    """The ``k``-word n-grams of a token array, in order, with repeats.

    Total: an array shorter than ``k`` (or NULL) yields an empty array.
    The WHEN guard matters even behind a size filter, because Catalyst
    may evaluate a collapsed projection on pre-filter rows, where the
    descending ``sequence`` would index ``element_at`` out of bounds
    (an ANSI error)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + j if j else i) for j in range(k)]
        ),
    )
    return F.when(F.size(t) >= k, grams).otherwise(F.array().cast("array<string>"))


def shingle_rows(df: DataFrame, k: int, keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """``keep`` columns + one row per DISTINCT ``k``-word shingle of
    ``text`` (docs with at least ``k`` tokens).

    The token array is materialized as a COLUMN in its own projection
    before the shingle HOF references it: an inline ``split()`` gets
    collapsed into the lambda and re-evaluated per element (the
    SCALE.md winnowing trap) — measured 4.7x on the shingle explode.
    """
    base = df.select(*keep, F.split(F.col("text"), " ").alias("_toks"))
    t = F.col("_toks")
    return base.filter(F.size(t) >= k).select(
        *keep, F.explode(F.array_distinct(word_ngrams(t, k))).alias("shingle")
    )


def sql_word_ngram(ts: str, k: int) -> str:
    """DuckDB: the ``k``-gram of list ``ts`` starting at 1-based index ``i``."""
    return " || ' ' || ".join(f"{ts}[i+{j}]" if j else f"{ts}[i]" for j in range(k))


def sql_word_ngrams(ts: str, k: int) -> str:
    """DuckDB twin of :func:`word_ngrams` for lists of at least ``k``."""
    return (
        f"list_transform(generate_series(1, len({ts}) - {k - 1}),"
        f" i -> {sql_word_ngram(ts, k)})"
    )


def sql_ngram_rows(k: int, cols: str = "doc_id") -> str:
    """DuckDB twin of :func:`shingle_rows`: a SELECT of ``cols`` + one
    row per distinct ``k``-word shingle, over a ``tok`` CTE that carries
    ``cols`` and the token list ``ts``."""
    return (
        f"SELECT DISTINCT {cols}, {sql_word_ngram('ts', k)} AS shingle\n"
        f"      FROM tok, UNNEST(generate_series(1, len(ts) - {k - 1})) AS g(i)\n"
        f"      WHERE len(ts) >= {k}"
    )


# ---- portable MinHash ------------------------------------------------

MH_PERMS = 16
MH_BANDS = 4
MH_ROWS = MH_PERMS // MH_BANDS
MH_M = 2147483647


def _mh_ab(p: int) -> tuple[int, int]:
    """Affine permutation constants (a odd, 0 < a,b < 2^20/M)."""
    a = (((1103515245 * p + 12345) % 1048575) | 1)
    b = (22695477 * (p + 1)) % MH_M
    return a, b


def _perm_min(hashes: Column | str, p: int) -> Column:
    a, b = _mh_ab(p)
    return F.array_min(
        F.transform(hashes, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MH_M))
    ).alias(f"s{p}")


def minhash_signature(hashes: Column | str) -> list[Column]:
    """Signature columns ``s0..s15`` over an array of shingle hashes."""
    return [_perm_min(hashes, p) for p in range(MH_PERMS)]


def _band_cols(band: int) -> list[tuple[str, int]]:
    """(``k`` name, signature index) of each row of ``band``."""
    return [(f"k{r}", band * MH_ROWS + r) for r in range(MH_ROWS)]


def minhash_bands() -> Column:
    """Over signature columns ``s0..s15``: an array of one struct
    ``(band, k0..k3)`` per band, for a band explode."""
    return F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                *[F.col(f"s{p}").alias(k) for k, p in _band_cols(band)],
            )
            for band in range(MH_BANDS)
        ]
    )


def band_key_eq(left: str, right: str) -> Column:
    """Join condition: two exploded band rows (aliases ``left`` and
    ``right``) share a band and its whole key."""
    cond = F.col(f"{left}.band") == F.col(f"{right}.band")
    for r in range(MH_ROWS):
        cond = cond & (F.col(f"{left}.k{r}") == F.col(f"{right}.k{r}"))
    return cond


MH_SIG_SQL = ",\n      ".join(
    "list_min(list_transform(hl, h -> (h * {a} + {b}) % {m})) AS s{p}".format(
        a=_mh_ab(p)[0], b=_mh_ab(p)[1], m=MH_M, p=p
    )
    for p in range(MH_PERMS)
)


def sql_minhash_ctes() -> str:
    """DuckDB CTEs ``tok -> sh -> hashed -> sigs`` over ``documents``:
    ``sigs`` holds ``doc_id``, the distinct shingle list ``sharr`` and
    the signature ``s0..s15`` of every doc with at least ``SHINGLE_K``
    tokens. Follow with ``, next AS (...)``."""
    return f"""tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
      SELECT doc_id, list_distinct({sql_word_ngrams('ts', SHINGLE_K)}) AS sharr
      FROM tok WHERE len(ts) >= {SHINGLE_K}
    ),
    hashed AS (
      SELECT doc_id, sharr,
             list_transform(sharr, s -> CAST({sql_md5_prefix('s')} AS BIGINT)) AS hl
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, sharr,
      {MH_SIG_SQL}
      FROM hashed
    )"""


def sql_minhash_bands() -> str:
    """DuckDB twin of :func:`minhash_bands`: a list of band structs."""
    structs = (
        "{'band': %d, %s}"
        % (band, ", ".join(f"'{k}': s{p}" for k, p in _band_cols(band)))
        for band in range(MH_BANDS)
    )
    return f"[{', '.join(structs)}]"


def sql_band_match(left: str, right: str) -> str:
    """DuckDB: the two signature rows ``left`` and ``right`` agree on
    every row of at least one band."""
    return " OR ".join(
        "("
        + " AND ".join(f"{left}.s{p} = {right}.s{p}" for _, p in _band_cols(band))
        + ")"
        for band in range(MH_BANDS)
    )


# ---- rolling k-gram hash ---------------------------------------------

ROLL_B = 1000003  # polynomial base
ROLL_M = 2147483647  # 2^31-1: keeps acc*B + h inside BIGINT exactly


def roll3(arr: str, i: str) -> str:
    """SQL text of the rolling hash of ``arr[i], arr[i+1], arr[i+2]``.

    The text is the same in Spark SQL and DuckDB; only the index base
    differs (Spark arrays are 0-based, DuckDB lists 1-based), so the
    caller passes its own index expression."""
    return (
        f"(((({arr}[{i}] % {ROLL_M}) * {ROLL_B} + {arr}[{i} + 1]) % {ROLL_M})"
        f" * {ROLL_B} + {arr}[{i} + 2]) % {ROLL_M}"
    )
