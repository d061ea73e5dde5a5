"""Portable md5-prefix hashing: one spelling per engine.

Hash-based operators (folds, buckets, shards, sampling draws, MinHash
and SimHash token hashes) key on the first ``hex_digits`` hex digits of
md5 read as an integer. Both engines compute md5 identically, so the
value is engine-portable (xxhash64 would be faster but is
Spark-specific): Spark reads the prefix with ``conv``, and since DuckDB
has no hex ``conv`` its oracle twin rebuilds the same integer nibble by
nibble. The oracle forms stay independent references — they share this
module's spelling, never a call into Spark.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO_32 = 4294967296.0  # the 8-digit prefix space


def md5_prefix(col: Column | str, hex_digits: int = 8) -> Column:
    """First ``hex_digits`` hex digits of md5(col) as a BIGINT.

    Hand it to ``F.transform`` through a one-argument lambda: a
    two-parameter function there receives the element index as its
    second argument."""
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


def spark_sql_md5_prefix(expr: str, hex_digits: int = 8) -> str:
    """Spark SQL text form of :func:`md5_prefix`, for ``F.expr`` lambdas."""
    return f"cast(conv(substring(md5({expr}), 1, {hex_digits}), 16, 10) as bigint)"


def sql_md5_prefix(expr: str, hex_digits: int = 8) -> str:
    """DuckDB oracle twin of :func:`md5_prefix`: an unparenthesized sum of
    nibble values, so callers wrap it before applying operators."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {k}, 1)) - 1)"
        f" * {16 ** (hex_digits - k)}"
        for k in range(1, hex_digits + 1)
    )


def md5_uniform(col: Column) -> Column:
    """Deterministic uniform in [0,1) from md5 of ``col`` as a string:
    the 8-digit prefix over 2^32, an exact dyadic in both engines."""
    return md5_prefix(col.cast("string")).cast("double") / F.lit(_TWO_32)


def sql_md5_uniform(expr: str) -> str:
    """DuckDB oracle twin of :func:`md5_uniform`."""
    return f"CAST(({sql_md5_prefix(f'CAST({expr} AS VARCHAR)')}) / {_TWO_32!r} AS DOUBLE)"
