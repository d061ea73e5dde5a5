"""Vector math over embedding arrays: one spelling per engine.

Every fold adds its terms left to right from one zero, ``((zero + t0) +
t1) + ...``. Double addition is not associative, so this order is what
keeps Spark's doubles bit-identical to the oracle's; a tree sum or a
reordered unroll moves low bits and can flip a 6-decimal rounding or a
near-tie. Integer callers (hyperplane LSH, IVF and k-means assignment,
JL projection) pass a BIGINT zero over ``floor(x * scale)`` components.

Spark runs ``aggregate``, ``zip_with`` and ``transform`` interpreted,
element by element, even inside a whole-stage-codegen stage: hoist
per-row norms out of pair loops, or use :func:`unrolled_dot`.
The DuckDB twins spell the folds the oracles write out by hand.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _zero(zero: Column | None) -> Column:
    return F.lit(0.0) if zero is None else zero


def as_double(col: Column | str) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str, zero: Column | None = None) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), _zero(zero), lambda s, x: s + x)


def sq_norm(a: Column | str, zero: Column | None = None) -> Column:
    """Bit-identical to ``dot(a, a)`` and to the fold of ``transform(a, x -> x * x)``."""
    return F.aggregate(a, _zero(zero), lambda s, x: s + x * x)


def sq_l2(a: Column | str, b: Column | str, zero: Column | None = None) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), _zero(zero), lambda s, x: s + x
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(sq_norm(a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """``dot(a, b) / (norm(a) * norm(b))``, and -1.0 when either side is a
    zero vector, as DuckDB's ``list_cosine_similarity`` answers (the
    division would raise DIVIDE_BY_ZERO under ANSI mode)."""
    den = norm(a) * norm(b)
    return F.when(den == 0, F.lit(-1.0)).otherwise(dot(a, b) / den)


def unrolled_dot(a: str, b: str, dims: int) -> Column:
    """:func:`dot` as one ``a[0] * b[0] + a[1] * b[1] + ...`` expression:
    the same terms in the same order, so bit-identical, but plain
    arithmetic that whole-stage-codegens where the fold's lambdas run
    interpreted — the form for a product evaluated per pair."""
    return F.expr("(" + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dims)) + ")")


def spark_sql_sq_l2(a: str, b: str) -> str:
    """Spark SQL text of :func:`sq_l2` over BIGINT arrays, for ``F.expr``."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0L, (s, x) -> s + x)"


def sql_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"


def sql_sq_norm(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> x * x))"
