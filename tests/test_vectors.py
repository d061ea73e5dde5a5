"""``functions/vectors.py``: the unrolled dot and the fold spellings agree
bit for bit, so an operator may pick either form for speed alone."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_kakfa_spark.functions.vectors import (
    as_double,
    cosine,
    dot,
    sq_norm,
    unrolled_dot,
)
from flink_kakfa_spark.sources.tables import load_table


def test_unrolled_dot_and_sum_of_squares_forms_are_bit_identical(spark, sf_dir):
    """On the embeddings crossed with a 1-in-50 sample, ``unrolled_dot``
    equals ``dot``, ``sq_norm`` equals the fold of ``transform(x -> x * x)``,
    and ``dot`` equals a left fold in index order from 0.0, in every row."""
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", as_double("embedding").alias("a")
    )
    dims = len(e.first()["a"])
    sample = e.filter(F.col("vec_id") % 50 == 0).select(F.col("a").alias("b"))
    squares_then_sum = F.aggregate(
        F.transform("a", lambda x: x * x), F.lit(0.0), lambda s, x: s + x
    )
    rows = (
        e.crossJoin(F.broadcast(sample))
        .select(
            "a",
            "b",
            dot("a", "b").alias("dot"),
            (unrolled_dot("a", "b", dims) == dot("a", "b")).alias("unrolled_eq"),
            (sq_norm("a") == squares_then_sum).alias("sq_norm_eq"),
        )
        .collect()
    )
    assert len(rows) == 500 * 10
    assert all(r["unrolled_eq"] for r in rows)
    assert all(r["sq_norm_eq"] for r in rows)
    for r in rows:
        s = 0.0
        for x, y in zip(r["a"], r["b"]):
            s += x * y
        assert r["dot"] == s


def test_cosine_of_a_zero_vector_is_minus_one_as_in_duckdb(spark):
    """A zero vector has no direction: DuckDB's ``list_cosine_similarity``
    answers -1.0 against it, and ``cosine`` gives the same instead of
    failing the query with DIVIDE_BY_ZERO; other pairs keep the plain
    quotient."""
    import math

    import duckdb

    want = duckdb.sql(
        "SELECT list_cosine_similarity([0.0, 0.0]::DOUBLE[], [1.0, 2.0]::DOUBLE[]),"
        " list_cosine_similarity([0.0, 0.0]::DOUBLE[], [0.0, 0.0]::DOUBLE[])"
    ).fetchone()
    assert want == (-1.0, -1.0)
    row = (
        spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "z array<double>, v array<double>")
        .select(
            cosine("z", "v").alias("zv"),
            cosine("z", "z").alias("zz"),
            cosine("v", "v").alias("vv"),
        )
        .first()
    )
    assert (row["zv"], row["zz"]) == want
    assert row["vv"] == 5.0 / (math.sqrt(5.0) * math.sqrt(5.0))
