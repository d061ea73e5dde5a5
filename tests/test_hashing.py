"""The portable md5 prefix: Spark's conv forms and the DuckDB nibble
rebuild agree value for value, NULL included."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import (
    md5_prefix,
    md5_uniform,
    spark_sql_md5_prefix,
    sql_md5_prefix,
    sql_md5_uniform,
)

INPUTS = ["", "hello", "world", "the quick fox", "héllo 世界", "0", "42", "1234567890", None]


@pytest.fixture(scope="module")
def words(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(INPUTS)], "i int, s string")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE words (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO words VALUES (?, ?)", list(enumerate(INPUTS)))
    yield con
    con.close()


@pytest.mark.parametrize("hex_digits", range(1, 9))
def test_spark_forms_match_the_duckdb_rebuild(words, duck, hex_digits):
    rows = words.select(
        "i",
        md5_prefix("s", hex_digits).alias("col"),
        F.expr(spark_sql_md5_prefix("s", hex_digits)).alias("txt"),
    ).collect()
    spark_col = {r["i"]: r["col"] for r in rows}
    spark_txt = {r["i"]: r["txt"] for r in rows}
    duck_vals = dict(
        duck.execute(
            f"SELECT i, CAST(({sql_md5_prefix('s', hex_digits)}) AS BIGINT) FROM words"
        ).fetchall()
    )
    assert spark_col == spark_txt == duck_vals
    assert duck_vals[INPUTS.index(None)] is None
    assert all(0 <= v < 16**hex_digits for v in duck_vals.values() if v is not None)


def test_uniform_lies_in_unit_interval_and_matches_duckdb(words, duck):
    rows = words.select("i", md5_uniform(F.col("s")).alias("u")).collect()
    spark_u = {r["i"]: r["u"] for r in rows}
    duck_u = dict(duck.execute(f"SELECT i, {sql_md5_uniform('s')} FROM words").fetchall())
    assert spark_u == duck_u
    assert all(0.0 <= u < 1.0 for u in spark_u.values() if u is not None)
    assert spark_u[INPUTS.index(None)] is None
