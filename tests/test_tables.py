"""``sources/tables.load_table``: each Parquet file's schema is inferred
once per file version, and every later open starts no Spark job.

Fixtures are written here with pyarrow, one file per table, like the
driver's star schema; ``events.ts`` comes in both generations the driver
has shipped, TIMESTAMP(NANOS) and ``timestamp[us]``.
"""

from __future__ import annotations

import datetime as dt
import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from flink_kakfa_spark.sources.tables import load_table

TS = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), dt.datetime(2024, 6, 30, 23, 59, 59, 1)]
TS_MICROS = [
    int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6 + t.microsecond
    for t in TS
]
_GROUPS = itertools.count()


def _jobs(spark, open_table) -> tuple[object, int]:
    """Run ``open_table()`` and count the Spark jobs it starts."""
    sc = spark.sparkContext
    group = f"tables-{next(_GROUPS)}"
    sc.setJobGroup(group, "load_table")
    try:
        df = open_table()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_open_of_a_file_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), tmp_path / "orders.parquet")
    first, first_jobs = _jobs(spark, lambda: load_table(spark, "orders", str(tmp_path)))
    again, again_jobs = _jobs(spark, lambda: load_table(spark, "orders", str(tmp_path)))
    assert first_jobs > 0  # inference runs a job, so the count can see one
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(r[0] for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_returns_its_new_schema(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": [1]}), path)
    assert load_table(spark, "nation", str(tmp_path)).columns == ["n_nationkey"]
    pq.write_table(pa.table({"n_name": ["x", "y"], "n_regionkey": [7, 8]}), path)
    df = load_table(spark, "nation", str(tmp_path))
    assert df.columns == ["n_name", "n_regionkey"]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 7), ("y", 8)]


def _events_ts(spark, d) -> list[int]:
    from pyspark.sql import functions as F

    df = load_table(spark, "events", d)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    return sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())


def test_events_ts_reads_as_session_timestamp_in_both_generations(spark, tmp_path):
    """TIMESTAMP(NANOS) and timestamp[us] both read as session-tz
    TIMESTAMP with the same microsecond values, on the inferring open and
    on the cached one."""
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        ts = pa.array(TS, pa.timestamp("us")).cast(pa.timestamp(unit))
        pq.write_table(pa.table({"user_id": [1, 2], "ts": ts}), d / "events.parquet")
        assert str(pq.read_schema(d / "events.parquet").field("ts").type) == (
            f"timestamp[{unit}]"
        )
        assert _events_ts(spark, str(d)) == TS_MICROS
        _, jobs = _jobs(spark, lambda d=d: load_table(spark, "events", str(d)))
        assert jobs == 0
        assert _events_ts(spark, str(d)) == TS_MICROS


def test_opening_events_does_not_reinfer_tables_opened_before_it(spark, tmp_path):
    """How a table's Parquet timestamps convert does not depend on whether
    ``events`` was opened earlier in the session, so its kept schema
    stays valid across that open."""
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")  # a fresh session
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), tmp_path / "orders.parquet")
    ts = pa.array(TS, pa.timestamp("us")).cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"user_id": [1, 2], "ts": ts}), tmp_path / "events.parquet")
    _, first_jobs = _jobs(spark, lambda: load_table(spark, "orders", str(tmp_path)))
    assert _events_ts(spark, str(tmp_path)) == TS_MICROS
    again, again_jobs = _jobs(spark, lambda: load_table(spark, "orders", str(tmp_path)))
    assert first_jobs > 0
    assert again_jobs == 0
    assert sorted(r[0] for r in again.collect()) == [1, 2, 3]


def test_a_directory_reads_as_before(spark, tmp_path):
    """A lake directory is never cached: overwriting it with another
    schema reads the new one."""
    path = str(tmp_path / "customer.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "c_custkey long, c_name string").write.parquet(
        path
    )
    df = load_table(spark, "customer", str(tmp_path))
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
    spark.createDataFrame([(3.5,)], "c_acctbal double").write.mode("overwrite").parquet(path)
    df = load_table(spark, "customer", str(tmp_path))
    assert df.columns == ["c_acctbal"]
    assert [r[0] for r in df.collect()] == [3.5]
