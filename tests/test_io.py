"""Write-side + layout tests (S6): partition pruning, bucketed
co-located joins, CSV/JSON round-trips.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from flink_kakfa_spark.sources.io import (
    read_csv,
    read_json,
    write_bucketed_table,
    write_partitioned,
)
from flink_kakfa_spark.sources.tables import load_table

TOOLS = str(pathlib.Path(__file__).resolve().parent.parent / "tools")


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    o = load_table(spark, "orders", sf_dir)
    write_partitioned(o, str(tmp_path / "orders_p"), ["o_orderstatus"])
    back = spark.read.parquet(str(tmp_path / "orders_p"))
    assert back.count() == o.count()
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the status predicate must be a partition filter, not a data filter
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1][:300]
    assert pruned.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_skips_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join with NO shuffle."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # tiny fixtures would broadcast (which ignores bucketing) — force the
    # shuffle-join path so the test observes the bucketed layout
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    write_bucketed_table(o.select("o_orderkey", "o_totalprice"), "orders_b", "o_orderkey")
    write_bucketed_table(li.select("l_orderkey", "l_quantity"), "lineitem_b", "l_orderkey")
    try:
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan  # co-located: bucketing replaced the shuffle
        # correctness: same row count as the plain join
        assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_csv_round_trip(spark, sf_dir, tmp_path):
    n = load_table(spark, "nation", sf_dir)
    n.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "nation_csv"))
    back = read_csv(
        spark,
        str(tmp_path / "nation_csv"),
        "n_nationkey int, n_name string, n_regionkey int",
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_json_round_trip(spark, sf_dir, tmp_path):
    r = load_table(spark, "region", sf_dir)
    r.write.mode("overwrite").json(str(tmp_path / "region_json"))
    back = read_json(spark, str(tmp_path / "region_json"), "r_regionkey int, r_name string")
    assert sorted(map(tuple, back.select("r_regionkey", "r_name").collect())) == sorted(
        map(tuple, r.collect())
    )


def test_streaming_parquet_sink(spark, sf_dir, tmp_path):
    """S6 streaming form: file-source -> parquet sink with checkpoint."""
    src = load_table(spark, "region", sf_dir)
    src.write.mode("overwrite").parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema("r_regionkey int, r_name string").parquet(
        str(tmp_path / "in")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.read.parquet(str(tmp_path / "out")).count() == src.count()


def test_parallelize_is_noop_on_many_split_input(spark, tmp_path):
    """VERDICT r4 design note: when a scan already yields enough splits,
    parallelize() must NOT add a repartition exchange."""
    from flink_kakfa_spark.sources.tables import parallelize

    path = str(tmp_path / "many")
    # 16 small files -> one split each; target parallelism is local[4]=4,
    # so splits*2 > target and the input must pass through untouched
    spark.range(0, 1000).repartition(16).write.parquet(path)
    df = spark.read.parquet(path)
    out = parallelize(df, spark)
    assert out is df  # identical object: no new plan node at all


def test_parallelize_restores_parallelism_on_single_split(spark, tmp_path):
    from flink_kakfa_spark.sources.tables import parallelize

    path = str(tmp_path / "single")
    spark.range(0, 1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    out = parallelize(df, spark)
    assert out is not df
    assert "Repartition" in out._jdf.queryExecution().logical().toString()


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC round-trip preserves values; a filtered read shows pushed
    filters in the scan (native vectorized ORC reader)."""
    from flink_kakfa_spark.sources.io import read_orc, write_orc
    from flink_kakfa_spark.sources.tables import load_table

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    filtered = back.filter(back.o_totalprice > 100000.0)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split(
        "PushedFilters"
    )[1][:200], plan
    want = orders.filter(orders.o_totalprice > 100000.0).count()
    assert filtered.count() == want


def test_pyfiles_zip_is_importable_and_deterministic(tmp_path):
    """The --py-files archive imports standalone (no repo on sys.path)
    and rebuilds byte-identically."""
    import hashlib
    import subprocess
    import sys

    sys.path.insert(0, TOOLS) if TOOLS not in sys.path else None
    from package_pyfiles import build

    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    n1, n2 = build(z1), build(z2)
    assert n1 == n2 > 30
    h = lambda p: hashlib.sha256(open(p, "rb").read()).hexdigest()  # noqa: E731
    assert h(z1) == h(z2)  # deterministic artifact

    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import flink_kakfa_spark.streaming.wire as w; "
        "assert w.crc32c(b'123456789') == 0xE3069283; "
        "import flink_kakfa_spark.registry; print('zip-import-ok')"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, z1],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo: the zip must stand alone
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    assert "zip-import-ok" in out.stdout
