"""Cross-system table reconciliation (Tier C extension): mergeable
order-independent checksums and snapshot diffs.

Anyone mirroring the reference's topic into two systems (the Go
producer writes once, many consumers land copies —
``go/consumer/consumer.go:79-81``) eventually has to prove the copies
are identical WITHOUT moving 100 TB across the wire. The standard
answer is a sharded, order-independent table fingerprint (compare two
tiny manifests, recopy only mismatched shards) and, when a mismatch
is found, a key-level snapshot diff that classifies rows as
added/removed/changed.

Scale notes (100 TB): the checksum is ONE pass over the fact table
with map-side partial aggregation into |shards| rows — the manifest
is KB regardless of table size, and shards are independently
re-checkable. The snapshot diff is one key-partitioned full-outer
join (both sides shuffled once on the key) followed by a global
partial/final aggregate; nothing wider than the key + compared
columns crosses the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_prefix, sql_md5_prefix
from flink_kakfa_spark.registry import query
from flink_kakfa_spark.sources.tables import load_table

_N_SHARDS = 16

# Canonical row rendering shared by both engines: '|'-joined string of
# every column with an engine-independent text form (int64 as digits,
# money as DECIMAL(18,2) text, date as yyyy-MM-dd).  The decimal cast
# makes the money column's text identical in both engines (proven by
# the r4-green decimal-exact queries); raw doubles would render
# differently.  Every field is COALESCEd to an explicit '<NULL>'
# sentinel: CONCAT_WS silently SKIPS null arguments in both engines,
# so without the sentinel two distinct rows whose non-null fields
# happen to line up after a null drops out ("a|b" from (a, NULL, b)
# vs (a, b, NULL)) would render — and hash — identically, weakening
# the 'equal manifests <=> equal tables' claim beyond hash collisions.
_DUCK_ROW = (
    "CONCAT_WS('|', "
    "COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>'), "
    "COALESCE(CAST(o_custkey AS VARCHAR), '<NULL>'), "
    "COALESCE(o_orderstatus, '<NULL>'), "
    "COALESCE(o_orderpriority, '<NULL>'), "
    "COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '<NULL>'), "
    "COALESCE(strftime(o_orderdate, '%Y-%m-%d'), '<NULL>'))"
)


def _s(col: F.Column) -> F.Column:
    """Null-sentineled string form of a field for canonical rendering."""
    return F.coalesce(col.cast("string"), F.lit("<NULL>"))


def manifest_partial(orders: DataFrame) -> DataFrame:
    """Per-shard (n_rows, sum_hash, xor_hash) partial manifest of an
    ``orders``-shaped relation — the mergeable unit: partials from any
    row-disjoint split combine by SUM/SUM/BIT_XOR to the full-table
    manifest (the streaming monitor maintains exactly this)."""
    row_str = F.concat_ws(
        "|",
        _s(F.col("o_orderkey")),
        _s(F.col("o_custkey")),
        _s(F.col("o_orderstatus")),
        _s(F.col("o_orderpriority")),
        _s(F.col("o_totalprice").cast("decimal(18,2)")),
        _s(F.date_format("o_orderdate", "yyyy-MM-dd")),
    )
    return (
        orders.select(
            (F.col("o_orderkey") % _N_SHARDS).cast("long").alias("shard"),
            md5_prefix(row_str).alias("row_hash"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_hash").cast("long").alias("sum_hash"),
            F.expr("bit_xor(row_hash)").cast("long").alias("xor_hash"),
        )
    )


@query(
    "reconcile_table_checksum",
    oracle=f"""
    WITH h AS (
      SELECT
        CAST(o_orderkey % {_N_SHARDS} AS BIGINT) AS shard,
        CAST(({sql_md5_prefix(_DUCK_ROW)}) AS BIGINT) AS row_hash
      FROM orders
    )
    SELECT
      shard,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(row_hash) AS BIGINT) AS sum_hash,
      CAST(BIT_XOR(row_hash) AS BIGINT) AS xor_hash
    FROM h
    GROUP BY shard
    ORDER BY shard
    """,
)
def q_reconcile_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded order-independent table fingerprint of ``orders``.

    Each row is rendered canonically (engine-independent text), hashed
    to a portable 32-bit integer, and folded per shard with the two
    classic commutative accumulators — SUM and BIT_XOR — plus a row
    count.  Equal manifests ⇒ tables equal up to hash collisions;
    a mismatch names the shard(s) to recopy.  Both accumulators are
    order- and partitioning-independent, so the manifest is identical
    no matter how either system split the scan.

    Scale: one narrow pass + a {_N_SHARDS}-row map-side-combined
    aggregate; the only thing ever compared across systems is the
    KB-sized manifest.  Shard = key % {_N_SHARDS} keeps shards
    balanced for any key distribution with a dense key space; a salted
    variant would be one substitution for skewed keys.
    """
    o = load_table(spark, "orders", sf_dir)
    return manifest_partial(o).orderBy("shard")


@query(
    "reconcile_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    v2 AS (
      SELECT k, st,
             CASE WHEN k % 6 = 0
                  THEN CAST(price + 100.00 AS DECIMAL(18,2))
                  ELSE price END AS price
      FROM v1 WHERE k % 15 <> 0
      UNION ALL
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
    ),
    d AS (
      SELECT
        COALESCE(v1.k, v2.k) AS k,
        CASE
          WHEN v2.k IS NULL THEN 'removed'
          WHEN v1.k IS NULL THEN 'added'
          WHEN v1.st <> v2.st OR v1.price <> v2.price THEN 'changed'
          ELSE 'unchanged'
        END AS change_type,
        CAST(COALESCE(v2.price, 0) - COALESCE(v1.price, 0)
             AS DECIMAL(18,2)) AS price_delta
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT
      change_type,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(k) AS BIGINT) AS sum_key,
      CAST(CAST(SUM(price_delta) AS DECIMAL(18,2)) AS DOUBLE)
        AS sum_price_delta
    FROM d
    GROUP BY change_type
    ORDER BY change_type
    """,
)
def q_reconcile_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level diff of two table snapshots (Delta ``table_changes``
    shape, computed from plain Parquet).

    Two deterministic snapshots are derived from ``orders``: v2 drops
    every 15th key (deletes), bumps every 6th key's price (updates),
    and admits a disjoint key slice (inserts).  One full-outer join on
    the key classifies every row, then a global aggregate reports
    counts, an exact key checksum, and the DECIMAL-exact net price
    drift per class — the report a CDC backfill job would emit.

    Scale: both snapshots shuffle ONCE on the join key and only
    ``(key, status, price)`` crosses the wire; the classifying
    projection is narrow and the final aggregate is 4 rows.  For a
    mostly-unchanged 100 TB pair, running the checksum manifest first
    (``reconcile_table_checksum``) confines this join to mismatched
    shards.
    """
    o = load_table(spark, "orders", sf_dir)
    return (
        snapshot_diff_partial(o)
        .select(
            "change_type",
            "n_rows",
            "sum_key",
            F.col("price_delta_sum")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_price_delta"),
        )
        .orderBy("change_type")
    )


def snapshot_diff_partial(orders: DataFrame) -> DataFrame:
    """Per-class (n_rows, sum_key, DECIMAL price-delta sum) snapshot
    diff of an ``orders``-shaped relation — the mergeable unit.

    Both snapshots (and hence both join sides for any key) derive
    deterministically from the SAME physical orders row, so any
    row-disjoint split of orders splits the diff into key-disjoint
    pieces: partials combine by per-class SUM to the full-table diff
    (the streaming monitor maintains exactly this). The price delta
    stays DECIMAL here so folding partials is exact; callers cast to
    double only at report time.
    """
    o = orders
    v1 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    v2 = (
        v1.filter(F.col("k") % 15 != 0)
        .select(
            "k",
            "st",
            F.when(
                F.col("k") % 6 == 0,
                (F.col("price") + F.lit(100.00)).cast("decimal(18,2)"),
            )
            .otherwise(F.col("price"))
            .alias("price"),
        )
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 5 == 0)
            ).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("st"),
                F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            )
        )
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    d = j.select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
        F.when(F.col("b.k").isNull(), F.lit("removed"))
        .when(F.col("a.k").isNull(), F.lit("added"))
        .when(
            (F.col("a.st") != F.col("b.st"))
            | (F.col("a.price") != F.col("b.price")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        (
            F.coalesce(F.col("b.price"), F.lit(0).cast("decimal(18,2)"))
            - F.coalesce(F.col("a.price"), F.lit(0).cast("decimal(18,2)"))
        )
        .cast("decimal(18,2)")
        .alias("price_delta"),
    )
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").cast("long").alias("sum_key"),
        F.sum("price_delta").cast("decimal(28,2)").alias("price_delta_sum"),
    )
