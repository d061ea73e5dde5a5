"""Streaming twins of the reconciliation / drift / sketch operators:
exactly-once tables folded from per-micro-batch partials.

The reference's consumer only logs what arrives
(``go/consumer/consumer.go:79-81``); the first production questions
about such a feed are "does the landed copy still equal the source?",
"has the distribution shifted?" and "how often / by how many has X
happened?". The batch answers (``operators/reconcile.py``,
``operators/quality.py::drift_psi_report``,
``operators/analytics.py::cusum_daily``, ``operators/sketches.py``)
are built from mergeable pieces, so they stream with one recipe:

- ``_stream_partials`` writes each micro-batch's partial to its own
  subdirectory, keyed by batch id, with overwrite. Replaying a batch
  after a crash overwrites its own partial — exactly-once at the table
  level without coordination.
- ``_read_partials`` reads every partial back; each ``read_*`` folds
  them with the operator's commutative, associative merge (SUM,
  BIT_XOR, k smallest of the union), so the result equals the batch
  operator run over every row ever streamed.
- PSI against a FIXED reference window (the production monitoring
  shape: baseline vs live traffic) needs only the reference's bin
  layout and smoothed shares, both broadcast-sized; its per-batch
  reports are the log itself, not folded.

Scale notes: each micro-batch does one narrow pass + a map-side
combined aggregate into |shards|, |types|x|bins|, 3x256 or k-per-type
rows; the state on disk grows by KBs per batch regardless of stream
volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_prefix
from flink_kakfa_spark.operators.analytics import cusum_daily, cusum_from_daily
from flink_kakfa_spark.operators.reconcile import (
    manifest_partial,
    snapshot_diff_partial,
)
from flink_kakfa_spark.operators.sketches import _KMV_K, _kmv_estimate, cms_cells
from flink_kakfa_spark.streaming.wordcount import split_words

PSI_BINS = 10
PSI_ALERT = 0.2


def _stream_partials(stream: DataFrame, partial, path: str, checkpoint: str):
    """Write ``partial(batch_df, batch_id)`` for every micro-batch of
    ``stream`` to ``{path}/batch_id=N`` with overwrite, until the input
    available now is drained; returns the StreamingQuery."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            partial(batch_df, batch_id)
            .write.mode("overwrite")
            .parquet(f"{path}/batch_id={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _read_partials(spark: SparkSession, path: str) -> DataFrame:
    """Every partial ``_stream_partials`` has written under ``path``."""
    return spark.read.parquet(f"{path}/batch_id=*")


def streaming_checksum_manifest(orders: DataFrame, path: str, checkpoint: str):
    """Maintain the sharded table-checksum manifest over an orders
    stream; returns the StreamingQuery. ``read_manifest`` folds the
    per-batch partial manifests (COUNT / SUM / BIT_XOR of row hashes)."""
    return _stream_partials(
        orders, lambda df, _: manifest_partial(df), path, checkpoint
    )


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Fold the per-batch partials to the current full manifest."""
    return (
        _read_partials(spark, path)
        .groupBy("shard")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_hash").cast("long").alias("sum_hash"),
            F.expr("bit_xor(xor_hash)").cast("long").alias("xor_hash"),
        )
        .orderBy("shard")
    )


def reference_profile(reference: DataFrame) -> DataFrame:
    """Per-(event_type, bin) Laplace-smoothed reference shares plus the
    bin layout (global value range of the reference window).

    Tiny by construction (|types| x PSI_BINS rows) — computed once
    from the baseline window and broadcast into every micro-batch.
    """
    rng = reference.agg(
        F.min("value").alias("lo_v"), F.max("value").alias("hi_v")
    )
    binned = reference.crossJoin(F.broadcast(rng)).select(
        "event_type", F.col("lo_v"), F.col("hi_v"), _bin_expr().alias("bin")
    )
    cell = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cell.groupBy("event_type").agg(F.sum("c").alias("n_ref"))
    # dense (type x bin) grid so bins empty in the reference still
    # carry their smoothed floor when the live side hits them
    bins = reference.sparkSession.range(PSI_BINS).select(
        F.col("id").cast("long").alias("bin")
    )
    grid = tot.crossJoin(F.broadcast(bins)).crossJoin(F.broadcast(rng))
    return grid.join(cell, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        "lo_v",
        "hi_v",
        (
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / (F.col("n_ref") + PSI_BINS)
        ).alias("p_ref"),
    )


def _bin_expr():
    b = PSI_BINS
    return (
        F.when(F.col("hi_v") == F.col("lo_v"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(b - 1).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(
                        (F.col("value") - F.col("lo_v"))
                        * float(b)
                        / (F.col("hi_v") - F.col("lo_v"))
                    ).cast("long"),
                ),
            )
        )
    )


def psi_report(batch_df: DataFrame, profile: DataFrame) -> DataFrame:
    """PSI of one batch against the reference profile, per event type.

    Live values are binned with the REFERENCE's layout (out-of-range
    values clamp into the edge bins — exactly how a production monitor
    treats novel mass) and compared with the smoothed reference
    shares: psi = sum((q - p) * ln(q / p)).

    Every profiled event type gets a report row even when the batch
    contains NO rows of that type (``tot`` is LEFT-joined from the
    profile side, n_batch coalesced to 0): total disappearance of a
    type is the strongest drift signal, so it is flagged
    ``drifted=1`` explicitly — an inner join would silently drop the
    row instead. The vanished type's PSI is computed from the
    all-smoothed-floor live shares (uniform 1/PSI_BINS), the limit of
    the smoothing as the batch count goes to 0.
    """
    layout = profile.select("event_type", "lo_v", "hi_v").distinct()
    binned = batch_df.join(F.broadcast(layout), "event_type").select(
        "event_type", _bin_expr().alias("bin")
    )
    cell = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cell.groupBy("event_type").agg(F.sum("c").alias("n_batch"))
    n_batch = F.coalesce(F.col("n_batch"), F.lit(0))
    q = (
        (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
        / (n_batch + PSI_BINS)
    )
    term = (q - F.col("p_ref")) * F.log(q / F.col("p_ref"))
    return (
        profile.join(cell, ["event_type", "bin"], "left")
        .join(tot, "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.max(n_batch).cast("long").alias("n_batch"),
            F.round(F.sum(term), 6).alias("psi"),
            F.when(
                (F.sum(term) > PSI_ALERT) | (F.max(n_batch) == 0), F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("drifted"),
        )
    )


def streaming_psi_monitor(
    events: DataFrame, profile: DataFrame, path: str, checkpoint: str
):
    """Log one PSI report per (micro-batch, event type), tagged with
    its ``batch_id``; returns the StreamingQuery."""
    prof = profile.localCheckpoint()  # tiny; pin so every batch reuses it
    return _stream_partials(
        events,
        lambda df, batch_id: psi_report(df, prof).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ),
        path,
        checkpoint,
    )


# --- streaming CUSUM change-point monitor ------------------------------
# The CUSUM state is the (type, day) -> decimal-sum relation
# (operators/analytics.py::cusum_daily) whose accumulator is a plain
# SUM. The report (prefix-sum-minus-prefix-min peak per type) derives
# from the merged state at read time and equals the batch operator run
# over every row ever streamed.


def streaming_cusum_monitor(events: DataFrame, path: str, checkpoint: str):
    """Maintain the daily CUSUM state over an event stream; returns
    the StreamingQuery."""
    return _stream_partials(
        events, lambda df, _: cusum_daily(df), path, checkpoint
    )


def read_cusum_report(spark: SparkSession, path: str) -> DataFrame:
    """Fold the per-batch daily partials and compute the exact CUSUM
    report over the merged history."""
    daily = (
        _read_partials(spark, path)
        .groupBy("event_type", "d")
        .agg(F.sum("x").cast("decimal(28,6)").alias("x"))
    )
    return cusum_from_daily(daily)


# --- streaming count-min heavy-term monitor -----------------------------
# Count-min cells are data-independent (salt x md5-bucket) and merge by
# plain cell-wise SUM, so per-micro-batch 3x256 partials fold to the
# sketch the batch operator
# (operators/sketches.py::q_sketch_cms_heavy_hitters) would build over
# every document ever streamed. The monitor tracks a FIXED WATCHLIST of
# terms (the production shape, like the PSI monitor's fixed reference
# profile): estimates are min-over-depth reads of the folded cells.


def cms_partial(batch_df: DataFrame) -> DataFrame:
    """3 x 256 count-min cell partial for one micro-batch of
    documents."""
    return (
        cms_cells(split_words(batch_df, "text", keep=()))
        .groupBy("salt", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("total"))
    )


def streaming_cms_monitor(docs: DataFrame, path: str, checkpoint: str):
    """Maintain the count-min sketch over a document stream; returns
    the StreamingQuery."""
    return _stream_partials(
        docs, lambda df, _: cms_partial(df), path, checkpoint
    )


def read_cms_estimates(
    spark: SparkSession, path: str, watchlist: list[str]
) -> DataFrame:
    """Fold the per-batch cell partials and read the min-over-depth
    count-min estimate for each watchlist term."""
    sketch = (
        _read_partials(spark, path)
        .groupBy("salt", "bucket")
        .agg(F.sum("total").cast("long").alias("total"))
    )
    wl = spark.createDataFrame([(w,) for w in watchlist], ["word"])
    return (
        cms_cells(wl)
        .join(F.broadcast(sketch), ["salt", "bucket"])
        .groupBy("word")
        .agg(F.min("total").cast("long").alias("cms_estimate"))
        .orderBy("word")
    )


# --- streaming KMV distinct-users monitor --------------------------------
# A k-minimum-values sketch merges by "k smallest of the union of each
# part's k smallest": if hash h is among a type's k smallest distinct
# hashes overall, then any micro-batch containing h has fewer than k
# hashes below h, so h survives that batch's k-min partial — no global
# minimum can be lost. Per-batch partials therefore fold to the EXACT
# sketch (and estimate) the batch operator
# (operators/sketches.py::q_sketch_kmv_distinct_rollup) computes over
# every event ever streamed, with <= k rows per event_type per batch.


def kmv_partial(batch_df: DataFrame) -> DataFrame:
    """Per-event_type k-min partial (<= k smallest distinct user-id
    hashes) for one micro-batch of events."""
    h = batch_df.select(
        "event_type",
        md5_prefix(F.col("user_id").cast("string")).alias("hv"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "hv")
    )


def streaming_kmv_monitor(events: DataFrame, path: str, checkpoint: str):
    """Maintain per-type KMV distinct-user sketches over an event
    stream; returns the StreamingQuery."""
    return _stream_partials(
        events, lambda df, _: kmv_partial(df), path, checkpoint
    )


def read_kmv_estimates(spark: SparkSession, path: str) -> DataFrame:
    """Fold the per-batch k-min partials and read the KMV estimate
    (``_kmv_estimate``) per event_type."""
    w = Window.partitionBy("event_type").orderBy("hv")
    merged = (
        _read_partials(spark, path)
        .select("event_type", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
    )
    sk = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_held"), F.max("hv").alias("kth")
    )
    est = _kmv_estimate(F.col("n_held"), F.col("kth"))
    return sk.select(
        "event_type", est.cast("long").alias("kmv_users")
    ).orderBy("event_type")


# --- streaming snapshot-diff monitor -------------------------------------
# The snapshot diff (operators/reconcile.py::reconcile_snapshot_diff)
# classifies every key as added/removed/changed/unchanged by comparing
# two views that BOTH derive deterministically from the same physical
# orders row, so a row-disjoint stream of orders splits the diff into
# key-disjoint pieces: each micro-batch's per-class (COUNT, SUM key,
# DECIMAL SUM price delta) partial folds by plain SUM to the exact
# full-table diff.


def streaming_snapshot_diff_monitor(orders: DataFrame, path: str, checkpoint: str):
    """Maintain the incremental snapshot diff over an orders stream;
    returns the StreamingQuery."""
    return _stream_partials(
        orders, lambda df, _: snapshot_diff_partial(df), path, checkpoint
    )


def read_snapshot_diff(spark: SparkSession, path: str) -> DataFrame:
    """Fold the per-batch per-class partials to the exact full-history
    diff report (same columns as ``reconcile_snapshot_diff``)."""
    return (
        _read_partials(spark, path)
        .groupBy("change_type")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_key").cast("long").alias("sum_key"),
            F.sum("price_delta_sum")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_price_delta"),
        )
        .orderBy("change_type")
    )
