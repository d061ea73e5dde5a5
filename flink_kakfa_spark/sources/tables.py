"""Batch table sources: the driver's Parquet star schema (SURVEY.md §2.1 S5).

Scale posture: plain ``spark.read.parquet`` so Catalyst's data-source V2
path gives us predicate pushdown, column pruning, and partition-size
splitting (``spark.sql.files.maxPartitionBytes``) for free. The schema of
a single file is inferred once per file version (``_read_parquet``):
inference is a Spark job that reads the footer, and with inputs this
small that job costs more than the data work of the query that opened
the table. At 100 TB the same call reads a partitioned lake directory,
whose schema is inferred on every open, as Spark does by default.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Bounded dimension tables — always broadcast-join these (SURVEY.md §4).
DIM_TABLES = {"region", "nation", "supplier"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change the Spark schema a Parquet footer converts to.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (absolute path, conf values) -> ((st_mtime_ns, st_size), inferred
# schema): one entry per file and conf set, replaced when the file changes.
_SCHEMAS: dict[tuple, tuple[tuple[int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a file's schema only once.

    Inference runs a Spark job that reads the footer, on every open. For
    a regular file the inferred ``StructType`` is kept, keyed by the
    file's version (mtime and size) and by the confs that change how
    Spark converts it, and later opens read with ``.schema(...)``, which
    starts no job. The schema is kept, not the DataFrame: two opens must
    stay distinct plans (a self-join over one DataFrame is ambiguous), and
    a ``StructType`` holds no JVM handle, so it outlives a session restart.

    Anything else — a lake directory, a non-local URI — is read exactly as
    plain ``spark.read.parquet``: a directory's mtime and size do not
    change when a file inside it is rewritten or a nested partition is
    added, so no stat can tell that a kept schema went stale.
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    version = (st.st_mtime_ns, st.st_size)
    kept = _SCHEMAS.get(key)
    if kept is not None and kept[0] == version:
        return spark.read.schema(kept[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one fixture table as a DataFrame.

    ``events.ts`` has varied across fixture generations: TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects — read nanos as raw int64 and
    truncate to microseconds, matching DuckDB's µs-native reader) vs plain
    timestamp[us] (read as-is). Adapt on the observed schema so both
    generations — and any future lake layout — hash identically vs the
    oracle. All downstream queries see ``ts`` as session-tz TIMESTAMP
    (session tz pinned to UTC below, so values equal DuckDB's naive µs).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Defensive: queries may run under a driver-owned session that didn't
    # go through get_spark(); timestamp value-hashes vs the DuckDB oracle
    # require UTC session semantics. Parquet NANOS timestamps read as
    # long for every table, so no table's schema (or its cache entry)
    # depends on whether `events` was opened first.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    d = sf_dir or DEFAULT_SF_DIR
    if name == "events":
        df = _read_parquet(spark, f"{d}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanos-as-long generation. Integer division: ns ≈ 1.7e18
            # overflows double precision, so no `/`.
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if not isinstance(ts_type, T.TimestampType):
            # timestamp[us] without tz reads as TIMESTAMP_NTZ; normalize to
            # session-tz TIMESTAMP so window()/unix_timestamp() behave the
            # same across fixture generations (UTC session ⇒ same instants).
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{d}/{name}.parquet")


_BYTE_SUFFIXES = {"k": 10, "m": 20, "g": 30, "t": 40}


def _parse_bytes(size: str) -> int:
    """Parse a Spark byte-size conf string ('134217728b', '128m', '1g')."""
    s = size.strip().lower().removesuffix("b")
    shift = _BYTE_SUFFIXES.get(s[-1:], None)
    if shift is not None:
        return int(s[:-1]) << shift
    return int(s)


def parallelize(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a narrow input to the cluster's parallelism when the
    scan produced too few partitions.

    The fixture tables are single-row-group Parquet files, so the scan
    yields ONE partition and every narrow compute stage after it
    (HOF shingling, vector math, pandas batches, nested-loop joins)
    runs single-threaded. One cheap round-robin shuffle restores
    parallelism. Only worth it before compute-heavy stages — scan-light
    aggregations are faster without it (measured: TPC-H-Q1-shape is
    2x slower with the extra exchange). At lake scale inputs arrive in
    many splits and this becomes a no-op.
    """
    target = spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from file metadata instead of
    # materializing df.rdd (which forces a full physical planning pass
    # per call). Parquet splits ~= ceil(bytes / maxPartitionBytes) per
    # file; non-local/unlistable inputs fall back to the RDD probe.
    try:
        max_bytes = _parse_bytes(
            str(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        )
        files = [f.removeprefix("file:") for f in df.inputFiles()]
        if not files or any(not os.path.exists(f) for f in files):
            raise ValueError("non-local input")
        splits = sum(
            max(1, -(-os.path.getsize(f) // max_bytes)) for f in files
        )
    except Exception:  # noqa: BLE001 - fall back to the exact probe
        splits = df.rdd.getNumPartitions()
    if splits * 2 <= target:
        return df.repartition(target)
    return df
