"""CLI parity tests: the reference's binary surface, broker-less."""

from __future__ import annotations

import json
import pathlib
import sys

from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_kakfa_spark.cli import main

REPO = pathlib.Path(__file__).resolve().parent.parent


def _write_msgs(spark, path, rows):
    (
        spark.createDataFrame(rows, "key string, value string, ts string")
        .withColumn("ts", F.to_timestamp("ts"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/b0")
    )


def test_wordcount_job_end_to_end(spark, tmp_path):
    """The missing Flink job, run as a program: dir source → windowed
    counts → parquet sink, duration-bounded."""
    src = tmp_path / "in"
    out = tmp_path / "out"
    _write_msgs(
        spark,
        str(src),
        [
            Row(key="k1", value="hello world", ts="2024-01-01 00:00:01"),
            Row(key="k2", value="hello again", ts="2024-01-01 00:00:02"),
            # watermark-advancer so the first window closes in append mode
            Row(key="k3", value="later", ts="2024-01-01 01:00:00"),
        ],
    )
    rc = main(
        [
            "wordcount",
            "--source", f"dir:{src}",
            "--sink", f"parquet:{out}",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--available-now",
        ]
    )
    assert rc == 0
    result = spark.read.parquet(str(out))
    counts = {r["word"]: r["cnt"] for r in result.collect()}
    assert counts.get("hello") == 2
    assert counts.get("world") == 1
    # Kafka message shape present: key=word, value=str(count)
    row = result.filter(F.col("word") == "hello").head()
    assert row["key"] == "hello" and row["value"] == "2"


def test_producer_console_smoke(tmp_path):
    """Producer runs broker-less as a real subprocess (own JVM) so the
    console sink's output is capturable — the true binary surface."""
    import subprocess
    import sys

    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"interval": "100ms", "broker": ""}))
    proc = subprocess.run(
        [sys.executable, "-m", "flink_kakfa_spark", "producer",
         "--config", str(cfg), "--sink", "console", "--duration", "10"],
        cwd=REPO, capture_output=True, text=True, timeout=180,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4",
             "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "key-" in proc.stdout  # reference key convention reached the sink


def test_consumer_reads_dir_source(spark, tmp_path):
    import subprocess
    import sys

    src = tmp_path / "in"
    _write_msgs(spark, str(src), [Row(key="kX", value="ping", ts="2024-01-01 00:00:01")])
    proc = subprocess.run(
        [sys.executable, "-m", "flink_kakfa_spark", "consumer",
         "--source", f"dir:{src}", "--duration", "10"],
        cwd=REPO, capture_output=True, text=True, timeout=180,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4",
             "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ping" in proc.stdout


def test_query_command_list_and_run(tmp_path):
    """`query --list` needs no Spark; `query NAME` runs one end-to-end."""
    import subprocess

    out = subprocess.run(
        [sys.executable, "-m", "flink_kakfa_spark", "query", "--list"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0
    names = out.stdout.split()
    assert "wordcount" in names and len(names) >= 100

    bad = subprocess.run(
        [sys.executable, "-m", "flink_kakfa_spark", "query", "nope"],
        capture_output=True, text=True, timeout=120,
    )
    assert bad.returncode == 2 and "unknown query" in bad.stderr

    run = subprocess.run(
        [
            sys.executable, "-m", "flink_kakfa_spark", "query",
            "wordcount_topk", "--sf-dir", "/root/testdata/sf0.001",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0 and "word" in run.stdout
