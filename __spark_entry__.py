"""Driver contract for the spark-graft builder (PySpark target).

A driver runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash); ``tools/diffcheck.py`` runs the same
check over the whole registry.

All real logic lives in the ``flink_kakfa_spark`` package; this file
just re-exports its registry (see flink_kakfa_spark/registry.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_kakfa_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: word count over documents.text at sf0.001.

    The reference's never-written Flink job (its consumer reads topic
    ``word-count-output``, go/consumer/consumer.go:13), batch form.
    """
    registry.load_all()
    return registry.QUERIES["wordcount"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every hash-checkable query."""
    return registry.all_oracles()
