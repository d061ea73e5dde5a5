"""Driver-contract smoke tests on __spark_entry__."""

from __future__ import annotations

import importlib.util
import pathlib
import sys


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        pathlib.Path(__file__).resolve().parent.parent / "__spark_entry__.py",
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_runs_and_returns_rows(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["word", "cnt"]


def test_every_oracle_has_a_query():
    mod = _load_entry()
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 60
    # the vast majority must be hash-checkable, not rows-only
    assert len(o) >= 0.8 * len(q)


def test_queries_run_at_smallest_sf(spark):
    """Every registered query must execute at sf0.001 (schema sanity)."""
    mod = _load_entry()
    for name, fn in mod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.columns, name
