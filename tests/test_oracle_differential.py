"""Opt-in full oracle differential as pytest (``pytest -m oracle``).

Wraps tools/diffcheck.py — the same row-count + schema + value-hash
comparison the external driver runs — as one parametrized test per
registered query, so the self-check runs in CI shape instead of
ad-hoc. Deselected by default (``-m "not oracle"`` is the configured
default addopts) because the full sweep takes minutes; the driver and
tools/diffcheck.py remain the canonical invocations.

Uses sf0.01 (the driver's correctness scale) rather than the sf0.001
unit-test fixture: several oracle-agreement traps (decimal sums, float
tolerance accumulation) only surface with enough rows.
"""

from __future__ import annotations

import pathlib

import pytest

from flink_kakfa_spark import registry

registry.load_all()

ORACLE_SF_DIR = "/root/testdata/sf0.01"
REPO = str(pathlib.Path(__file__).resolve().parent.parent)


@pytest.fixture(scope="module")
def oracle_spark():
    from flink_kakfa_spark.session import get_spark

    s = get_spark("oracle-diff", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module")
def duck(oracle_spark):
    import sys

    sys.path.insert(0, REPO)
    from tools.diffcheck import duck_con

    return duck_con(ORACLE_SF_DIR)


@pytest.mark.oracle
@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, oracle_spark, duck):
    import sys

    sys.path.insert(0, REPO)
    from tools.diffcheck import compare

    ok, msg = compare(name, oracle_spark, duck, ORACLE_SF_DIR)
    assert ok, f"{name}: {msg}"


def test_comparator_is_hash_faithful_on_signed_zero():
    """The driver's value-hash renders -0.0 and +0.0 differently even
    though they compare == in IEEE; the local gate must therefore flag
    a signed-zero divergence instead of reporting all-exact (the
    corpus_dsir_weights r7 escape). Plain floats stay tolerant."""
    import sys

    sys.path.insert(0, REPO)
    from tools.diffcheck import values_match

    assert not values_match(-0.0, 0.0)
    assert not values_match(0.0, -0.0)
    assert values_match(0.0, 0.0)
    assert values_match(-0.0, -0.0)
    assert values_match(1.25, 1.25)
    assert values_match(1.0, 1.0 + 1e-12)
    assert not values_match(1.0, 1.1)
    assert values_match("NaN", "NaN")
    assert values_match(None, None)
    assert not values_match(None, 0.0)
