"""Standing gate for tools/oracle_lint.py: no registered query may
carry a driver-canonicalizer hash trap (HUGEINT oracle columns,
list/struct/map output, Spark decimal output, column-name mismatch).

Round 4 lost 4 oracle checks to these artifacts despite bit-identical
values; the first lint run then caught 3 MORE queries
(scalar_json_extract, emb_centroid_purity, pii_scan_stats) with the
same trap. Keeping this green means an oracle check can only fail on a
real wrong answer.
"""

from __future__ import annotations

from tools.oracle_lint import lint


def test_no_canonicalizer_traps(spark, sf_dir):
    # `spark` fixture: lint() calls get_spark(), which reuses the
    # session-scoped SparkSession instead of building its own.
    flags = lint(sf_dir)
    assert not flags, "oracle lint flags:\n" + "\n".join(flags)
