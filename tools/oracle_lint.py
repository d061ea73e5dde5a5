"""Oracle/driver-canonicalizer lint: catch hash-trap dtypes BEFORE a
query fails its oracle check on a harness artifact.

Round 4 lost 4 oracle checks to exactly these (VERDICT.md r4 "What's
wrong"): DuckDB `SUM(BIGINT)` silently widens to HUGEINT (int128),
which pandas renders as object/float and the driver's value-hash then
disagrees with Spark's int64 even though the values are identical; and
an `array<double>` output column crashed the driver's pandas
sort_values canonicalizer (`TypeError: unhashable type: 'list'`).

This lint is SEMANTIC, not a regex over the SQL: it DESCRIBEs every
registered oracle against the sf0.001 fixtures and inspects every
Spark query's analyzed output schema, so any future query that
reintroduces a trap fails `tests/test_oracle_lint.py` locally —
long before the driver sees it.

Checks, per oracle-paired query:
  1. DuckDB result must not contain HUGEINT/UHUGEINT (the un-cast
     integer-SUM trap — fix: CAST(SUM(x) AS BIGINT)).
  2. Neither side may emit list/struct/map-typed output columns
     (pandas cannot factorize them for sorting — fix: explode into
     scalar columns or concat_ws into a string).
  3. Spark must not emit DecimalType output (Spark toPandas gives
     decimal.Decimal objects; DuckDB .df() gives float64 — the
     value-hash diverges even for equal values; fix: .cast("double")
     as the final step, keeping the decimal accumulation internal).
  4. Column NAME SETS must match exactly (the driver sorts columns by
     name before hashing; a stray alias mismatch is an automatic
     hash fail).

Usage: python tools/oracle_lint.py [sf_dir]   (exit 1 on any flag)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# DuckDB types the driver's pandas canonicalizer mangles or crashes on.
_DUCK_BAD_EXACT = {"HUGEINT", "UHUGEINT"}
_DUCK_BAD_PREFIX = ("STRUCT", "MAP")  # LIST spelled TYPE[] — see below


def lint(sf_dir: str) -> list[str]:
    import duckdb

    from flink_kakfa_spark import registry
    from flink_kakfa_spark.session import get_spark

    registry.load_all()
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    flags: list[str] = []
    for name, fn in registry.QUERIES.items():
        oracle = registry.ORACLES.get(name)

        # -- Spark side: analyzed schema only (no job run) ------------
        try:
            schema = fn(spark, sf_dir).schema
        except Exception as exc:  # noqa: BLE001 - lint must keep going
            flags.append(f"{name}: Spark query failed to analyze: {exc}")
            continue
        spark_cols = set()
        for f in schema.fields:
            spark_cols.add(f.name)
            kind = f.dataType.typeName()
            if kind in ("array", "map", "struct"):
                flags.append(
                    f"{name}: Spark output column {f.name!r} is {kind}-typed "
                    "(driver canonicalizer cannot sort it; emit scalars)"
                )
            if kind == "decimal" and oracle is not None:
                flags.append(
                    f"{name}: Spark output column {f.name!r} is DecimalType "
                    "(toPandas yields decimal.Decimal objects vs DuckDB "
                    "float64; cast('double') as the final step)"
                )

        if oracle is None:
            continue

        # -- DuckDB side: DESCRIBE the oracle (no execution) ----------
        try:
            desc = con.execute(f"DESCRIBE {oracle}").fetchall()
        except Exception as exc:  # noqa: BLE001
            flags.append(f"{name}: oracle failed to DESCRIBE: {exc}")
            continue
        duck_cols = set()
        for col, ctype, *_ in desc:
            duck_cols.add(col)
            base = ctype.upper()
            if base in _DUCK_BAD_EXACT:
                flags.append(
                    f"{name}: oracle column {col!r} is {ctype} — un-cast "
                    "integer aggregate (CAST(SUM(...) AS BIGINT))"
                )
            if base.endswith("[]") or base.startswith(_DUCK_BAD_PREFIX):
                flags.append(
                    f"{name}: oracle column {col!r} is {ctype} — "
                    "non-scalar output (driver canonicalizer trap)"
                )

        if spark_cols != duck_cols:
            flags.append(
                f"{name}: column-name mismatch — spark-only "
                f"{sorted(spark_cols - duck_cols)}, oracle-only "
                f"{sorted(duck_cols - spark_cols)}"
            )
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    flags = lint(sf_dir)
    for f in flags:
        print(f"FLAG {f}")
    print(f"oracle_lint: {len(flags)} flag(s)")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
