"""Local differential harness: replicate the driver's t2 oracle check.

Runs every registered query on Spark and its oracle on DuckDB over the
same Parquet fixtures, then compares row count, column names, and
order-insensitive values (exact for non-floats, 1e-9-relative for
floats). Run:  python tools/diffcheck.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_kakfa_spark import registry
from flink_kakfa_spark.session import get_spark
from flink_kakfa_spark.sources.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(rows, cols):
    """Sort columns by name, then rows; floats keep full precision here."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr), [cols[i] for i in order]


def values_match(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if isinstance(a, str) or isinstance(b, str):  # NaN sentinel
            return a == b
        fa, fb = float(a), float(b)
        if fa == fb:
            # Hash-faithful: the driver's value-hash renders -0.0 and 0.0
            # differently even though they compare ==. Require matching
            # signs on zero so this gate catches what the driver catches.
            if fa == 0.0 and math.copysign(1.0, fa) != math.copysign(1.0, fb):
                return False
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def compare(name: str, spark, con, sf_dir: str) -> tuple[bool, str]:
    fn = registry.QUERIES[name]
    sql = registry.ORACLES.get(name)
    t0 = time.time()
    sdf = fn(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = list(sdf.columns)
    t_spark = time.time() - t0
    if sql is None:
        return True, f"rows-only: {len(s_rows)} rows in {t_spark:.1f}s"
    t0 = time.time()
    res = con.execute(sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    t_duck = time.time() - t0
    if len(s_rows) != len(d_rows):
        return False, f"ROWCOUNT spark={len(s_rows)} duck={len(d_rows)}"
    if sorted(s_cols) != sorted(d_cols):
        return False, f"SCHEMA spark={sorted(s_cols)} duck={sorted(d_cols)}"
    sn, _ = normalize(s_rows, s_cols)
    dn, _ = normalize(d_rows, d_cols)
    n_exact = 0
    for i, (sr, dr) in enumerate(zip(sn, dn)):
        for sv, dv in zip(sr, dr):
            if not values_match(sv, dv):
                return False, f"VALUE row{i}: spark={sr} duck={dr}"
            if sv == dv or (sv is None and dv is None):
                n_exact += 1
    total = len(sn) * len(s_cols) if sn else 0
    exact = "all-exact" if n_exact == total else f"{total - n_exact} float-tol cells"
    return True, f"{len(s_rows)} rows, {exact} (spark {t_spark:.1f}s, duck {t_duck:.1f}s)"


def main() -> int:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")), None
    )
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    registry.load_all()
    names = argv[1:] or sorted(registry.QUERIES)
    spark = get_spark("diffcheck", shuffle_partitions=8)
    # Strict codegen: a Janino compile failure (e.g. one generated
    # method growing past 64 KB) normally falls back to interpreted
    # evaluation SILENTLY — correct answers, multi-x slower, invisible
    # to every value check (that is exactly how the r11 embedding-LSH
    # defect survived three rounds). Under these confs the per-round
    # differential turns any such fallback into a hard FAIL.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    con = duck_con(sf_dir)
    failed = []
    results = {}
    for name in names:
        try:
            ok, msg = compare(name, spark, con, sf_dir)
        except Exception:
            ok, msg = False, "EXC " + traceback.format_exc(limit=4).replace("\n", " | ")
        print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}", flush=True)
        results[name] = {"pass": ok, "detail": msg}
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} pass; failing: {failed}")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": len(names) - len(failed),
                    "n_total": len(names),
                    "failing": failed,
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
