"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the workload's inputs from the
seed, runs it against the engine in ``flink_kakfa_spark`` (imported from
the checkout), checks every result and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics of BENCHMARK.json on an
untraced run (``--trace 0``), its per-layer metrics on a traced one.
Scratch files live under ``.bench_work/`` in the checkout; a traced run
leaves its spans in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser(description="flink_kakfa_spark benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "flink_kakfa_spark", "__init__.py")):
        print(f"no flink_kakfa_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    import harness
    import workloads

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    settings = harness.host_settings(work)
    print("settings " + json.dumps(settings, sort_keys=True), flush=True)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        e2e, layers = workloads.WORKLOADS[args.workload](run)
    finally:
        if args.trace:
            run.tracer.write(os.path.join(
                ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # a layer the workload never calls did no work
        measured = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
    else:
        measured = e2e
        missing = [m["name"] for m in wanted if m["name"] not in measured]
        if missing:
            raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
