"""Run the benchmark once per seed and report how steady each metric is.

    python3 perfbench/steady.py --workload topic_scan --seeds 1-10 [--trace 0]

For each metric: the median over the runs and the quartile spread
(Q3 − Q1) ÷ median, with quartiles from ``statistics.quantiles(n=4)``,
next to the metric's bound from ``BENCHMARK.json``.  Prints one JSON
line per run as it goes, then the table.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    failed = 0
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            failed += 1
            continue
        result = json.loads(lines[-1])
        print(json.dumps({"seed": seed, **result}), flush=True)
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"{'metric':40} {'median':>14} {'spread':>8} {'bound':>6}")
    for name, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = f"{(q3 - q1) / med:8.3f}"
        else:
            spread = f"{'-':>8}"
        bound = bounds.get(name)
        print(f"{name:40} {med:14.4f} {spread} {bound if bound is not None else '':>6}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
