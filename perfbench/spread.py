"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload crawl-deep --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` once per seed (one after another, tracing off),
then prints, per metric, the median and the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from ``BENCHMARK.json``.  The run-shape
counts (URLs, rounds, fresh and dispatched rows) are printed per seed, so a
new seed can be checked to give the same shape.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        context, result = json.loads(lines[-2]), json.loads(lines[-1])
        shape = {k: v for k, v in {**context["e2e"], **context["checks"].get("counts", {})}.items()
                 if isinstance(v, int)}
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
              f"{result['attempted']} shape={shape} "
              f"burn={context['host']['burn_before_s']:.3f}/{context['host']['burn_after_s']:.3f}s")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if spread < bound / 3 else
                                         "WIDE" if spread <= bound else "OVER")
        print(f"{name:>14}: median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
              f"spread={spread:.3f} bound={bound} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
