"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload bulk_extract --seeds 1 2 3 4 5

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints, per end-to-end metric, the median, the
quartiles as ``statistics.quantiles(values, n=4)`` gives them, the spread
(Q3 - Q1) as a share of the median, and that spread against the metric's
bound; then the same figures for the ungated numbers the untraced run
prints in its detail line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs, ungated = [], []
    for seed in args.seeds:
        t = time.perf_counter()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: rc={proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        print(f"seed {seed}: wall {wall:.1f}s {json.dumps(result)}", flush=True)
        runs.append(result)
        ungated.append(json.loads(lines[-2])["not_gated"])
    print(f"correct in {sum(r['correct'] for r in runs)}/{len(runs)} runs")
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med
        print(
            f"{m['name']:<10} median {med:.4g} {m['unit']}  Q1 {q1:.4g}  Q3 {q3:.4g}"
            f"  spread {spread:.3f}  bound {m['bound']}  spread/bound {spread / m['bound']:.2f}"
        )
    for name in ungated[0]:
        q1, med, q3 = statistics.quantiles([u[name] for u in ungated], n=4)
        print(f"{name:<20} (not gated) median {med:.4g}  spread {(q3 - q1) / med:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
