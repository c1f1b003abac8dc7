"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload bulk_extract --seed 7 --seconds 4 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` into
a scratch dir under ``.perfbench_work/`` (removed at exit); nothing is read
from outside the checkout. Load is one client in a closed loop against
``local[nproc]``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds the details (checks, ops, host facts, per-path
figures). ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics (0 for a layer the workload does not
run) and writes the spans to ``.perfbench_out/``.

End-to-end metrics, the same three for every workload, since every run
prints every metric:

- ``setup_s``: CPU seconds (client + JVM) from process start to the first
  timed op: session, inputs (bulk_extract: and the package's ``spanify``
  of them), a JVM-only warm-up count.
- ``cold_s``: wall seconds of the first timed pass in the fresh session.
  bulk_extract: one composable plus one file commit; operator_sweep: the
  query list once.
- ``warm_s``: wall seconds of a pass after it, median over the passes
  that fit in ``--seconds`` (bulk_extract: at least two).

The passes are timed in wall seconds, so lost parallelism and idle waits
show; set-up is timed in CPU seconds, since its one JVM start moves with
host load far more than the work does. CPU seconds of the passes, docs/s
per commit path, scaling and per-query figures are per-layer metrics;
perfbench/METRICS.md maps each to the end-to-end metric it should move.

``--scale smoke`` runs the same code and checks on tiny inputs.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

from common import ROOT  # noqa: E402

WORKLOADS = ("bulk_extract", "operator_sweep")


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    import gpt4ocontentextraction_spark  # noqa: F401  (fail early without it)

    import bulk
    import sweep
    from common import Bench

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    b = Bench(args, T0)
    try:
        run = {"bulk_extract": bulk.run, "operator_sweep": sweep.run}
        e2e, layers, details = run[args.workload](b)
    finally:
        b.close()

    if args.trace:
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = dict.fromkeys(wanted, 0.0)
        metrics.update({k: v for k, v in e2e.items() if k in wanted})
        metrics.update(layers)
        metrics["jvm.peak_rss_mb"] = b.jvm_peak_rss_mb
        metrics["python.peak_rss_mb"] = b.python_peak_rss_mb()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        details["spans_file"] = os.path.join(
            out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"
        )
        b.tracer.write(details["spans_file"])
        details["self_time_s"] = b.tracer.self_times()
    else:
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: v for k, v in e2e.items() if k in wanted}
        details["not_gated"] = {k: v for k, v in e2e.items() if k not in wanted}
    missing = [k for k in wanted if not math.isfinite(metrics.get(k, math.nan))]
    b.check("metrics.measured", not missing, f"not measured: {missing}")
    for k in missing:
        metrics[k] = 0.0
    b.emit(metrics, wanted, details)
    return 0


if __name__ == "__main__":
    sys.exit(main())
