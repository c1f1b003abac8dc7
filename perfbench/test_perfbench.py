"""The benchmark's own tests: the plan-metric reader on a hand-made frame,
and every workload end to end at smoke scale, untraced and traced, with
every output check on.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import planmetrics  # noqa: E402
import sweep  # noqa: E402
from run import WORKLOADS  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_plan_metrics_on_known_frame():
    """One Exchange and one mapInArrow, read back from the executed plan;
    a noop write runs another QueryExecution and leaves df's own at 0."""
    from pyspark.sql import functions as F

    from gpt4ocontentextraction_spark.session import get_spark

    def identity(batches):
        yield from batches

    spark = get_spark("planmetrics-test", cores=2, extra_conf={
        "spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false",
    })
    try:
        def frame():
            return (
                spark.range(0, 1000, 1, 4)
                .mapInArrow(identity, "id long")
                .groupBy((F.col("id") % 7).alias("k"))
                .count()
            )

        df = frame()
        assert planmetrics.materialize(df) == 7
        pm = planmetrics.of(df)
        assert pm.exchanges == 1
        assert pm.nodes.count("MapInArrow") == 1
        assert pm.python_sent_bytes > 0 and pm.python_received_bytes > 0
        assert pm.python_total_s > 0
        assert pm.shuffle_bytes > 0
        assert pm.broadcast_bytes == 0

        other = frame()
        other.write.format("noop").mode("overwrite").save()
        assert planmetrics.of(other).python_sent_bytes == 0
    finally:
        spark.stop()


def test_pair_subset_is_closed_under_near_duplicates():
    """The subset the all-pairs oracles run on takes in every cluster
    member and minhash partner of a sampled doc, and only the output rows
    among its docs and their variants are compared."""
    import pyarrow as pa

    v = sweep.VARIANT_ID_OFFSET
    clusters = pa.table({
        "doc_id": [1, 2, 3, 4, 1 + v, 2 + v, 3 + v, 4 + v],
        "cluster_id": [1, 1, 3, 4, 1, 1, 3, 4],
        "is_keeper": [1, 0, 1, 1, 0, 0, 0, 0],
    })
    pairs = pa.table({
        "id_a": [1, 1, 2, 3, 3, 4],
        "id_b": [2, 1 + v, 2 + v, 3 + v, 4, 4 + v],
        "jaccard": [0.9, 0.8, 0.8, 0.8, 0.7, 0.8],
    })
    one_pass = {"dedup_clusters": (0.0, clusters, None), "minhash_lsh": (0.0, pairs, None)}
    assert sweep.pair_subset([one_pass], [2]) == [1, 2]
    assert sweep.pair_subset([one_pass], [4]) == [3, 4]
    ids = {1, 2, 1 + v, 2 + v}
    assert sweep._restrict(pairs, ids)["id_a"].to_pylist() == [1, 1, 2]
    assert sweep._restrict(clusters, ids)["doc_id"].to_pylist() == [1, 2, 1 + v, 2 + v]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_smoke(workload, trace):
    proc = _run(
        ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--scale", "smoke",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, details = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, details["checks"]
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = [v["value"] for v in result["metrics"].values()]
    assert all(math.isfinite(v) for v in values)
    if not trace:
        assert all(v > 0 for v in values)
    else:
        assert os.path.exists(details["spans_file"])


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
