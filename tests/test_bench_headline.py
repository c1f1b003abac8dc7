"""The per-query timer's contract (bench.py): every HEADLINE name is a
registered query, an unknown name is an error rather than a silently
dropped leaf, and a run prints its one JSON line last and exits 0."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench
from gpt4ocontentextraction_spark.driver_contract import EXTRA_QUERIES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench(*names, timeout, **env):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *names],
        capture_output=True,
        text=True,
        timeout=timeout,
        env={**os.environ, **env},
    )


def test_headline_names_are_registered():
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE) == 64
    assert set(bench.HEADLINE) - set(QUERIES) - set(EXTRA_QUERIES) == set()


def test_unknown_query_name_exits_nonzero():
    out = _bench("extract_spans", "no_such_query", timeout=120)
    assert out.returncode != 0
    assert "no_such_query" in out.stderr
    assert "headline_queries_total" not in out.stdout


def test_bench_smoke_prints_json_last():
    out = _bench(
        "extract_spans",
        "page_chunks",
        timeout=600,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    record = json.loads(out.stdout.strip().splitlines()[-1])
    assert record["metric"] == "headline_queries_total"
    assert set(record["queries"]) == {"extract_spans", "page_chunks"}
    assert set(record["queries_warm"]) == {"extract_spans", "page_chunks"}
    assert record["sf"] == "0.001"
    # the Python worker start is reported apart from the first query
    assert record["python_warmup_s"] > 0
