"""File-granular extraction job: output must equal the in-JVM operator's,
metrics must add up, and torn files must never be visible."""

from __future__ import annotations

import os
import subprocess
import sys

from gpt4ocontentextraction_spark.fixtures import corpus_to_spark, make_corpus
from gpt4ocontentextraction_spark.operators.extract import extract
from gpt4ocontentextraction_spark.operators.extract_files import (
    extract_parquet_files,
)
from gpt4ocontentextraction_spark.spanify import spanify


def test_file_job_equals_operator(spark, tmp_path):
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spanify(flat).repartition(4).write.parquet(in_dir)

    metrics = extract_parquet_files(spark, in_dir, out_dir).collect()
    data_files = [f for f in os.listdir(in_dir) if f.endswith(".parquet")]
    assert len(metrics) == len(data_files)
    assert sum(m["n_docs"] for m in metrics) == 500
    assert not any(f.endswith(".inprogress") for f in os.listdir(out_dir))

    via_files = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in spark.read.parquet(out_dir).collect()
    }
    via_operator = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extract(spark.read.parquet(in_dir)).collect()
    }
    assert via_files == via_operator
    assert sum(m["n_spans_out"] for m in metrics) == sum(
        len(v) for v in via_operator.values()
    )


def test_file_job_manifest_visibility(spark, tmp_path):
    """Visibility flows through the snapshot manifest only: an uncommitted
    output dir (crashed run) is invisible; after run_file_extraction the
    table reads exactly the extracted rows — rename atomicity is not part
    of the correctness argument."""
    from gpt4ocontentextraction_spark.operators.extract_files import (
        run_file_extraction,
    )
    from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

    in_dir = str(tmp_path / "in")
    flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spanify(flat).repartition(3).write.parquet(in_dir)

    table = SnapshotTable(str(tmp_path / "table"))
    # simulate a crashed earlier run: data landed, manifest never published
    extract_parquet_files(
        spark, in_dir, os.path.join(table.data_dir, "c-crashed")
    ).collect()
    assert table.read(spark) is None  # invisible without a manifest

    commit_id = run_file_extraction(spark, in_dir, table, run_id="r1")
    got = table.read(spark)
    assert got is not None and got.count() == 500
    assert commit_id == "c-r1"
    via_operator = extract(spark.read.parquet(in_dir))
    assert got.select("doc_id").distinct().count() == via_operator.count()
    # per-file lineage lands in the shared metrics table
    m = table.metrics(spark)
    assert m is not None
    rows = m.filter(m.run_id == "r1").collect()
    assert rows and sum(r["n_docs"] for r in rows) == 500
    assert sum(r["n_spans_out"] for r in rows) > 0


def test_file_job_with_fixture_corpus(spark, tmp_path):
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    pdf, exp = make_corpus(seed=8, docs_per_class=2, include_giant=False)
    corpus_to_spark(spark, pdf).repartition(2).write.parquet(in_dir)
    extract_parquet_files(spark, in_dir, out_dir).collect()
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for _, r in exp.iterrows()
    }
    assert got == want


def test_file_job_on_empty_input_commits_zero_docs(spark, tmp_path):
    """An input dir without parquet files is an empty commit, not an
    error: zero metric rows, n_docs = 0 in the manifest."""
    import json

    from gpt4ocontentextraction_spark.operators.extract_files import (
        run_file_extraction,
    )
    from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "_SUCCESS").touch()
    table = SnapshotTable(str(tmp_path / "table"))
    assert run_file_extraction(spark, str(in_dir), table, run_id="e") == "c-e"
    with open(os.path.join(table.manifest_dir, "v1.json")) as f:
        meta = json.load(f)["commit_meta"]
    assert meta["n_docs"] == 0 and meta["n_files"] == 0
    assert table.metrics(spark).count() == 0


def test_extraction_modules_import_without_pandas():
    """Extraction workers import these modules, so they import no
    pandas. This does not cover ``extract_arrow`` (imported on first use
    of the kernel), whose module-level ``pa.array`` does load pandas;
    ROADMAP direction 2(a) covers that."""
    code = (
        "import sys\n"
        "import gpt4ocontentextraction_spark.operators.extract\n"
        "import gpt4ocontentextraction_spark.operators.extract_files\n"
        "assert 'pandas' not in sys.modules, 'pandas was imported'\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
