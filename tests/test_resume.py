"""Resume semantics: interrupt after a partial commit, re-run, and the final
table equals a clean full run with no duplicates (reference skip-if-exists,
doc2md_utils.py:212-217; north_rule checkpoint-resumable requirement)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gpt4ocontentextraction_spark.fixtures import corpus_to_spark, make_corpus
from gpt4ocontentextraction_spark.operators.extract import extract
from gpt4ocontentextraction_spark.operators.extract_files import (
    run_file_extraction,
)
from gpt4ocontentextraction_spark.sources.snapshots import (
    METRICS_SCHEMA,
    SnapshotTable,
    run_resumable_extraction,
    write_counted,
)

# the two commit paths: SnapshotTable.append and run_file_extraction
COMMIT_PATHS = ("append", "files")


def _spans_set(df):
    return {
        (r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                            for s in r["spans"]))
        for r in df.collect()
    }


@pytest.fixture()
def docs(spark):
    pdf, _ = make_corpus(seed=11, docs_per_class=3, include_giant=False)
    return corpus_to_spark(spark, pdf)


@pytest.fixture()
def docs_dir(docs, tmp_path):
    """The fixture corpus as parquet files (the file path's input)."""
    d = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(d)
    return d


def _commit(spark, table, docs_dir, path, run_id):
    """Commit every doc under docs_dir through one commit path."""
    if path == "append":
        docs = spark.read.parquet(docs_dir)
        return table.append(extract(docs), spark, run_id=run_id)
    return run_file_extraction(spark, docs_dir, table, run_id=run_id)


def _metric_sums(spark, table):
    cols = ("n_docs", "n_spans_out", "n_tables_built", "n_media_emitted")
    rows = table.metrics(spark).collect()
    return tuple(sum(r[c] for r in rows) for c in cols)


def _table_counts(spark, table):
    """(docs, spans, table spans, media spans) of the committed rows."""
    rows = table.read(spark).collect()
    kinds = [s["kind"] for r in rows for s in r["spans"]]
    return (len(rows), len(kinds), kinds.count("table"), kinds.count("media"))


def _file_counts(path):
    """(docs, spans, table spans, media spans) of one parquet file."""
    spans = pq.read_table(path, columns=["spans"]).column("spans").to_pylist()
    kinds = [s["kind"] for doc in spans for s in doc]
    return (len(spans), len(kinds), kinds.count("table"), kinds.count("media"))


def test_partial_commit_then_resume(spark, docs, tmp_path):
    table = SnapshotTable(str(tmp_path / "out"))

    # simulate an interrupted first run: only half the docs got committed
    half = docs.limit(docs.count() // 2)
    c1 = table.append(extract(half), spark, run_id="run1")
    assert c1 and table.current_version() == 1

    # resume: second run only processes the missing docs
    pending = table.pending(docs, spark)
    assert pending.count() == docs.count() - half.count()
    c2 = run_resumable_extraction(spark, docs, table, run_id="run2")
    assert c2 and table.current_version() == 2

    # third run: nothing to do, no new commit
    assert run_resumable_extraction(spark, docs, table, run_id="run3") is None
    assert table.current_version() == 2

    # final table == clean full run, no duplicates
    final = table.read(spark)
    assert final.count() == docs.count()
    assert final.select("doc_id").distinct().count() == docs.count()
    assert _spans_set(final) == _spans_set(extract(docs))


def test_uncommitted_data_is_invisible(spark, docs, tmp_path):
    import os

    table = SnapshotTable(str(tmp_path / "out"))
    # a crashed writer: data dir exists but no manifest was published
    extract(docs).write.parquet(os.path.join(table.data_dir, "c-crashed"))
    assert table.read(spark) is None
    assert table.pending(docs, spark).count() == docs.count()


def test_metrics_written_per_partition(spark, docs, docs_dir, tmp_path):
    """Both commit paths write their metric rows as one parquet file of
    the shared Arrow schema, and the sums describe what was committed."""
    for path in COMMIT_PATHS:
        table = SnapshotTable(str(tmp_path / path))
        commit = _commit(spark, table, docs_dir, path, "m1")
        metrics_dir = os.path.join(table.metrics_dir, commit)
        assert os.listdir(metrics_dir) == ["part-00000.parquet"]
        schema = pq.read_schema(os.path.join(metrics_dir, "part-00000.parquet"))
        assert schema == METRICS_SCHEMA, path
        m = table.metrics(spark)
        assert set(m.columns) == set(METRICS_SCHEMA.names)
        assert {r["run_id"] for r in m.collect()} == {"m1"}
        counts = _table_counts(spark, table)
        assert counts[0] == docs.count() and min(counts) > 0
        assert _metric_sums(spark, table) == counts, path
        # each row describes exactly one committed file: the append task's
        # part-{partition_id} file, or the file job's partition_id-th file
        data_dir = os.path.join(table.data_dir, commit)
        files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
        by_file = {}
        for r in m.collect():
            pid = r["partition_id"]
            name = f"part-{pid:05d}.parquet" if path == "append" else files[pid]
            by_file[name] = (r["n_docs"], r["n_spans_out"], r["n_tables_built"],
                             r["n_media_emitted"])
        assert sorted(by_file) == files and len(files) > 1, path
        for name, row in by_file.items():
            assert row == _file_counts(os.path.join(data_dir, name)), (path, name)


def test_metrics_read_through_spark_written_dirs(spark, docs, tmp_path):
    """A commit made before pyarrow wrote the metrics has a Spark-written
    ``_metrics`` dir; metrics() reads it together with the new files."""
    table = SnapshotTable(str(tmp_path / "out"))
    half = docs.limit(docs.count() // 2)
    old = table.append(extract(half), spark, run_id="old")
    old_dir = os.path.join(table.metrics_dir, old)
    rows = pq.read_table(old_dir).to_pylist()
    spark.createDataFrame(
        [tuple(r.values()) for r in rows],
        "run_id string not null, partition_id int not null,"
        " n_docs bigint not null, n_spans_out bigint,"
        " n_tables_built bigint, n_media_emitted bigint",
    ).coalesce(1).write.mode("overwrite").parquet(old_dir)
    assert "part-00000.parquet" not in os.listdir(old_dir)

    assert run_resumable_extraction(spark, docs, table, run_id="new")
    m = table.metrics(spark)
    assert {r["run_id"] for r in m.collect()} == {"old", "new"}
    assert _metric_sums(spark, table) == _table_counts(spark, table)


def test_commit_paths_build_no_driver_list_dataframe(
    spark, docs_dir, tmp_path, monkeypatch
):
    """Neither commit path sends driver-held rows back through
    spark.createDataFrame (a Spark job per commit for a handful of
    metric rows or file names)."""
    from pyspark.sql import SparkSession

    def refuse(*args, **kwargs):
        raise AssertionError("createDataFrame called on a commit path")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    n_docs = spark.read.parquet(docs_dir).count()
    for path in COMMIT_PATHS:
        table = SnapshotTable(str(tmp_path / path))
        if path == "append":
            docs = spark.read.parquet(docs_dir)
            commit = run_resumable_extraction(spark, docs, table, run_id="g")
        else:
            commit = run_file_extraction(spark, docs_dir, table, run_id="g")
        assert commit == "c-g"
        assert table.read(spark).count() == n_docs
        assert _metric_sums(spark, table)[0] == n_docs


def test_composable_commit_runs_one_spark_job(spark, docs_dir, tmp_path):
    """run_resumable_extraction on a fresh table is one Spark job: the
    write tasks count their own metric rows (no take(1) probe, no
    readback). Re-run on the same input it commits nothing: None, no new
    manifest version, no leftover data dir."""
    table = SnapshotTable(str(tmp_path / "out"))
    docs = spark.read.parquet(docs_dir)
    sc = spark.sparkContext
    sc.setJobGroup("one-commit", "composable commit")
    try:
        commit = run_resumable_extraction(spark, docs, table, run_id="first")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert commit == "c-first"
    assert len(sc.statusTracker().getJobIdsForGroup("one-commit")) == 1

    assert run_resumable_extraction(spark, docs, table) is None
    assert table.current_version() == 1
    assert os.listdir(table.data_dir) == ["c-first"]
    assert table.read(spark).count() == docs.count()


def test_composable_commit_is_one_python_stage(
    spark, docs_dir, tmp_path, monkeypatch
):
    """The composable commit's executed plan has exactly one MapInArrow:
    each task extracts and writes in the same Python worker, so no
    extracted spans go back to the JVM to reach a second write worker."""
    table = SnapshotTable(str(tmp_path / "out"))
    docs = spark.read.parquet(docs_dir)
    collected = []
    collect = type(docs).collect

    def recording(self):
        collected.append(self)
        return collect(self)

    monkeypatch.setattr(type(docs), "collect", recording)
    assert run_resumable_extraction(spark, docs, table, run_id="p") == "c-p"
    (df,) = collected
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan


def test_failed_write_attempt_leaves_nothing_visible(spark, docs_dir, tmp_path):
    """A write attempt whose batches raise midway leaves no file behind
    (its temp is hidden, then unlinked); a killed attempt's un-renamed
    temp is hidden from Spark's listing, so the dir reads each row once
    after a good second attempt."""
    batches = pq.read_table(docs_dir).to_batches(max_chunksize=4)
    n_docs = sum(len(b) for b in batches)
    out = tmp_path / "c-x"
    out.mkdir()
    dst = str(out / "part-00000.parquet")
    mid_write = []

    def crashing():
        yield batches[0]
        mid_write.extend(os.listdir(out))
        raise RuntimeError("task killed")

    with pytest.raises(RuntimeError):
        write_counted(crashing(), dst)
    assert len(mid_write) == 1
    assert mid_write[0].startswith(".part-00000.parquet.inprogress-")
    assert os.listdir(out) == []

    assert write_counted(iter(batches), dst)["n_docs"] == n_docs
    shutil.copy(dst, out / mid_write[0])  # a killed attempt's leftover
    got = spark.read.parquet(str(out))
    assert got.count() == n_docs
    assert got.select("doc_id").distinct().count() == n_docs


def test_concurrent_publish_never_loses_commits(tmp_path):
    """os.link-based publish: racing writers both land; neither overwrites."""
    import json
    import os

    from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "out"))
    os.makedirs(os.path.join(t.data_dir, "c-a"))
    os.makedirs(os.path.join(t.data_dir, "c-b"))
    # simulate a racing writer: publish v1 for c-a, then have a second
    # writer that (stalely) also computed v1 publish c-b — the retry loop
    # must land it as v2 with BOTH commits in the final manifest
    t._publish("c-a", {"run_id": "a"})
    t._publish("c-b", {"run_id": "b"})
    with open(os.path.join(t.manifest_dir, f"v{t.current_version()}.json")) as f:
        commits = json.load(f)["commits"]
    assert commits == ["c-a", "c-b"]


def test_retry_after_partial_write_recovers(spark, tmp_path):
    """A crashed commit (data dir and a metrics part exist, manifest
    unpublished) must be retryable with the same run_id (streaming epoch
    retry semantics) on both commit paths, leaving only the new rows."""
    pdf, _ = make_corpus(seed=4, docs_per_class=1, include_giant=False)
    docs_dir = str(tmp_path / "docs")
    corpus_to_spark(spark, pdf).write.parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    n_docs = docs.count()
    stale = {c: 999 for c in ("n_docs", "n_spans_out", "n_tables_built",
                              "n_media_emitted")}
    for path in COMMIT_PATHS:
        table = SnapshotTable(str(tmp_path / path))
        # crashed first attempt: data and a metrics part written, no manifest
        extract(docs).write.parquet(f"{table.data_dir}/c-epoch-7")
        metrics_dir = os.path.join(table.metrics_dir, "c-epoch-7")
        os.makedirs(metrics_dir)
        pq.write_table(
            pa.Table.from_pylist(
                [dict(stale, run_id="epoch-7", partition_id=7)],
                schema=METRICS_SCHEMA,
            ),
            os.path.join(metrics_dir, "part-00007-stale.parquet"),
        )
        assert table.read(spark) is None
        commit = _commit(spark, table, docs_dir, path, "epoch-7")
        assert commit == "c-epoch-7"
        assert table.read(spark).count() == n_docs
        assert os.listdir(metrics_dir) == ["part-00000.parquet"]
        assert _metric_sums(spark, table) == _table_counts(spark, table)
        # committed run_id cannot be committed again
        with pytest.raises(ValueError):
            _commit(spark, table, docs_dir, path, "epoch-7")


def test_pending_broadcast_gated_on_size(spark, docs, tmp_path):
    """pending() broadcasts the committed set only while the committed
    files stay under autoBroadcastJoinThreshold; past it (or when forced
    off) the plan falls back to a shuffled anti-join."""
    from gpt4ocontentextraction_spark.plans.inspect import physical_plan

    table = SnapshotTable(str(tmp_path / "out"))
    table.append(extract(docs.limit(4)), spark, run_id="r1")

    auto = physical_plan(table.pending(docs, spark))
    assert "BroadcastHashJoin" in auto  # tiny committed set -> broadcast

    # with the threshold at 0 the size gate must NOT hint broadcast (and
    # Spark's own estimator won't either) — the huge-committed-set shape
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
    try:
        gated = physical_plan(table.pending(docs, spark))
        assert "BroadcastHashJoin" not in gated
        forced_on = physical_plan(
            table.pending(docs, spark, broadcast_done=True)
        )
        assert "BroadcastHashJoin" in forced_on  # explicit override wins
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pending_broadcast_sized_by_id_column_not_whole_files(
    spark, docs, tmp_path
):
    """The broadcast side is the distinct doc_id projection, so the gate
    must size THAT (parquet footer column-chunk bytes), not the whole
    committed files: a wide-span table whose total bytes exceed the
    threshold but whose id column doesn't must still broadcast (the
    r3 ADVICE item — whole-file sizing forced a shuffled anti-join
    while the id set was tiny)."""
    import glob
    import os

    from gpt4ocontentextraction_spark.plans.inspect import physical_plan

    table = SnapshotTable(str(tmp_path / "wide"))
    table.append(extract(docs), spark, run_id="r1")

    file_bytes = sum(
        os.path.getsize(f)
        for d in table.committed_dirs()
        for f in glob.glob(os.path.join(d, "*.parquet"))
    )
    id_bytes = table._doc_id_bytes()
    assert 0 < id_bytes < file_bytes, "fixture must have wide non-id data"

    # threshold strictly between the id column and the whole files:
    # whole-file sizing would refuse to broadcast, id sizing must not
    threshold = (id_bytes + file_bytes) // 2
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(threshold))
    try:
        plan = physical_plan(table.pending(docs, spark))
        assert "BroadcastHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
