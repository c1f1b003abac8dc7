"""Plan-shape regression tests: pushdown, pruning, no stray shuffles,
broadcast joins (SURVEY.md §4 — these properties, not micro-timings, are
what survive a 100x scale-up)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpt4ocontentextraction_spark.operators.extract import extract
from gpt4ocontentextraction_spark.plans.inspect import (
    assert_broadcast_join,
    assert_no_exchange,
    assert_pushed_filter,
    assert_read_schema_only,
    physical_plan,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def flat_docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_point_lookup_filter_pushed(spark, flat_docs):
    df = flat_docs.filter(F.col("doc_id") == 42).select("doc_id", "lang")
    assert_pushed_filter(df, "doc_id")
    assert_read_schema_only(df, {"doc_id", "lang"})


def test_extract_prunes_and_does_not_shuffle(spark, flat_docs):
    from gpt4ocontentextraction_spark.spanify import spanify

    wide = flat_docs.withColumn("junk", F.lit(1))
    pipe = extract(spanify(wide))
    assert_no_exchange(pipe)
    # only doc_id + text reach the scan, junk/lang/source/n_chars pruned
    assert_read_schema_only(pipe, {"doc_id", "text"})


def test_file_job_plan_has_no_exchange(spark, flat_docs, tmp_path):
    """The file job's tasks come straight from spark.range: the executed
    plan is Range -> MapInArrow, with no driver-list scan and no
    round-robin Exchange."""
    from gpt4ocontentextraction_spark.operators.extract_files import (
        extract_parquet_files,
    )
    from gpt4ocontentextraction_spark.spanify import spanify

    in_dir = str(tmp_path / "in")
    spanify(flat_docs).repartition(3).write.parquet(in_dir)
    df = extract_parquet_files(spark, in_dir, str(tmp_path / "out"))
    assert len(df.collect()) == 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Range" in plan and "LocalTableScan" not in plan, plan


def test_resume_join_broadcasts(spark, flat_docs):
    done = flat_docs.filter(F.col("doc_id") % 10 < 3).select("doc_id")
    pending = flat_docs.join(F.broadcast(done), "doc_id", "left_anti")
    assert_broadcast_join(pending)


def test_simhash_banded_has_no_nested_loop(spark, flat_docs):
    from gpt4ocontentextraction_spark.operators.dedup import (
        simhash_pairs_banded,
    )
    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_no_nested_loop,
    )

    df = simhash_pairs_banded(flat_docs)
    assert_no_nested_loop(df)


def test_embedding_lsh_has_no_nested_loop(spark):
    from gpt4ocontentextraction_spark.operators.retrieval import (
        embedding_neardup_lsh,
    )
    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_no_nested_loop,
    )

    assert_no_nested_loop(embedding_neardup_lsh(spark, SF))


def test_bm25_prunes_scan_to_two_columns(spark):
    from gpt4ocontentextraction_spark.operators.retrieval import bm25_topk

    df = bm25_topk(spark.read.parquet(f"{SF}/documents.parquet"))
    # corpus stats + scoring must not drag lang/source/n_chars off disk
    assert_read_schema_only(df, {"doc_id", "text"})


def test_rerank_broadcasts_candidates_and_query(spark):
    from gpt4ocontentextraction_spark.operators.retrieval import rerank_topk
    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_broadcast_join,
    )

    assert_broadcast_join(rerank_topk(spark, SF))


def test_extract_plan_is_single_stage(spark, flat_docs):
    from gpt4ocontentextraction_spark.spanify import spanify

    plan = physical_plan(extract(spanify(flat_docs)))
    # one scan node, one MapInArrow; no Exchange/Sort operators
    assert plan.count("(1) Scan parquet") == 1
    assert "(5)" not in plan  # exactly 4 nodes: scan, c2r, project, mapInArrow
    assert "MapInArrow" in plan
    assert "Sort " not in plan


def test_chunkers_are_one_python_stage(spark, flat_docs):
    """Page, markdown and separator chunking each add one MapInArrow over
    the extracted rows (one row per document): no Exchange and no pandas
    node."""
    from gpt4ocontentextraction_spark.operators import chunk
    from gpt4ocontentextraction_spark.spanify import spanify

    extracted = extract(spanify(flat_docs))
    for op in (
        chunk.page_chunks,
        chunk.markdown_chunks,
        chunk.markdown_chunks_separator,
    ):
        plan = physical_plan(op(extracted))
        assert "Exchange" not in plan and "Pandas" not in plan, plan
        # extract + chunk, each named once in the tree and once in details
        assert plan.count("MapInArrow") == 4, plan


def test_hybrid_topk_has_no_unpartitioned_window(spark):
    """VERDICT r2 finding #1: hybrid ranking must never move the corpus
    through a single unpartitioned WindowExec. The r5 hybrid cuts each
    score list to its exact top-n with orderBy().limit() — planned as
    TakeOrderedAndProject (per-partition heaps + driver merge, no global
    sort, no window AT ALL) — and ranks the bounded prefix driver-side;
    this pins that candidate-cut plan shape over the real BM25 scores."""
    from pyspark.sql import functions as F

    from gpt4ocontentextraction_spark.operators.retrieval import (
        HYBRID_N_CAND,
        _bm25_scores,
    )
    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_no_unpartitioned_window,
        physical_plan,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cut = (
        _bm25_scores(docs)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(HYBRID_N_CAND)
    )
    assert_no_unpartitioned_window(cut)
    p = physical_plan(cut)
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_unpartitioned_window_detector_fires(spark, flat_docs):
    from pyspark.sql import Window

    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_no_unpartitioned_window,
    )

    bad = flat_docs.select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("r"),
    )
    with pytest.raises(AssertionError):
        assert_no_unpartitioned_window(bad)


def test_simhash64_banded_has_no_nested_loop(spark, flat_docs):
    from gpt4ocontentextraction_spark.operators.dedup import (
        simhash64_pairs_banded,
    )
    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_no_nested_loop,
    )

    assert_no_nested_loop(simhash64_pairs_banded(flat_docs))


def test_semdedup_grouped_single_exchange(spark):
    """The grouped SemDeDup production path's whole plan has exactly ONE
    Exchange — the cid shuffle feeding the per-cluster verify kernel.
    Assignment is a mapInPandas projection (no crossJoin row inflation,
    no join), so each vector crosses the wire once; a second Exchange
    appearing means the rewrite regressed to a join shape."""
    from gpt4ocontentextraction_spark.operators.retrieval import (
        semdedup_pairs_grouped,
    )
    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_no_nested_loop,
        physical_plan,
    )

    df = semdedup_pairs_grouped(spark, SF)
    assert_no_nested_loop(df)
    plan = physical_plan(df)
    # formatted plans name each node twice (tree + detail section):
    # count the detail headers, the unambiguous one-per-node form
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_no_registered_query_has_unpartitioned_window(spark):
    """Repo-wide convention sweep (plans/inspect.py): NO registered gate
    may move data through a WindowExec without a partition spec — the
    shape that single-partitions its whole input at scale — EXCEPT the
    allowlisted windows whose input is bounded by construction and can
    never be the corpus (Catalyst folds a dummy constant partition key
    out of the spec, so the allowlist is where the bound is recorded):
      - pack_sequences / pretraining_mix: the cross-block cumsum runs
        over n/PACK_BLOCK block TOTALS (the 10^12-doc form recurses
        hierarchically, SCALE.md); the per-doc cumsum is partitioned.
      - vocab_coverage: the rank/cumulative window runs over the k-row
        top slice cut by TakeOrderedAndProject.
      - shuffle_rank / shuffled_pack: same two-phase device — the
        unpartitioned cumsum sees only the SHUFFLE_BLOCKS block totals;
        the per-doc ranking window is block-partitioned
        (tests/test_shuffle.py pins that shape directly).
    Adding a NEW gate with an unpartitioned window fails this test
    loudly instead of shipping a global sort. Plan construction only;
    nothing executes beyond driver-side parameter fetches (and
    bpe_merges' bounded training loop, whose result is the plan)."""
    from gpt4ocontentextraction_spark.cached import release_all
    from gpt4ocontentextraction_spark.driver_contract import (
        EXTRA_QUERIES,
        QUERIES,
    )
    from gpt4ocontentextraction_spark.plans.inspect import (
        assert_no_unpartitioned_window,
    )

    bounded_window_allowlist = {
        "pack_sequences",
        "pretraining_mix",
        "vocab_coverage",
        "shuffle_rank",
        "shuffled_pack",
    }
    allq = dict(QUERIES)
    allq.update(EXTRA_QUERIES)
    bad = []
    for name, fn in allq.items():
        if name in bounded_window_allowlist:
            continue
        release_all()
        try:
            assert_no_unpartitioned_window(fn(spark, SF))
        except AssertionError:
            bad.append(name)
    release_all()
    assert not bad, f"unpartitioned window in: {bad}"
