#!/usr/bin/env python
"""Per-query timer: python bench.py [query ...]

Times each HEADLINE query (or each query named) over $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS]: a cold noop-sink write timed from the query's
construction, release_all(), then a warm one. An untimed warm-up first
reads the input tables and runs one trivial mapInArrow, so the session's
Python worker start is charged to "python_warmup_s" rather than to the
first query's cold figure. Prints one JSON line, "value" being the sum of
cold seconds, and exits; an unknown name exits 2 before Spark starts.
Scaling and plan metrics are perfbench/run.py's."""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = (
    "spanify",
    "extract_spans",
    "extract_spans_skew_defused",
    "extract_spans_html",
    "extract_spans_layout",
    "merge_markdown",
    "page_chunks",
    "markdown_chunks",
    "page_chunks_variants",
    "markdown_chunks_variants",
    "markdown_chunks_separator",
    "chunk_dispatch",
    "page_markers",
    "resume_pending",
    "minhash_lsh",
    "dedup_clusters",
    "dup_ngram_spans",
    "dup_ngram_spans_hashed",
    "line_dedup",
    "line_dedup_hashed",
    "bloom_incremental_dedup",
    "minhash_incremental",
    "ingest_dedup",
    "simhash_pairs_banded",
    "simhash64_pairs_banded",
    "embedding_neardup_lsh",
    "semdedup_k64",
    "label_noise",
    "unigram_logprob",
    "dsir_weights",
    "c4_filters",
    "top_ngrams",
    "vocab_coverage",
    "quality_classifier",
    "line_repetition_stats",
    "filter_funnel",
    "token_quantiles",
    "source_report",
    "asof_attribution",
    "normalize_text",
    "token_budget_mix",
    "pretraining_mix",
    "compaction_bins",
    "snapshot_diff",
    "ccnet_buckets",
    "winnow_pairs",
    "char_entropy",
    "shuffle_rank",
    "shuffled_pack",
    "compression_signals",
    "bpe_pair_counts",
    "bpe_merges",
    "bpe_encode",
    "fix_mojibake",
    "url_filter",
    "cosine_topk",
    "quantized_cosine_topk",
    "quantized_rerank_topk",
    "pq_adc_topk",
    "bm25_topk",
    "hybrid_topk",
    "window_chunks",
    "sniff_type",
    "extraction_report",
)


def _timed(build) -> float:
    """Seconds to construct build()'s frame and write it to the noop sink."""
    t0 = time.perf_counter()
    build().write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 3)


def _identity(batches):
    yield from batches


def warm_up(spark) -> float:
    """Pay the one-time costs the first query would otherwise carry: the
    input reads (untimed) and the Python worker start, whose seconds are
    returned."""
    for table in ("documents", "embeddings"):
        _timed(lambda: spark.read.parquet(f"{SF_DIR}/{table}.parquet"))
    return _timed(lambda: spark.range(1).mapInArrow(_identity, "id long"))


def run(spark, names, lookup) -> tuple[dict, dict]:
    """Cold and warm seconds per name, plus hybrid_topk's shared-index pair."""
    from gpt4ocontentextraction_spark.cached import release_all
    from gpt4ocontentextraction_spark.operators import retrieval

    cold, warm = {}, {}
    for name in names:
        cold[name] = _timed(lambda: lookup[name](spark, SF_DIR))
        release_all()
        warm[name] = _timed(lambda: lookup[name](spark, SF_DIR))
        release_all()
        if name == "hybrid_topk":
            # the BM25 score index built once, then a hybrid call that reuses it
            t0 = time.perf_counter()
            ix = retrieval.bm25_index(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
            cold["bm25_index_build"] = round(time.perf_counter() - t0, 3)
            cold["hybrid_topk_warm"] = _timed(
                lambda: retrieval.hybrid_rrf_topk(spark, SF_DIR, bm25_scores=ix)
            )
            ix.unpersist(blocking=False)  # the caller owns this persist
            release_all()
    return cold, warm


def main(names: list[str]) -> int:
    from gpt4ocontentextraction_spark.driver_contract import EXTRA_QUERIES, QUERIES
    from gpt4ocontentextraction_spark.session import get_spark

    lookup = {**EXTRA_QUERIES, **QUERIES}
    names = names or list(HEADLINE)
    unknown = [n for n in names if n not in lookup]
    if unknown:
        print(f"unknown query: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("bench-headline")
    try:
        warmup_s = warm_up(spark)
        cold, warm = run(spark, names, lookup)
        print(json.dumps({
            "metric": "headline_queries_total",
            "value": round(sum(cold[n] for n in names), 3),
            "unit": "sec",
            "queries": cold,
            "queries_warm": warm,
            "python_warmup_s": warmup_s,
            "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        }), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
