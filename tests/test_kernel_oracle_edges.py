"""Every kernelised operator, and the extraction and chunking chain
(spanify -> extraction kernel -> chunk kernel), equals its registered
DuckDB oracle on the shared edge frames (fixtures.edge_documents /
edge_embeddings): NULL, 0 and negative ids, NULL and blank text, embedded
newlines, U+00A0, 'İ', a ~20k-word document, a NULL label, an all-zero
vector, a duplicate vector and a singleton label. The oracle is the spec;
the operator is the one production path."""

from __future__ import annotations

import pyarrow.parquet as papq
import pytest
from oracle_spec import run_both, write_tables

from gpt4ocontentextraction_spark import fixtures

SF = "/root/testdata/sf0.001"

KERNEL_QUERIES = (
    "simhash_fingerprints",
    "simhash64_fingerprints",
    "c4_filters",  # curation.c4_filters_fused
    "label_noise",
    "pq_codebooks",
    "pq_codes",
    "pq_adc_topk",
    "spanify",
    "extract_spans",
    "page_chunks",
    "markdown_chunks",
    "markdown_chunks_separator",
    "chunk_dispatch",
    "embedding_neardup_lsh",  # a NULL vec_id
    "ivf_topk",  # an all-zero vector: NULL cosine
    "exact_dedup",  # NULL text keys its own group, apart from ''
)


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    base = papq.read_table(f"{SF}/embeddings.parquet")
    return write_tables(
        tmp_path_factory.mktemp("edge"),
        {
            "documents": fixtures.edge_documents(),
            "embeddings": fixtures.edge_embeddings(base),
        },
    )


@pytest.mark.parametrize("name", KERNEL_QUERIES)
def test_kernel_equals_oracle_on_edge_frame(spark, edge_dir, name):
    got, want = run_both(spark, name, edge_dir)
    assert got == want
    assert got


def test_ivf_kmeans_topk_on_edge_frame(spark, edge_dir):
    """ivf_kmeans_topk's registered oracle is a golden row set keyed by
    the input's fingerprint, which has no entry for the edge frame. So
    pin what holds on any input: the all-zero vector's NULL cosine
    neither raises nor outranks a real one, and the query vector (id 0)
    ranks first at similarity 1."""
    from oracle_spec import registered

    fn, _ = registered("ivf_kmeans_topk")
    rows = [tuple(r) for r in fn(spark, edge_dir).collect()]
    assert len(rows) == 5
    assert rows[0][0] == 0 and rows[0][2] == 1.0
    sims = [r[2] for r in rows]
    assert None not in sims and sims == sorted(sims, reverse=True)
