"""Every kernelised operator equals its registered DuckDB oracle on the
shared edge frames (fixtures.edge_documents / edge_embeddings): NULL, 0
and negative ids, NULL and blank text, embedded newlines, U+00A0, 'İ', a
~20k-word document, a NULL label, an all-zero vector, a duplicate vector
and a singleton label. The oracle is the spec; the operator is the one
production path."""

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
