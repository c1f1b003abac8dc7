"""The Arrow-native kernel behind extract() must be batch-for-batch
identical to its DuckDB spec (oracles.extract_sql_over) on every fixture
class and on edge batches."""

from __future__ import annotations

import pytest

from extraction_spec import extract_both
from gpt4ocontentextraction_spark.fixtures import make_corpus


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_arrow_equals_oracle(seed):
    pdf, _ = make_corpus(seed=seed, docs_per_class=5, include_giant=False)
    a, b = extract_both(pdf.to_dict("records"))
    assert a == b


def test_arrow_kernel_edge_batches():
    # doc with zero spans, nulls in media_ref/text
    pdf, _ = make_corpus(seed=9, docs_per_class=2, classes=("empty_and_edge",))
    a, b = extract_both(pdf.to_dict("records"))
    assert a == b

    rows = [
        {"doc_id": "nulls", "spans": [
            {"kind": "text", "text": None, "media_ref": None, "offset": 0},
            {"kind": "chart", "text": "c", "media_ref": None, "offset": 1},
        ]},
    ]
    out, oracle = extract_both(rows)
    assert out == oracle
    # null text -> '' -> blank-dropped; null media_ref -> ''
    assert out[0]["spans"] == [
        {"kind": "media", "text": "c", "media_ref": "", "offset": 0}
    ]


def test_unknown_kinds_treated_as_text_in_both_kernels():
    rows = [{"doc_id": "u", "spans": [
        {"kind": "mystery", "text": "  ", "media_ref": "", "offset": 0},
        {"kind": "mystery", "text": "hello", "media_ref": "", "offset": 1},
        {"kind": "weird", "text": "[x](y)", "media_ref": "", "offset": 2},
    ]}]
    a, p = extract_both(rows)
    assert a == p
    # blank + link-dense unknowns dropped like text; content kept as text
    assert a[0]["spans"] == [
        {"kind": "text", "text": "hello", "media_ref": "", "offset": 0}
    ]
