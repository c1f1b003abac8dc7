"""Kernel-batch memory bounding: a tiny span cap must split batches (and
isolate giant rows) without changing any output."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from gpt4ocontentextraction_spark.fixtures import make_corpus
from gpt4ocontentextraction_spark.operators import extract as ex

_SPAN = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string()), pa.field("spans", pa.list_(_SPAN))]
)


def test_bounded_rechunk_slices_and_preserves(monkeypatch, tmp_path):
    """The extraction task body the composable commit and the file job
    share (``extract_file``), run in-process with the cap at 200 spans,
    writes the same rows as uncapped, over more than one kernel call. In
    Spark the cap cannot be lowered from the driver: workers import the
    module fresh and read the default."""
    pdf, _ = make_corpus(seed=13, docs_per_class=2, include_giant=True)
    batch = pa.RecordBatch.from_pylist(
        pdf[["doc_id", "spans"]].to_dict("records"), schema=_SCHEMA
    )
    calls = []
    kernel = ex._extract_batch

    def counted(b):
        calls.append(len(b))
        return kernel(b)

    monkeypatch.setattr(ex, "_extract_batch", counted)

    def run(name):
        calls.clear()
        path = str(tmp_path / name)
        counts = ex.extract_file(iter([batch]), path)
        assert counts["n_docs"] == len(batch)
        return pq.read_table(path).to_pylist(), len(calls)

    baseline, uncapped_calls = run("uncapped.parquet")
    monkeypatch.setattr(ex, "MAX_SPANS_PER_KERNEL_BATCH", 200)
    bounded, capped_calls = run("capped.parquet")
    assert bounded == baseline
    assert uncapped_calls == 1 and capped_calls > 1
    # the giant fixture really exceeds the cap in one row
    assert any(len(r["spans"]) > 200 for r in pdf.to_dict("records"))


def test_bounded_iterator_unit():
    def doc(i, n):
        return {
            "doc_id": f"d{i}",
            "spans": [
                {"kind": "text", "text": "x", "media_ref": "", "offset": j}
                for j in range(n)
            ],
        }

    batch = pa.RecordBatch.from_pylist(
        [doc(0, 5), doc(1, 50), doc(2, 5), doc(3, 5)], schema=_SCHEMA
    )
    old = ex.MAX_SPANS_PER_KERNEL_BATCH
    ex.MAX_SPANS_PER_KERNEL_BATCH = 10
    try:
        slices = list(ex._bounded(iter([batch])))
    finally:
        ex.MAX_SPANS_PER_KERNEL_BATCH = old
    # giant row isolated in its own slice; row order preserved
    assert [len(s) for s in slices] == [1, 1, 2]
    assert sum(len(s) for s in slices) == 4
    got = [r["doc_id"] for s in slices for r in s.to_pylist()]
    assert got == ["d0", "d1", "d2", "d3"]
