"""Spark wrapper for the extraction kernel: Arrow-native mapInArrow operator.

Replaces the reference's per-page ThreadPoolExecutor fan-out + GPT-4o call
(reference: docker/main.py:413-426, 566-611) with a single narrow Spark
operator: no shuffle, no per-row Python. Each input row already carries a
whole document's spans, so ``mapInArrow`` preserves document atomicity with
zero data movement; parallelism is partitions × cores.

Why mapInArrow and not mapInPandas: the input column is
``array<struct<...>>``. Arrow can flatten a ListArray to its value
StructArray (and rebuild it) in C without materializing Python objects;
pandas would hand us a Series of list-of-dict. The kernel itself
(operators/extract_arrow.py) is vectorized pyarrow/numpy over the flattened
representation — the Arrow wrapper is pure plumbing. This module imports
no pandas, but the worker loads it anyway when it imports the kernel:
``extract_arrow``'s module-level ``_OUT_KIND_POOL = pa.array(...)`` makes
pyarrow import pandas (ROADMAP direction 2(a)).

Plan shape (tests/test_plans.py, test_resume.py): parquet scan with
ReadSchema pruned to (doc_id, spans) -> MapInArrow -> sink. No Exchange.
With ``into`` the one MapInArrow also writes (:func:`extract_file`, the
file job's task body too) and returns metric rows, not spans.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame

from ..schema import DOCUMENTS_DDL

_OUT_SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("media_ref", pa.string(), nullable=False),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
_OUT_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(_OUT_SPAN_TYPE), nullable=False),
    ]
)


def _flatten(batch: pa.RecordBatch):
    doc_id = batch.column("doc_id")
    spans = batch.column("spans")
    n_docs = len(batch)
    counts = pc.list_value_length(spans).to_numpy(zero_copy_only=False)
    counts = np.nan_to_num(counts, nan=0).astype(np.int64)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    values = spans.flatten()  # StructArray, slice-aware

    def _str(name: str) -> pa.Array:
        arr = values.field(name)
        return arr.fill_null("") if arr.null_count else arr

    off = values.field("offset")
    if off.null_count:
        off = off.fill_null(0)
    return (
        doc_id,
        n_docs,
        doc_idx,
        values.field("kind"),  # NULL kept: the kernel drops such spans
        _str("text"),
        _str("media_ref"),
        off.to_numpy(zero_copy_only=False).astype(np.int64),
    )


def _rebuild(doc_id, n_docs, out_doc, out_kind, out_text, out_media, out_off):
    out_counts = np.bincount(out_doc, minlength=n_docs).astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(out_counts, out=offsets[1:])
    out_values = pa.StructArray.from_arrays(
        [
            out_kind,
            out_text,
            out_media,
            pa.array(out_off, type=pa.int32()),
        ],
        fields=list(_OUT_SPAN_TYPE),
    )
    out_spans = pa.ListArray.from_arrays(pa.array(offsets), out_values)
    return pa.RecordBatch.from_arrays([doc_id, out_spans], schema=_OUT_SCHEMA)


def _extract_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """One batch through the kernel (operators/extract_arrow.py)."""
    from .extract_arrow import extract_values_arrow

    doc_id, n_docs, doc_idx, kind, text, media, off = _flatten(batch)
    out = extract_values_arrow(doc_idx, kind, text, media, off)
    return _rebuild(doc_id, n_docs, *out)


# Memory guard: Arrow batch sizing is row-based (maxRecordsPerBatch), but a
# single oversized document can carry 100k+ spans in ONE row. Rechunk
# incoming batches so no kernel invocation holds more than this many spans
# (bounds worker memory instead of relying on spill — SURVEY.md §4).
MAX_SPANS_PER_KERNEL_BATCH = 262_144


def _bounded(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        if not len(batch):
            continue
        counts = pc.list_value_length(
            batch.column("spans")
        ).to_numpy(zero_copy_only=False)
        counts = np.nan_to_num(counts, nan=0).astype(np.int64)
        if counts.sum() <= MAX_SPANS_PER_KERNEL_BATCH:
            yield batch
            continue
        start = 0
        running = 0
        for i, c in enumerate(counts):
            if running and running + c > MAX_SPANS_PER_KERNEL_BATCH:
                yield batch.slice(start, i - start)
                start, running = i, 0
            running += int(c)
        if start < len(batch):
            yield batch.slice(start, len(batch) - start)


def _extract_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in _bounded(batches):
        yield _extract_batch(batch)


def extract_file(batches: Iterator[pa.RecordBatch], path: str) -> dict:
    """The extraction task body: span-capped kernel -> parquet file at
    ``path`` (:func:`write_counted`); returns its lineage counts."""
    from ..sources.snapshots import write_counted

    return write_counted(_extract_iter(batches), path)


def extract(documents: DataFrame, into: str | None = None) -> DataFrame:
    """documents(doc_id, spans) -> extracted(doc_id, spans).

    With ``into`` (an uncommitted commit dir) each task writes its
    output there instead and returns its PART_DDL metric row, for
    ``SnapshotTable.commit``.

    Column-prunes the input before the UDF so parquet ReadSchema stays
    minimal even if callers pass wider rows.
    """
    docs = documents.select("doc_id", "spans")
    if into is None:
        return docs.mapInArrow(_extract_iter, DOCUMENTS_DDL)
    # imported here: workers of the plain path load no writer modules
    from ..sources.snapshots import PART_DDL, write_partition

    return docs.mapInArrow(
        functools.partial(write_partition, out_dir=into, write=extract_file),
        PART_DDL,
    )
