"""Schemas and kind vocabularies for the extraction engine.

The data model replaces the reference's per-job directory tree
(reference: docker/main.py:369-379 — {job_dir}/{doc,pdf,images,markdown,...})
with a single table, one row per document, pages/blocks as a nested
``array<struct>`` column. The fixed, declared schemas mirror the reference's
fixed JSON search-index schema (reference: schema.json:4-100) — no inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Span kind vocabularies (FIXTURES.md)
# ---------------------------------------------------------------------------

# Raw, pre-extraction kinds.
INPUT_KINDS = (
    "text",
    "heading1",
    "heading2",
    "table_row",
    "chart",
    "figure",
    "nav",
    "footer",
    "ad",
    "script",
    "column_left",
    "column_right",
    "page_break",
)

# HTML boilerplate kinds that are always stripped (the tagged analog of the
# reference dropping chrome that GPT-4o would not transcribe; see also the
# density-based scorer in operators/extract_arrow.py for untagged text).
BOILERPLATE_KINDS = frozenset({"nav", "footer", "ad", "script"})

# Two-column PDF layout kinds (reading order: left column fully, then right,
# per page — FIXTURES.md `pdf_two_column`).
COLUMN_KINDS = frozenset({"column_left", "column_right"})

# Media kinds that become `media` output spans carrying media_ref
# (the deterministic analog of chart->markdown-table-with-approx-note,
# reference: docker/main.py:574-576 default prompt).
MEDIA_KINDS = frozenset({"chart", "figure"})

# Post-extraction kinds.
OUTPUT_KINDS = ("text", "heading", "table", "media", "page_break")

# ---------------------------------------------------------------------------
# Table schemas
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# Input table (BASELINE.json input_hint): interleaved text + media documents.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)

# Extraction output: same shape (ordered spans array, offsets reindexed).
OUTPUT_SCHEMA = DOCUMENTS_SCHEMA

# Chunk rows (reference chunk JSON doc: docker/main.py:491-497, 523-530).
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("pg_number", T.IntegerType(), False),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("content", T.StringType(), False),
    ]
)

# Deterministic embedding rows (stand-in for Azure OpenAI embeddings,
# reference: docker/main.py:277-323; dims fixed like schema.json:95).
EMBEDDING_DIMS = 16
EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType(), False), False),
    ]
)

# Per-partition lineage + metrics rows written alongside output commits
# (the Spark-native analog of status.json checkpoints,
# reference: docker/main.py:253-257).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_spans_in", T.LongType(), False),
        T.StructField("n_spans_out", T.LongType(), False),
        T.StructField("n_boilerplate_dropped", T.LongType(), False),
        T.StructField("n_tables_built", T.LongType(), False),
        T.StructField("n_media_emitted", T.LongType(), False),
    ]
)

# DDL strings (for mapInPandas / applyInPandas schema= arguments).
SPAN_DDL = "kind string, text string, media_ref string, offset int"
DOCUMENTS_DDL = f"doc_id string, spans array<struct<{SPAN_DDL}>>"
EXPLODED_SPANS_DDL = "doc_id string, kind string, text string, media_ref string, offset int"
CHUNKS_DDL = (
    "doc_id string, chunk_id int, pg_number int, file_name string, "
    "title string, content string"
)
