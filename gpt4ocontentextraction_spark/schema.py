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

# DDL strings (for mapInPandas / applyInPandas schema= arguments).
SPAN_DDL = "kind string, text string, media_ref string, offset int"
DOCUMENTS_DDL = f"doc_id string, spans array<struct<{SPAN_DDL}>>"
