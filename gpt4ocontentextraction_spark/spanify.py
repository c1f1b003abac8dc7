"""Deterministic flat-text -> interleaved-spans bridge (Spark + DuckDB).

The driver's synthetic `documents` table is flat
``(doc_id bigint, text, lang, source, n_chars)``; the engine's input shape
(BASELINE.json input_hint) is
``(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)``.
This module derives the spans shape from the flat table with PURE integer /
string arithmetic, implemented twice:

- :func:`spanify` — Spark, JVM-side only (``split``/``sequence``/
  ``transform``/``slice``; no Python UDF), so Catalyst sees through it;
- :data:`SPANIFY_SQL` — the byte-identical DuckDB derivation, used as the
  prefix of every extraction oracle query (the driver's correctness gate
  compares our Spark results to DuckDB on the same tables).

Spec (span i, 0-based, for a document with words = split(text, ' ')):
- ``n_spans = ceil(len(words) / 6)``; span i covers words[6i .. 6i+5]
- ``kind = KIND_CYCLE[(i + doc_id) mod 16]`` — a fixed 16-entry cycle that
  exercises every input kind of the extraction kernel; the modulus is
  non-negative (Spark ``pmod``) so negative ids index the cycle too, and
  a NULL id gives a NULL kind
- ``text = '||i||'`` for page_break spans; the 6-word slice joined by a
  TAB for table_row spans (cells); else the slice joined by a single space
- ``media_ref = 'media://<doc_id>/<i>'`` for chart/figure spans, else ''
- ``offset = i``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mostly text, with every kernel-relevant kind appearing; length 16.
KIND_CYCLE = (
    "heading1",
    "text",
    "text",
    "table_row",
    "table_row",
    "table_row",
    "text",
    "chart",
    "nav",
    "column_left",
    "column_right",
    "text",
    "page_break",
    "footer",
    "figure",
    "heading2",
)

_KINDS_ARRAY_SQL = "array(" + ", ".join(f"'{k}'" for k in KIND_CYCLE) + ")"

# The outer single-element transform binds ws = split(text) ONCE per row.
# Without it, Catalyst's project collapsing re-inlines split() into every
# use inside the inner lambda, making span generation O(words x spans)
# per document (measured 125s -> ~2s on the heavy bench input).
# try_element_at, not element_at: under ANSI, element_at over a literal
# array of non-NULL strings is typed non-nullable, so a NULL doc_id's NULL
# index fails in generated code instead of giving a NULL kind.
_SPANS_EXPR = f"""
element_at(transform(array(split(text, ' ')), ws ->
  transform(
    sequence(0, int(ceil(size(ws) / 6.0)) - 1),
    i -> named_struct(
      'kind', try_element_at({_KINDS_ARRAY_SQL}, int(pmod(i + doc_id, 16)) + 1),
      'text',
        CASE WHEN try_element_at({_KINDS_ARRAY_SQL}, int(pmod(i + doc_id, 16)) + 1) = 'page_break'
             THEN concat('||', cast(i as string), '||')
             WHEN try_element_at({_KINDS_ARRAY_SQL}, int(pmod(i + doc_id, 16)) + 1) = 'table_row'
             THEN array_join(slice(ws, i * 6 + 1, 6), '\t')
             ELSE array_join(slice(ws, i * 6 + 1, 6), ' ')
        END,
      'media_ref',
        CASE WHEN try_element_at({_KINDS_ARRAY_SQL}, int(pmod(i + doc_id, 16)) + 1)
                  IN ('chart', 'figure')
             THEN concat('media://', cast(doc_id as string), '/', cast(i as string))
             ELSE ''
        END,
      'offset', int(i)
    )
  )
), 1)
"""


def spanify(flat_documents: DataFrame) -> DataFrame:
    """documents(doc_id bigint, text, ...) -> (doc_id string, spans array)."""
    return flat_documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(_SPANS_EXPR).alias("spans"),
    )


def spanify_exploded(flat_documents: DataFrame) -> DataFrame:
    """Exploded variant: one row per span (doc_id, kind, text, media_ref, offset)."""
    return spanify(flat_documents).select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle fragment: identical derivation, one row per span.
# Exposes: doc_id (VARCHAR), kind, text, media_ref, offset (INT).
# ---------------------------------------------------------------------------

_KINDS_LIST_SQL = "[" + ", ".join(f"'{k}'" for k in KIND_CYCLE) + "]"

SPANIFY_SQL = f"""
spanify_base AS (
  SELECT
    CAST(doc_id AS VARCHAR)      AS doc_id,
    doc_id                        AS did,
    string_split(text, ' ')      AS ws,
    UNNEST(range(CAST(ceil(len(string_split(text, ' ')) / 6.0) AS BIGINT))) AS i
  FROM documents
),
spanified AS (
  SELECT
    doc_id,
    ({_KINDS_LIST_SQL})[CAST(((i + did) % 16 + 16) % 16 AS BIGINT) + 1] AS kind,
    CASE
      WHEN ({_KINDS_LIST_SQL})[CAST(((i + did) % 16 + 16) % 16 AS BIGINT) + 1] = 'page_break'
      THEN '||' || CAST(i AS VARCHAR) || '||'
      WHEN ({_KINDS_LIST_SQL})[CAST(((i + did) % 16 + 16) % 16 AS BIGINT) + 1] = 'table_row'
      THEN array_to_string(ws[i * 6 + 1 : i * 6 + 6], chr(9))
      ELSE array_to_string(ws[i * 6 + 1 : i * 6 + 6], ' ')
    END                                                    AS text,
    CASE
      WHEN ({_KINDS_LIST_SQL})[CAST(((i + did) % 16 + 16) % 16 AS BIGINT) + 1]
           IN ('chart', 'figure')
      THEN 'media://' || doc_id || '/' || CAST(i AS VARCHAR)
      ELSE ''
    END                                                    AS media_ref,
    CAST(i AS INTEGER)                                     AS "offset"
  FROM spanify_base
)
"""
