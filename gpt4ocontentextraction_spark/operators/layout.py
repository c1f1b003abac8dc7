"""PDF-layout parsing: coordinate-based column detection + reading order.

The north star names "PDF layout parsing with column detection" as part of
the extraction pipeline; the reference gets it implicitly from GPT-4o
vision reading the rendered page (docker/main.py:566-611). The span-table
input shape reduces the column decision to pre-tagged kinds
(extract_arrow.py step 3: "x-coordinate column clustering reduced to its
decision"); this module implements the decision itself from block bounding
boxes, Spark-first:

- :func:`layoutify` — the deterministic flat-documents -> layout-blocks
  bridge (the spanify analog for geometry): each document becomes an
  array of blocks ``(block_idx, page, x0, x1, y0, y1, text)`` laid out in
  one of three page templates keyed by ``doc_id % 3`` — single-column,
  two-column, and mixed (full-width header over two columns) — on a
  612pt-wide letter page, 8 block slots per page, 5 words per block.
- :func:`layout_columns` — THE detector: a block is ``left`` if its box
  ends left of the 306pt midline, ``right`` if it starts right of it,
  ``full`` otherwise; reading order is (page, full-width-first,
  left-column, right-column, y, x) — the decision the kernel's
  column_left/column_right vocabulary encodes. One array-sort per
  document inside a projection: zero shuffle, zero Python.
- :func:`layout_to_spans` — lowers detected layout to the kernel's span
  vocabulary (full -> text, left/right -> column_left/column_right, a
  ``page_break`` span closing every page), so coordinates flow into the
  SAME extraction kernel and its DuckDB spec
  (oracles.extract_sql_over(LAYOUT_SPANS_SQL) — the `extract_spans_layout`
  gate proves coordinates -> markdown end-to-end).

Scale shape: every function is a per-document array projection — block
arrays never leave their row, so 10^12 documents cost zero data movement
beyond the scan; skew from giant documents is the same page-range
problem operators/skew.py already defuses downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "layoutify",
    "layout_columns",
    "layout_to_spans",
    "LAYOUTIFY_SQL",
    "LAYOUT_COLUMNS_SQL",
    "LAYOUT_SPANS_SQL",
]

# Page geometry (US-letter points): text body 36..576, midline 306.
_MID = 306

# x0 / x1 / y0 per (layout, slot): layout 0 single-column, 1 two-column
# (even slots left, odd right), 2 mixed (slot 0 full-width header, then
# two-column). All exact integers.
_X0 = """
CASE WHEN layout = 0 THEN 36
     WHEN layout = 1 THEN CASE WHEN slot % 2 = 0 THEN 36 ELSE 322 END
     ELSE CASE WHEN slot = 0 THEN 36
               WHEN slot % 2 = 0 THEN 36 ELSE 322 END
END
"""
_X1 = """
CASE WHEN layout = 0 THEN 576
     WHEN layout = 1 THEN CASE WHEN slot % 2 = 0 THEN 290 ELSE 576 END
     ELSE CASE WHEN slot = 0 THEN 576
               WHEN slot % 2 = 0 THEN 290 ELSE 576 END
END
"""
_Y0 = """
CASE WHEN layout = 0 THEN 72 + 60 * slot
     WHEN layout = 1 THEN 72 + 60 * (slot div 2)
     ELSE CASE WHEN slot = 0 THEN 72
               ELSE 140 + 60 * ((slot - 1) div 2) END
END
"""

_LAYOUT_BLOCK = f"""
named_struct(
  'block_idx', int(i),
  'page', int(i div 8),
  'x0', int({_X0}),
  'x1', int({_X1}),
  'y0', int({_Y0}),
  'y1', int(({_Y0}) + 50),
  'text', array_join(slice(ws, i * 5 + 1, 5), ' ')
)
"""

# Bind ws once and (slot, layout) once per block (same Catalyst
# project-collapsing hazard spanify._SPANS_EXPR documents).
_LAYOUTIFY_EXPR = f"""
element_at(transform(array(split(text, ' ')), ws ->
  transform(
    transform(sequence(0, int(ceil(size(ws) / 5.0)) - 1),
              j -> named_struct('i', j, 'slot', j % 8,
                                'layout', int(doc_id % 3))),
    b -> element_at(transform(array(b.i), i ->
           element_at(transform(array(b.slot), slot ->
             element_at(transform(array(b.layout), layout ->
               {_LAYOUT_BLOCK}
             ), 1)
           ), 1)
         ), 1)
  )
), 1)
"""


def layoutify(flat_documents: DataFrame) -> DataFrame:
    """documents(doc_id bigint, text, ...) ->
    (doc_id string, blocks array<struct<block_idx,page,x0,x1,y0,y1,text>>)."""
    return flat_documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(_LAYOUTIFY_EXPR).alias("blocks"),
    )


def layoutify_exploded(flat_documents: DataFrame) -> DataFrame:
    """Flat variant, one row per block (the oracle-comparison shape)."""
    return (
        layoutify(flat_documents)
        .select("doc_id", F.explode("blocks").alias("b"))
        .select("doc_id", "b.*")
    )


# Column decision + composite reading-order key. Unique per block in any
# input (block_idx is the final sort field via struct field order).
_COL_OF = "CASE WHEN b.x1 <= {m} THEN 'left' WHEN b.x0 >= {m} THEN 'right' ELSE 'full' END".format(m=_MID)
_CRANK_OF = "CASE WHEN b.x1 <= {m} THEN 1 WHEN b.x0 >= {m} THEN 2 ELSE 0 END".format(m=_MID)

_SORTED_BLOCKS = f"""
array_sort(transform(blocks, b -> named_struct(
  'key', ((cast(b.page as bigint) * 4 + {_CRANK_OF}) * 4096 + b.y0) * 4096
         + b.x0,
  'block_idx', b.block_idx,
  'page', b.page,
  'col', {_COL_OF},
  'text', b.text
)))
"""

_LAYOUT_COLUMNS_EXPR = f"""
transform({_SORTED_BLOCKS},
  (s, i) -> named_struct('block_idx', s.block_idx, 'page', s.page,
                         'column', s.col, 'reading_rank', bigint(i)))
"""


def layout_columns(layout_docs: DataFrame) -> DataFrame:
    """(doc_id, blocks) -> one row per block with the detected column
    ('full' | 'left' | 'right') and the document-wide reading rank
    (page, full-width first, left column, right column, y, x)."""
    return (
        layout_docs.select(
            "doc_id", F.explode(F.expr(_LAYOUT_COLUMNS_EXPR)).alias("c")
        )
        .select("doc_id", "c.*")
    )


_KIND_OF_COL = """
CASE s.col WHEN 'left' THEN 'column_left'
           WHEN 'right' THEN 'column_right'
           ELSE 'text' END
"""

# Lower sorted blocks to kernel spans, closing each page with a
# ``||p||`` page_break span; offsets 0..n-1 in emission order. The
# per-page filter is O(pages x blocks) per document with 8 blocks/page —
# linear in practice, and entirely row-local.
_LAYOUT_SPANS_EXPR = f"""
element_at(transform(array({_SORTED_BLOCKS}), sorted ->
  transform(
    flatten(transform(
      sequence(0, element_at(sorted, -1).page),
      p -> concat(
        transform(filter(sorted, s -> s.page = p),
          s -> named_struct('kind', {_KIND_OF_COL}, 'text', s.text,
                            'media_ref', '', 'offset', 0)),
        array(named_struct(
          'kind', 'page_break',
          'text', concat('||', cast(p as string), '||'),
          'media_ref', '', 'offset', 0))
      )
    )),
    (s, i) -> named_struct('kind', s.kind, 'text', s.text,
                           'media_ref', s.media_ref, 'offset', int(i))
  )
), 1)
"""


def layout_to_spans(layout_docs: DataFrame) -> DataFrame:
    """(doc_id, blocks) -> (doc_id, spans) in the extraction kernel's
    vocabulary — feeds operators/extract.py directly."""
    return layout_docs.select(
        "doc_id", F.expr(_LAYOUT_SPANS_EXPR).alias("spans")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles.
# ---------------------------------------------------------------------------

_DUCK_X0 = """
CASE WHEN layout = 0 THEN 36
     WHEN layout = 1 THEN CASE WHEN slot % 2 = 0 THEN 36 ELSE 322 END
     ELSE CASE WHEN slot = 0 THEN 36
               WHEN slot % 2 = 0 THEN 36 ELSE 322 END
END
"""
_DUCK_X1 = """
CASE WHEN layout = 0 THEN 576
     WHEN layout = 1 THEN CASE WHEN slot % 2 = 0 THEN 290 ELSE 576 END
     ELSE CASE WHEN slot = 0 THEN 576
               WHEN slot % 2 = 0 THEN 290 ELSE 576 END
END
"""
_DUCK_Y0 = """
CASE WHEN layout = 0 THEN 72 + 60 * slot
     WHEN layout = 1 THEN 72 + 60 * (slot // 2)
     ELSE CASE WHEN slot = 0 THEN 72
               ELSE 140 + 60 * ((slot - 1) // 2) END
END
"""

# Exposes `layout_blocks(doc_id, block_idx, page, x0, x1, y0, y1, text)`.
LAYOUTIFY_SQL = f"""
layout_base AS (
  SELECT
    CAST(doc_id AS VARCHAR) AS doc_id,
    CAST(doc_id % 3 AS INTEGER) AS layout,
    string_split(text, ' ') AS ws,
    UNNEST(range(CAST(ceil(len(string_split(text, ' ')) / 5.0) AS BIGINT)))
      AS i
  FROM documents
),
layout_slots AS (
  SELECT doc_id, layout, ws, i, CAST(i % 8 AS INTEGER) AS slot
  FROM layout_base
),
layout_blocks AS (
  SELECT doc_id,
    CAST(i AS INTEGER) AS block_idx,
    CAST(i // 8 AS INTEGER) AS page,
    CAST({_DUCK_X0} AS INTEGER) AS x0,
    CAST({_DUCK_X1} AS INTEGER) AS x1,
    CAST({_DUCK_Y0} AS INTEGER) AS y0,
    CAST(({_DUCK_Y0}) + 50 AS INTEGER) AS y1,
    array_to_string(ws[i * 5 + 1 : i * 5 + 5], ' ') AS text
  FROM layout_slots
)
"""

_DUCK_COL = (
    f"CASE WHEN x1 <= {_MID} THEN 'left'"
    f" WHEN x0 >= {_MID} THEN 'right' ELSE 'full' END"
)
_DUCK_CRANK = (
    f"CASE WHEN x1 <= {_MID} THEN 1 WHEN x0 >= {_MID} THEN 2 ELSE 0 END"
)

# Exposes `layout_cols(doc_id, block_idx, page, "column", reading_rank)`.
LAYOUT_COLUMNS_SQL = f"""
{LAYOUTIFY_SQL},
layout_cols AS (
  SELECT doc_id, block_idx, page,
    {_DUCK_COL} AS "column",
    ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY page, {_DUCK_CRANK}, y0, x0, block_idx) - 1 AS reading_rank
  FROM layout_blocks
)
"""

# The spanified-equivalent relation over detected layout: block spans in
# reading order plus a page_break closing each page. Feed to
# oracles.extract_sql_over(LAYOUT_SPANS_SQL) for the end-to-end spec.
LAYOUT_SPANS_SQL = f"""
{LAYOUTIFY_SQL},
lay_union AS (
  SELECT doc_id, page, 0 AS brk, {_DUCK_CRANK} AS crank0,
    y0, x0, block_idx,
    CASE WHEN x1 <= {_MID} THEN 'column_left'
         WHEN x0 >= {_MID} THEN 'column_right'
         ELSE 'text' END AS kind,
    text, '' AS media_ref
  FROM layout_blocks
  UNION ALL
  SELECT doc_id, page, 1 AS brk, 0, 0, 0, 0,
    'page_break', '||' || CAST(page AS VARCHAR) || '||', ''
  FROM (SELECT DISTINCT doc_id, page FROM layout_blocks)
),
spanified AS (
  SELECT doc_id, kind, text, media_ref,
    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY page, brk, crank0, y0, x0, block_idx) - 1 AS INTEGER)
      AS "offset"
  FROM lay_union
)
"""
