"""Structured table extraction: markdown pipe tables -> typed cell rows.

The kernel reconstructs table grids as Markdown pipes (extract_arrow.py
step 5, mirroring the reference's chart/table -> pipe-table conversion at
docker/main.py:574-576). Training-data pipelines for table understanding
(table-QA, text-to-SQL corpora) need the INVERSE projection: every
extracted table as a relation of ``(doc_id, tbl_offset, row_idx, col_idx,
cell)`` — header row 0, data rows 1.., the ``| --- |`` separator dropped.

Spark-first shape: a filter on the already-extracted span relation plus
two generator projections (``posexplode`` over line split, then over cell
split) — narrow, shuffle-free, whole-stage-codegen'd; at 10^12 documents
this adds zero data movement on top of the extraction pass itself.

Ambiguity note (inherent to markdown, documented rather than hidden): a
cell whose CONTENT contains ``" | "`` is indistinguishable from a cell
boundary; both the engine and the oracle split on the same boundary, so
the two stay equal, and the kernel's tab-separated input protocol makes
collisions impossible for tables produced by this pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["table_cells", "TABLE_CELLS_SQL"]


def table_cells(extracted_spans: DataFrame) -> DataFrame:
    """(doc_id, kind, text, media_ref, offset) exploded span relation ->
    one row per table cell. ``tbl_offset`` is the table span's offset (a
    document can hold several tables); ``row_idx`` 0 is the header."""
    lines = (
        extracted_spans.filter(F.col("kind") == "table")
        .select(
            "doc_id",
            F.col("offset").cast("long").alias("tbl_offset"),
            F.posexplode(F.split("text", "\n")).alias("r", "line"),
        )
        # physical row 1 is always the | --- | separator the kernel
        # inserts after the header
        .filter(F.col("r") != 1)
        .select(
            "doc_id",
            "tbl_offset",
            F.when(F.col("r") == 0, F.lit(0))
            .otherwise(F.col("r") - 1)
            .cast("long")
            .alias("row_idx"),
            F.regexp_replace("line", r"^\| | \|$", "").alias("body"),
        )
    )
    return lines.select(
        "doc_id",
        "tbl_offset",
        "row_idx",
        F.posexplode(F.split("body", r" \| ")).alias("col_idx", "cell"),
    ).select(
        "doc_id",
        "tbl_offset",
        "row_idx",
        F.col("col_idx").cast("long").alias("col_idx"),
        "cell",
    )


# DuckDB oracle fragment. Consumes the `extracted` CTE (oracles.EXTRACT_SQL);
# exposes `table_cells(doc_id, tbl_offset, row_idx, col_idx, cell)`.
TABLE_CELLS_SQL = """
tbl_lines AS (
  SELECT doc_id, tbl_offset, r, lines[r + 1] AS line
  FROM (
    SELECT doc_id,
           CAST("offset" AS BIGINT)       AS tbl_offset,
           string_split(text, chr(10))    AS lines,
           UNNEST(range(len(string_split(text, chr(10))))) AS r
    FROM extracted
    WHERE kind = 'table'
  )
  WHERE r <> 1
),
tbl_rows AS (
  SELECT doc_id, tbl_offset,
         CASE WHEN r = 0 THEN 0 ELSE r - 1 END AS row_idx,
         string_split(
           regexp_replace(regexp_replace(line, '^\\| ', ''), ' \\|$', ''),
           ' | ') AS cells
  FROM tbl_lines
),
table_cells AS (
  SELECT doc_id, tbl_offset, CAST(row_idx AS BIGINT) AS row_idx,
         CAST(c AS BIGINT) AS col_idx, cells[c + 1] AS cell
  FROM (SELECT *, UNNEST(range(len(cells))) AS c FROM tbl_rows)
)
"""
