"""Runs extraction both ways on one Arrow batch: the Arrow kernel behind
extract() (operators.extract._extract_batch) and its DuckDB spec
(oracles.extract_sql_over) over the same batch registered as a table."""

from __future__ import annotations

import duckdb
import pyarrow as pa

from gpt4ocontentextraction_spark import oracles
from gpt4ocontentextraction_spark.operators.extract import _extract_batch

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

# NULL text/media_ref/offset read as '' and 0: the contract extract._flatten
# applies. A NULL kind stays NULL; the spec's step 4 drops the span.
_INPUT_CTE = """spanified AS (
  SELECT doc_id,
    s.kind AS kind,
    COALESCE(s.text, '') AS text,
    COALESCE(s.media_ref, '') AS media_ref,
    COALESCE(s."offset", 0) AS "offset"
  FROM (SELECT doc_id, unnest(spans) AS s FROM span_batch)
)"""
_ORACLE_SQL = (
    f"WITH {oracles.extract_sql_over(_INPUT_CTE)}"
    ' SELECT doc_id, kind, text, media_ref, "offset" FROM extracted'
    ' ORDER BY doc_id, "offset"'
)


def extract_both(rows: list[dict]) -> tuple[list[dict], list[dict]]:
    """``rows``: ``[{"doc_id", "spans": [{kind, text, media_ref, offset}]}]``
    with distinct doc_ids. Returns (Arrow kernel output, oracle output), each
    as rows of the same shape in input order."""
    batch = pa.RecordBatch.from_pylist(rows, schema=_SCHEMA)
    spans = {r["doc_id"]: [] for r in rows}
    with duckdb.connect() as con:
        con.register("span_batch", pa.Table.from_batches([batch]))
        result = con.execute(_ORACLE_SQL).fetchall()
    for doc_id, kind, text, media_ref, off in result:
        spans[doc_id].append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": off}
        )
    oracle = [
        {"doc_id": r["doc_id"], "spans": spans[r["doc_id"]]} for r in rows
    ]
    return _extract_batch(batch).to_pylist(), oracle


def extract_document(spans: list[dict]) -> list[dict]:
    """One document's output spans from the Arrow kernel, after checking
    that the oracle emits the same spans."""
    arrow, oracle = extract_both([{"doc_id": "d", "spans": spans}])
    assert arrow == oracle
    return arrow[0]["spans"]
