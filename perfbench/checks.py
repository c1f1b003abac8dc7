"""Output checks, computed in DuckDB and plain Python outside timed ops."""

from __future__ import annotations

import decimal
import glob
import math
import os

import duckdb


def connect(tmp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='1GB'")
    return con


def committed_files(table) -> list[str]:
    """Parquet data files a SnapshotTable's current manifest makes visible."""
    return sorted(
        f for d in table.committed_dirs()
        for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )


def table_digest(con, files: list[str]) -> dict:
    """Row count, distinct doc ids and an order-free content hash of a
    committed (doc_id, spans) table."""
    n, n_ids, h = con.execute(
        "SELECT count(*), count(DISTINCT doc_id),"
        " coalesce(sum(hash(doc_id, spans)), 0)::VARCHAR"
        " FROM read_parquet($files)",
        {"files": files},
    ).fetchone()
    return {"rows": n, "doc_ids": n_ids, "hash": h}


def canon(v):
    """Value canonicalisation of the repo's oracle-parity test: floats to
    9 decimals, NaN by name, Decimal tagged so it never equals a float."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return ("DECIMAL", str(v))
    return v


def row_multiset(rows, colnames: list[str]) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def arrow_multiset(table) -> list[tuple]:
    cols = [c.to_pylist() for c in table.columns]
    return row_multiset(list(zip(*cols)), table.column_names)


def first_difference(got: list, want: list) -> str:
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    bad = next(((a, b) for a, b in zip(got, want) if a != b), None)
    return f"first mismatch {bad!r}"
