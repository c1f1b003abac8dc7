"""Runs one registered query both ways over the same parquet directory: the
Spark operator (driver_contract's QUERIES / EXTRA_QUERIES entry) and its
registered DuckDB oracle, with each table registered as a view under its
file name. Rows come back canonicalised the way the driver's gate compares
them."""

from __future__ import annotations

import decimal
import math
import os

import duckdb
import pyarrow.parquet as papq


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    # Surface type-representation drift the driver's hash gate would catch:
    # Decimal vs float compare equal in Python but hash-differ on the driver.
    if isinstance(v, decimal.Decimal):
        return ("DECIMAL", str(v))
    return v


def _null_safe(row):
    # NULLs sort first within a column and never compare with values
    return tuple((v is not None, v) for v in row)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=_null_safe
    )


def rows_in_order(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return [tuple(canon(r[i]) for i in order) for r in rows]


def write_tables(directory, tables) -> str:
    """Write ``{name: pyarrow.Table}`` as ``<directory>/<name>.parquet``,
    the layout the registered queries read."""
    for name, table in tables.items():
        papq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return str(directory)


def registered(name: str):
    """(query callable, oracle SQL) for a QUERIES or EXTRA_QUERIES name."""
    from gpt4ocontentextraction_spark.driver_contract import (
        EXTRA_ORACLES,
        EXTRA_QUERIES,
        ORACLES,
        QUERIES,
    )

    if name in QUERIES:
        return QUERIES[name], ORACLES[name]
    return EXTRA_QUERIES[name], EXTRA_ORACLES[name]


def run_both(spark, name: str, sf_dir: str, ordered: bool = False):
    """(Spark rows, oracle rows) of registered query ``name`` over the
    tables in ``sf_dir``, columns aligned by name. As sorted multisets,
    or in emitted order when ``ordered``."""
    fn, sql = registered(name)
    df = fn(spark, sf_dir)
    spark_cols, spark_rows = df.columns, df.collect()
    with duckdb.connect() as con:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.sql(
                    f"CREATE VIEW {f[:-len('.parquet')]} AS"
                    f" SELECT * FROM '{os.path.join(sf_dir, f)}'"
                )
        rel = con.sql(sql)
        duck_cols, duck_rows = rel.columns, rel.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    shape = rows_in_order if ordered else rows_to_multiset
    return shape(spark_rows, spark_cols), shape(duck_rows, duck_cols)
