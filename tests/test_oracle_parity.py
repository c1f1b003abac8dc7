"""Replicates the driver's correctness gate locally: run every queries()
entry on Spark and its oracle_sql() in DuckDB at sf0.001 (fast) and compare
row multisets exactly. sf0.01 is exercised in the same way by the driver."""

from __future__ import annotations

import os

import duckdb
import pytest
from oracle_spec import rows_to_multiset, run_both

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return c


def _entry_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_fits_driver_sweep_cap():
    """The driver's correctness sweep records rows for at most the first
    DRIVER_SWEEP_CAP registered queries (CORRECTNESS_r04 silently dropped
    positions 50-51) — every driver-facing gate must fit under the cap
    and carry an oracle, or it ships unverified."""
    from gpt4ocontentextraction_spark.driver_contract import (
        DRIVER_SWEEP_CAP,
        ORACLES,
        QUERIES,
    )

    assert len(QUERIES) <= DRIVER_SWEEP_CAP
    assert set(QUERIES) == set(ORACLES)


def test_all_queries_match_oracles(spark, con):
    mod = _entry_module()
    qs = dict(mod.queries())
    oracles = dict(mod.oracle_sql())
    # the alternate-path callables outside the driver-facing registry
    # (see DRIVER_SWEEP_CAP) get the same local parity sweep
    from gpt4ocontentextraction_spark.driver_contract import (
        EXTRA_ORACLES,
        EXTRA_QUERIES,
    )

    qs.update(EXTRA_QUERIES)
    oracles.update(EXTRA_ORACLES)
    assert qs, "no queries registered"
    from gpt4ocontentextraction_spark.cached import release_all

    failures = []
    for name, fn in sorted(qs.items()):
        # EXTRA_QUERIES are unwrapped (mod.queries() entries release the
        # previous query's persists themselves); keep the sweep at the
        # documented <= one query's persists either way
        release_all()
        df = fn(spark, SF_DIR)
        spark_cols = df.columns
        spark_rows = [tuple(r) for r in df.collect()]
        if name not in oracles:
            assert len(spark_rows) >= 0  # rows-only check
            continue
        rel = con.sql(oracles[name])
        duck_cols = rel.columns
        duck_rows = rel.fetchall()
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(f"{name}: columns {spark_cols} vs {duck_cols}")
            continue
        g = rows_to_multiset(spark_rows, spark_cols)
        w = rows_to_multiset(duck_rows, duck_cols)
        if g != w:
            n_bad = sum(1 for a, b in zip(g, w) if a != b)
            sample = next(((a, b) for a, b in zip(g, w) if a != b), None)
            failures.append(
                f"{name}: rows spark={len(g)} duck={len(w)}"
                f" mismatches~{n_bad} sample={sample!r}"
            )
    assert not failures, "\n".join(failures)


def test_entry_smoke(spark):
    """entry() is the extract_spans operator at sf0.001: its rows, and a
    parquet FileScan feeding the kernel's MapInArrow with no Python
    data-source scan."""
    from gpt4ocontentextraction_spark.driver_contract import QUERIES

    mod = _entry_module()
    df = mod.entry(spark)
    assert df.columns == ["doc_id", "kind", "text", "media_ref", "offset"]
    got = sorted(map(tuple, df.collect()))
    assert got
    want = QUERIES["extract_spans"](spark, "/root/testdata/sf0.001")
    assert got == sorted(map(tuple, want.collect()))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FileScan parquet" in plan, plan
    assert plan.index("MapInArrow") < plan.index("FileScan parquet"), plan
    assert "BatchScan" not in plan and "(Python)" not in plan, plan


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_pack_sequences_rows_in_order(spark, scale):
    """The pack_sequences gate equals its oracle row for row AND in
    order (doc_id order) at every fixture scale, pinning this side of a
    driver-reported hash mismatch."""
    got, want = run_both(
        spark, "pack_sequences", f"/root/testdata/{scale}", ordered=True
    )
    assert got == want and len(got) > 0
