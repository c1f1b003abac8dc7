"""Driver contract for the spark-graft builder (PySpark target).

entry(spark) runs the flagship extraction pipeline on sf0.001;
queries()/oracle_sql() pair every implemented operator (SURVEY.md §2)
with a DuckDB-checkable relational equivalent. The registry lives in
gpt4ocontentextraction_spark.driver_contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ensure_worker_path() -> None:
    cur = os.environ.get("PYTHONPATH", "")
    if _REPO not in cur.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_REPO}{os.pathsep}{cur}" if cur else _REPO


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable in this session's Python workers even if
    the JVM was launched elsewhere without PYTHONPATH: zip the package and
    addPyFile it (idempotent per session)."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import zipfile

    zip_path = os.path.join("/tmp", "gpt4ocontentextraction_spark_pkg.zip")
    pkg = os.path.join(_REPO, "gpt4ocontentextraction_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, _REPO))
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context
    _SHIPPED.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the extraction operator (`extract_spans`) on sf0.001, a
    parquet scan feeding the extraction kernel's one mapInArrow."""
    _ensure_worker_path()
    _ship_package(spark)
    from gpt4ocontentextraction_spark.driver_contract import QUERIES

    return QUERIES["extract_spans"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_worker_path()
    from gpt4ocontentextraction_spark.driver_contract import QUERIES

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            # release the PREVIOUS query's operator-internal persists
            # (its result is materialized by the time the driver asks
            # for the next query), so a 49-query gate sweep never holds
            # more than one query's cache — see cached.py.
            from gpt4ocontentextraction_spark.cached import release_all

            release_all()
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from gpt4ocontentextraction_spark.driver_contract import ORACLES

    return dict(ORACLES)
