"""Scan-parallelism floor for narrow relations feeding Python kernels.

Gate-scale inputs are single-row-group parquet files: Spark cannot split
them, so a scan arrives as 1-2 partitions and every Arrow kernel above
it runs on 1-2 cores however many the session has. The fix is the
guide's "repartition immediately after the read" for unsplittable
inputs (§2.5) — but it must be SIZE-GATED: measured at sf0.1 (600 KB of
text) the probe + exchange + 32-task scheduling cost ~0.3-0.5 s while
the single-core kernel work is ~50-300 ms, so spreading LOSES; it wins
only once per-core work clears the fixed overhead. Below
SPREAD_MIN_BYTES the function returns its input untouched without even
probing the plan; above it, it round-robins up to session parallelism
unless the scan already carries it (any realistically sized production
input — at 100 TB a scan has thousands of row-group splits — so no
exchange is ever added at scale).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# input bytes below which spreading cannot pay for its own exchange
SPREAD_MIN_BYTES = 4 << 20


def _input_bytes(df: DataFrame) -> int | None:
    """Total size of the scan's backing files (local paths only) — a
    cheap proxy for kernel work that avoids compiling the plan to an
    RDD just to count partitions."""
    try:
        total = 0
        for uri in df.inputFiles():
            p = urlparse(uri)
            path = unquote(p.path) if p.scheme in ("", "file") else None
            if path is None:
                return None  # remote storage: size unknown, assume big
            total += os.path.getsize(path)
        return total
    except Exception:
        return None


def spread_small_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition `df` up to the session's parallelism when
    its input is big enough for per-core kernel work to dominate the
    exchange AND the plan has fewer partitions — a no-op otherwise.
    Use on NARROW relations (ids + text) before per-row kernels; the
    exchange moves only the rows the kernel reads anyway, once."""
    nbytes = _input_bytes(df)
    if nbytes is not None and nbytes < SPREAD_MIN_BYTES:
        return df
    spark = df.sparkSession
    target = min_parts or max(8, spark.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
