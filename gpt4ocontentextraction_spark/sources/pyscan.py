"""Fused Python-native scan+extract source (Spark 4 Python Data Source API).

The classic extraction plan is ``parquet scan (JVM) -> Arrow IPC ->
mapInArrow(kernel) -> sink``: every input byte is decoded by the JVM
parquet reader, converted to Arrow, and shipped over a local socket into
the Python worker before the kernel ever sees it. Measured on this engine
the JVM->Python round trip is the dominant NON-SCALING term of the
pipeline (see BENCH/BASELINE.md decomposition) — the kernel itself and
the parquet decode both parallelize, the per-task IPC does not.

This module removes that leg entirely with the official Spark 4 Python
Data Source API (pyspark.sql.datasource): each *Python worker* opens its
parquet split directly with pyarrow and runs the extraction kernel on
the decoded batches, so the only Arrow IPC left is the OUTPUT spans
crossing Python->JVM once on their way to the sink/downstream operators.
Input bytes never touch the JVM. This is the same fusion a columnar
engine performs when it pushes a projection into the scan — expressed
with a first-class Spark plugin point, not a hand-rolled RDD.

Scale posture: partitions are file groups balanced by on-disk size
(first-fit-decreasing), pyarrow reads stream batch-by-batch (bounded
memory, same MAX_SPANS_PER_KERNEL_BATCH guard as the classic path), and
the reader is embarrassingly parallel — no shuffle, no driver data path.
On a real cluster the same source works unchanged: every executor-side
Python worker reads its own split from shared storage.

Relation to ``operators/extract_files.py``: that module is the terminal
file->file extraction JOB (python reads AND writes the parquet, Spark
distributes paths; nothing returns to the JVM but metrics). This module
is the composable half: a readable SOURCE whose extracted rows feed any
downstream DataFrame operator (chunking, dedup, retrieval) through
Catalyst — the fusion stops at the scan+kernel boundary so the rest of
the plan stays relational.

Reference parity: the fused output is bit-identical to
``extract(spanify(...))`` written to parquet (pinned by the
``extract_spans_pyscan`` gate against the same EXTRACT_SQL oracle and by
tests/test_pyscan.py equality with the classic operator).
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..schema import DOCUMENTS_DDL

SOURCE_NAME = "span_extract"


class _FileGroup(InputPartition):
    def __init__(self, files: Sequence[str]):
        self.files = list(files)


def _balanced_groups(files: list[str], n_groups: int) -> list[list[str]]:
    """First-fit-decreasing by file size: keeps groups even when file
    sizes are skewed (a giant parquet file otherwise serializes one
    task's wall time — same defusal idea as operators/skew.py, applied
    at split-planning time)."""
    sized = sorted(
        ((os.path.getsize(f), f) for f in files), key=lambda t: -t[0]
    )
    groups: list[list[str]] = [[] for _ in range(max(1, n_groups))]
    load = [0] * len(groups)
    for size, f in sized:
        i = load.index(min(load))
        groups[i].append(f)
        load[i] += size
    return [g for g in groups if g]


class SpanExtractDataSource(DataSource):
    """``spark.read.format("span_extract").option("path", dir)``.

    Options:
      path       directory containing spans parquet (doc_id, spans)
      partitions target number of input partitions (default: number of
                 files, capped at 512 groups)
      batch_rows pyarrow read batch size (default 512: 2048-doc batches
                 at 32 concurrent tasks measured GC-bound in the JVM)
      mode       "extract" (default: fused scan+kernel), "raw"
                 (python-native scan only, no kernel),
                 "page_chunks" or "markdown_chunks" (the WHOLE
                 per-document pipeline — scan + extraction + chunk
                 assembly — in one Python stage; only finished chunk rows
                 ever cross into the JVM)
    """

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        if self.options.get("mode") in ("page_chunks", "markdown_chunks"):
            from ..operators.chunk import CHUNKS_DDL

            return CHUNKS_DDL
        return DOCUMENTS_DDL

    def reader(self, schema) -> "SpanExtractReader":
        return SpanExtractReader(self.options)


class SpanExtractReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("span_extract: 'path' option is required")
        self.n_partitions = int(options.get("partitions", 0) or 0)
        self.batch_rows = int(options.get("batch_rows", 512))
        self.mode = options.get("mode", "extract")
        if self.mode not in (
            "extract",
            "raw",
            "page_chunks",
            "markdown_chunks",
        ):
            raise ValueError(f"span_extract: unknown mode {self.mode!r}")

    def partitions(self) -> list[InputPartition]:
        files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        if not files:
            raise FileNotFoundError(
                f"span_extract: no parquet files under {self.path}"
            )
        n = self.n_partitions or min(len(files), 512)
        return [_FileGroup(g) for g in _balanced_groups(files, n)]

    def read(self, partition: _FileGroup) -> Iterator:
        import pyarrow.parquet as pq

        from ..operators.extract import _extract_iter

        def batches():
            for path in partition.files:
                pf = pq.ParquetFile(path)
                yield from pf.iter_batches(
                    batch_size=self.batch_rows, columns=["doc_id", "spans"]
                )

        if self.mode == "raw":
            yield from batches()
        elif self.mode == "extract":
            yield from _extract_iter(batches())
        else:
            from ..operators.chunk import chunk_batches

            yield from chunk_batches(
                _extract_iter(batches()), self.mode.removesuffix("_chunks")
            )


def register_span_extract(spark: SparkSession) -> None:
    """Idempotent registration of the source with this session."""
    registered = getattr(spark, "_span_extract_registered", False)
    if not registered:
        spark.dataSource.register(SpanExtractDataSource)
        spark._span_extract_registered = True


def extract_scan(
    spark: SparkSession,
    path: str,
    partitions: int = 0,
    batch_rows: int = 512,
    mode: str = "extract",
) -> DataFrame:
    """Fused scan+extract over a spans parquet directory: the Python-
    native replacement for ``extract(spark.read.parquet(path))``."""
    register_span_extract(spark)
    reader = (
        spark.read.format(SOURCE_NAME)
        .option("path", path)
        .option("batch_rows", str(batch_rows))
        .option("mode", mode)
    )
    if partitions:
        reader = reader.option("partitions", str(partitions))
    return reader.load()
