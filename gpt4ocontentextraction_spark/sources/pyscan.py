"""Python data source that reads a spans parquet directory with pyarrow and
runs the extraction kernel in the reading worker; kept only for the
benchmark's traced pyscan probe until that probe is retargeted (ROADMAP
direction 1(a))."""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..schema import DOCUMENTS_DDL

SOURCE_NAME = "span_extract"
MAX_GROUPS = 512
# pyarrow read batch size: 2048-doc batches at 32 concurrent tasks
# measured GC-bound in the JVM
BATCH_ROWS = 512


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
    """``spark.read.format("span_extract").option("path", dir)`` over a
    directory of spans parquet (doc_id, spans)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return DOCUMENTS_DDL

    def reader(self, schema) -> "SpanExtractReader":
        return SpanExtractReader(self.options)


class SpanExtractReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("span_extract: 'path' option is required")

    def partitions(self) -> list[InputPartition]:
        files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        if not files:
            raise FileNotFoundError(
                f"span_extract: no parquet files under {self.path}"
            )
        groups = _balanced_groups(files, min(len(files), MAX_GROUPS))
        return [_FileGroup(g) for g in groups]

    def read(self, partition: _FileGroup) -> Iterator:
        import pyarrow.parquet as pq

        from ..operators.extract import _extract_iter

        def batches():
            for path in partition.files:
                pf = pq.ParquetFile(path)
                yield from pf.iter_batches(
                    batch_size=BATCH_ROWS, columns=["doc_id", "spans"]
                )

        yield from _extract_iter(batches())


def extract_scan(spark: SparkSession, path: str) -> DataFrame:
    """Scan and extract a spans parquet directory in the Python worker:
    the rows of ``extract(spark.read.parquet(path))``."""
    if not getattr(spark, "_span_extract_registered", False):
        spark.dataSource.register(SpanExtractDataSource)
        spark._span_extract_registered = True
    return spark.read.format(SOURCE_NAME).option("path", path).load()
