"""File-granular extraction job: the 100-TB execution shape.

The composable operator (operators/extract.py) reads its batches through
the JVM scan. For a pure extraction pass over an immutable table that
conversion is avoidable: this operator runs one task per input file,
driven by ``spark.range(n_files)`` — each task maps its id to the file
name (the sorted name list travels in the pickled closure) and streams
the file's batches with pyarrow (``ParquetFile.iter_batches``) through
the task body the composable commit runs too
(``operators.extract.extract_file``: the span-capped kernel, then
``write_counted``). Spark provides scheduling and retries; bytes never
cross the JVM boundary (only file ids and per-file metrics do), and the
plan is Range -> MapInArrow with no Exchange.

Fault tolerance — the CORRECTNESS mechanism is the snapshot manifest, not
rename: callers route visibility through :func:`run_file_extraction`,
which writes into an uncommitted SnapshotTable commit dir and publishes
the manifest only after every file reports back, so a crashed or torn run
is never visible to readers (object-store safe: no rename in the commit
path). Within the uncommitted dir, each task attempt streams its output
to a unique hidden temp and renames it into place
(``sources.snapshots.write_counted``) — POSIX-only hygiene that stops
two racing attempts of the same task from interleaving bytes into one
file; a failed attempt's temp is unlinked and never reads as data. On
object stores (PUT is atomic per object) the rename degrades to
copy+delete, but correctness never depended on it.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ..sources.snapshots import PART_DDL, PART_SCHEMA
from .extract import extract_file

# partition_id is the file's index in sorted name order
FILE_SCHEMA = PART_SCHEMA.append(pa.field("path", pa.string()))


def extract_parquet_files(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
) -> DataFrame:
    """Extract every parquet file under input_dir into output_dir
    (same file names). Returns per-file lineage metrics; the caller
    commits via SnapshotTable after collecting them."""
    files = sorted(
        f for f in os.listdir(input_dir) if f.endswith(".parquet")
    )
    os.makedirs(output_dir, exist_ok=True)
    ids = spark.range(len(files), numPartitions=max(len(files), 1))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for i in b.column("id").to_pylist():
                name = files[i]
                source = pq.ParquetFile(os.path.join(input_dir, name))
                counts = extract_file(
                    source.iter_batches(batch_size=8192),
                    os.path.join(output_dir, name),
                )
                yield pa.RecordBatch.from_pylist(
                    [dict(counts, partition_id=i, path=name)],
                    schema=FILE_SCHEMA,
                )

    return ids.mapInArrow(run, PART_DDL + ", path string")


def run_file_extraction(
    spark: SparkSession,
    input_dir: str,
    table,
    run_id: str | None = None,
) -> str:
    """Object-store-safe commit wrapper: extract every file into an
    UNCOMMITTED SnapshotTable commit dir, then publish the manifest once
    all per-file metrics have reported back (``table.commit``). Readers
    resolve the manifest (table.read()), so a crash mid-run leaves
    nothing visible and a re-run under a new run_id replaces nothing. An
    input dir without parquet files commits an empty snapshot.

    ``table`` is a sources.snapshots.SnapshotTable.
    """
    return table.commit(
        lambda out: extract_parquet_files(spark, input_dir, out),
        run_id,
        keep_empty=True,
    )
