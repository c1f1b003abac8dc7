"""File-granular extraction job: the 100-TB execution shape.

The composable operator (operators/extract.py) flows data through the
JVM: scan -> Arrow -> kernel -> Arrow -> sink. For a pure extraction pass
over an immutable table that double conversion is avoidable: this operator
runs one task per input file, driven by ``spark.range(n_files)`` — each
task maps its id to the file name (the sorted name list travels in the
pickled closure), reads the file with pyarrow, runs the same
`_extract_batch` kernel, and writes the output file directly. Spark
provides scheduling and retries; bytes never cross the JVM boundary (only
file ids and per-file metrics do), and the plan is Range -> MapInArrow
with no Exchange. This is the pattern native-engine vendors use to push
whole stages out of the JVM, expressed with plain mapInArrow.

The composable counterpart is ``sources/pyscan.py``: a Spark 4 Python
Data Source whose fused scan+extract output feeds downstream DataFrame
operators through Catalyst (this module terminates in files; that one
returns a DataFrame).

Fault tolerance — the CORRECTNESS mechanism is the snapshot manifest, not
rename: callers route visibility through :func:`run_file_extraction`,
which writes into an uncommitted SnapshotTable commit dir and publishes
the manifest only after every file reports back, so a crashed or torn run
is never visible to readers (object-store safe: no rename in the commit
path). Within the uncommitted dir, each task attempt streams its output
batches to a unique hidden ``.{name}.inprogress-*`` temp and renames into
place (``sources.snapshots.write_counted``, the writer
``SnapshotTable.append``'s tasks use too) — POSIX-only hygiene that stops
two racing attempts of the same task from interleaving bytes into one
file. The temp is hidden from Spark's file listing and unlinked when the
write raises, so a failed attempt never reads as data. On object stores
(where PUT is already atomic per object) the rename degrades to
copy+delete but correctness never depended on it.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from ..sources.snapshots import write_counted

METRICS_DDL = (
    "path string, n_docs long, n_spans_out long,"
    " n_tables_built long, n_media_emitted long"
)


def extract_parquet_files(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    batch_rows: int = 8192,
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
        import pyarrow.parquet as pq

        from gpt4ocontentextraction_spark.operators.extract import (
            _extract_batch,
        )

        for b in batches:
            for i in b.column("id").to_pylist():
                name = files[i]
                table = pq.read_table(os.path.join(input_dir, name))
                counts = write_counted(
                    (
                        _extract_batch(x)
                        for x in table.to_batches(max_chunksize=batch_rows)
                    ),
                    os.path.join(output_dir, name),
                )
                yield pa.RecordBatch.from_pylist([{"path": name, **counts}])

    return ids.mapInArrow(run, METRICS_DDL)


def run_file_extraction(
    spark: SparkSession,
    input_dir: str,
    table,
    run_id: str | None = None,
    batch_rows: int = 8192,
) -> str:
    """Object-store-safe commit wrapper: extract every file into an
    UNCOMMITTED SnapshotTable commit dir, then publish the manifest once
    all per-file metrics have reported back. Readers resolve the manifest
    (table.read()), so a crash mid-run leaves nothing visible and a re-run
    under a new run_id replaces nothing — rename atomicity is not part of
    the correctness argument.

    ``table`` is a sources.snapshots.SnapshotTable.
    """
    run_id = run_id or uuid.uuid4().hex
    commit_id = f"c-{run_id}"
    out_dir = table.prepare_commit_dir(commit_id)
    metrics = extract_parquet_files(
        spark, input_dir, out_dir, batch_rows=batch_rows
    ).collect()
    # per-file lineage in the same shape append() writes, so
    # table.metrics() covers file-granular commits too (the file is this
    # job's partition: partition_id is its index in sorted name order,
    # the order range partitions are collected in)
    table.write_metrics(
        commit_id,
        [
            dict(m.asDict(), run_id=run_id, partition_id=i)
            for i, m in enumerate(metrics)
        ],
    )
    n_docs = sum(m["n_docs"] for m in metrics)
    table._publish(
        commit_id,
        {"run_id": run_id, "n_docs": n_docs, "n_files": len(metrics)},
    )
    return commit_id
