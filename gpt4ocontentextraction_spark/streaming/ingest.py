"""Structured Streaming incremental ingest (optional extension — the
reference is batch-per-job, SURVEY.md §2.7; north_rule requires
checkpoint-resumable BATCH, which sources/snapshots.py provides. This
module adds the incremental path for continuously-arriving documents).

Design: a file-source stream over the documents table directory;
``foreachBatch`` commits each micro-batch of raw documents with the batch
path's own increment (``run_resumable_extraction``: resume anti-join, then
extract and write in one Python stage), so the batch and streaming paths
share one sink with exactly-once visibility (epoch-id-keyed commit ids make
retried micro-batches idempotent) and a replayed epoch's already-committed
documents are dropped before they are extracted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schema import DOCUMENTS_SCHEMA
from ..sources.snapshots import SnapshotTable, run_resumable_extraction


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Start the incremental extraction stream; returns the query handle."""
    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch-keyed commit id: an epoch replayed after its commit was
        # published (crash before the checkpoint's commit log) is skipped;
        # one replayed after a crash mid-write clears its uncommitted dir
        # and commits again, keeping the sink effectively exactly-once.
        run_id = f"epoch-{epoch_id}"
        if os.path.join(table.data_dir, f"c-{run_id}") in table.committed_dirs():
            return
        run_resumable_extraction(batch_df.sparkSession, batch_df, table, run_id)

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
