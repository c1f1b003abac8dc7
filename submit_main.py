#!/usr/bin/env python
"""spark-submit entry point (north_rule: "launched via spark-submit
--py-files on multi-executor clusters").

    zip -qr engine.zip gpt4ocontentextraction_spark
    spark-submit --py-files engine.zip submit_main.py \
        --input  <documents parquet/iceberg path> \
        --output <snapshot table root> \
        [--flat] [--skew-threshold N] [--run-id ID]

Reads the documents table (spans shape, or --flat for the flat text shape
which is spanified first), runs the checkpoint-resumable extraction
increment (resume anti-join -> kernel -> atomic commit + lineage metrics),
and prints a one-line JSON summary.

It does not set ``spark.python.daemon.module``, the plain Spark conf with
which ``get_spark`` routes workers through ``worker_daemon`` (no per-task
re-read of pyspark.zip). ``--py-files`` adds the package per task, too late
for the daemon to import it, so with that conf every Python task would
fail. Pass ``--conf spark.python.daemon.module=
gpt4ocontentextraction_spark.worker_daemon`` only when the package is on
the executors' PYTHONPATH when the daemon starts.
"""

from __future__ import annotations

import argparse
import json
import os

import pyarrow.parquet as pq


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--flat", action="store_true",
                    help="force flat (doc_id,text,...) handling; by default"
                         " the shape is detected from the input schema")
    ap.add_argument("--skew-threshold", type=int, default=0,
                    help=">0: route docs above this span count through the"
                         " page-range shard path")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    # on a cluster the SparkSession comes from spark-submit's conf; the
    # factory only fills in local-mode defaults when run standalone.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("gpt4o-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from gpt4ocontentextraction_spark.sources.snapshots import (
        SnapshotTable,
        run_resumable_extraction,
    )
    from gpt4ocontentextraction_spark.spanify import spanify

    docs = spark.read.parquet(args.input)
    if args.flat or "spans" not in docs.columns:
        docs = spanify(docs)

    table = SnapshotTable(args.output)
    if args.skew_threshold > 0:
        from gpt4ocontentextraction_spark.operators.skew import (
            extract_with_skew_defusal,
        )

        out = extract_with_skew_defusal(
            table.pending(docs, spark), span_threshold=args.skew_threshold
        )
        commit = table.append(out, spark, run_id=args.run_id)
    else:
        commit = run_resumable_extraction(spark, docs, table, args.run_id)
    if commit is None:
        print(json.dumps({"status": "up-to-date",
                          "version": table.current_version()}))
        return
    n_parts = pq.read_table(os.path.join(table.metrics_dir, commit)).num_rows
    print(
        json.dumps(
            {
                "status": "committed",
                "commit": commit,
                "version": table.current_version(),
                "metric_partitions": n_parts,
            }
        )
    )


if __name__ == "__main__":
    main()
