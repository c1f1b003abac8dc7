"""Snapshot-committed table: atomic appends + resume + lineage metrics.

The reference checkpoints by writing ``status.json`` to blob storage after
every pipeline stage (docker/main.py:253-257) and resumes by skipping pages
whose output file exists (doc2md_utils.py:212-217). The Spark-native
equivalent is a table format with atomic commit snapshots — Iceberg in
production. The Iceberg runtime jar is not in this sandbox, so this module
implements the same contract on plain parquet:

- data files land in ``{root}/data/{commit_id}/`` (invisible until
  committed); each Spark write task writes its own file with pyarrow
  (:func:`write_counted`: hidden temp + rename) and returns one lineage
  row counted from the batches it wrote, so no Spark job runs after the
  write. Every commit path ends in :meth:`SnapshotTable.commit`;
  :func:`run_resumable_extraction` extracts and writes in one task
- a commit atomically publishes a new manifest version
  ``{root}/_manifest/v{N}.json`` (write-temp + ``os.link``) listing all
  committed commit dirs — readers resolve the highest version, so a
  crashed writer leaves no partial state visible (snapshot isolation)
- the per-partition lineage + extraction metrics (north_rule:
  "per-partition lineage and extraction metrics ... alongside commit
  snapshots") land as one parquet file under ``{root}/_metrics/{commit_id}/``,
  written by the driver with pyarrow from the rows the tasks returned
- resume = left-anti join of the input against committed doc_ids
  (broadcast when small), so re-running after an interrupt processes only
  missing documents and never duplicates (M6).

Write granularity is the document (one row), so a failed partition never
commits partial documents (SURVEY.md §7 hard point 3).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One metric row per committed partition (or per file on the file path).
METRICS_SCHEMA = pa.schema(
    [
        pa.field("run_id", pa.string()),
        pa.field("partition_id", pa.int32()),
        pa.field("n_docs", pa.int64()),
        pa.field("n_spans_out", pa.int64()),
        pa.field("n_tables_built", pa.int64()),
        pa.field("n_media_emitted", pa.int64()),
    ]
)
# A write task's metric row; the driver adds the run id.
PART_SCHEMA = METRICS_SCHEMA.remove(0)
PART_DDL = (
    "partition_id int, n_docs bigint, n_spans_out bigint,"
    " n_tables_built bigint, n_media_emitted bigint"
)


def write_counted(batches: Iterable[pa.RecordBatch], path: str) -> dict:
    """Write the (doc_id, spans) batches to one parquet file at ``path``
    and return the lineage counts of what was written (the four ``n_*``
    columns of METRICS_SCHEMA). No rows, no file.

    The bytes go to a hidden ``.{name}.inprogress-{uuid}`` temp in the
    same dir (Spark's file listing skips ``.``/``_`` names, so a reader
    never lists it), renamed into place once closed; when the write
    raises, the temp is unlinked, so a failed task attempt leaves nothing
    behind."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.inprogress-{uuid.uuid4().hex}")
    counts = {"n_docs": 0, "n_spans_out": 0, "n_tables_built": 0,
              "n_media_emitted": 0}
    writer = None
    try:
        for b in batches:
            if not len(b):
                continue
            if writer is None:
                writer = pq.ParquetWriter(tmp, b.schema)
            writer.write_batch(b)
            kind = pc.struct_field(pc.list_flatten(b.column("spans")), "kind")
            counts["n_docs"] += len(b)
            counts["n_spans_out"] += len(kind)
            counts["n_tables_built"] += pc.sum(pc.equal(kind, "table")).as_py() or 0
            counts["n_media_emitted"] += pc.sum(pc.equal(kind, "media")).as_py() or 0
        if writer is not None:
            writer.close()
            os.rename(tmp, path)
    except BaseException:
        if writer is not None:
            with contextlib.suppress(Exception):
                writer.close()
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise
    return counts


def write_partition(batches, out_dir: str, write=write_counted):
    """A commit's mapInArrow task: ``write`` (:func:`write_counted` or
    operators.extract.extract_file) the batches to
    ``{out_dir}/part-{partition_id:05d}.parquet``; yield one PART_SCHEMA
    row, or none for an empty partition (which writes no file)."""
    pid = TaskContext.get().partitionId()
    counts = write(batches, os.path.join(out_dir, f"part-{pid:05d}.parquet"))
    if counts["n_docs"]:
        yield pa.RecordBatch.from_pylist(
            [dict(counts, partition_id=pid)], schema=PART_SCHEMA
        )


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifest")
        self.metrics_dir = os.path.join(root, "_metrics")
        for d in (self.data_dir, self.manifest_dir, self.metrics_dir):
            os.makedirs(d, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _versions(self) -> list[int]:
        out = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else 0

    def committed_dirs(self) -> list[str]:
        v = self.current_version()
        if v == 0:
            return []
        with open(os.path.join(self.manifest_dir, f"v{v}.json")) as f:
            manifest = json.load(f)
        return [os.path.join(self.data_dir, c) for c in manifest["commits"]]

    def _publish(self, new_commit: str, meta: dict) -> int:
        """Optimistic-concurrency publish: os.link fails with EEXIST if
        another writer took the version first (os.rename would silently
        overwrite and LOSE their commit) — on conflict, re-read and retry
        on top of the winner, like Iceberg's commit loop."""
        while True:
            v = self.current_version()
            commits = []
            if v:
                with open(os.path.join(self.manifest_dir, f"v{v}.json")) as f:
                    commits = json.load(f)["commits"]
            manifest = {
                "version": v + 1,
                "commits": commits + [new_commit],
                "commit_meta": meta,
            }
            tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            target = os.path.join(self.manifest_dir, f"v{v + 1}.json")
            try:
                os.link(tmp, target)
                return v + 1
            except FileExistsError:
                continue  # lost the race; rebase on the new manifest
            finally:
                os.unlink(tmp)

    # -- read path ---------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame | None:
        dirs = self.committed_dirs()
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def committed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        df = self.read(spark)
        return None if df is None else df.select("doc_id").distinct()

    def pending(
        self,
        input_df: DataFrame,
        spark: SparkSession,
        broadcast_done: bool | None = None,
    ) -> DataFrame:
        """Resume anti-join: input docs not yet committed (M6).

        Broadcast is decided from the committed data SIZE, not assumed:
        after many commits the distinct doc_id set can exceed executor
        memory, so the hint is applied only while the committed files stay
        under spark.sql.autoBroadcastJoinThreshold (callers can force
        either way via ``broadcast_done``). Past the threshold the plan
        falls back to a shuffled anti-join, which is the correct shape for
        a huge committed set.
        """
        done = self.committed_doc_ids(spark)
        if done is None:
            return input_df
        if broadcast_done is None:
            raw = spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
            units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
            s = raw.strip().lower().removesuffix("b")
            mult = units.get(s[-1:], 1)
            try:
                threshold = int(s.rstrip("kmg") or "0") * mult
            except ValueError:
                threshold = 10 << 20
            # estimate the BROADCAST side (the distinct doc_id projection),
            # not the whole committed files: whole-file bytes include the
            # heavy spans column and overshoot by orders of magnitude,
            # dropping to a shuffled anti-join long before the id set is
            # actually too big. Parquet footers give the doc_id column
            # chunk sizes directly.
            broadcast_done = 0 <= self._doc_id_bytes() <= max(threshold, 0)
        if broadcast_done:
            done = F.broadcast(done)
        return input_df.join(done, "doc_id", "left_anti")

    def _doc_id_bytes(self) -> int:
        """Uncompressed size of the doc_id column across committed files,
        from parquet footer column-chunk stats — the size that actually
        drives the resume anti-join's broadcast side."""
        total = 0
        for d in self.committed_dirs():
            for root, _, fs in os.walk(d):
                for f in fs:
                    if not f.endswith(".parquet"):
                        continue
                    meta = pq.ParquetFile(os.path.join(root, f)).metadata
                    for rg in range(meta.num_row_groups):
                        g = meta.row_group(rg)
                        for ci in range(g.num_columns):
                            col = g.column(ci)
                            if col.path_in_schema == "doc_id":
                                total += col.total_uncompressed_size
        return total

    # -- write path --------------------------------------------------------

    def prepare_commit_dir(self, commit_id: str) -> str:
        """Create (after clearing a crashed uncommitted leftover) the data
        dir for commit_id; refuse to reuse an already-committed id."""
        out = os.path.join(self.data_dir, commit_id)
        if os.path.exists(out):
            if commit_id in {
                os.path.basename(d) for d in self.committed_dirs()
            }:
                raise ValueError(f"{commit_id} is already committed")
            # leftover from a crashed attempt with the same run_id
            # (e.g. a retried streaming epoch): uncommitted, safe to clear
            shutil.rmtree(out)
        os.makedirs(out)
        return out

    def write_metrics(self, commit_id: str, rows: list[dict]) -> None:
        """Write the commit's metric rows (already on the driver) as one
        parquet file in ``_metrics/{commit_id}/``: temp file + rename,
        after clearing a crashed attempt's leftover dir. Keys outside
        METRICS_SCHEMA are ignored."""
        out = os.path.join(self.metrics_dir, commit_id)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = os.path.join(out, f".inprogress-{uuid.uuid4().hex}")
        pq.write_table(pa.Table.from_pylist(rows, schema=METRICS_SCHEMA), tmp)
        os.rename(tmp, os.path.join(out, "part-00000.parquet"))

    def commit(
        self,
        write: Callable[[str], DataFrame],
        run_id: str | None = None,
        keep_empty: bool = False,
    ) -> str | None:
        """The commit tail every write path shares: collect ``write(out)``,
        whose tasks write the data files into the uncommitted dir ``out``
        and return PART_SCHEMA rows (the one Spark job), write the rows
        with ``write_metrics``, publish the manifest. 0 docs removes
        ``out`` and returns None, unless ``keep_empty``."""
        run_id = run_id or uuid.uuid4().hex
        commit_id = f"c-{run_id}"
        out = self.prepare_commit_dir(commit_id)
        rows = [dict(r.asDict(), run_id=run_id) for r in write(out).collect()]
        n_docs = sum(r["n_docs"] for r in rows)
        if not n_docs and not keep_empty:
            shutil.rmtree(out)
            return None
        self.write_metrics(commit_id, rows)
        meta = {"run_id": run_id, "n_docs": n_docs, "n_files": len(rows)}
        self._publish(commit_id, meta)
        return commit_id

    def append(
        self,
        df: DataFrame,
        spark: SparkSession,
        run_id: str | None = None,
    ) -> str | None:
        """Commit any frame of (doc_id, spans) rows, one file and metric
        row per partition (:func:`write_partition`). Plain extraction
        commits use :func:`run_resumable_extraction`, which skips the
        extra Python stage this costs."""
        return self.commit(
            lambda out: df.mapInArrow(
                functools.partial(write_partition, out_dir=out), PART_DDL
            ),
            run_id,
        )

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        dirs = [
            os.path.join(self.metrics_dir, c)
            for c in (os.path.basename(d) for d in self.committed_dirs())
        ]
        dirs = [d for d in dirs if os.path.exists(d)]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)


def run_resumable_extraction(
    spark: SparkSession,
    documents: DataFrame,
    table: SnapshotTable,
    run_id: str | None = None,
) -> str | None:
    """One checkpoint-resumable extraction increment: pending docs ->
    extract and write in one Python stage -> atomic commit. Returns the
    commit id (None if up to date)."""
    from ..operators.extract import extract

    todo = table.pending(documents, spark)
    return table.commit(lambda out: extract(todo, into=out), run_id)
