"""Streaming ingest: the same extraction operator over a file-source
stream, micro-batches committed through the snapshot table, resumable via
checkpoint (drives availableNow to completion, then adds more files)."""

from __future__ import annotations

import os

from gpt4ocontentextraction_spark.fixtures import corpus_to_spark, make_corpus
from gpt4ocontentextraction_spark.operators.extract import extract
from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable
from gpt4ocontentextraction_spark.streaming.ingest import stream_extract


def test_stream_extract_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    table = SnapshotTable(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    pdf, _ = make_corpus(seed=21, docs_per_class=2, include_giant=False)
    docs = corpus_to_spark(spark, pdf)
    first, second = docs.limit(6), docs.subtract(docs.limit(6))
    first.write.parquet(in_dir, mode="append")

    q = stream_extract(spark, in_dir, table, ckpt)
    q.awaitTermination(120)
    got1 = table.read(spark)
    assert got1.count() == 6

    # late-arriving files: restart from the same checkpoint
    second.write.mode("append").parquet(in_dir)
    q2 = stream_extract(spark, in_dir, table, ckpt)
    q2.awaitTermination(120)
    final = table.read(spark)
    assert final.count() == docs.count()
    assert final.select("doc_id").distinct().count() == docs.count()

    # streamed result == batch result
    batch = {
        r["doc_id"]: [tuple(s) for s in r["spans"]] for r in extract(docs).collect()
    }
    streamed = {
        r["doc_id"]: [tuple(s) for s in r["spans"]] for r in final.collect()
    }
    assert batch == streamed


def test_replayed_epoch_after_publish_is_skipped(spark, tmp_path):
    """A crash after an epoch's commit was published but before the
    checkpoint logged it makes Spark replay the epoch under the same id;
    the sink skips it instead of failing on the committed commit id."""
    in_dir = str(tmp_path / "in")
    table = SnapshotTable(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")
    pdf, _ = make_corpus(seed=22, docs_per_class=1, include_giant=False)
    corpus_to_spark(spark, pdf).coalesce(1).write.parquet(in_dir)

    stream_extract(spark, in_dir, table, ckpt).awaitTermination(120)
    n_docs, version = table.read(spark).count(), table.current_version()
    assert n_docs == len(pdf) and version >= 1

    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):  # the crash: epoch not logged
        os.remove(os.path.join(commits, f))
    q = stream_extract(spark, in_dir, table, ckpt)
    q.awaitTermination(120)
    assert q.exception() is None
    assert table.current_version() == version
    assert table.read(spark).count() == n_docs
    assert os.path.exists(os.path.join(commits, last))  # the epoch re-ran
