"""bulk_extract: backfill heavy documents into fresh SnapshotTables.

One pass commits the same spanified input twice at local[nproc]: through
``sources.snapshots.run_resumable_extraction`` (pending -> extract ->
append) and through ``operators.extract_files.run_file_extraction``. Each
commit goes to a fresh table. The first pass after set-up is the cold pass
(it starts the Python workers); the passes after it are the warm ones.

The spans input is made in set-up by the package's ``spanify`` from
seeded flat heavy documents.

The traced run adds one traced pass, the scan / Arrow round trip / pyscan /
in-process kernel probes, and a local[1] level in a fresh JVM for the
1 -> nproc scaling ratios.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from gpt4ocontentextraction_spark.spanify import spanify

import checks
import inputs
import planmetrics
from common import median, nproc

# Warm passes get faster as the JIT settles, so the median of a pass count
# that flips with host speed would jump: a warm pass takes 2.5-6 s on 4
# vCPUs, and two of them always outlast a 4 s run.
MIN_WARM = 2

# docs: heavy documents per commit; repeat: base texts per heavy doc
# (~54 words each); sample: docs checked span by span against DuckDB.
SIZES = {
    "full": {"docs": 4000, "repeat": 20, "base": 2000, "sample": 16},
    "smoke": {"docs": 200, "repeat": 20, "base": 200, "sample": 8},
}


def _extract_oracle_sql() -> str:
    from gpt4ocontentextraction_spark import oracles

    return (
        f"WITH {oracles.EXTRACT_SQL} SELECT doc_id, kind, text, media_ref,"
        ' CAST("offset" AS BIGINT) AS offset FROM extracted'
    )


def commit_pass(b, spans_dir: str, tag: str) -> dict:
    """Commit the input once per path into fresh tables; returns
    (seconds, table) per path and the CPU seconds of the pass."""
    from gpt4ocontentextraction_spark.operators.extract_files import (
        run_file_extraction,
    )
    from gpt4ocontentextraction_spark.sources.snapshots import (
        SnapshotTable,
        run_resumable_extraction,
    )

    spark = b.spark
    out = {}
    tracer = b.tracer
    c = b.cpu_s()
    with tracer.span("bulk.composable"):
        t = time.perf_counter()
        table = SnapshotTable(b.path("tables", f"{tag}-composable"))
        run_resumable_extraction(spark, spark.read.parquet(spans_dir), table)
        out["extract"] = (time.perf_counter() - t, table)
    with tracer.span("files.run"):
        t = time.perf_counter()
        table = SnapshotTable(b.path("tables", f"{tag}-files"))
        run_file_extraction(spark, spans_dir, table)
        out["files"] = (time.perf_counter() - t, table)
    out["cpu_s"] = b.cpu_s() - c
    return out


def check_pass(b, con, res: dict, n_docs: int, ref: dict | None) -> dict:
    """Per committed table: doc count, no doc id twice, same content
    digest as the reference. Returns the digest."""
    digest = None
    for path in ("extract", "files"):
        table = res[path][1]
        files = checks.committed_files(table)
        d = checks.table_digest(con, files)
        b.check(f"{path}.doc_count", d["rows"] == n_docs, f"{d['rows']} vs {n_docs}")
        b.check(f"{path}.doc_ids_unique", d["doc_ids"] == d["rows"], str(d))
        want = ref or digest
        if want is not None:
            b.check(f"{path}.digest", d["hash"] == want["hash"], f"{d} vs {want}")
        digest = digest or d
    return digest


def check_oracle_sample(b, con, flat_path: str, table, sample_ids: list[int]):
    """Span sequences of a seeded sample of committed docs equal the
    DuckDB extraction oracle over the same flat documents."""
    con.execute("DROP VIEW IF EXISTS documents")
    con.execute(
        "CREATE OR REPLACE TEMP TABLE documents AS SELECT doc_id, text"
        " FROM read_parquet($p) WHERE list_contains($ids, doc_id)",
        {"p": f"{flat_path}/*.parquet", "ids": sample_ids},
    )
    want = con.execute(_extract_oracle_sql()).fetchall()
    got = con.execute(
        "SELECT CAST(doc_id AS VARCHAR), s.kind, s.text, s.media_ref,"
        " CAST(s.offset AS BIGINT) FROM (SELECT doc_id, unnest(spans) AS s"
        " FROM read_parquet($f)"
        " WHERE list_contains($ids, CAST(doc_id AS BIGINT)))",
        {"f": checks.committed_files(table), "ids": sample_ids},
    ).fetchall()
    names = ["doc_id", "kind", "text", "media_ref", "offset"]
    g, w = checks.row_multiset(got, names), checks.row_multiset(want, names)
    b.check("extract.oracle_sample", g == w and len(w) > 0,
            checks.first_difference(g, w))


def _drop(res: dict) -> None:
    for path in ("extract", "files"):
        shutil.rmtree(res[path][1].root, ignore_errors=True)


def set_up(b, cores: int):
    """Inputs, session, the package's ``spanify`` of the heavy documents
    into the spans input, JVM-only warm-up count."""
    size = SIZES[b.scale]
    rng = np.random.default_rng(b.args.seed)
    flat = inputs.heavy_documents(rng, size["docs"], size["repeat"], size["base"])
    flat_path = inputs.write_parts(flat, b.path("input", "heavy"), 2 * nproc())
    spans_dir = b.path("input", "spans")
    spark = b.start_spark(cores)
    with b.tracer.span("spanify", docs_in=size["docs"]):
        t = time.perf_counter()
        spanify(spark.read.parquet(flat_path)).repartition(2 * nproc()).write.parquet(
            spans_dir
        )
        spanify_s = time.perf_counter() - t
    n_docs = spark.read.parquet(spans_dir).count()
    return flat_path, spans_dir, n_docs, spanify_s


def passes(b, con, spans_dir: str, n_docs: int, seconds: float):
    """Cold pass, then warm passes until their op time reaches
    ``seconds`` (at least ``MIN_WARM``). Returns (cold, warm list, ref
    digest, first composable table)."""
    cold, warm, ref, first_table = None, [], None, None
    i, failed0 = 0, b.failed
    while b.failed - failed0 < 3:
        if len(warm) >= MIN_WARM and sum(w[0] + w[1] for w in warm) >= seconds:
            break
        with b.op(f"pass{i}"):
            res = commit_pass(b, spans_dir, f"p{i}")
            times = (res["extract"][0], res["files"][0], res["cpu_s"])
            ref = check_pass(b, con, res, n_docs, ref)
            if first_table is None:
                first_table = res["extract"][1]
            else:
                _drop(res)
            if cold is None:
                cold = times
            else:
                warm.append(times)
        i += 1
    return cold, warm, ref, first_table


def run(b) -> tuple[dict, dict, dict]:
    size = SIZES[b.scale]
    cores = nproc()
    con = checks.connect(b.path("tmp"), cores)
    flat_path, spans_dir, n_docs, spanify_s = set_up(b, cores)
    b.check("input.doc_count", n_docs == size["docs"], str(n_docs))
    setup_s, setup_wall_s = b.cpu_s(), time.perf_counter() - b.t0
    cold, warm, ref, first_table = passes(b, con, spans_dir, n_docs, b.args.seconds)
    rng = np.random.default_rng(b.args.seed + 1)
    ids = pq.read_table(flat_path, columns=["doc_id"])["doc_id"].to_numpy()
    sample = sorted(int(x) for x in rng.choice(ids, size["sample"], replace=False))
    if first_table is not None:
        with b.op("oracle_sample"):
            check_oracle_sample(b, con, flat_path, first_table, sample)
    warm_pass = [e + f for e, f, _ in warm]
    e2e = {
        "setup_s": setup_s,
        "cold_s": cold[0] + cold[1] if cold else float("nan"),
        "warm_s": median(warm_pass),
        "setup_wall_s": setup_wall_s,
        "cold_cpu_s": cold[2] if cold else float("nan"),
        "warm_cpu_s": median([c for _, _, c in warm]),
        "extract_docs_per_s": n_docs / median([w[0] for w in warm]),
        "files_docs_per_s": n_docs / median([w[1] for w in warm]),
    }
    details = {
        "docs_per_commit": n_docs,
        "passes": len(warm) + (cold is not None),
        "warm_pass_s": warm_pass,
        "warm_pass_cpu_s": [c for _, _, c in warm],
    }
    layers = {}
    if b.tracer.enabled:
        with b.op("traced_pass"):
            layers.update(traced(b, con, spans_dir, n_docs, warm, ref))
            layers["spanify.s"] = spanify_s
    b.stop_spark()
    if b.tracer.enabled:
        with b.op("local1_level"):
            layers.update(scaling(b, con, spans_dir, n_docs, warm, ref))
    con.close()
    return e2e, layers, details


# -- traced run --------------------------------------------------------------


def _checkpoint(df, counts):
    """Tracer ``after`` hook: run the lazy result inside the span (local
    checkpoint, so the caller reuses it) and keep its plan metrics."""
    cp = df.localCheckpoint(eager=True)
    counts["plan"] = planmetrics.of(df)
    return cp


def traced(b, con, spans_dir: str, n_docs: int, warm, ref) -> dict:
    from gpt4ocontentextraction_spark.operators import extract as extract_mod
    from gpt4ocontentextraction_spark.operators import extract_files
    from gpt4ocontentextraction_spark.schema import DOCUMENTS_DDL
    from gpt4ocontentextraction_spark.sources import pyscan
    from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

    spark, tr = b.spark, b.tracer
    tr.op_id = 1
    undo = [
        tr.wrap(SnapshotTable, "pending", "snapshots.pending"),
        tr.wrap(SnapshotTable, "append", "snapshots.append"),
        tr.wrap(extract_mod, "extract", "extract", _checkpoint),
        tr.wrap(extract_files, "extract_parquet_files", "files.job", _checkpoint),
    ]
    t = time.perf_counter()
    try:
        res = commit_pass(b, spans_dir, "traced")
        traced_s = time.perf_counter() - t
        check_pass(b, con, res, n_docs, ref)
        n_files = len(checks.committed_files(res["extract"][1]))
        _drop(res)
    finally:
        for u in undo:
            u()

    def identity(batches):  # nested, so it pickles by value for the workers
        yield from batches

    tr.op_id = 2
    spans = spark.read.parquet(spans_dir)
    probes = {}
    for name, df in (
        ("scan", spans),
        ("extract.roundtrip", spans.mapInArrow(identity, DOCUMENTS_DDL)),
        ("pyscan", pyscan.extract_scan(spark, spans_dir)),
    ):
        with tr.span(name) as counts:
            t = time.perf_counter()
            counts["docs_out"] = planmetrics.materialize(df)
            probes[name] = (time.perf_counter() - t, planmetrics.of(df))
        b.check(f"{name}.doc_count", counts["docs_out"] == n_docs,
                f"{counts['docs_out']} vs {n_docs}")
    with tr.span("kernel.inproc") as counts:
        counts["docs_per_s"] = kernel_inproc(spans_dir)
    self_t = tr.self_times(op=1)
    span = {s["name"]: s for s in tr.spans if s["op"] >= 1}
    ex = span["extract"]["counts"]["plan"]
    extract_job_s = span["extract"]["end"] - span["extract"]["start"]
    scan_s, scan_pm = probes["scan"]
    rt_s = probes["extract.roundtrip"][0]
    untraced = median([w[0] + w[1] for w in warm])
    return {
        "session.start_s": b.session_start_s[0],
        "scan.job_s": scan_s,
        "scan.scan_time_s": scan_pm.scan_time_s,
        "snapshots.pending_s": self_t.get("snapshots.pending", 0.0),
        "snapshots.append_s": self_t.get("snapshots.append", 0.0),
        "snapshots.committed_files": n_files,
        "pyscan.job_s": probes["pyscan"][0],
        "pyscan.python_data_received_bytes": probes["pyscan"][1].python_received_bytes,
        "extract.ipc_s": max(rt_s - scan_s, 0.0),
        "extract.python_data_sent_bytes": ex.python_sent_bytes,
        "extract.python_data_received_bytes": ex.python_received_bytes,
        "extract.python_boot_s": ex.python_boot_s,
        "extract.python_init_s": ex.python_init_s,
        "kernel.job_s": max(extract_job_s - rt_s, 0.0),
        "kernel.docs_per_s_inproc": tr.counts("kernel.inproc", "docs_per_s"),
        "files.job_s": span["files.job"]["end"] - span["files.job"]["start"],
        "files.commit_s": self_t.get("files.run", 0.0),
        "trace.overhead_frac": traced_s / untraced - 1.0,
    }


def kernel_inproc(spans_dir: str, min_s: float = 1.0) -> float:
    """Docs/s of a direct ``extract_values_arrow`` call on one input file,
    in this process (no Spark)."""
    import pyarrow.compute as pc

    from gpt4ocontentextraction_spark.operators.extract_arrow import (
        extract_values_arrow,
    )

    name = sorted(f for f in os.listdir(spans_dir) if f.endswith(".parquet"))[0]
    t = pq.read_table(os.path.join(spans_dir, name))
    spans = t["spans"].combine_chunks()
    counts = pc.list_value_length(spans).to_numpy(zero_copy_only=False)
    doc_idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    flat = spans.flatten()
    args = (
        doc_idx,
        flat.field("kind"),
        flat.field("text"),
        flat.field("media_ref"),
        flat.field("offset").to_numpy(zero_copy_only=False).astype(np.int64),
    )
    n, start = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - start < min_s:
        extract_values_arrow(*args)
        n += 1
    return n * t.num_rows / (time.perf_counter() - start)


def scaling(b, con, spans_dir: str, n_docs: int, warm, ref) -> dict:
    """One pass at local[1] in a fresh JVM over the same input, after a
    warm-up commit of one input file (it starts the Python worker and the
    JIT at a fraction of a full cold pass); efficiency = (docs/s at nproc
    / docs/s at 1) / nproc."""
    b.start_spark(1)
    warm_up = b.path("input", "warm-up")
    os.makedirs(warm_up)
    first = sorted(f for f in os.listdir(spans_dir) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(spans_dir, first), warm_up)
    with b.tracer.span("local1.warm_up"):
        _drop(commit_pass(b, warm_up, "l1-warm-up"))
    with b.tracer.span("local1.pass"):
        res = commit_pass(b, spans_dir, "l1")
    b.stop_spark()
    check_pass(b, con, res, n_docs, ref)
    _drop(res)
    out = {}
    for path, i in (("extract", 0), ("files", 1)):
        at_n = n_docs / median([w[i] for w in warm])
        out[f"{path}_scaling_eff"] = at_n / (n_docs / res[path][0]) / nproc()
    return out
