"""M7 retry semantics (task-level re-execution instead of in-UDF tenacity
loops) + streaming windowed rollup vs its batch plan."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gpt4ocontentextraction_spark.streaming.windows import (
    hourly_rollup,
    stream_hourly_rollup,
)

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_RETRY_SCRIPT = """
import os, sys
sys.path.insert(0, sys.argv[2])
from gpt4ocontentextraction_spark.session import get_spark

marker_dir = sys.argv[1]

def flaky(batches):
    import os
    from pyspark import TaskContext
    ctx = TaskContext.get()
    marker = os.path.join(marker_dir, f"p{ctx.partitionId()}")
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            f.write("attempted")
        raise RuntimeError("transient failure (first attempt)")
    for pdf in batches:
        yield pdf

spark = get_spark("retry-test", cores=2, task_retries=2)
df = spark.range(0, 100, 1, 2).selectExpr("id", "id * 2 as v")
out = df.mapInPandas(flaky, "id long, v long").collect()
assert len(out) == 100, len(out)
assert len(os.listdir(marker_dir)) == 2
print("RETRY_OK")
spark.stop()
"""


def test_task_retry_recovers_transient_failure(tmp_path):
    """A task that fails on its first attempt succeeds under local[N, 2] —
    the engine's answer to the reference's 6-attempt tenacity retries.
    Runs in a subprocess: it needs its own SparkContext with a retrying
    master, and must not stop the suite's shared session."""
    import subprocess
    import sys

    script = tmp_path / "retry_script.py"
    script.write_text(_RETRY_SCRIPT)
    marker_dir = tmp_path / "markers"
    marker_dir.mkdir()
    res = subprocess.run(
        [sys.executable, str(script), str(marker_dir), ROOT],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RETRY_OK" in res.stdout, res.stderr[-2000:]


def test_stream_rollup_matches_batch(spark, tmp_path):
    import shutil

    in_dir = tmp_path / "events_in"
    in_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", in_dir / "events.parquet")
    q = stream_hourly_rollup(
        spark, str(in_dir), str(tmp_path / "ckpt"), "rollup_out"
    )
    q.awaitTermination(120)
    streamed = {
        tuple(r) for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    events = spark.read.parquet(f"{SF}/events.parquet")
    batch = {tuple(r) for r in hourly_rollup(events).collect()}

    # append mode emits only watermark-closed windows: streamed is a subset
    assert streamed <= batch
    # and covers every window older than max_ts - watermark
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import datetime

    # append emits a window once its END (start+1h) <= watermark
    # (max_ts - 2h); 3.5h margin keeps the check safely inside that
    horizon = (max_ts - datetime.timedelta(hours=3, minutes=30)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    expected_closed = {r for r in batch if r[0] < horizon}
    assert expected_closed <= streamed
    assert streamed  # non-empty


def test_hybrid_candidate_cut_is_exact_at_tiny_n_cand(spark):
    """The top-N candidate cut + order-statistic escape hatch must stay
    EXACT even when n_cand is far below the ranks involved (forces both
    the partial-doc resolution and the known<k doubling path)."""
    from gpt4ocontentextraction_spark.operators.retrieval import (
        hybrid_rrf_topk,
    )

    sf = "/root/testdata/sf0.001"
    full = [tuple(r) for r in hybrid_rrf_topk(spark, sf, n_cand=10**6).collect()]
    for n in (6, 25):
        got = [tuple(r) for r in hybrid_rrf_topk(spark, sf, n_cand=n).collect()]
        assert got == full, f"n_cand={n} diverged"


def test_hybrid_excludes_docless_vectors_and_doubles_past_doc_count(
    spark, tmp_path
):
    """Regression (found by the sf0.1 bench crash): the cosine ranking is
    over EMBEDDINGS, which may contain vec_ids with no document row.
    Such docs (a) must be EXCLUDED from the fused result — the RRF spec
    is an inner join of the two full rankings — not crash the
    order-statistic resolution, and (b) must not stall the n_cand
    doubling loop, whose cap has to cover the larger of the two lists.
    The corpus below puts two docless vectors at the top of the cosine
    ranking so both paths execute."""
    import duckdb

    from gpt4ocontentextraction_spark.operators.retrieval import (
        HYBRID_RRF_SQL,
        hybrid_rrf_topk,
    )

    sf = str(tmp_path)
    # 5 documents, every one containing the fixed query terms with
    # distinct frequencies (distinct bm25 ranks)
    docs = [
        (i, "table " * (i + 1) + "data merge " + "filler " * (5 - i))
        for i in range(5)
    ]
    spark.createDataFrame(
        [(d, t, "en", "synthetic", len(t)) for d, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    # 10 embeddings: vecs 0-4 belong to the docs; 5-9 are docless.
    # vec 7 and 8 are nearly parallel to the query (vec 0) => cosine
    # ranks 2-3, ahead of every real doc except the query itself.
    def vec(i):
        if i in (7, 8):
            return [1.0, float(i) * 1e-4, 0.0, 0.0]
        return [1.0, 0.0, 0.1 * i, 1.0 + 0.2 * i] if i else [1.0, 0.0, 0.0, 0.0]

    spark.createDataFrame(
        [(i, vec(i), 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    got = sorted(
        tuple(r) for r in hybrid_rrf_topk(spark, sf, n_cand=3).collect()
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT *"
            f" FROM read_parquet('{sf}/{t}.parquet/*.parquet')"
        )
    want = sorted(tuple(r) for r in con.execute(HYBRID_RRF_SQL).fetchall())
    assert got == want
    assert len(got) == 5  # all five real docs fuse; docless vecs excluded
    assert not {7, 8, 9} & {r[0] for r in got}


def test_hybrid_null_text_and_null_embedding_rows(spark, tmp_path):
    """Code-review r5: NULL bm25 scores (null-text docs) and NULL/ragged
    embeddings must flow through the driver-side prefix sort, the Arrow
    pair-cosine UDF, and the order-statistic resolution as
    (nulls last, doc_id asc) — not crash sorted()/np.stack or resolve to
    rank 1. Corpus <= n_cand so the null-scored rows actually reach the
    collected prefixes; parity is against the DuckDB oracle, whose
    default null order is also NULLS LAST under DESC."""
    import duckdb

    from gpt4ocontentextraction_spark.operators.retrieval import (
        HYBRID_RRF_SQL,
        hybrid_rrf_topk,
    )

    sf = str(tmp_path)
    docs = [(i, f"table data merge {'pad ' * i}x") for i in range(5)]
    docs.append((5, None))  # null text -> NULL bm25
    spark.createDataFrame(
        [(d, t, "en", "synthetic", 0 if t is None else len(t)) for d, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    def vec(i):
        if i == 4:
            return None  # null embedding -> NULL sim
        return [1.0, 0.1 * i, 0.0, 1.0] if i else [1.0, 0.0, 0.0, 0.0]

    spark.createDataFrame(
        [(i, vec(i), 0) for i in range(6)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    got = sorted(
        tuple(r) for r in hybrid_rrf_topk(spark, sf, n_cand=3).collect()
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT *"
            f" FROM read_parquet('{sf}/{t}.parquet/*.parquet')"
        )
    want = sorted(tuple(r) for r in con.execute(HYBRID_RRF_SQL).fetchall())
    assert got == want
    assert len(got) == 5  # all 6 vectors fuse minus the docless... none
    # docless here: 6 docs, 6 vecs -> 5 rows is k


def test_hybrid_exact_vs_bruteforce_random_corpora(spark, tmp_path):
    """Property-style exactness pin for the trickiest operator: on
    seeded random corpora (skewed keyword frequencies, docless vectors,
    ties), hybrid at SMALL n_cand (forcing doubling, the closed-form
    jump, and one-sided resolution) must equal a brute-force Python RRF
    computed from the full rankings. The brute force mirrors the spec
    directly: full BM25 + cosine rankings, inner join, round-6 rrf."""
    import math
    import random

    from gpt4ocontentextraction_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        KEYWORDS,
        RRF_K,
        _sql_round6,
        hybrid_rrf_topk,
    )

    for seed in (11, 23):
        rng = random.Random(seed)
        sf = str(tmp_path / f"s{seed}")
        vocab = list(KEYWORDS) + [f"v{i}" for i in range(8)]
        n_docs = rng.randint(12, 20)
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
            for i in range(n_docs)
        ]
        spark.createDataFrame(
            [(d, t, "en", "synthetic", len(t)) for d, t in docs],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf}/documents.parquet"
        )
        n_vecs = n_docs + rng.randint(0, 5)  # some docless vectors
        vecs = [
            (i, [rng.uniform(-1, 1) for _ in range(4)], 0)
            for i in range(n_vecs)
        ]
        spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf}/embeddings.parquet"
        )

        # brute force from first principles (python floats = IEEE double)
        def ranks(scored):  # [(id, score)] -> {id: rank} desc, id asc
            o = sorted(scored, key=lambda t: (-t[1], t[0]))
            return {d: i + 1 for i, (d, _) in enumerate(o)}

        tf = {
            d: {kw: t.split(" ").count(kw) for kw in KEYWORDS}
            for d, t in docs
        }
        dl = {d: len(t.split(" ")) for d, t in docs}
        n = len(docs)
        avgdl = sum(dl.values()) / n
        df_ = {kw: sum(1 for d, _ in docs if tf[d][kw] > 0) for kw in KEYWORDS}
        bm = {
            d: sum(
                math.log((n - df_[kw] + 0.5) / (df_[kw] + 0.5) + 1.0)
                * (tf[d][kw] * (BM25_K1 + 1.0))
                / (
                    tf[d][kw]
                    + BM25_K1 * (1.0 - BM25_B + BM25_B * (dl[d] / avgdl))
                )
                for kw in KEYWORDS
            )
            for d, _ in docs
        }
        # cosine vs vec 0 over float32-truncated vectors cast to double
        import numpy as np

        V = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v, _ in vecs}

        def cos(a, b):
            dot = na = nb = 0.0
            for x, y in zip(a, b):  # sequential fold = engine order
                dot += x * y
                na += x * x
                nb += y * y
            return dot / (math.sqrt(na) * math.sqrt(nb))

        cs = {i: cos(V[i], V[0]) for i in V}
        rb, rc = ranks(list(bm.items())), ranks(list(cs.items()))
        fused = sorted(
            (
                (d, rb[d], rc[d],
                 _sql_round6(1.0 / (RRF_K + rb[d]) + 1.0 / (RRF_K + rc[d])))
                for d in rb.keys() & rc.keys()
            ),
            key=lambda t: (-t[3], t[0]),
        )[:5]
        for n_cand in (2, 5, 10**6):
            got = sorted(
                tuple(r)
                for r in hybrid_rrf_topk(spark, sf, n_cand=n_cand).collect()
            )
            assert got == sorted(fused), (
                f"seed={seed} n_cand={n_cand}: {got} != {sorted(fused)}"
            )
