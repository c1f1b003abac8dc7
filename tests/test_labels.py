"""Label-quality operators: hand-checked LOO geometry on a tiny frame,
corpus invariants, and the no-window/broadcast plan shape."""

from __future__ import annotations

from gpt4ocontentextraction_spark.operators import labels as L

SF = "/root/testdata/sf0.001"


# label 0: two vectors on +x (mutual LOO centroid IS the other one),
# label 1: two on +y, and one mislabeled +x vector carrying label 1
_TINY = [
    (1, [1.0, 0.0], 0),
    (2, [0.9, 0.1], 0),
    (3, [0.0, 1.0], 1),
    (4, [0.1, 0.9], 1),
    (5, [0.95, 0.05], 1),  # geometrically label-0: must flag
]


def _tiny(spark):
    return spark.createDataFrame(
        _TINY, "vec_id long, embedding array<float>, label int"
    )


def test_label_noise_hand_geometry(spark):
    out = {r["vec_id"]: r for r in L.label_noise(_tiny(spark)).collect()}
    assert len(out) == 5
    # the planted mislabel: own (y-ish LOO centroid) far, rival label 0 close
    bad = out[5]
    assert bad["flagged"] == 1
    assert bad["rival_label"] == 0
    assert bad["rival_cos"] > 0.99  # nearly collinear with the +x centroid
    assert bad["own_cos"] < 0.2
    # clean label-0 members: own LOO cos (the other +x vector) is high,
    # rival is label 1's centroid
    for vid in (1, 2):
        r = out[vid]
        assert r["flagged"] == 0 and r["rival_label"] == 1
        assert r["own_cos"] > 0.9 > r["rival_cos"]
    # margin is own - rival in exact 1e-4 units
    for r in out.values():
        assert abs(r["margin"] - (r["own_cos"] - r["rival_cos"])) < 1e-9


def test_label_noise_singleton_label_guard(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["vec_id"]: r for r in L.label_noise(df).collect()}
    # singleton labels: LOO centroid is empty -> own_cos defined as 0
    assert out[1]["own_cos"] == 0.0 and out[2]["own_cos"] == 0.0
    # orthogonal rivals: cosine 0 -> margin 0 -> not flagged (strict <)
    assert out[1]["flagged"] == 0


def test_label_centroids_hand_geometry(spark):
    out = {r["label"]: r for r in L.label_centroids(_tiny(spark)).collect()}
    assert out[0]["n_vecs"] == 2 and out[1]["n_vecs"] == 3
    # label 0 is tight (+x pair): members hug their centroid
    assert out[0]["min_member_cos"] > 0.99
    # label 1 contains the planted +x outlier: far from the y-ish centroid
    assert out[1]["min_member_cos"] < 0.6
    assert out[0]["rival_label"] == 1 and out[1]["rival_label"] == 0
    assert out[0]["mean_member_cos"] >= out[0]["min_member_cos"]


def test_label_noise_corpus_invariants(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = L.label_noise(emb).collect()
    assert len(rows) == emb.count()
    flags = {r["flagged"] for r in rows}
    assert flags == {0, 1}  # both keep classes occur (gate-seeding rule)
    for r in rows:
        assert r["rival_label"] != r["label"]
        assert -1.0001 <= r["own_cos"] <= 1.0
        assert -1.0001 <= r["rival_cos"] <= 1.0


def test_label_noise_equals_oracle(spark, tmp_path):
    """The Arrow broadcast-centroid kernel equals its DuckDB oracle
    (LABEL_NOISE_SQL) row for row, on the hand frame and the gate
    corpus."""
    import pyarrow as pa
    from oracle_spec import run_both, write_tables

    tiny = pa.table(
        {
            "vec_id": pa.array([r[0] for r in _TINY], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in _TINY], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in _TINY], pa.int32()),
        }
    )
    for sf in (write_tables(tmp_path, {"embeddings": tiny}), SF):
        got, want = run_both(spark, "label_noise", sf)
        assert got == want and len(got) > 0


def test_label_plan_shape(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = L.label_centroids(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p  # argmax is an integer-key MAX
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "HashAggregate" in p  # map-side combinable aggregates
    assert "CartesianProduct" not in p  # n*L only ever via broadcast
    # kernel form: the scoring pass is one Arrow projection — no join,
    # no window, no per-pair expression fold
    pk = (
        L.label_noise(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in pk
    for bad in ("Window", "Join", "CartesianProduct"):
        assert bad not in pk
