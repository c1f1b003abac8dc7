"""Label-quality operators over the embedding corpus: per-label
centroid report card and leave-one-out mislabel detection.

The curation step after auto-labeling a corpus (weak supervision /
classifier pseudo-labels): before training on the labels, publish (a)
a per-label compactness/separation report and (b) a per-example label-
noise flag — the confident-learning shape (Northcutt et al. 2021,
"Confident Learning: Estimating Uncertainty in Dataset Labels"; the
Cleanlab tool's geometry variant): an example whose embedding is
closer to ANOTHER label's centroid than to its OWN label's
leave-one-out centroid is a suspected mislabel.

Determinism contract (the quantize.py discipline): embeddings are
fixed-point quantized ONCE (floor(x*1e4 + 0.5), a global scale — unlike
int8's per-vector scale — so sums across vectors are meaningful); every
accumulation after that is an INTEGER sum (order-independent); each
cosine is then a single identical IEEE sequence (cast, sqrt, sqrt,
multiply, divide) on identical integers, floored to 1e-4 units. The
leave-one-out centroid never materializes: with integer sums,
dot(x, c-x) = dot(x, c) - |x|^2 and |c-x|^2 = |c|^2 - 2*dot(x, c) +
|x|^2 — all exact, so LOO costs nothing beyond the full-centroid pass.

Scale shape: centroid sums are one map-side-combinable (label, pos)
hash aggregate (L*dim rows); every vector then meets only the L
centroids (label_noise: collected once into an Arrow scoring kernel;
label_centroids: an L-row broadcast relation) — n*L, never n^2.
Argmax-with-tie-break is an integer-key MAX (no window). int64
headroom: |x_int| <= ~1e4 (unit vectors), so dot(x, c_sum) <= 1e4 *
(1e4*n_label) * dim — safe through n_label ~ 1e9 at dim 64; past that,
switch the centroid side to double (parity with the DuckDB oracle is
a test-scale contract, not a production one).

Reference analog: the embedding relation the reference indexes per
document chunk (docker/main.py:382-420 builds embedding records); label
hygiene on such a corpus is the training-data extension this engine
adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# fixed-point quantization: floor(x * 1e4 + 0.5) — round-half-up via
# floor, the one rounding both engines define identically
_QSPARK = (
    "transform(embedding, x ->"
    " cast(floor(cast(x as double) * 10000D + 0.5D) as bigint))"
)
_QDUCK = (
    "list_transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"
)

# argmax-with-tiebreak as one integer MAX: ci is a floored 1e-4 cosine
# in [-10000, 10000]; key = (ci + 20000) * 2^20 + (2^20 - 1 - label)
# orders by ci desc then label asc, decodes with nonnegative int ops
_KEY_SHIFT = 1 << 20


def _cos_int(dot: str, n2a: str, n2b: str) -> str:
    """Floored 1e-4 cosine as an engine-portable expression fragment:
    single identical IEEE sequence on exact integer inputs; 0 for a
    zero-norm side (the quantized all-zero vector)."""
    return (
        f"CASE WHEN ({n2a}) <= 0 OR ({n2b}) <= 0 THEN CAST(0 AS BIGINT)"
        f" ELSE CAST(floor(CAST(({dot}) AS DOUBLE)"
        f" / (sqrt(CAST(({n2a}) AS DOUBLE)) * sqrt(CAST(({n2b}) AS DOUBLE)))"
        f" * 10000) AS BIGINT) END"
    )


def _quantized(emb: DataFrame) -> DataFrame:
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        F.expr(_QSPARK).alias("q"),
    ).where(F.col("q").isNotNull())


def _centroids(qv: DataFrame) -> DataFrame:
    """Per-label integer centroid sums: (label, c array<bigint>, n,
    n2c). One (label, pos) hash aggregate, L*dim intermediate rows."""
    sums = (
        qv.select("label", F.posexplode("q").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    return (
        sums.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda t: t["s"],
            ).alias("c"),
            F.max("n").alias("n"),
        )
        .withColumn("n2c", F.expr("aggregate(c, 0L, (s, x) -> s + x * x)"))
    )


def _pairs(qv: DataFrame, cent: DataFrame) -> DataFrame:
    """Every vector against every label centroid (n*L rows, broadcast):
    exact integer dot + the scalars the LOO identities need."""
    x = qv.withColumn(
        "n2x", F.expr("aggregate(q, 0L, (s, v) -> s + v * v)")
    )
    c = cent.select(
        F.col("label").alias("cl"), "c", F.col("n").alias("cn"), "n2c"
    )
    return x.crossJoin(F.broadcast(c)).withColumn(
        "dot",
        F.expr("aggregate(zip_with(q, c, (a, b) -> a * b), 0L, (s, v) -> s + v)"),
    )


def _noise_kernel_udf(cl, C, cn, n2c):
    """Arrow numpy kernel for the per-vector noise scores: every batch
    row meets the DRIVER-COLLECTED centroid matrix (L x d integer sums
    of the non-NULL labels — bounded by the label vocabulary, the
    PQ-codebook/IVF precedent), so the n*L pass is one int64 matmul
    instead of a broadcast cross join's interpreted
    aggregate(zip_with(...)) fold per pair. Arithmetic is the oracle's
    exactly: integer dots, then the single IEEE sequence divide ->
    *10000 -> floor on float64 (numpy and DuckDB both use
    correctly-rounded IEEE doubles), with the same zero-norm and
    singleton-label guards. Returns (own_ci, rk) per vector; rk is NULL
    when no rival label exists, and both are NULL for a NULL label
    (no centroid equals or differs from NULL)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<own_ci: bigint, rk: bigint>")
    def score(labels, qs):
        n = len(labels)
        if n == 0:
            return pd.DataFrame({"own_ci": [], "rk": []})
        X = np.stack([np.asarray(q, dtype=np.int64) for q in qs])
        labeled = labels.notna().to_numpy()
        lab = labels.fillna(0).to_numpy(dtype=np.int64)
        n2x = np.einsum("ij,ij->i", X, X)
        dots = X @ C.T  # (n, L) exact int64
        with np.errstate(divide="ignore", invalid="ignore"):
            denom = (
                np.sqrt(n2x.astype(np.float64))[:, None]
                * np.sqrt(n2c.astype(np.float64))[None, :]
            )
            riv = np.floor(dots.astype(np.float64) / denom * 10000.0)
        bad = (n2x[:, None] <= 0) | (n2c[None, :] <= 0)
        riv_ci = np.where(bad, 0.0, riv).astype(np.int64)
        key = (riv_ci + 20000) * _KEY_SHIFT + (
            _KEY_SHIFT - 1 - cl[None, :]
        )
        own_mask = labeled[:, None] & (lab[:, None] == cl[None, :])
        rival_mask = labeled[:, None] & ~own_mask
        rk = np.where(rival_mask, key, np.iinfo(np.int64).min).max(axis=1)
        own_idx = own_mask.argmax(axis=1)
        dot_o = dots[np.arange(n), own_idx]
        n2b = n2c[own_idx] - 2 * dot_o + n2x
        with np.errstate(divide="ignore", invalid="ignore"):
            own = np.floor(
                (dot_o - n2x).astype(np.float64)
                / (
                    np.sqrt(n2x.astype(np.float64))
                    * np.sqrt(n2b.astype(np.float64))
                )
                * 10000.0
            )
        own_ci = np.where((n2x <= 0) | (n2b <= 0), 0.0, own).astype(
            np.int64
        )
        own_ci = np.where(cn[own_idx] <= 1, 0, own_ci)
        own_s = pd.Series(own_ci, dtype="Int64")
        own_s[~labeled] = pd.NA
        rk_s = pd.Series(rk, dtype="Int64")
        rk_s[~rival_mask.any(axis=1)] = pd.NA
        return pd.DataFrame({"own_ci": own_s, "rk": rk_s})

    return score


def label_noise(emb: DataFrame) -> DataFrame:
    """Per-vector leave-one-out mislabel detection: own_cos = cosine to
    the OWN label's centroid with self removed (exact via the integer
    LOO identities; 0.0 for singleton labels), rival = the best OTHER
    label centroid (ties -> smaller label), margin = own - rival in
    1e-4 units, flagged = margin < 0. Output one row per vector so the
    gate asserts both keep classes. A NULL label has no own and no
    rival centroid: its scores are NULL, and NULL-label vectors are
    nobody's rival.

    Execution: the centroid relation (one map-side-combinable hash
    aggregate) is bounded by the label vocabulary, so it is collected
    once and the n*L scoring pass runs as one Arrow numpy kernel over
    the collected matrix — zero joins, zero aggregates after the
    centroid pass. Spec: LABEL_NOISE_SQL (a relational broadcast cross
    join + per-vector MAX), pinned on the sf0.001 table and on
    fixtures.edge_embeddings (tests/test_kernel_oracle_edges.py).
    """
    import numpy as np

    qv = _quantized(emb)
    rows = [r for r in _centroids(qv).collect() if r["label"] is not None]
    if rows:
        cl = np.array([r["label"] for r in rows], dtype=np.int64)
        C = np.stack([np.asarray(r["c"], dtype=np.int64) for r in rows])
        cn = np.array([r["n"] for r in rows], dtype=np.int64)
        n2c = np.array([r["n2c"] for r in rows], dtype=np.int64)
        score = _noise_kernel_udf(cl, C, cn, n2c)
        per = qv.select(
            "vec_id",
            "label",
            score(F.col("label"), F.col("q")).alias("o"),
        ).select(
            "vec_id",
            "label",
            F.col("o.own_ci").alias("own_ci"),
            F.col("o.rk").alias("rk"),
        )
    else:  # no labeled vector: no centroid to score against
        per = qv.select(
            "vec_id",
            "label",
            F.lit(None).cast("bigint").alias("own_ci"),
            F.lit(None).cast("bigint").alias("rk"),
        )
    rival_ci = F.floor(F.col("rk") / F.lit(_KEY_SHIFT)) - 20000
    return per.select(
        "vec_id",
        "label",
        (F.col("own_ci") / 10000.0).alias("own_cos"),
        (F.lit(_KEY_SHIFT - 1) - F.col("rk") % F.lit(_KEY_SHIFT)).alias(
            "rival_label"
        ),
        (rival_ci / 10000.0).alias("rival_cos"),
        ((F.col("own_ci") - rival_ci) / 10000.0).alias("margin"),
        (F.col("own_ci") < rival_ci).cast("long").alias("flagged"),
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label report card: member count, mean/min member cosine to
    the FULL own centroid (compactness), nearest rival centroid and its
    centroid-centroid cosine (separation; ties -> smaller label).

    Plan: the same centroid aggregate + broadcast pair pass reduced per
    label, plus an L x L centroid self-join (tiny, broadcast)."""
    qv = _quantized(emb)
    cent = _centroids(qv)
    p = _pairs(qv, cent).where(F.col("cl") == F.col("label"))
    ci = F.expr(_cos_int("dot", "n2x", "n2c"))
    member = p.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(ci).alias("sci"),
        F.min(ci).alias("min_ci"),
    )
    a = cent.select(
        F.col("label").alias("la"), F.col("c").alias("ca"), F.col("n2c").alias("n2a")
    )
    b = cent.select(
        F.col("label").alias("lb"), F.col("c").alias("cb"), F.col("n2c").alias("n2b")
    )
    cc = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("la") != F.col("lb"))
        .withColumn(
            "dot",
            F.expr(
                "aggregate(zip_with(ca, cb, (x, y) -> x * y), 0L, (s, v) -> s + v)"
            ),
        )
    )
    cc_ci = F.expr(_cos_int("dot", "n2a", "n2b"))
    rkey = (cc_ci + F.lit(20000)) * F.lit(_KEY_SHIFT) + (
        F.lit(_KEY_SHIFT - 1) - F.col("lb")
    )
    rival = cc.groupBy(F.col("la").alias("label")).agg(F.max(rkey).alias("rk"))
    return (
        member.join(rival, "label")
        .select(
            "label",
            "n_vecs",
            (
                F.floor(
                    F.col("sci").cast("double")
                    / F.col("n_vecs").cast("double")
                )
                / 10000.0
            ).alias("mean_member_cos"),
            (F.col("min_ci") / 10000.0).alias("min_member_cos"),
            (F.lit(_KEY_SHIFT - 1) - F.col("rk") % F.lit(_KEY_SHIFT)).alias(
                "rival_label"
            ),
            (
                (F.floor(F.col("rk") / F.lit(_KEY_SHIFT)) - 20000) / 10000.0
            ).alias("rival_cos"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (the specs)
# ---------------------------------------------------------------------------

_DUCK_COMMON = f"""
WITH lq AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
         {_QDUCK} AS q
  FROM embeddings
  WHERE embedding IS NOT NULL
),
lpos AS (
  SELECT label, unnest(range(1, len(q) + 1)) AS pos, unnest(q) AS v FROM lq
),
lsum AS (
  SELECT label, pos, SUM(v) AS s, COUNT(*) AS n
  FROM lpos GROUP BY label, pos
),
lcent AS (
  SELECT label AS cl, list(s ORDER BY pos) AS c, MAX(n) AS cn,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list(s ORDER BY pos), x -> x * x)),
           (a, b) -> a + b) AS n2c
  FROM lsum GROUP BY label
),
lx AS (
  SELECT vec_id, label, q,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(q, v -> v * v)), (a, b) -> a + b) AS n2x
  FROM lq
),
lpair AS (
  SELECT x.vec_id, x.label, x.n2x, t.cl, t.cn, t.n2c,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, len(x.q) + 1), i -> x.q[i] * t.c[i])),
           (a, b) -> a + b) AS dot
  FROM lx x CROSS JOIN lcent t
)
"""


def _duck_cos(dot: str, n2a: str, n2b: str) -> str:
    return (
        f"CASE WHEN ({n2a}) <= 0 OR ({n2b}) <= 0 THEN CAST(0 AS BIGINT)"
        f" ELSE CAST(floor(CAST(({dot}) AS DOUBLE)"
        f" / (sqrt(CAST(({n2a}) AS DOUBLE)) * sqrt(CAST(({n2b}) AS DOUBLE)))"
        f" * 10000) AS BIGINT) END"
    )


LABEL_NOISE_SQL = (
    _DUCK_COMMON
    + f"""
, lscore AS (
  SELECT vec_id, label,
    CASE WHEN cl = label THEN
      CASE WHEN cn <= 1 THEN CAST(0 AS BIGINT)
           ELSE {_duck_cos("dot - n2x", "n2x", "n2c - 2 * dot + n2x")} END
    END AS own_ci,
    CASE WHEN cl <> label THEN
      ({_duck_cos("dot", "n2x", "n2c")} + 20000) * {_KEY_SHIFT}
        + ({_KEY_SHIFT - 1} - cl)
    END AS rk
  FROM lpair
),
lper AS (
  SELECT vec_id, label, MAX(own_ci) AS own_ci, MAX(rk) AS rk
  FROM lscore GROUP BY vec_id, label
)
SELECT vec_id, label,
  own_ci / 10000.0 AS own_cos,
  {_KEY_SHIFT - 1} - rk % {_KEY_SHIFT} AS rival_label,
  (floor(rk / {_KEY_SHIFT}) - 20000) / 10000.0 AS rival_cos,
  (own_ci - (floor(rk / {_KEY_SHIFT}) - 20000)) / 10000.0 AS margin,
  CAST(own_ci < (floor(rk / {_KEY_SHIFT}) - 20000) AS BIGINT) AS flagged
FROM lper
"""
)


LABEL_CENTROIDS_SQL = (
    _DUCK_COMMON
    + f"""
, lmember AS (
  SELECT label, COUNT(*) AS n_vecs,
         SUM({_duck_cos("dot", "n2x", "n2c")}) AS sci,
         MIN({_duck_cos("dot", "n2x", "n2c")}) AS min_ci
  FROM lpair WHERE cl = label GROUP BY label
),
lcc AS (
  SELECT a.cl AS la, b.cl AS lb, a.n2c AS n2a, b.n2c AS n2b,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, len(a.c) + 1), i -> a.c[i] * b.c[i])),
           (x, y) -> x + y) AS dot
  FROM lcent a CROSS JOIN lcent b WHERE a.cl <> b.cl
),
lrival AS (
  SELECT la AS label,
         MAX(({_duck_cos("dot", "n2a", "n2b")} + 20000) * {_KEY_SHIFT}
             + ({_KEY_SHIFT - 1} - lb)) AS rk
  FROM lcc GROUP BY la
)
SELECT m.label, m.n_vecs,
  floor(CAST(m.sci AS DOUBLE) / CAST(m.n_vecs AS DOUBLE)) / 10000.0
    AS mean_member_cos,
  m.min_ci / 10000.0 AS min_member_cos,
  {_KEY_SHIFT - 1} - r.rk % {_KEY_SHIFT} AS rival_label,
  (floor(r.rk / {_KEY_SHIFT}) - 20000) / 10000.0 AS rival_cos
FROM lmember m JOIN lrival r USING (label)
"""
)
