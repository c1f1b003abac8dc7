"""Int8 embedding quantization + quantized retrieval.

The memory side of ANN at 100 TB: a 3072-dim float32 corpus is 12 KB per
vector; symmetric int8 quantization cuts it 4x and turns the dot product
into integer arithmetic (SIMD-friendly, exact, fold-order-independent) —
the standard serving layout (FAISS SQ8 / ScaNN) where the quantized
score prefilters and a small exact re-rank restores precision. Reference
analog: the vector index the repo queries (test-query.ipynb cell-4) —
this is the compressed form such an index stores.

Determinism contract (same discipline as the cosine family,
BENCH/BASELINE.md "cosine arithmetic note"): every float op is a single
IEEE double op identical on both engines (widen float32 -> double,
divide, +0.5, floor), and all accumulations are INTEGER sums or MAX
folds — order-independent, so no engine's fold order can drift an ulp.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

QUANT_MAX = 127  # symmetric int8 range

# engine-portable expression fragments -------------------------------------

_VD = "transform(embedding, x -> cast(x as double))"


def _q_scale(vd: str) -> str:
    """Per-vector scale: max|x| / 127, 1.0 for the all-zero vector (so
    the quantized vector is all-zero too instead of a 0/0)."""
    return (
        f"CASE WHEN aggregate({vd}, 0D, (m, x) -> greatest(m, abs(x))) = 0D"
        f" THEN 1D ELSE"
        f" aggregate({vd}, 0D, (m, x) -> greatest(m, abs(x))) / {QUANT_MAX}D"
        f" END"
    )


def _q_vec(vd: str, scale: str) -> str:
    """Round-half-up quantization via floor(x/scale + 0.5) — floor is
    the one rounding both engines define identically — clamped to the
    int8 range before the int cast."""
    return (
        f"transform({vd}, x -> cast(greatest(-{QUANT_MAX}D,"
        f" least({QUANT_MAX}D, floor(x / ({scale}) + 0.5D))) as int))"
    )


_Q_INORM2 = "aggregate({q}, 0L, (s, v) -> s + cast(v as bigint) * cast(v as bigint))"


def quantize_vec(vec) -> tuple[float, list[int] | None]:
    """Driver-side twin of the engine expressions (for the query
    parameter): identical IEEE double arithmetic in Python."""
    if vec is None:
        return 1.0, None
    max_abs = 0.0
    for x in vec:
        max_abs = max(max_abs, abs(float(x)))
    scale = 1.0 if max_abs == 0.0 else max_abs / QUANT_MAX
    q = [
        int(max(-QUANT_MAX, min(QUANT_MAX, math.floor(float(x) / scale + 0.5))))
        for x in vec
    ]
    return scale, q


def embedding_quantize(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column:
    (vec_id, scale, qvec array<int>, qnorm2, max_err).

    qnorm2 is the exact integer squared norm of the quantized vector
    (what the quantized cosine divides by); max_err is the worst
    per-element reconstruction error |x - q*scale| — by construction
    <= scale/2 + one ulp, the bound tests pin. One projection, zero
    shuffles, all folds order-independent (integer sums / max)."""
    scale = _q_scale(_VD)
    qv = _q_vec(_VD, scale)
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr(scale).alias("scale"),
        F.expr(qv).alias("qvec"),
        F.expr(_Q_INORM2.format(q=qv)).alias("qnorm2"),
        F.round(
            F.expr(
                f"aggregate(zip_with({_VD}, {qv},"
                f" (x, q) -> abs(x - cast(q as double) * ({scale}))),"
                f" 0D, (m, e) -> greatest(m, e))"
            ),
            6,
        ).alias("max_err"),
    )


def _duck_q_scale(vd: str) -> str:
    agg = (
        f"list_reduce(list_prepend(0.0::DOUBLE,"
        f" list_transform({vd}, x -> abs(x::DOUBLE))),"
        f" (m, x) -> greatest(m, x))"
    )
    return f"CASE WHEN {agg} = 0.0 THEN 1.0 ELSE {agg} / {QUANT_MAX}.0 END"


def _duck_q_vec(vd: str, scale: str) -> str:
    return (
        f"list_transform({vd}, x -> CAST(greatest(-{QUANT_MAX}.0,"
        f" least({QUANT_MAX}.0, floor(x::DOUBLE / ({scale}) + 0.5)))"
        f" AS INTEGER))"
    )


def _duck_q_inorm2(q: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT,"
        f" list_transform({q}, v -> CAST(v AS BIGINT) * v)),"
        f" (s, v) -> s + v)"
    )


def _duck_q_idot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT,"
        f" list_transform({a}, (v, i) -> CAST(v AS BIGINT) * {b}[i])),"
        f" (s, v) -> s + v)"
    )


EMBEDDING_QUANTIZE_SQL = f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
  {_duck_q_scale('embedding')} AS scale,
  {_duck_q_vec('embedding', _duck_q_scale('embedding'))} AS qvec,
  {_duck_q_inorm2(_duck_q_vec('embedding', _duck_q_scale('embedding')))}
    AS qnorm2,
  round(list_reduce(list_prepend(0.0::DOUBLE,
    list_transform({_duck_q_vec('embedding', _duck_q_scale('embedding'))},
      (q, i) -> abs(embedding[i]::DOUBLE
                    - q::DOUBLE * ({_duck_q_scale('embedding')})))),
    (m, e) -> greatest(m, e)), 6) AS max_err
FROM embeddings
"""


def _qcos_udf(q_ints: list[int]):
    """Arrow-vectorized quantized cosine against the quantized query
    literal. Arithmetic-identical to the expression spec (which the
    `embedding_quantize` gate proves against DuckDB) because every float
    step is the same elementwise IEEE double op (abs/max, divide,
    +0.5, floor, clamp) and the dot/norm folds are INTEGER sums — order
    -independent, so numpy's matmul cannot drift where the float cosine
    fold could. The interpreted-HOF expression form re-evaluated the
    scale aggregate per reference per element (measured 3.8 s vs exact
    cosine's 0.4 s at sf0.1); this kernel is the production path, the
    expression stays as the cross-engine spec."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qarr = np.asarray([int(v) for v in q_ints], dtype=np.int64)
    qn = int((qarr * qarr).sum())
    dim = len(q_ints)

    @pandas_udf("double")
    def qcos(embs):
        vals = embs.tolist()
        ok = [v is not None and len(v) == dim for v in vals]
        out = [None] * len(vals)
        if qn != 0 and any(ok):
            M = np.array(
                [vals[i] for i, g in enumerate(ok) if g], dtype=np.float64
            )
            ma = np.abs(M).max(axis=1)
            scale = np.where(ma == 0.0, 1.0, ma / float(QUANT_MAX))
            Q = np.floor(M / scale[:, None] + 0.5)
            np.clip(Q, -float(QUANT_MAX), float(QUANT_MAX), out=Q)
            Q = Q.astype(np.int64)
            idot = Q @ qarr  # exact: |q| <= 127, dim bounded
            inorm2 = np.einsum("ij,ij->i", Q, Q)
            sims = np.divide(
                idot.astype(np.float64),
                np.sqrt(inorm2.astype(np.float64)) * math.sqrt(float(qn)),
                out=np.full(len(idot), np.nan),
                where=inorm2 != 0,
            )
            j = 0
            for i, g in enumerate(ok):
                if g:
                    out[i] = None if inorm2[j] == 0 else float(sims[j])
                    j += 1
        return pd.Series(out, dtype="object")

    return qcos


def _quantized_scores(emb: DataFrame, q_ints: list[int]) -> DataFrame:
    """(vec_id, qcos): integer dot of the quantized corpus against the
    quantized query literal over integer norms — scales cancel in the
    cosine, so qcos needs no float state per vector at all. One Arrow
    batch pass over the compressed-scan projection; zero shuffles."""
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(_qcos_udf(q_ints)("embedding"), 6).alias("qcos"),
    )


def quantized_cosine_topk(
    spark, sf_dir: str, query_id: int = 0, k: int = 5
) -> DataFrame:
    """Top-k by QUANTIZED cosine: both sides int8, the dot product and
    both norms exact integer sums (fold-order-free), one double divide
    at the end. The query parameter is quantized driver-side with the
    identical arithmetic (quantize_vec)."""
    from .retrieval import _emb, _fetch_qvec

    emb = _emb(spark, sf_dir)
    found, qraw = _fetch_qvec(spark, sf_dir, query_id)
    if not found or qraw is None:
        return spark.createDataFrame([], "vec_id long, qcos double")
    _, q_ints = quantize_vec(qraw)
    scored = _quantized_scores(emb, q_ints)
    return scored.orderBy(F.desc("qcos"), F.asc("vec_id")).limit(k)


def _duck_quantized_scores(query_id: int = 0) -> str:
    scale = _duck_q_scale("e.embedding")
    qv = _duck_q_vec("e.embedding", scale)
    qscale = _duck_q_scale("embedding")
    qq = _duck_q_vec("embedding", qscale)
    idot = _duck_q_idot(qv, "q.qq")
    inorm = _duck_q_inorm2(qv)
    qn = "q.qn"
    return f"""
q AS (
  SELECT {qq} AS qq, {_duck_q_inorm2(qq)} AS qn
  FROM embeddings WHERE vec_id = {query_id}
),
qscored AS (
  SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
    round(CASE WHEN {inorm} = 0 OR {qn} = 0 THEN NULL ELSE
      ({idot})::DOUBLE / (sqrt(({inorm})::DOUBLE) * sqrt(({qn})::DOUBLE))
      END, 6) AS qcos
  FROM embeddings e, q
)
"""


QUANTIZED_COSINE_TOPK_SQL = f"""
WITH {_duck_quantized_scores().strip()}
SELECT vec_id, qcos FROM qscored
ORDER BY qcos DESC NULLS LAST, vec_id ASC LIMIT 5
"""


def quantized_rerank_topk(
    spark,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_candidates: int = 50,
) -> DataFrame:
    """The production serving shape (FAISS SQ8 / ScaNN): the int8 index
    prefilters to n_candidates by quantized cosine, then an EXACT
    double cosine re-ranks the candidates only — the corpus is scanned
    in compressed form, full-precision vectors are touched for
    n_candidates rows. Both cut boundaries round-6 BEFORE the limit so
    neither engine's raw-double ordering decides them."""
    from .retrieval import _cos_pairs_udf, _emb, _fetch_qvec

    emb = _emb(spark, sf_dir)
    found, qraw = _fetch_qvec(spark, sf_dir, query_id)
    if not found or qraw is None:
        return spark.createDataFrame(
            [], "vec_id long, qcos double, sim double"
        )
    _, q_ints = quantize_vec(qraw)
    cands = (
        _quantized_scores(emb, q_ints)
        .orderBy(F.desc("qcos"), F.asc("vec_id"))
        .limit(n_candidates)
    )
    qlit = F.array(*[F.lit(float(x)) for x in qraw]).cast("array<double>")
    vd = F.expr(_VD)
    rer = cands.join(emb.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding"), "vec_id").select(
        "vec_id",
        "qcos",
        F.round(_cos_pairs_udf()(vd, qlit), 6).alias("sim"),
    )
    return rer.orderBy(F.desc("sim"), F.asc("vec_id")).limit(k)


def _quantized_rerank_sql(k: int = 5, n_candidates: int = 50) -> str:
    from .retrieval import _duck_cos

    return f"""
WITH {_duck_quantized_scores().strip()},
qcands AS (
  SELECT vec_id, qcos FROM qscored
  ORDER BY qcos DESC NULLS LAST, vec_id ASC LIMIT {n_candidates}
),
qfull AS (SELECT embedding AS fq FROM embeddings WHERE vec_id = 0)
SELECT c.vec_id, c.qcos,
  round({_duck_cos('e.embedding', 'f.fq')}, 6) AS sim
FROM qcands c
JOIN embeddings e ON CAST(e.vec_id AS BIGINT) = c.vec_id
CROSS JOIN qfull f
ORDER BY sim DESC NULLS LAST, c.vec_id ASC LIMIT {k}
"""


QUANTIZED_RERANK_TOPK_SQL = _quantized_rerank_sql()
