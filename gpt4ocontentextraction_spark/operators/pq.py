"""Product quantization (FAISS-PQ shape): codebooks, codes, ADC top-k.

Completes the quantization family next to the int8 scalar quantizer
(operators/quantize.py): where SQ8 compresses 4x, PQ compresses to
``m * log2(k)`` BITS per vector (m=4, k=8 here: 12 bits vs 2 KB floats)
— the memory layout that makes 10^12-vector ANN indexes fit at all
(Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search";
the coarse-quantizer half of IVF-PQ is operators/retrieval.py's IVF).
Reference analog: the vector index the repo queries
(test-query.ipynb cell-4) — this is its compressed codebook form.

Pipeline (all arithmetic INTEGER after the int8 step, so both engines
agree bit-for-bit — the quantize.py determinism contract):

1. int8-quantize each embedding (_quantize_np: the quantize.py
   expressions' IEEE ops in the same order).
2. Split into ``m`` subspaces of ``d`` components.
3. Codebook training = one Lloyd iteration from a deterministic init
   (centroid j of subspace s = the subvector of vec_id j, for every
   vec_id < k — negative ids included): integer squared-L2 assignment
   with (dist, j) tie-break, then the component mean rounded by the one
   float op both engines define identically — ``floor(sum / count +
   0.5)`` (single IEEE double divide + floor). Empty clusters simply
   produce no codebook row.
4. Encode: nearest final centroid per subspace (integer argmin again).
5. ADC query: per-subspace lookup table of integer distances from the
   quantized query to each centroid, indexed by the centroid's slot in
   the collected codebook (ids need not be 0..k-1); approximate distance
   = the LUT sum over the vector's codes; exact int-L2 rerank of the top
   candidates restores precision (same scan-then-rerank shape as
   quantized_rerank_topk).

NULL ids: a row with a NULL vec_id is dropped at the input of every PQ
relation (training, codes, ADC), as NULL text is dropped by the text
operators. The oracle (PQ_BASE_SQL's ``pq_q``) applies the same rule.

Execution: steps 1, 2, 4 and 5 run in Arrow-batched numpy kernels over
the collected codebook. The DuckDB oracle (PQ_BASE_SQL) is the spec,
pinned on the sf0.001 table and on fixtures.edge_embeddings
(tests/test_kernel_oracle_edges.py).

Scale shape: training aggregates are map-side-combinable sums over
(sub, centroid, component) — k*m*d rows total (512 here); the codebook
is collected driver-side (bounded, the IVF-centroid precedent) and
ships in the kernels' closures, so assignment/encode/ADC are
projections with zero Exchange, and the only shuffles in the whole
pipeline are the bounded codebook aggregation and the final top-k
(TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .quantize import QUANT_MAX, _VD, _q_scale, _q_vec

PQ_M = 4      # subspaces
PQ_K = 8      # centroids per subspace
PQ_DIM = 64   # full dim of the embeddings table
PQ_D = PQ_DIM // PQ_M
PQ_QUERY_ID = 0   # gate query vector
PQ_NCAND = 50     # ADC prefilter size
PQ_TOPK = 10

_QVEC = _q_vec(_VD, _q_scale(_VD))


def _identified(embeddings: DataFrame) -> DataFrame:
    """The PQ input rule: rows with a NULL vec_id are dropped."""
    return embeddings.filter(F.col("vec_id").isNotNull())


def quantized(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr(_QVEC).alias("qvec"),
    )


def _init_rows(q: DataFrame) -> dict[int, list[int]]:
    """Bounded collect of the PQ_K init vectors (quantized)."""
    return {
        r.vec_id: list(r.qvec)
        for r in q.filter(F.col("vec_id") < PQ_K).collect()
    }


def _init_from_rows(rows: dict[int, list[int]]) -> dict[int, list[tuple[int, list[int]]]]:
    return {
        s: [
            (j, rows[j][s * PQ_D : (s + 1) * PQ_D])
            for j in sorted(rows)
        ]
        for s in range(PQ_M)
    }


def _np_cents(cents: dict[int, list[tuple[int, list[int]]]]):
    """Broadcastable numpy view of a collected codebook: per subspace,
    (centroid-id vector js, centroid matrix C[k, d]) — js sorted
    ascending by construction, so np.argmin's first-minimum rule is the
    oracle's (dist, j) tie-break."""
    import numpy as np

    out = {}
    for s in range(PQ_M):
        js = np.array([j for j, _ in cents[s]], dtype=np.int64)
        C = np.array([v for _, v in cents[s]], dtype=np.int64).reshape(
            len(cents[s]), PQ_D
        )
        out[s] = (js, C)
    return out


def _quantize_np(V):
    """numpy form of the _q_scale/_q_vec expressions — the same IEEE
    double ops in the same order as quantize.quantize_vec (the proven
    driver-side form): exact |x| max, ONE double divide for the scale,
    floor(x/scale + 0.5) per element, clamp to the int8 range. Input
    float64 (n, d) -> int64 (n, d); elementwise IEEE arithmetic is
    engine-independent, so this is bit-identical to the oracle's
    _duck_q_vec (pinned by the PQ oracle tests)."""
    import numpy as np

    maxabs = np.abs(V).max(axis=1)
    scale = np.where(maxabs == 0.0, 1.0, maxabs / QUANT_MAX)
    q = np.floor(V / scale[:, None] + 0.5)
    return np.clip(q, -QUANT_MAX, QUANT_MAX).astype(np.int64)


def _emb_to_q(embs):
    """Arrow batch of raw embedding arrays -> quantized int64 matrix."""
    import numpy as np

    V = np.array(embs.tolist(), dtype=np.float64)
    return _quantize_np(V)


def _nearest_slots(Q, npc):
    """Integer argmin per subspace over the collected codebook -> (n, m)
    slots into npc[s]; ties to the smallest centroid id via np.argmin's
    first-minimum rule."""
    import numpy as np

    out = np.empty((len(Q), PQ_M), dtype=np.int64)
    for s in range(PQ_M):
        _, C = npc[s]
        sub = Q[:, s * PQ_D : (s + 1) * PQ_D]
        d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        out[:, s] = np.argmin(d2, axis=1)
    return out


def _codes_from_q(Q, npc):
    """Centroid ids of the nearest centroids -> (n, m) int32."""
    import numpy as np

    slots = _nearest_slots(Q, npc)
    return np.stack(
        [npc[s][0][slots[:, s]] for s in range(PQ_M)], axis=1
    ).astype(np.int32)


def _codes_kernel_udf(cents: dict[int, list[tuple[int, list[int]]]]):
    """Arrow-batched quantize+encode kernel: the collected codebook
    ships once in the UDF closure; quantization and the per-row integer
    argmin run as numpy broadcasts (interpreted higher-order-function
    trees cost ~3 ms/vector in Spark, which does not codegen them).
    Input: the RAW embedding column."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    npc = _np_cents(cents)

    @pandas_udf("array<int>")
    def codes(embs):
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_codes_from_q(_emb_to_q(embs), npc)))

    return codes


def _assign_qvec_kernel_udf(cents: dict[int, list[tuple[int, list[int]]]]):
    """Codebook-training kernel: quantize + assign in one Arrow pass,
    emitting BOTH the assignment vector and the quantized components
    (the Lloyd component sums downstream need qvec, and computing it
    here avoids a second interpreted _QVEC evaluation)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    npc = _np_cents(cents)

    @pandas_udf("asg array<int>, qvec array<int>")
    def assign_qvec(embs):
        if len(embs) == 0:
            return pd.DataFrame({"asg": [], "qvec": []})
        Q = _emb_to_q(embs)
        asg = _codes_from_q(Q, npc)
        return pd.DataFrame(
            {"asg": list(asg), "qvec": list(Q.astype("int32"))}
        )

    return assign_qvec


def _adc_exact_kernel_udf(
    cents: dict[int, list[tuple[int, list[int]]]],
    luts: list[list[int]],
    qv: list[int],
):
    """Arrow-batched ADC scan kernel: quantize + encode (argmin per
    subspace) + LUT-sum approximate distance + exact int-L2 to the
    query, one numpy pass per batch, emitted as [adc_dist, exact_dist].
    ``luts[s]`` is indexed by the centroid's slot in ``cents[s]``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    npc = _np_cents(cents)
    L = [np.array(lut, dtype=np.int64) for lut in luts]
    qarr = np.array(qv, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def adc_exact(embs):
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        Q = _emb_to_q(embs)
        slots = _nearest_slots(Q, npc)
        adc = np.zeros(len(Q), dtype=np.int64)
        for s in range(PQ_M):
            adc += L[s][slots[:, s]]
        exact = ((Q - qarr[None, :]) ** 2).sum(axis=1)
        return pd.Series(list(np.stack([adc, exact], axis=1)))

    return adc_exact


def pq_codebooks(embeddings: DataFrame, _init=None) -> DataFrame:
    """One Lloyd iteration from the deterministic init ->
    (sub, j, pos, val, n_members); empty clusters emit no rows. The
    assignment argmin runs in the Arrow numpy kernel; the component
    sums are one (sub, j, pos) hash aggregate. Spec: PQ_CODEBOOKS_SQL."""
    embeddings = _identified(embeddings)
    if _init is None:
        _init = _init_from_rows(_init_rows(quantized(embeddings)))
    a = embeddings.select(
        _assign_qvec_kernel_udf(_init)("embedding").alias("r")
    )
    comp = a.select(
        F.posexplode(F.col("r.qvec")).alias("pos0", "val"),
        F.col("r.asg").alias("asg"),
    ).select(
        "val",
        F.expr(f"element_at(asg, int(pos0 div {PQ_D}) + 1)").alias("j"),
        F.expr(f"int(pos0 div {PQ_D})").alias("sub"),
        F.expr(f"int(pos0 % {PQ_D})").alias("pos"),
    )
    sums = comp.groupBy("sub", "j", "pos").agg(
        F.sum(F.col("val").cast("long")).alias("tot"),
        F.count("*").alias("n_members"),
    )
    return sums.select(
        F.col("sub").cast("long").alias("sub"),
        F.col("j").cast("long").alias("j"),
        F.col("pos").cast("long").alias("pos"),
        F.floor(F.col("tot") / F.col("n_members") + 0.5)
        .cast("long")
        .alias("val"),
        F.col("n_members").cast("long").alias("n_members"),
    )


def _final_centroids(
    embeddings: DataFrame, _init=None
) -> dict[int, list[tuple[int, list[int]]]]:
    """Collect the trained codebook (bounded: <= m*k*d rows)."""
    rows = pq_codebooks(embeddings, _init=_init).collect()
    by_sj: dict[tuple[int, int], dict[int, int]] = {}
    for r in rows:
        by_sj.setdefault((r.sub, r.j), {})[r.pos] = r.val
    out: dict[int, list[tuple[int, list[int]]]] = {s: [] for s in range(PQ_M)}
    for (s, j) in sorted(by_sj):
        comp = by_sj[(s, j)]
        out[s].append((j, [comp[p] for p in range(PQ_D)]))
    return out


def pq_codes(embeddings: DataFrame) -> DataFrame:
    """Encode every vector against the trained codebook ->
    (vec_id, sub, code): after the codebook collect, one Arrow argmin
    projection with the codes exploded relationally — no Exchange.
    Spec: PQ_CODES_SQL."""
    embeddings = _identified(embeddings)
    cents = _final_centroids(embeddings)
    coded = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _codes_kernel_udf(cents)("embedding").alias("codes"),
    )
    return coded.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    ).select(
        "vec_id",
        F.col("sub").cast("long").alias("sub"),
        F.col("code").cast("long").alias("code"),
    )


def _int_sq_dist(a: list[int], b: list[int]) -> int:
    return sum((int(x) - int(y)) * (int(x) - int(y)) for x, y in zip(a, b))


def pq_adc_topk(spark: SparkSession, embeddings: DataFrame) -> DataFrame:
    """ADC scan + exact int-L2 rerank for the fixed gate query
    (vec_id PQ_QUERY_ID) -> top PQ_TOPK of (vec_id, adc_dist,
    exact_dist), ordered by (exact_dist, vec_id).

    Encode + LUT-sum ADC + exact int-L2 run in one Arrow-batched numpy
    pass over the collected codebook, then two TakeOrderedAndProject
    cuts. Computing exact_dist for every row instead of candidates-only
    is value-identical (the rerank reads the same integers) and needs no
    second pass. Spec: PQ_TOPK_SQL."""
    embeddings = _identified(embeddings)
    q = quantized(embeddings)
    # one bounded collect serves both the codebook init and the query
    # vector (PQ_QUERY_ID < PQ_K by construction) — was two driver jobs
    irows = _init_rows(q)
    cents = _final_centroids(embeddings, _init=_init_from_rows(irows))
    if PQ_QUERY_ID in irows:
        qv = list(irows[PQ_QUERY_ID])
    else:  # pragma: no cover — gate config pins PQ_QUERY_ID < PQ_K
        qv = list(
            q.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0].qvec
        )
    # per-subspace LUT, one entry per centroid slot of cents[s]
    luts = [
        [_int_sq_dist(qv[s * PQ_D : (s + 1) * PQ_D], vec) for _, vec in cents[s]]
        for s in range(PQ_M)
    ]
    scored = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _adc_exact_kernel_udf(cents, luts, qv)("embedding").alias("ae"),
    ).select(
        "vec_id",
        F.element_at("ae", 1).alias("adc_dist"),
        F.element_at("ae", 2).alias("exact_dist"),
    )
    cand = scored.orderBy("adc_dist", "vec_id").limit(PQ_NCAND)
    return (
        cand.orderBy("exact_dist", "vec_id")
        .limit(PQ_TOPK)
        .select(
            "vec_id",
            F.col("adc_dist").cast("long").alias("adc_dist"),
            F.col("exact_dist").cast("long").alias("exact_dist"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the identical integer chain. Exposes pq_codebooks /
# pq_codes / pq_topk CTEs.
# ---------------------------------------------------------------------------

from .quantize import _duck_q_scale, _duck_q_vec  # noqa: E402


def _duck_dist(a: str, b: str) -> str:
    """Integer squared L2 of two int lists (1-based index lambda)."""
    t = f"(CAST(x AS BIGINT) - CAST({b}[ix] AS BIGINT))"
    return (
        f"list_reduce(list_prepend(0::BIGINT,"
        f" list_transform({a}, (x, ix) -> {t} * {t})),"
        f" (acc, v) -> acc + v)"
    )


PQ_BASE_SQL = f"""
pq_q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         {_duck_q_vec('embedding', _duck_q_scale('embedding'))} AS qvec
  FROM embeddings
  WHERE vec_id IS NOT NULL
),
pq_sub AS (
  SELECT vec_id, s, qvec[s * {PQ_D} + 1 : s * {PQ_D} + {PQ_D}] AS sv
  FROM (SELECT vec_id, qvec, UNNEST(range({PQ_M})) AS s FROM pq_q)
),
pq_init AS (
  SELECT s, vec_id AS j, sv AS cv FROM pq_sub WHERE vec_id < {PQ_K}
),
pq_assign AS (
  SELECT vec_id, s, j FROM (
    SELECT a.vec_id, a.s, i.j,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.s
        ORDER BY {_duck_dist('a.sv', 'i.cv')}, i.j) AS rn
    FROM pq_sub a JOIN pq_init i ON a.s = i.s
  ) WHERE rn = 1
),
pq_comp AS (
  SELECT sub, j, pos, CAST(sv[pos + 1] AS BIGINT) AS v FROM (
    SELECT t.s AS sub, t.j AS j, b.sv AS sv, UNNEST(range({PQ_D})) AS pos
    FROM pq_assign t JOIN pq_sub b ON b.vec_id = t.vec_id AND b.s = t.s
  )
),
pq_codebooks AS (
  SELECT sub, CAST(j AS BIGINT) AS j, pos,
    CAST(floor(CAST(SUM(v) AS BIGINT) / COUNT(*) + 0.5) AS BIGINT) AS val,
    COUNT(*) AS n_members
  FROM pq_comp GROUP BY sub, j, pos
),
pq_cent AS (
  SELECT sub, j, list(val ORDER BY pos) AS cv, MAX(n_members) AS n_members
  FROM pq_codebooks GROUP BY sub, j
),
pq_codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT a.vec_id, c.sub, c.j AS code,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.s
        ORDER BY {_duck_dist('a.sv', 'c.cv')}, c.j) AS rn
    FROM pq_sub a JOIN pq_cent c ON a.s = c.sub
  ) WHERE rn = 1
),
pq_lut AS (
  SELECT c.sub, c.j, {_duck_dist('qs.sv', 'c.cv')} AS ld
  FROM pq_cent c JOIN pq_sub qs ON qs.s = c.sub AND qs.vec_id = {PQ_QUERY_ID}
),
pq_adc AS (
  SELECT k.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adc_dist
  FROM pq_codes k JOIN pq_lut l ON l.sub = k.sub AND l.j = k.code
  GROUP BY k.vec_id
),
pq_cand AS (
  SELECT vec_id, adc_dist FROM pq_adc ORDER BY adc_dist, vec_id
  LIMIT {PQ_NCAND}
),
pq_topk AS (
  SELECT c.vec_id, c.adc_dist,
    {_duck_dist('v.qvec', 'q0.qvec')} AS exact_dist
  FROM pq_cand c
  JOIN pq_q v ON v.vec_id = c.vec_id
  JOIN pq_q q0 ON q0.vec_id = {PQ_QUERY_ID}
  ORDER BY exact_dist, c.vec_id
  LIMIT {PQ_TOPK}
)
"""

PQ_CODEBOOKS_SQL = (
    f"WITH {PQ_BASE_SQL} SELECT CAST(sub AS BIGINT) AS sub, j,"
    ' CAST(pos AS BIGINT) AS pos, val, CAST(n_members AS BIGINT)'
    " AS n_members FROM pq_codebooks"
)
PQ_CODES_SQL = (
    f"WITH {PQ_BASE_SQL} SELECT vec_id, CAST(sub AS BIGINT) AS sub,"
    " CAST(code AS BIGINT) AS code FROM pq_codes"
)
PQ_TOPK_SQL = (
    f"WITH {PQ_BASE_SQL} SELECT vec_id, adc_dist,"
    " CAST(exact_dist AS BIGINT) AS exact_dist FROM pq_topk"
)
