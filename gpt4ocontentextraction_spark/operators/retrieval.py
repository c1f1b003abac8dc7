"""Retrieval-side operators (SURVEY.md §2.6) + ANN over embeddings.

Q1 hybrid top-k becomes brute-force cosine top-k (the reference delegates
ANN to Azure Search — test-query.ipynb cell-4; the *data* semantics we own
are similarity + top-k). An IVF-bucketed variant is the 100-TB scale path:
assign every vector to its nearest of K coarse centroids (here: the first
K vectors, a deterministic stand-in for k-means), search only the query's
bucket. Q2 keyword top-k scores exact term hits. Q4 citation resolution
joins retrieval hits back to content.

Dot products run JVM-side: ``aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)``
is a sequential IEEE-double fold — bit-identical to the DuckDB oracle's
``list_reduce`` sum, so even float outputs hash-match.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cached import mark as _mark
from ..cached import release_since as _release_since
from ..cached import track

TOP_K = 10
IVF_K = 8  # coarse centroids
KEYWORDS = ("table", "data", "merge")


def _dot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (p, q) -> p + q)"


def _cos(a: str, b: str) -> str:
    return f"{_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))"


def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE,"
        f" list_transform({a}, (x, i) -> x::DOUBLE * {b}[i]::DOUBLE)),"
        f" (p, q) -> p + q)"
    )


def _duck_cos(a: str, b: str) -> str:
    return f"{_duck_dot(a, b)} / (sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)}))"


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _fetch_qvec(spark, sf_dir, query_id: int):
    """Driver-side point fetch of the query embedding: ``(found, vec)``
    where vec is a Python float list (or None for a NULL embedding).

    The query vector is a PARAMETER of the retrieval call, not part of
    the distributed dataflow — the reference obtains it from the
    embeddings API before querying (test-query.ipynb cell-4) — so
    fetching it should not cost a Spark job (scan + filter + collect
    measured 0.2-0.9 s per retrieval call at sf0.1). The pyarrow read
    applies the same row-group-statistics pruning Spark's pushed
    filter would, driver-local; at production scale an id-sorted /
    partitioned embeddings table keeps this a one-row-group read.
    Values are identical either way: both paths widen the stored
    float32 to Python float. Falls back to the Spark job on any
    pyarrow failure (e.g. a layout ds.dataset can't read)."""
    try:
        import pyarrow.dataset as ds

        t = ds.dataset(
            f"{sf_dir}/embeddings.parquet", format="parquet"
        ).to_table(
            filter=ds.field("vec_id") == query_id, columns=["embedding"]
        )
        if t.num_rows == 0:
            return False, None
        return True, t.column("embedding")[0].as_py()
    except Exception:
        rows = (
            _emb(spark, sf_dir)
            .filter(F.col("vec_id") == query_id)
            .select("embedding")
            .collect()
        )
        if not rows:
            return False, None
        v = rows[0][0]
        return True, (None if v is None else [float(x) for x in v])


def cosine_topk(spark, sf_dir, query_id: int = 0, k: int = TOP_K) -> DataFrame:
    """Brute-force cosine top-k against the embedding of vec_id=query_id.

    Scoring runs as the Arrow-vectorized pair-cosine UDF over
    double-cast vectors with the query inlined as a literal (the
    ivf_topk qrow pattern) rather than the `aggregate(zip_with(...))`
    HOF fold over the raw float arrays: Catalyst runs HOF lambdas
    interpreted (~0.5 s of this query's r4 0.68 s at sf0.1), and —
    measured at sf0.1 — the float-array fold differs from the DuckDB
    oracle's cast-to-double arithmetic in the last ulp on EVERY row
    (max 1.1e-8), surviving the gate only because round-6 rarely lands
    on a boundary; the double-cast UDF is bit-identical to the oracle
    on all 2000 vectors (0 mismatches), so this is both the fast and
    the strictly-safer form. The query vector arrives via the
    driver-side point fetch (_fetch_qvec), not a Spark job."""
    emb = _emb(spark, sf_dir)
    found, qv = _fetch_qvec(spark, sf_dir, query_id)
    if not found:
        return spark.createDataFrame([], "vec_id long, sim double")
    if qv is None:
        # NULL query vector: every sim is NULL (the expression form's
        # semantics), ranking falls through to (nulls last, vec_id asc)
        sim = F.lit(None).cast("double").alias("sim")
    else:
        qlit = F.array(*[F.lit(float(x)) for x in qv]).cast(
            "array<double>"
        )
        vd = F.expr("transform(embedding, x -> cast(x as double))")
        sim = F.round(_cos_pairs_udf()(vd, qlit), 6).alias("sim")
    scored = emb.select(F.col("vec_id").cast("long").alias("vec_id"), sim)
    return scored.orderBy(F.desc("sim"), F.asc("vec_id")).limit(k)


COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       round({_duck_cos('e.embedding', 'q.qv')}, 6) AS sim
FROM embeddings e, q
ORDER BY sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


def _dot_col(a, b):
    """Column-API twin of _dot (same sequential IEEE-double fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda p, q: p + q
    )


def _cos_col(a, b):
    # a zero-norm side gives NULL, as DuckDB's division by zero does
    return F.try_divide(
        _dot_col(a, b), F.sqrt(_dot_col(a, a)) * F.sqrt(_dot_col(b, b))
    )


def _cos_pairs_udf():
    """Arrow-vectorized cosine over (va, vb) pair columns, bit-identical
    to the `aggregate(zip_with(...))` expression spec AND DuckDB's
    `list_reduce` oracle: all three are sequential left folds over the
    dimension axis in float64, so the numpy loop below accumulates each
    row's sum in exactly the same IEEE order (`acc += va[:, i] * vb[:, i]`
    is one fused multiply-add per row per step — NOT numpy's pairwise
    `np.dot` summation, which would drift in the last ulp). Catalyst runs
    HOF lambdas interpreted per element (measured: the verify join over
    LSH candidates dominated the query); this does dim vectorized passes
    across the whole batch instead."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_pairs(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        avals = va.tolist()
        bvals = vb.tolist()
        # NULL/ragged rows yield NULL sim (sorting last under DESC, like
        # the aggregate(zip_with(...)) expression this replaces) instead
        # of crashing np.stack — same guard as _argmax_bucket_pandas.
        dims = {len(v) for v in avals if v is not None} | {
            len(v) for v in bvals if v is not None
        }
        dim = max(dims) if dims else 0
        ok = [
            a is not None and b is not None and len(a) == dim and len(b) == dim
            for a, b in zip(avals, bvals)
        ]
        out = [None] * len(avals)
        if any(ok):
            A = np.array(
                [avals[i] for i, g in enumerate(ok) if g], dtype=np.float64
            )
            B = np.array(
                [bvals[i] for i, g in enumerate(ok) if g], dtype=np.float64
            )
            n = A.shape[0]
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for i in range(dim):  # sequential over dims = the fold order
                x, y = A[:, i], B[:, i]
                dot += x * y
                na += x * x
                nb += y * y
            sims = dot / (np.sqrt(na) * np.sqrt(nb))
            j = 0
            for i, g in enumerate(ok):
                if g:
                    out[i] = float(sims[j])
                    j += 1
        return pd.Series(out, dtype="object")

    return cos_pairs


# Literal-inlining budget for IVF bucket assignment: the literal form
# builds K x dim F.lit nodes into the expression tree, which is the
# right zero-shuffle plan at gate K but plan-compile death at a
# realistic coarse K (VERDICT r3 finding #3: K=4096 x 3072-dim = ~12M
# literal nodes). Above the budget the assignment switches to a
# broadcast-matrix numpy argmax (same semantics, still a pure
# projection with zero Exchange).
IVF_LITERAL_BUDGET = 100_000


def _assign_bucket(vec_col, cent_list, elem_type: str, literal_budget: int = IVF_LITERAL_BUDGET):
    """Nearest-centroid assignment, dispatched by plan size: literal
    inlining (exact fold-cosine, oracle-gated) while K x dim fits the
    literal budget, else the broadcast pandas-UDF argmax."""
    n_lits = sum(len(cv) for _, cv in cent_list)
    if n_lits <= literal_budget:
        return _argmax_bucket(vec_col, cent_list, elem_type)
    return _argmax_bucket_pandas(vec_col, cent_list)


def _argmax_bucket(vec_col, cent_list, elem_type: str):
    """Per-row nearest-centroid id over a LITERAL centroid array — a pure
    projection: no crossJoin row inflation, no per-key window, no
    Exchange between the scan and the bucket assignment (VERDICT r2
    finding #3). cent_list: [(cid, [floats])], must be broadcast-small
    (it is n_centroids rows — the same bound that lets k-means collect
    it). Ties break to the smallest cid via max-of(-cid)."""
    cents_lit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in cv])
                .cast(f"array<{elem_type}>")
                .alias("cv"),
            )
            for cid, cv in cent_list
        ]
    )
    best = F.array_max(
        F.transform(
            cents_lit,
            # named_struct: .alias() does not survive inside HOF lambdas
            lambda c: F.named_struct(
                F.lit("s"), _cos_col(vec_col, c["cv"]),
                F.lit("nid"), -c["cid"],
            ),
        )
    )
    return -best["nid"]


def _argmax_bucket_pandas(vec_col, cent_list):
    """Large-K nearest-centroid assignment: one numpy matmul per Arrow
    batch against a row-normalized centroid matrix shipped ONCE per
    executor via a Spark broadcast (not per-task closure bytes — at a
    realistic K=4096 x 3072-dim the float64 matrix is ~100 MB). Still a
    pure projection: ArrowEvalPython in the plan, zero Exchange before
    assignment, no row inflation.

    Tie/parity note: centroid columns are ordered by ascending cid and
    np.argmax takes the FIRST maximum, so exact ties break to the
    smallest cid like the literal form. Matmul accumulates in a
    different order than the literal form's sequential fold, so on
    near-ties (< a few ulps) the two forms could disagree — which is why
    the oracle-gated K stays on the literal form below the budget."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    cids = np.array([cid for cid, _ in cent_list], dtype=np.int64)
    mat = np.array([cv for _, cv in cent_list], dtype=np.float64)
    order = np.argsort(cids, kind="stable")
    cids = cids[order]
    mat = mat[order]
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat = mat / np.maximum(norms, 1e-300)
    from ..cached import track_broadcast

    bc = track_broadcast(
        SparkSession.getActiveSession().sparkContext.broadcast((cids, mat))
    )

    @pandas_udf("long")
    def assign(vs):
        b_cids, b_mat = bc.value
        dim = b_mat.shape[1]
        vals = vs.tolist()
        # NULL/ragged rows get a NULL bucket, matching the literal
        # fold-cosine arm (which yields NULL and drops the row from
        # every bucket) instead of crashing np.array on a sequence.
        ok = [v is not None and len(v) == dim for v in vals]
        out = [None] * len(vals)
        if any(ok):
            v = np.array(
                [vals[i] for i, good in enumerate(ok) if good],
                dtype=np.float64,
            )
            vn = v / np.maximum(
                np.linalg.norm(v, axis=1, keepdims=True), 1e-300
            )
            idx = np.argmax(vn @ b_mat.T, axis=1)
            picked = b_cids[idx]
            j = 0
            for i, good in enumerate(ok):
                if good:
                    out[i] = int(picked[j])
                    j += 1
        return pd.Series(out, dtype="object")

    return assign(vec_col)


def ivf_topk(spark, sf_dir, query_id: int = 0, k: int = 5) -> DataFrame:
    """IVF-bucketed ANN: nearest of the first IVF_K vectors = bucket;
    search only the query's bucket (the scale path: per-bucket locality,
    no all-pairs). Bucket assignment is a per-row argmax over the
    n_centroids-row centroid table materialized to the driver (bounded,
    like the k-means centroid loop) and inlined as a literal — the plan
    is Scan -> Project -> Filter -> TakeOrdered with ZERO exchanges,
    instead of the former crossJoin x K + per-vec_id row_number window
    (an avoidable K-fold inflation plus full shuffle).

    All cosine arithmetic runs over DOUBLE-cast vectors: the float-array
    fold differs from the DuckDB oracle's cast-to-double arithmetic in
    the last ulp (measured on every sf0.1 row — see cosine_topk), which
    could flip a bucket assignment or a rounded sim on a near-tie; the
    double-cast fold is bit-identical to the oracle."""
    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    cent_list = [
        (r["cid"], list(r["cv"]))
        for r in emb.filter(F.col("vec_id") < IVF_K)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .collect()
    ]
    bucket = _assign_bucket(F.col("v"), cent_list, "double")
    # the query's bucket + vector, via the SAME expression on one row
    qrows = (
        emb.filter(F.col("vec_id") == query_id)
        .select(bucket.alias("qbucket"), "v")
        .collect()
    )
    if not qrows or qrows[0]["v"] is None:
        # unknown query_id, or a NULL query embedding (whose bucket is
        # NULL — nothing to probe): empty result, like the join-based
        # form had, instead of a driver TypeError
        return spark.createDataFrame(
            [], "vec_id long, bucket long, sim double"
        )
    qrow = qrows[0]
    qv = F.array(*[F.lit(float(x)) for x in qrow["v"]]).cast(
        "array<double>"
    )
    return (
        emb.select(
            "vec_id",
            bucket.cast("long").alias("bucket"),
            F.round(_cos_col(F.col("v"), qv), 6).alias("sim"),
        )
        .filter(F.col("bucket") == int(qrow["qbucket"]))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


IVF_TOPK_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_K}
),
assigned AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY {_duck_cos('e.embedding', 'c.cv')} DESC, c.cid ASC) AS rn
  FROM embeddings e, cents c
),
bucketed AS (
  SELECT vec_id, embedding, cid AS bucket FROM assigned WHERE rn = 1
),
q AS (SELECT bucket AS qbucket, embedding AS qv FROM bucketed WHERE vec_id = 0)
SELECT CAST(b.vec_id AS BIGINT) AS vec_id,
       CAST(b.bucket AS BIGINT) AS bucket,
       round({_duck_cos('b.embedding', 'q.qv')}, 6) AS sim
FROM bucketed b, q
WHERE b.bucket = q.qbucket
ORDER BY sim DESC, vec_id ASC
LIMIT 5
"""


# --- Hyperplane-LSH embedding near-dup (the production path) ---------------
#
# Candidate generation: K deterministic pseudo-random hyperplanes; each
# vector's signature is the K sign bits of its projections, split into
# EMB_BANDS bands of EMB_BAND_BITS bits. Two vectors are candidates iff
# some band matches exactly (equality self-join — never a nested loop).
# Exact cosine is then verified on candidates only. Unlike SimHash bands
# there is no pigeonhole guarantee (bits are independent projections),
# and recall depends on the PAIR's similarity, not the threshold: a pair
# at cos=s differs per bit w.p. arccos(s)/pi, so with 4 x 16-bit bands a
# pair sitting exactly AT the 0.99 threshold (theta/pi ~ 0.045, band
# match 0.955^16 ~ 0.48) is missed w.p. ~0.52^4 ~ 7% — size bands to the
# similarity you must catch, not to the output threshold. This corpus's
# qualifying pairs are the ~0.9998-cosine variants (theta/pi ~ 0.0040,
# miss ~1.4e-5), and the gate proves recall=1 on it by equality with the
# exact all-pairs oracle. 16-bit bands keep random collisions ~n^2/2^17
# per band (mostly singleton buckets), so the exact-cosine verify touches
# a near-linear candidate set; candidates carry only ids — vectors join
# back in for the verify rather than riding the band shuffle.

EMB_PLANES = 64
EMB_BANDS = 4
EMB_BAND_BITS = 16
EMB_NEARDUP_THRESHOLD = 0.99
_EMB_P = 1_000_003


def _variant_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings + deterministically perturbed near-duplicate variants
    (cos ~ 0.9998 to their base) — the near-dup testbed both engines
    construct bit-identically (float->double cast then the same IEEE adds)."""
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    variant = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(v, (x, i) ->"
            " x + ((vec_id + i) % 7 - 3) * 0.001d)"
        ).alias("v"),
    )
    return base.unionByName(variant)


DUCK_VARIANT_EMBEDDINGS = """
base AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
vcorpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(v, (x, i) ->
           x + ((vec_id + (i - 1)) % 7 - 3) * 0.001) AS v
  FROM base
)
"""


def _band_keys_udf(bands: int = EMB_BANDS, band_bits: int = EMB_BAND_BITS):
    """Arrow-vectorized band-key computation: W[j,k] = (((9176(k+1) +
    5171(j+1)^2 + 13) mod P) / P) - 0.5 is the deterministic hyperplane
    matrix (sole definition of the planes), signature = sign of V @ W,
    each `band_bits`-bit band packed WITH its band index into one LONG
    key `(b << band_bits) | bits` — injective per (band, bits), so
    equality on the long is equality on the (band, bits) pair, and 8
    bytes ride the exchange instead of a ~10-char string (guide §2.3,
    narrower types). Returns the full per-vector signature (array of
    `bands` keys) so candidate generation can apply the first-matching-
    band rule without a distinct."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    assert bands * band_bits <= EMB_PLANES

    @pandas_udf("array<long>")
    def band_keys(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy())
        n_dims = V.shape[1]
        k = np.arange(EMB_PLANES)
        j = np.arange(n_dims)
        W = (
            (9176 * (k + 1)[None, :] + 5171 * ((j + 1) ** 2)[:, None] + 13)
            % _EMB_P
        ) / float(_EMB_P) - 0.5
        bits = (V @ W) > 0
        weights = 1 << np.arange(band_bits)
        keys = np.empty((len(V), bands), dtype=np.int64)
        for b in range(bands):
            seg = bits[:, b * band_bits: (b + 1) * band_bits]
            keys[:, b] = (b << band_bits) | (seg @ weights)
        return pd.Series(list(keys))

    return band_keys


# Bounded-collect budget (vector COUNT) for the ids-only verify matrix:
# below it the variant corpus is collected once and candidate cosines
# are computed from the broadcast matrix with only (id_a, id_b) longs
# crossing the Python boundary — measured at sf0.1 the per-pair join
# form shipped ~2.3 GB of vector payload through Arrow for 2.3M
# candidates (guide §8: decide with small rows, move big rows never).
# Above the budget the join form below remains the path (same rows).
EMB_VERIFY_MATRIX_BUDGET = 1 << 16


def _cos_ids_udf(ids, M, ok_row):
    """Pair cosine addressed by vector id against the broadcast matrix:
    exactly _cos_pairs_udf's sequential per-dimension IEEE fold (same
    bit-identical contract vs the expression spec and the DuckDB
    oracle), but the pair join ships two longs per candidate instead of
    two dim-length double arrays. `ids` is row-aligned with M; lookups
    run through a vectorized pandas Index (no per-row Python map)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    index = pd.Index(np.asarray(ids, dtype=np.int64))

    @pandas_udf("double")
    def cos_ids(ia, ib):
        if len(ia) == 0:
            return pd.Series([], dtype="float64")
        xa = index.get_indexer(ia.to_numpy())
        xb = index.get_indexer(ib.to_numpy())
        good = (xa >= 0) & (xb >= 0)
        out = np.full(len(ia), np.nan)
        valid_out = np.zeros(len(ia), dtype=bool)
        if good.any():
            ga = xa[good]
            gb = xb[good]
            valid = ok_row[ga] & ok_row[gb]
            A = M[ga]
            B = M[gb]
            n = A.shape[0]
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for i in range(M.shape[1]):  # sequential over dims = fold order
                x, y = A[:, i], B[:, i]
                dot += x * y
                na += x * x
                nb += y * y
            sims = dot / (np.sqrt(na) * np.sqrt(nb))
            out[good] = sims
            valid_out[good] = valid
        # object Series with None for invalid rows — the exact null
        # semantics of _cos_pairs_udf (NaN sims stay NaN floats there
        # too, so nothing is coerced)
        res = [
            (float(out[i]) if valid_out[i] else None)
            for i in range(len(ia))
        ]
        return pd.Series(res, dtype="object")

    return cos_ids


def emb_lsh_candidate_recall(
    cos_sim: float,
    bands: int = EMB_BANDS,
    band_bits: int = EMB_BAND_BITS,
    planes: int = EMB_PLANES,
) -> float:
    """Probability that a pair at cosine `cos_sim` becomes a CANDIDATE
    under the hyperplane-LSH banding (1 - (1 - (1-theta/pi)^r)^b). This
    is the API's honesty knob: unlike SimHash's pigeonhole bands there is
    no recall guarantee at the verify threshold itself — size bands to
    the similarity you must catch, not to the output threshold."""
    import math

    if cos_sim >= 1.0:
        return 1.0
    theta = math.acos(max(-1.0, min(1.0, cos_sim)))
    p_bit = 1.0 - theta / math.pi
    assert bands * band_bits <= planes
    return 1.0 - (1.0 - p_bit ** band_bits) ** bands


# The similarity at which the default 4 x 16-bit geometry still catches
# pairs with >= 99.9% probability (the gate corpus's qualifying pairs sit
# at ~0.9998 where the miss rate is ~1.4e-5). A pair exactly AT the 0.99
# verify threshold is only caught w.p. ~0.93 — callers needing guaranteed
# recall at lower similarities must pass more/shorter bands.
EMB_LSH_RELIABLE_SIM = 0.9995
assert emb_lsh_candidate_recall(EMB_LSH_RELIABLE_SIM) >= 0.999


def embedding_neardup_lsh(
    spark,
    sf_dir,
    threshold: float = EMB_NEARDUP_THRESHOLD,
    bands: int = EMB_BANDS,
    band_bits: int = EMB_BAND_BITS,
) -> DataFrame:
    """Production embedding near-dup: hyperplane-LSH banded candidates +
    exact-cosine verify over the (uncapped) variant corpus.

    `threshold` is the VERIFY cutoff on exact cosine; candidate recall is
    a property of the pair's similarity and the band geometry, NOT of
    `threshold` — quantify it with emb_lsh_candidate_recall() and size
    `bands`/`band_bits` to the similarity that must be caught (see
    EMB_LSH_RELIABLE_SIM for the default geometry's reliable level)."""
    # consumed by the signature pass + the verify matrix collect (or
    # both join sides on the fallback) — persist, or the variant
    # construction re-evaluates per reference
    vecs = track(_variant_embeddings(_emb(spark, sf_dir)))
    # Sign bits of the K projections. This is a dense matmul (n x D @
    # D x K) — the one shape Catalyst cannot express efficiently: lambda
    # folds run interpreted (~16 s on 4k vectors) and a 64-SUM relational
    # aggregation blows the codegen method limit back to interpreted
    # (~30 s). An Arrow-vectorized pandas UDF does the matmul in numpy
    # (milliseconds); signatures only GENERATE candidates — correctness
    # still rests on the exact-cosine verify against the oracle.
    # self-joined a/b below — persist, or the sign-bit matmul UDF runs
    # once per side
    keyed = track(
        vecs.select(
            "vec_id",
            _band_keys_udf(bands, band_bits)("v").alias("bands"),
        ).select(
            "vec_id",
            "bands",
            F.posexplode("bands").alias("bidx", "band_key"),
        )
    )
    a = keyed.select(
        F.col("vec_id").alias("id_a"),
        F.col("bands").alias("bands_a"),
        "bidx",
        "band_key",
    )
    b = keyed.select(
        F.col("vec_id").alias("id_b"),
        F.col("bands").alias("bands_b"),
        "band_key",
    )
    # First-matching-band rule replaces the distinct: a pair sharing m
    # bands used to be emitted m times and deduplicated through a 9.2M-
    # row exchange (measured, sf0.1); emitting it only from its FIRST
    # shared band yields the identical candidate SET with no exchange
    # at all (the join build side broadcasts). The guard is a codegen'd
    # conjunction over the earlier bands of the two signature arrays.
    first_match = F.lit(True)
    for i in range(bands - 1):
        first_match = first_match & (
            (F.col("bidx") <= i)
            | (
                F.element_at("bands_a", i + 1)
                != F.element_at("bands_b", i + 1)
            )
        )
    # Round-robin spread of the (tiny) exploded signature relation
    # before the broadcast join: the probe side otherwise inherits the
    # 1-2 scan partitions of the small parquet input, and the join's
    # multi-million-pair OUTPUT — where all verify compute happens —
    # would run on 1-2 cores. The exchange moves only n*bands key rows;
    # the pair fan-out and the cosine kernel then parallelize across
    # the session's cores (scale-adaptive, not a constant).
    n_spread = max(spark.sparkContext.defaultParallelism, 8)
    cand = (
        a.repartition(n_spread)
        .join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_match)
        .select("id_a", "id_b")  # ids only: vectors don't ride the plan
    )
    # Verify: ids-only against the bounded broadcast matrix when the
    # corpus fits the budget (the IVF literal-budget dispatch pattern);
    # per-pair vector join above it. A NULL vec_id never passes
    # id_a < id_b, so it has no matrix row.
    head = (
        vecs.filter(F.col("vec_id").isNotNull())
        .limit(EMB_VERIFY_MATRIX_BUDGET + 1)
        .collect()
    )
    if len(head) <= EMB_VERIFY_MATRIX_BUDGET:
        import numpy as np

        dims = {len(r.v) for r in head if r.v is not None}
        dim = max(dims) if dims else 0
        M = np.zeros((len(head), dim), dtype=np.float64)
        ok_row = np.zeros(len(head), dtype=bool)
        ids = np.empty(len(head), dtype=np.int64)
        for i, r in enumerate(head):
            ids[i] = r.vec_id
            if r.v is not None and len(r.v) == dim:
                M[i] = r.v
                ok_row[i] = True
        return cand.select(
            "id_a",
            "id_b",
            F.round(
                _cos_ids_udf(ids, M, ok_row)("id_a", "id_b"), 6
            ).alias("sim"),
        ).filter(F.col("sim") >= threshold)
    va = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            # Arrow-vectorized, bit-identical to the _cos expression spec
            # (sequential fold — see _cos_pairs_udf). The interpreted HOF
            # form was the dominant cost of this query at sf0.1.
            F.round(_cos_pairs_udf()("va", "vb"), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


EMBEDDING_NEARDUP_LSH_SQL = f"""
WITH {DUCK_VARIANT_EMBEDDINGS.strip()},
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_duck_cos('a.v', 'b.v')}, 6) AS sim
  FROM vcorpus a JOIN vcorpus b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM scored WHERE sim >= {EMB_NEARDUP_THRESHOLD}
"""


SEMDEDUP_K = 8  # coarse clusters at gate scale; size ~sqrt(n) at scale


def semdedup_pairs(
    spark,
    sf_dir,
    eps: float = EMB_NEARDUP_THRESHOLD,
    n_clusters: int = SEMDEDUP_K,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic dedup:
    cluster the embedding corpus, compare pairs ONLY within a cluster,
    and within each duplicate pair prune the member CLOSER to its
    centroid — keeping the outlier preserves diversity (the paper's
    keeper rule). Returns ``(id_kept, id_pruned, sim)``.

    Clustering uses deterministic fixed centroids (the base vectors with
    ``vec_id < n_clusters``, the same stand-in ivf_topk uses) so the
    whole relation — assignment included — is expressible in the DuckDB
    oracle; the k-means-fitted variant of the centroids is exercised by
    ivf_kmeans_topk and can be swapped in without changing this shape.

    Scale shape: assignment is a broadcast of n_clusters rows + an
    Arrow pair-cosine over n x K (ids and scalars only ride the
    groupBy); candidate pairs come from an EQUALITY self-join on cid, so
    pair count is bounded by cluster size (pick n_clusters ~ n/target
    at 100 TB — SemDeDup's own regime is K in the tens of thousands),
    and vectors join back by id only for within-cluster candidates.
    Reference analog: the dedup intent of doc2md_utils.py's re-index
    skip, lifted to semantic space."""
    vecs = track(_variant_embeddings(_emb(spark, sf_dir)))
    cent = vecs.filter(F.col("vec_id") < n_clusters).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    # csim to every centroid via the bit-identical sequential-fold pair
    # UDF (NOT _assign_bucket's numpy argmax: the oracle recomputes the
    # same fold, so assignment ties break identically on both engines)
    csims = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", _cos_pairs_udf()("v", "cv").alias("csim")
    )
    # assign feeds BOTH sides of the within-cluster self-join below; the
    # subtrees are built from separate DataFrame objects so Catalyst
    # plans the crossJoin + pair-UDF + groupBy TWICE with no
    # ReusedExchange (measured: 6 ArrowEvalPython / 2 BroadcastNestedLoop
    # nodes, ~2x the n*K scoring cost). Persist the n-row assignment so
    # the expensive subtree runs once.
    assign = track(
        csims.filter(F.col("csim").isNotNull())
        .groupBy("vec_id")
        .agg(F.max(F.struct("csim", (-F.col("cid")).alias("ncid"))).alias("m"))
        .select(
            "vec_id",
            (-F.col("m.ncid")).cast("long").alias("cid"),
            F.col("m.csim").alias("csim"),
        )
    )
    a = assign.select(
        F.col("vec_id").alias("id_a"), "cid", F.col("csim").alias("csim_a")
    )
    b = assign.select(
        F.col("vec_id").alias("id_b"), "cid", F.col("csim").alias("csim_b")
    )
    va = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            "csim_a",
            "csim_b",
            F.round(_cos_pairs_udf()("va", "vb"), 6).alias("sim"),
        )
        .filter(F.col("sim") >= eps)
    )
    # keeper rule: prune the member nearer its centroid; exact-tie (incl.
    # a variant pair whose members share one centroid-sim) prunes the
    # larger id — id_a < id_b here, so the ELSE branch is the tie rule
    prune_a = F.col("csim_a") > F.col("csim_b")
    return pairs.select(
        F.when(prune_a, F.col("id_b")).otherwise(F.col("id_a")).alias("id_kept"),
        F.when(prune_a, F.col("id_a")).otherwise(F.col("id_b")).alias("id_pruned"),
        "sim",
    )


def _semdedup_sql(n_clusters: int) -> str:
    return f"""
WITH {DUCK_VARIANT_EMBEDDINGS.strip()},
cent AS (
  SELECT vec_id AS cid, v AS cv FROM vcorpus WHERE vec_id < {n_clusters}
),
csims AS (
  SELECT x.vec_id, c.cid, {_duck_cos('x.v', 'c.cv')} AS csim
  FROM vcorpus x CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cid, csim FROM (
    SELECT vec_id, cid, csim,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cid ASC) AS rn
    FROM csims WHERE csim IS NOT NULL) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.csim AS csim_a, b.csim AS csim_b,
         round({_duck_cos('va.v', 'vb.v')}, 6) AS sim
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN vcorpus va ON va.vec_id = a.vec_id
  JOIN vcorpus vb ON vb.vec_id = b.vec_id
)
SELECT CASE WHEN csim_a > csim_b THEN id_b ELSE id_a END AS id_kept,
       CASE WHEN csim_a > csim_b THEN id_a ELSE id_b END AS id_pruned,
       sim
FROM pairs WHERE sim >= {EMB_NEARDUP_THRESHOLD}
"""


SEMDEDUP_SQL = _semdedup_sql(SEMDEDUP_K)


def semdedup_pairs_grouped(
    spark,
    sf_dir,
    eps: float = EMB_NEARDUP_THRESHOLD,
    n_clusters: int = SEMDEDUP_K,
) -> DataFrame:
    """SemDeDup with the per-CLUSTER kernels — the production exchange
    shape of `semdedup_pairs` (same relation, bit-identical output,
    proven against the same oracle). Two Arrow-traffic sinks in the
    join-shaped spec form disappear:

    1. ASSIGNMENT: the spec's crossJoin inflates to n x K rows each
       carrying BOTH dim-width vectors through the pair-cosine UDF
       (sf0.1 @ K=64: 256k rows x 2 x 256 doubles ~ 1 GB of Arrow IPC).
       Here one `mapInPandas` pass ships each vector ONCE and scores it
       against a driver-collected centroid matrix (K rows — the same
       bound that lets ivf_kmeans collect its centroids; broadcast,
       released by the gate wrapper) — O(n * dim) traffic.
    2. VERIFY: the spec joins both vectors onto every candidate pair
       (O(pairs * dim) traffic). Here `applyInPandas` over the cid
       groups ships each vector once into its cluster's kernel and
       emits only (ids, csims, sim) scalars — O(n * dim) traffic,
       memory bounded by one cluster (n_c * dim + n_c^2; SemDeDup's
       own regime sizes K ~ n/target so n_c stays bounded).

    Bit-identity (NOT the matmul shortcut `_argmax_bucket_pandas`
    takes): every cosine below accumulates with `acc += x * y` column
    passes in dimension order — one product + one add per element per
    step, exactly `_cos_pairs_udf`'s IEEE fold order, which is itself
    bit-identical to the `aggregate(zip_with(...))` spec and DuckDB's
    `list_reduce` — so assignments, csims, and sims (and therefore
    argmax ties and the rounded verify cutoff) cannot drift in the
    last ulp the way a pairwise-summing BLAS dot could. np.argmax
    takes the FIRST maximum over cid-ascending columns = the spec's
    max(struct(csim, -cid)) tie rule."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import SparkSession

    from ..cached import track_broadcast

    vecs = track(_variant_embeddings(_emb(spark, sf_dir)))
    cent_rows = (
        vecs.filter(F.col("vec_id") < n_clusters)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .collect()
    )
    cids = np.array(sorted(int(r["cid"]) for r in cent_rows), dtype=np.int64)
    by_cid = {int(r["cid"]): list(r["cv"]) for r in cent_rows}
    cmat = np.array([by_cid[int(c)] for c in cids], dtype=np.float64)
    bc = track_broadcast(
        SparkSession.getActiveSession().sparkContext.broadcast((cids, cmat))
    )

    def _assign_batches(batches):
        b_cids, b_c = bc.value
        dim = b_c.shape[1]
        # centroid norms: same fold order as the per-pair UDF's nb
        nc = np.zeros(b_c.shape[0])
        for d in range(dim):
            y = b_c[:, d]
            nc += y * y
        snc = np.sqrt(nc)
        for pdf in batches:
            vals = pdf["v"].tolist()
            ok = [v is not None and len(v) == dim for v in vals]
            if not any(ok):
                continue
            V = np.array(
                [vals[i] for i, g in enumerate(ok) if g], dtype=np.float64
            )
            n = V.shape[0]
            dot = np.zeros((n, b_c.shape[0]))
            nv = np.zeros(n)
            for d in range(dim):  # sequential over dims = the fold order
                x = V[:, d]
                dot += x[:, None] * b_c[None, :, d]
                nv += x * x
            sims = dot / (np.sqrt(nv)[:, None] * snc[None, :])
            idx = np.argmax(sims, axis=1)  # first max = smallest cid
            picked = sims[np.arange(n), idx]
            ids = pdf["vec_id"].to_numpy()[ok]
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cid": b_cids[idx],
                    "csim": picked,
                    "v": [vals[i] for i, g in enumerate(ok) if g],
                }
            )

    assigned = vecs.mapInPandas(
        _assign_batches,
        schema="vec_id long, cid long, csim double, v array<double>",
    )
    vec_dim = int(cmat.shape[1])  # close over the scalar, not the matrix

    def _cluster_pairs(pdf):
        pdf = pdf.sort_values("vec_id")
        vals = pdf["v"].tolist()
        dim = vec_dim
        # assignment already dropped NULL/ragged rows; re-guard anyway
        ok = [v is not None and len(v) == dim for v in vals]
        ids = pdf["vec_id"].to_numpy()[ok]
        cs = pdf["csim"].to_numpy()[ok]
        n = int(ids.shape[0])
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "csim_a": pd.Series([], dtype="float64"),
                "csim_b": pd.Series([], dtype="float64"),
                "sim": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        V = np.array(
            [v for v, g in zip(vals, ok) if g], dtype=np.float64
        )
        G = np.zeros((n, n))
        nrm = np.zeros(n)
        for d in range(dim):  # rank-1 updates in fold order
            x = V[:, d]
            G += x[:, None] * x[None, :]
            nrm += x * x
        s = np.sqrt(nrm)
        sims = G / (s[:, None] * s[None, :])
        iu, ju = np.triu_indices(n, k=1)
        return pd.DataFrame(
            {
                "id_a": ids[iu],
                "id_b": ids[ju],
                "csim_a": cs[iu],
                "csim_b": cs[ju],
                "sim": sims[iu, ju],
            }
        )

    pairs = (
        assigned.groupBy("cid")
        .applyInPandas(
            _cluster_pairs,
            schema=(
                "id_a long, id_b long, csim_a double,"
                " csim_b double, sim double"
            ),
        )
        .select(
            "id_a",
            "id_b",
            "csim_a",
            "csim_b",
            F.round("sim", 6).alias("sim"),
        )
        .filter(F.col("sim") >= eps)
    )
    prune_a = F.col("csim_a") > F.col("csim_b")
    return pairs.select(
        F.when(prune_a, F.col("id_b")).otherwise(F.col("id_a")).alias("id_kept"),
        F.when(prune_a, F.col("id_a")).otherwise(F.col("id_b")).alias("id_pruned"),
        "sim",
    )


def ivf_kmeans_topk(
    spark,
    sf_dir,
    query_id: int = 0,
    k: int = 5,
    n_centroids: int = IVF_K,
    iters: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """IVF with REAL k-means centroids (Lloyd's, fixed deterministic
    init = the first n_centroids vectors) instead of ivf_topk's stand-in.

    Iterative refinement is driver-coordinated; each iteration is ONE
    pass over the corpus: bucket assignment is a per-row argmax against
    the literal centroid array (_argmax_bucket — zero joins, zero
    windows, no n x K inflation), followed by a posexplode/groupBy Lloyd
    update whose n_centroids-row result materializes to the driver (so
    the next iteration's plan starts from literals, not nested lineage).
    At 100 TB you fit centroids on a sample, then one assignment pass
    partitions the corpus; queries probe the n_probe nearest buckets
    (chosen driver-side from the collected centroids — no window).

    DETERMINISM: dimension means are computed as exact decimal(38,20)
    sums (order-independent integer arithmetic, unlike float SUM whose
    value depends on partitioning) divided by the exact count, so the
    fitted centroids — and therefore the result — are a pure function of
    the data. An empty cluster (a centroid losing every member during an
    iteration) keeps its previous centroid instead of silently vanishing
    from the bucket space. The driver gate pins the full top-k as a
    golden row set (IVF_KMEANS_GOLD_SQL, valid at the gate's sf=0.01);
    tests/test_retrieval_ivf.py pins recall vs brute force and
    run-to-run determinism."""
    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    cent_list = [
        (r["cid"], list(r["cv"]))
        for r in emb.filter(F.col("vec_id") < n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .collect()
    ]
    for _ in range(iters):
        scope = _mark()
        bucket = _assign_bucket(F.col("v"), cent_list, "double")
        new_rows = (
            emb.select(bucket.alias("cid"), F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(38,20)")) / F.count("*")
                ).cast("double").alias("m")
            )
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))),"
                    " s -> s.m)"
                ).alias("cv")
            )
        ).collect()
        new = {r["cid"]: list(r["cv"]) for r in new_rows}
        # empty-cluster reseed: keep the previous centroid
        cent_list = [(cid, new.get(cid, cv)) for cid, cv in cent_list]
        # this iteration's assignment (and, at large K, its tracked
        # centroid broadcast) is fully consumed by the collect above —
        # drop executor copies now so iters x ~100 MB never accumulates
        # within one query (unpersist, not destroy: re-ships if reused).
        # Scoped to THIS iteration's entries (mark/release_since): a
        # sweep-wide release here would drop a concurrently composing
        # operator's tracked persists mid-flight (ADVICE r4 #3).
        _release_since(scope)
    bucket = _assign_bucket(F.col("v"), cent_list, "double")
    # driver-side point fetch (see _fetch_qvec); float(x) is the same
    # float32 -> float64 widening the "v" double-cast column applied
    q_found, q_raw = _fetch_qvec(spark, sf_dir, query_id)
    if not q_found or q_raw is None:
        # unknown query_id OR NULL query embedding: a NULL vector has no
        # bucket to probe — empty result instead of a driver TypeError
        return spark.createDataFrame(
            [], "vec_id long, bucket long, sim double"
        )
    qv_list = [float(x) for x in q_raw]

    def _pycos(a, b):  # sequential fold, mirrors _dot/_dot_col exactly
        def dot(p, q):
            acc = 0.0
            for x, y in zip(p, q):
                acc += x * y
            return acc

        den = (dot(a, a) ** 0.5) * (dot(b, b) ** 0.5)
        return dot(a, b) / den if den else float("-inf")  # NULL: last

    probes = sorted(
        cent_list, key=lambda c: (-_pycos(c[1], qv_list), c[0])
    )[:n_probe]
    qbuckets = [int(c[0]) for c in probes]
    qv = F.array(*[F.lit(x) for x in qv_list])
    return (
        emb.select(
            "vec_id",
            bucket.cast("long").alias("bucket"),
            F.round(_cos_col(F.col("v"), qv), 6).alias("sim"),
        )
        .filter(F.col("bucket").isin(qbuckets))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


# Golden gate for ivf_kmeans_topk (VERDICT r2 item 8): the decimal-sum
# Lloyd updates make the fitted centroids — hence the top-k — a pure
# function of the input (partitioning-independence pinned in
# tests/test_retrieval_ivf.py), so the result can be pinned as literal
# rows per input table. Rows are keyed by a table fingerprint that
# depends on the embedding VALUES, not just the (label, vec_id)
# columns — SUM(label*vec_id + vec_id*floor(embedding[1]*1e6)) — so
# regenerated testdata with the same ids but different vectors cannot
# silently select stale golden rows (ADVICE r3 #4); an unknown table
# yields 0 rows (visible mismatch, never a silent pass). Regenerate
# keys with the fp CTE in DuckDB and rows with
# `ivf_kmeans_topk(spark, sf_dir).collect()` after any semantic change.
_IVF_KMEANS_GOLD = {
    # fingerprint: rows (vec_id, bucket, sim) at default args
    -588173393: [  # /root/testdata/sf0.001
        (0, 0, 1.0),
        (17, 0, 0.334456),
        (225, 0, 0.315127),
        (12, 0, 0.311027),
        (483, 0, 0.300451),
    ],
    1084882709: [  # /root/testdata/sf0.01
        (0, 0, 1.0),
        (365, 0, 0.369994),
        (334, 7, 0.362722),
        (387, 0, 0.331139),
        (423, 0, 0.296934),
    ],
}

IVF_KMEANS_GOLD_SQL = (
    "WITH fp AS (SELECT SUM(CAST(label AS BIGINT) * vec_id"
    " + vec_id * CAST(floor(embedding[1] * 1e6) AS BIGINT)) AS c"
    " FROM embeddings)\n"
    "SELECT CAST(vec_id AS BIGINT) AS vec_id,"
    " CAST(bucket AS BIGINT) AS bucket, CAST(sim AS DOUBLE) AS sim\n"
    "FROM (VALUES\n"
    + ",\n".join(
        f"  ({c}, {v}, {b}, {s!r})"
        for c, rows in _IVF_KMEANS_GOLD.items()
        for v, b, s in rows
    )
    + ") AS t(c, vec_id, bucket, sim)\n"
    "WHERE c = (SELECT c FROM fp)"
)


def embedding_neardup_pairs(
    spark, sf_dir, max_id: int = 200, threshold: float = EMB_NEARDUP_THRESHOLD
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs in a bounded id block
    of the VARIANT corpus — a VERIFICATION utility (recall audits on
    samples); the production path is embedding_neardup_lsh. Runs over
    base vectors < max_id plus their perturbed variants (cos ~0.9998),
    so the gate asserts REAL near-dup rows — the former base-only form
    was vacuously green (the generated embeddings top out at cos ~0.45,
    so 0 rows on both engines asserted only emptiness, VERDICT r4 #5)."""
    vecs = _variant_embeddings(_emb(spark, sf_dir)).filter(
        (F.col("vec_id") % 1_000_000) < max_id
    )
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round(F.expr(_cos("va", "vb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


EMBEDDING_NEARDUP_SQL = f"""
WITH {DUCK_VARIANT_EMBEDDINGS.strip()},
blk AS (SELECT vec_id, v FROM vcorpus WHERE vec_id % 1000000 < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_duck_cos('a.v', 'b.v')}, 6) AS sim
FROM blk a JOIN blk b ON a.vec_id < b.vec_id
WHERE round({_duck_cos('a.v', 'b.v')}, 6) >= {EMB_NEARDUP_THRESHOLD}
"""


def keyword_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Q2: exact term-hit scoring, top-k (docker/main.py:802-807 top=5).

    Score = total keyword hits = sum of the per-term tf counts from the
    Arrow-vectorized BM25 counter — the same integers the spec form
    ``size(filter(split(text,' '), w -> array_contains(KEYWORDS, w)))``
    computes (KEYWORDS is duplicate-free, so per-term counts partition
    the hits), without running Catalyst-interpreted lambdas per word
    over the full corpus (VERDICT r3 finding #2). NULL text propagates:
    all tf_i are null, so the sum is null — same as size/filter over a
    null array under ANSI. The lambda form remains the spec in
    KEYWORD_TOPK_SQL."""
    tf = _bm25_tf_udf()
    total = None
    for i in range(len(KEYWORDS)):
        c = F.col(f"c.tf{i}")
        total = c if total is None else total + c
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tf("text").alias("c"),
        )
        .select("doc_id", total.cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


KEYWORD_TOPK_SQL = (
    "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
    " CAST(len(list_filter(string_split(text, ' '),"
    " w -> list_contains(["
    + ", ".join(f"'{w}'" for w in KEYWORDS)
    + "], w))) AS BIGINT) AS score"
    " FROM documents ORDER BY score DESC, doc_id ASC LIMIT 5"
)


# --- BM25 + hybrid reciprocal-rank fusion (the reference's query shape) ----
#
# The reference's retrieval is hybrid: VectorizedQuery + keyword search +
# semantic reranking, fused by the search service (test-query.ipynb cell-4
# `query_type='semantic'`; docker/main.py:802-813 keyword `top=5`). The
# data semantics this engine owns: a BM25 lexical scorer (tf, idf, length
# norm — Robertson/Sparck-Jones as used by Lucene: idf = ln((N-df+.5)/
# (df+.5)+1), k1=1.2, b=0.75) and reciprocal-rank fusion of the BM25 and
# cosine rankings (RRF, Cormack et al. 2009: sum 1/(60+rank)).
#
# All arithmetic is JVM expressions; the integer stats (tf, df, dl, N) are
# exact on both engines, so the double formula evaluates bit-identically.

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60


def _bm25_term(tf: str, df: str, n: str, dl: str, avgdl: str) -> str:
    """One query term's BM25 contribution; identical text runs on Spark
    and DuckDB (all refs pre-cast to double)."""
    return (
        f"ln(({n} - {df} + 0.5) / ({df} + 0.5) + 1.0)"
        f" * (({tf} * {BM25_K1 + 1.0!r})"
        f" / ({tf} + {BM25_K1!r} * (1.0 - {BM25_B!r}"
        f" + {BM25_B!r} * ({dl} / {avgdl}))))"
    )


def _bm25_tf_udf():
    """Arrow-vectorized per-document (dl, tf_i) counting for the fixed
    KEYWORDS query. The `size(filter(ws, w -> w = t))` expression form it
    replaces runs as interpreted Catalyst lambdas per word per term —
    measured as the dominant cost of bm25/hybrid at sf0.1. All outputs
    are exact INTEGERS, so swapping the counter cannot perturb the
    downstream double formula: parity with the DuckDB oracle is
    arithmetic-identical by construction. NULL text propagates null
    fields, same as size/filter over a null array under ANSI."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    fields = ", ".join(["dl long"] + [f"tf{i} long" for i in range(len(KEYWORDS))])

    @pandas_udf(fields)
    def tf_counts(texts):
        rows = {"dl": []}
        for i in range(len(KEYWORDS)):
            rows[f"tf{i}"] = []
        for t in texts.tolist():
            if t is None or t != t:
                rows["dl"].append(None)
                for i in range(len(KEYWORDS)):
                    rows[f"tf{i}"].append(None)
                continue
            ws = t.split(" ")
            rows["dl"].append(len(ws))
            for i, kw in enumerate(KEYWORDS):
                rows[f"tf{i}"].append(ws.count(kw))
        return pd.DataFrame(rows)

    return tf_counts


def _bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25) for the fixed KEYWORDS query over documents.

    per_doc is consumed TWICE in the returned plan — the corpus-stats
    aggregate (the broadcast side) and the scoring projection — so it is
    track()-persisted: without it every bm25 evaluation ran the tf UDF
    over the corpus twice (measured at sf0.1: the UDF stage, not the
    Python counting inside it, is ~the whole bm25 cost — Arrow IPC +
    worker roundtrip + scheduling; the counting itself is ~50 ms/5k
    docs, see BENCH/BASELINE.md tokenizer note)."""
    tf = _bm25_tf_udf()
    # NOT spread: measured at sf0.1 the tokenizer's work (~50 ms) is far
    # below the spread's probe+exchange overhead (~0.3 s) — see
    # partitioning.spread_small_scan's docstring for where it pays.
    per_doc = track(docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tf("text").alias("c"),
    ).select(
        "doc_id",
        F.col("c.dl").alias("dl"),
        *[F.col(f"c.tf{i}").alias(f"tf{i}") for i in range(len(KEYWORDS))],
    ))
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),  # exact integer sum: order-independent
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(KEYWORDS))
        ],
    )
    avgdl = "(cast(sum_dl as double) / cast(n_docs as double))"
    terms = [
        _bm25_term(
            f"cast(tf{i} as double)",
            f"cast(df{i} as double)",
            "cast(n_docs as double)",
            "cast(dl as double)",
            avgdl,
        )
        for i in range(len(KEYWORDS))
    ]
    return per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.expr(" + ".join(terms)).alias("bm25")
    )


def bm25_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """BM25 lexical top-k for the fixed KEYWORDS query."""
    return (
        _bm25_scores(docs)
        .select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_index(docs: DataFrame) -> DataFrame:
    """Materialized (doc_id, bm25) score relation for the fixed KEYWORDS
    query — the explicit shared-index form of BM25 scoring (ADVICE r4:
    share the score relation intentionally across bm25/hybrid calls
    within one sweep instead of re-paying the tf-UDF scoring pass per
    query, the way a real engine builds a lexical index once and serves
    many queries from it).

    The caller OWNS the returned persist and must ``unpersist()`` it (or
    run ``cached.release_all()``) when done; ``hybrid_rrf_topk(...,
    bm25_scores=ix)`` will not release a caller-provided relation. The
    per-query cache-hygiene contract (gate wrapper / bench hold <= 1
    query's persists) is unchanged — this is an opt-in, explicitly
    owned lifetime, not a leak."""
    ix = _bm25_scores(docs).persist()
    ix.count()  # materialize the index build here, not in the first query
    return ix


def _duck_bm25_ctes() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(ws, w -> w = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(KEYWORDS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(KEYWORDS))
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    terms = " + ".join(
        _bm25_term(
            f"CAST(tf{i} AS DOUBLE)",
            f"CAST(df{i} AS DOUBLE)",
            "CAST(n_docs AS DOUBLE)",
            "CAST(dl AS DOUBLE)",
            avgdl,
        )
        for i in range(len(KEYWORDS))
    )
    return f"""
per_doc AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(ws) AS BIGINT) AS dl, {tf_cols}
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM per_doc
),
bm AS (
  SELECT doc_id, {terms} AS bm25 FROM per_doc, stats
)
"""


BM25_TOPK_SQL = f"""
WITH {_duck_bm25_ctes().strip()}
SELECT doc_id, round(bm25, 6) AS bm25 FROM bm
ORDER BY bm25 DESC, doc_id ASC LIMIT 5
"""


def rerank_topk(
    spark, sf_dir, k: int = 3, n_candidates: int = 20, query_id: int = 0
) -> DataFrame:
    """Two-stage retrieval — the reference's semantic-reranker shape
    (test-query.ipynb cell-4 `query_type='semantic'`): a cheap lexical
    retriever (BM25, top n_candidates) followed by an expensive reranker
    (cosine against the query embedding) over candidates ONLY. At 100 TB
    the candidate set is tiny and broadcast; the reranker never scans the
    corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # round BEFORE the top-n cut: SQL's ORDER BY bm25 in the oracle binds
    # to the rounded SELECT alias, so the raw double must not decide the
    # candidate boundary (same pattern as bm25_topk)
    cands = (
        _bm25_scores(docs)
        .select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(n_candidates)
    )
    # double-cast vectors: the float-array fold is off the oracle's
    # cast-to-double arithmetic by an ulp on every row (see cosine_topk)
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    # the query vector is a driver-side point fetch (_fetch_qvec), not a
    # crossJoin(broadcast(one-row-subquery)) — the broadcast form re-ran
    # the embeddings scan a second time per call just to ship one row
    found, q_raw = _fetch_qvec(spark, sf_dir, query_id)
    if not found:
        # unknown query vector: the one-row q relation was empty, so the
        # crossJoin produced no rows
        return spark.createDataFrame(
            [], "doc_id long, bm25 double, sim double"
        )
    if q_raw is None:
        qlit = F.lit(None).cast("array<double>")
    else:
        qlit = F.array(*[F.lit(float(x)) for x in q_raw]).cast(
            "array<double>"
        )
    reranked = (
        F.broadcast(cands)
        .join(
            emb.select(F.col("vec_id").cast("long").alias("doc_id"), "v"),
            "doc_id",
        )
        .withColumn("qv", qlit)
        .select(
            "doc_id",
            "bm25",
            F.round(F.expr(_cos("v", "qv")), 6).alias("sim"),
        )
    )
    return reranked.orderBy(F.desc("sim"), F.asc("doc_id")).limit(k)


RERANK_TOPK_SQL = f"""
WITH {_duck_bm25_ctes().strip()},
cands AS (
  SELECT doc_id, round(bm25, 6) AS bm25 FROM bm
  ORDER BY bm25 DESC, doc_id ASC LIMIT 20
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT c.doc_id, c.bm25,
       round({_duck_cos('e.embedding', 'q.qv')}, 6) AS sim
FROM cands c
JOIN embeddings e ON CAST(e.vec_id AS BIGINT) = c.doc_id, q
ORDER BY sim DESC, c.doc_id ASC LIMIT 3
"""


# Default prefix budget for hybrid RRF. A prefix budget bounds driver
# transfer at 2 * n_cand rows regardless of corpus size; a larger budget
# makes the common path (exit in ONE distributed action, no
# order-statistic resolution, no doubling) more likely at every scale —
# whenever one score list is shorter than the budget, list-exhaustion
# detection excludes its absent docs outright and the resolve action
# never fires for that side. 2048 collects <= 4096 rows (trivial driver
# memory) and, measured at sf0.1, removes the per-call resolve job the
# 1000-row budget forced (~0.5 s): the thin docs∩embeddings
# intersection left ~26 upper-bound survivors per call at 1000.
HYBRID_N_CAND = 2048


def _sql_round6(x: float) -> float:
    """Spark's round(double, 6): BigDecimal.valueOf(x) (the SHORTEST
    decimal representation) quantized HALF_UP — NOT Python's round(),
    which rounds the true binary value half-to-even and disagrees on
    values whose shortest repr ends in 5 at the 7th decimal (e.g.
    round(2.675, 2): Spark 2.68, Python 2.67). The driver-side rrf of a
    resolved one-list doc must round exactly like every other rrf in the
    ranking (and like the oracle), or a resolved doc can land one ulp off
    the fused order."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _min_ncand_excluding(theta0: float, lo: int) -> int:
    """Smallest n > lo with round6(2/(61+n)) < theta0 — the closed-form
    jump that replaces log2 re-planning when the rounded-tie guard fails
    (VERDICT r4 #2): theta0 is nondecreasing in n_cand while the
    absent-doc bound strictly decreases, so one jump to this n satisfies
    the guard on the next (final) iteration."""
    import math

    if theta0 <= 0.0:
        # round6 of a positive bound is always >= 0, so no finite n can
        # satisfy the guard — fall back to plain doubling; the caller's
        # exhaustion detection terminates the loop at full enumeration
        return lo * 2
    n = max(lo + 1, int(math.ceil(2.0 / theta0)) - RRF_K - 1)
    while _sql_round6(2.0 / (RRF_K + 1.0 + n)) >= theta0:
        n *= 2
    return n


def hybrid_rrf_topk(
    spark,
    sf_dir,
    k: int = 5,
    query_id: int = 0,
    n_cand: int = HYBRID_N_CAND,
    bm25_scores: DataFrame = None,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (1/(60+r_bm25) +
    1/(60+r_cos)) of the BM25 and cosine rankings against the embedding
    of vec_id=query_id — the engine analog of the reference's
    keyword+vector+rerank query (test-query.ipynb cell-4).

    Scale shape (no global ranking, ONE distributed action in the common
    case): each score list is cut to its exact top n_cand by
    ``orderBy().limit()`` (TakeOrderedAndProject — parallel partial
    top-n + heap merge, no single-partition sort of the corpus), the two
    bounded prefixes are unioned with a side tag and collected in a
    single action (<= 2*n_cand rows — corpus-size-independent driver
    work, like the k-means centroid materialization). Ranks, fusion,
    the exactness tests and the one-sided upper bounds are then computed
    driver-side over that bounded set — prefix rank = global rank, and
    collected doubles compare bit-identically to the engine sort. The
    r4 form ran the same logic as 3-7 separate driver jobs (known-top
    collect, anti-join collect, per-side resolves), each re-planning the
    prefix cuts — measured 4.6 s at sf0.1 against ~1 s of actual
    scoring; job count, not arithmetic, was the cost (VERDICT r4 #2).

    The result is EXACT for the final top-k, not approximate:

    - a doc absent from both top-n prefixes either has both ranks >
      n_cand (rrf < 2/(61+n_cand)) or is missing from an EXHAUSTED list
      entirely (excluded by the inner-join spec) — so once the
      intersection holds >= k docs and the rounded bound clears the
      k-th fused score, absent docs can never reach the cut;
    - a doc in exactly ONE prefix has one exact rank and an rrf UPPER
      bound via the other rank's lower bound (> n_cand, provided that
      side is not exhausted). Only such docs whose upper bound reaches
      the k-th fused score can matter; for those (typically zero) the
      missing rank is resolved EXACTLY by a distributed order-statistic
      count — ``1 + count(rows scoring better)`` — a broadcast-filter
      aggregate per side, no sort, no window.

    List exhaustion is detected from the collected prefix sizes (a side
    returning < n_cand rows is fully enumerated), so no count() jobs
    run; the cosine ranking is over embeddings, which can outnumber
    documents, and the doubling covers whichever list is longer.

    Rounding note: the final ordering uses round(rrf, 6), so the
    absent-doc exclusion must hold on ROUNDED values too. Rounding is
    monotone, so an absent doc's rounded rrf is <= round6(2/(61+n_cand))
    while the k-th known score theta >= round6(2/(60+n_cand)) — the two
    can collide only by EQUALITY, where the doc_id tiebreak could admit
    an unenumerated doc. When that guard fails the loop jumps ONCE to
    the closed-form minimal n_cand with round6(2/(61+n)) < theta
    (_min_ncand_excluding) instead of log2 re-planning; theta is
    nondecreasing in n_cand and the bound strictly decreases, so the
    next iteration exits. The returned relation is a driver-local
    bounded result (<= k + |resolved| rows), so the persisted score
    tables can be released before returning without the caller's
    materialization re-running the scorers.

    ``bm25_scores``: an optional prebuilt (doc_id, bm25) relation from
    ``bm25_index(docs)`` — the intentional shared-index form (ADVICE
    r4). When provided, the BM25 scoring pass (the tf UDF + corpus
    stats, ~the whole bm25 cost at sf0.1) is skipped and the caller
    keeps ownership of the persist; results are identical (gate
    ``hybrid_topk_warm`` pins this against the same oracle)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = _emb(spark, sf_dir)
    found, qv = _fetch_qvec(spark, sf_dir, query_id)
    if not found:
        # unknown query vector: the cosine ranking is empty, so the
        # inner-join fused universe is empty
        return spark.createDataFrame(
            [], "doc_id long, r_bm25 long, r_cos long, rrf double"
        )
    if qv is None:
        # NULL query vector: every sim is NULL; ranking degrades to
        # (nulls last => doc_id asc), which the null-safe driver sort
        # below reproduces exactly
        sim_col = F.lit(None).cast("double").alias("sim")
    else:
        qlit = F.array(*[F.lit(float(x)) for x in qv]).cast(
            "array<double>"
        )
        # Cosine scoring is the double-cast Arrow pair-UDF with the
        # query inlined — see the cosine_topk docstring: bit-identical
        # to the oracle (the float HOF fold is not) and ~0.5 s faster.
        sim_col = _cos_pairs_udf()(
            F.expr("transform(embedding, x -> cast(x as double))"), qlit
        ).alias("sim")
    # both scored relations are consumed per doubling iteration and by
    # the (rare) order-statistic resolution; persisted ONCE for the
    # whole loop and released in the finally block (a caller-provided
    # index stays the caller's to release).
    own_bm = bm25_scores is None
    bm = _bm25_scores(docs).persist() if own_bm else bm25_scores
    cos = emb.select(
        F.col("vec_id").cast("long").alias("doc_id"), sim_col
    ).persist()

    def _local(rows) -> DataFrame:
        return spark.createDataFrame(
            [(int(r["doc_id"]), int(r["r_bm25"]), int(r["r_cos"]), float(r["rrf"]))
             for r in rows],
            "doc_id long, r_bm25 long, r_cos long, rrf double",
        )

    try:
        while True:
            # ONE action: both exact prefix cuts, side-tagged
            top_b = (
                bm.orderBy(F.desc("bm25"), F.asc("doc_id"))
                .limit(n_cand)
                .select(F.lit("b").alias("side"), "doc_id",
                        F.col("bm25").alias("score"))
            )
            top_c = (
                cos.orderBy(F.desc("sim"), F.asc("doc_id"))
                .limit(n_cand)
                .select(F.lit("c").alias("side"), "doc_id",
                        F.col("sim").alias("score"))
            )
            rows = top_b.unionByName(top_c).collect()  # <= 2 * n_cand

            def _skey(r):
                # (score desc NULLS LAST, doc_id asc) — both engines'
                # DESC default; NULL scores (null-text docs) reach the
                # collected prefix whenever the corpus <= n_cand
                s = r["score"]
                if s is None:
                    return (1, 0.0, r["doc_id"])
                return (0, -s, r["doc_id"])

            bs = sorted((r for r in rows if r["side"] == "b"), key=_skey)
            cs = sorted((r for r in rows if r["side"] == "c"), key=_skey)
            rb = {r["doc_id"]: i + 1 for i, r in enumerate(bs)}
            rc = {r["doc_id"]: i + 1 for i, r in enumerate(cs)}
            exhausted_b = len(bs) < n_cand
            exhausted_c = len(cs) < n_cand
            full = exhausted_b and exhausted_c
            known = sorted(
                (
                    {
                        "doc_id": d,
                        "r_bm25": rb[d],
                        "r_cos": rc[d],
                        "rrf": _sql_round6(
                            1.0 / (RRF_K + float(rb[d]))
                            + 1.0 / (RRF_K + float(rc[d]))
                        ),
                    }
                    for d in rb.keys() & rc.keys()
                ),
                key=lambda r: (-r["rrf"], r["doc_id"]),
            )
            head = known[:k]
            if len(head) >= k:
                theta0 = head[-1]["rrf"]  # k-th fused (rounded) score
                absent_ub = _sql_round6(2.0 / (RRF_K + 1.0 + n_cand))
                if absent_ub < theta0 or full:
                    break  # rounded-tie guard satisfied (or everything
                    # is enumerated and no doc is absent)
                n_cand = _min_ncand_excluding(theta0, n_cand)
                continue
            if full:
                # universe fully enumerated: known IS the answer (fewer
                # than k rows means the fused universe is smaller than k)
                return _local(head)
            n_cand = 2 * n_cand

        # docs in exactly one prefix whose rrf upper bound reaches the
        # k-th fused score — only possible when the OTHER side is not
        # exhausted (a doc missing from a fully-enumerated list has no
        # row there at all: excluded by the inner-join spec)
        partial = []
        if not exhausted_c:
            for d in rb.keys() - rc.keys():
                ub = _sql_round6(
                    1.0 / (RRF_K + float(rb[d]))
                    + 1.0 / (RRF_K + float(n_cand + 1))
                )
                if ub >= theta0:
                    partial.append(
                        {"doc_id": d, "r_known": rb[d], "missing": "cos"}
                    )
        if not exhausted_b:
            for d in rc.keys() - rb.keys():
                ub = _sql_round6(
                    1.0 / (RRF_K + float(rc[d]))
                    + 1.0 / (RRF_K + float(n_cand + 1))
                )
                if ub >= theta0:
                    partial.append(
                        {"doc_id": d, "r_known": rc[d], "missing": "bm25"}
                    )
        if not partial:
            return _local(head)

        # resolve ALL surviving upper-bound docs' missing ranks in ONE
        # distributed action across BOTH sides (r4 ran 2 driver jobs per
        # side — 4 total. The embeddings universe is a strict subset of
        # the docs universe, so the prefix intersection is thin; at the
        # default budget the cosine list exhausts at this SF and only
        # the few cos-side docs missing from the bm prefix — ~4 at
        # sf0.1 — reach this path). Per side: broadcast the needy ids, an inner
        # join fetches their scores (a doc ABSENT from the side — e.g. a
        # cosine candidate with no BM25 row — never joins and is
        # excluded: the RRF spec is an INNER join of the two full
        # rankings, HYBRID_RRF_SQL), a broadcast theta-join counts rows
        # scoring strictly better, rank = count + 1; the sides' bounded
        # results union into one collect. No sort, no window, no per-doc
        # loop — the corpus-side work is two broadcast-filter passes.
        def _resolve_plan(side: DataFrame, needs: list):
            """Bounded (d, rank) relation of exact full-list ranks for the
            needy docs present in `side` ((sim desc, doc_id asc) order)."""
            ids = spark.createDataFrame(
                [(int(p["doc_id"]),) for p in needs], "d long"
            )
            nd = (
                side.join(F.broadcast(ids), F.col("doc_id") == F.col("d"))
                .select("d", F.col("sim").alias("s"))
                .alias("nd")
            )
            full = side.alias("full")
            # (sim desc NULLS LAST, doc_id asc): any non-null row beats a
            # null-scored needy doc; among equal (incl. both-null) rows
            # the smaller doc_id ranks first — without the null arms, a
            # null-scored needy doc's every comparison is NULL and it
            # would resolve to rank 1 instead of last
            beats = (
                F.col("full.sim").isNotNull()
                & (
                    F.col("nd.s").isNull()
                    | (F.col("full.sim") > F.col("nd.s"))
                    | (
                        (F.col("full.sim") == F.col("nd.s"))
                        & (F.col("full.doc_id") < F.col("nd.d"))
                    )
                )
            ) | (
                F.col("full.sim").isNull()
                & F.col("nd.s").isNull()
                & (F.col("full.doc_id") < F.col("nd.d"))
            )
            better = (
                full.join(F.broadcast(nd), beats)
                .groupBy("nd.d")
                .agg(F.count("*").alias("n_better"))
            )
            return nd.join(better, "d", "left").select(
                "d",
                (F.coalesce(F.col("n_better"), F.lit(0)) + 1)
                .cast("long")
                .alias("rank"),
            )

        def _resolve_both(needs_cos: list, needs_bm: list):
            """{('cos'|'bm25', doc_id): exact rank}, one collect action."""
            parts = []
            if needs_cos:
                parts.append(
                    _resolve_plan(cos, needs_cos).select(
                        F.lit("cos").alias("m"), "d", "rank"
                    )
                )
            if needs_bm:
                parts.append(
                    _resolve_plan(
                        bm.withColumnRenamed("bm25", "sim"), needs_bm
                    ).select(F.lit("bm25").alias("m"), "d", "rank")
                )
            if not parts:
                return {}
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            return {(r["m"], r["d"]): int(r["rank"]) for r in u.collect()}

        ranks = _resolve_both(
            [p for p in partial if p["missing"] == "cos"],
            [p for p in partial if p["missing"] == "bm25"],
        )
        r_cos_miss = {d: r for (m, d), r in ranks.items() if m == "cos"}
        r_bm_miss = {d: r for (m, d), r in ranks.items() if m == "bm25"}
        resolved_rows = []
        for p in partial:
            r_miss = (r_cos_miss if p["missing"] == "cos" else r_bm_miss).get(
                p["doc_id"]
            )
            if r_miss is None:
                continue  # absent from the other full list: excluded by spec
            rbv, rcv = (
                (p["r_known"], r_miss) if p["missing"] == "cos" else (r_miss, p["r_known"])
            )
            rrf = _sql_round6(1.0 / (RRF_K + float(rbv)) + 1.0 / (RRF_K + float(rcv)))
            resolved_rows.append(
                {"doc_id": p["doc_id"], "r_bm25": rbv, "r_cos": rcv, "rrf": rrf}
            )
        if not resolved_rows:
            return _local(head)
        # exact driver-side fuse: the final top-k of (known UNION extra)
        # is contained in (known's top-k UNION extra) — any known doc
        # outside known_top already ranks below known_top's k-th row, and
        # resolved docs can only push it further down. Both sets are in
        # hand (<= k + |resolved| rows), so sort locally with the same
        # (rrf desc, doc_id asc) order — all rrf values passed through
        # the identical round-6 (_sql_round6 == Spark round == oracle).
        fused = sorted(
            list(head) + resolved_rows,
            key=lambda r: (-r["rrf"], r["doc_id"]),
        )[:k]
        return _local(fused)
    finally:
        if own_bm:
            bm.unpersist(blocking=False)
        cos.unpersist(blocking=False)


HYBRID_RRF_SQL = f"""
WITH {_duck_bm25_ctes().strip()},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT CAST(e.vec_id AS BIGINT) AS doc_id,
         {_duck_cos('e.embedding', 'q.qv')} AS sim
  FROM embeddings e, q
),
ranked_b AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm25
  FROM bm
),
ranked_c AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS r_cos
  FROM cos
)
SELECT b.doc_id,
       CAST(b.r_bm25 AS BIGINT) AS r_bm25,
       CAST(c.r_cos AS BIGINT) AS r_cos,
       round(1.0 / ({float(RRF_K)!r} + CAST(b.r_bm25 AS DOUBLE))
             + 1.0 / ({float(RRF_K)!r} + CAST(c.r_cos AS DOUBLE)), 6) AS rrf
FROM ranked_b b JOIN ranked_c c ON b.doc_id = c.doc_id
ORDER BY rrf DESC, b.doc_id ASC LIMIT 5
"""
