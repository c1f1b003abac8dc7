"""Deduplication operator family over the flat documents table.

Large-scale training-data pipeline operators (exact dedup, MinHash+LSH,
SimHash, n-gram Jaccard), each as one Spark DataFrame query — JVM-side
expressions, or an Arrow numpy kernel where the per-word hashing folds
would otherwise run as interpreted higher-order functions (the MinHash
encoder, the SimHash fingerprints) — and each with a bit-exact DuckDB
oracle, its spec (functions/hashing.py defines the shared arithmetic).

Scale posture:
- exact dedup: one hash-aggregate, map-side partial combine, AQE-coalesced.
- MinHash LSH: the only all-pairs-free near-dup path — band buckets bound
  candidate generation; the exact-Jaccard verification join touches only
  candidates. Band/row choice (8 bands x 2 rows) puts the S-curve knee
  near 0.5 so pairs at the 0.6 output threshold are caught w.p.
  1-(1-0.36)^8 ~ 0.97+, and near-identical variants w.p. ~1-3.5e-5.
- SimHash: 32-bit fingerprints; the production candidate generator is
  ``simhash_pairs_banded`` — split the fingerprint into B bit-bands and
  equality-join on (band_idx, band_bits). By pigeonhole, two fingerprints
  at hamming distance d agree exactly on some band whenever B > d, so
  4 bands guarantee recall=1 at d <= 3; the gate proves it by equality
  with the exact all-pairs oracle over the full (uncapped) variant
  corpus. At real scale you widen to 64-bit fingerprints with 4 x 16-bit
  bands (same B > d guarantee, 65536-value bands keep buckets tiny).
  ``simhash_pairs`` (bounded all-pairs) remains only as a verification
  utility for spot-checking small id blocks.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cached import track

from ..functions.hashing import (
    MINHASH_SEEDS,
    MOD,
    duck_polyhash_over_array,
    spark_polyhash_over_array,
)

N_BANDS = 8
ROWS_PER_BAND = 2
JACCARD_THRESHOLD = 0.6

# 3-word shingle hash array (distinct), bound via the single-element
# transform trick so split() evaluates once (see spanify.py).
_SHINGLES = (
    "element_at(transform(array(split(text, ' ')), ws ->"
    " CASE WHEN size(ws) >= 3 THEN"
    "   array_distinct(transform(sequence(0, size(ws) - 3),"
    "     i -> concat_ws(' ', slice(ws, i + 1, 3))))"
    " ELSE array(text) END), 1)"
)
_SHINGLE_HASHES = spark_polyhash_over_array(_SHINGLES)

_DUCK_SHINGLES = (
    "CASE WHEN len(ws) >= 3 THEN"
    " list_distinct(list_transform(range(CAST(len(ws) - 2 AS BIGINT)),"
    "   i -> array_to_string(ws[i + 1 : i + 3], ' ')))"
    " ELSE [text] END"
)


def _variant_corpus(docs: DataFrame) -> DataFrame:
    """documents + near-duplicate variants (last 2 words dropped), the
    deterministic near-dup testbed both engines construct identically."""
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    variant = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "element_at(transform(array(split(text, ' ')), ws ->"
            " array_join(slice(ws, 1, greatest(size(ws) - 2, 1)), ' ')), 1)"
        ).alias("text"),
    )
    return base.unionByName(variant)


DUCK_VARIANT_CORPUS = """
corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 1000000 AS doc_id,
         array_to_string(
           (string_split(text, ' '))[1 : greatest(len(string_split(text, ' ')) - 2, 1)],
           ' ') AS text
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# Exact dedup (hash groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group by a normalization key (first 2 words); keep min doc_id.
    NULL text keys its own group, as in the oracle (concat_ws alone
    would give it the empty text's key '')."""
    key = F.when(
        F.col("text").isNotNull(),
        F.expr("concat_ws(' ', slice(split(text, ' '), 1, 2))"),
    )
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), key.alias("dup_key"))
        .groupBy("dup_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


EXACT_DEDUP_SQL = """
SELECT array_to_string((string_split(text, ' '))[1:2], ' ') AS dup_key,
       COUNT(*) AS n_docs,
       MIN(CAST(doc_id AS BIGINT)) AS keeper_doc_id
FROM documents
GROUP BY 1
HAVING COUNT(*) >= 2
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _minhash_encode_udf():
    """Arrow-vectorized shingle-hash + MinHash-band encoder.

    Computes, per document text, the SAME values as the lambda spec
    (_SHINGLE_HASHES + the (a*h+b)%MOD signature + band keys — kept in
    minhash_lsh_pairs_expr, equality pinned in tests/test_dedup_forms.py)
    but in numpy: Catalyst runs higher-order-function lambdas interpreted
    (the r2 bench's dominant minhash cost), while this path hashes each
    UNIQUE word once with vectorized modular arithmetic and combines word
    hashes into shingle hashes via 31^k power tables — exact integer
    arithmetic, bit-identical to the char fold because
    P(a + ' ' + b) = (P(a) * 31^(len(b)+1) + 32 * 31^len(b) + P(b)) mod M.
    Shingles dedupe by word-id triple (string identity), matching
    array_distinct over shingle strings."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    seeds_a = np.array([a for a, _ in MINHASH_SEEDS], dtype=np.int64)
    seeds_b = np.array([b for _, b in MINHASH_SEEDS], dtype=np.int64)

    def _shingle_core(texts):
        """(sh_docs, sh_vals, bounds, n): deduped shingle hashes grouped
        by doc + per-doc group starts."""
        n = len(texts)
        words_per_doc = [t.split(" ") for t in texts]
        wc = np.array([len(ws) for ws in words_per_doc], dtype=np.int64)
        flat = [w for ws in words_per_doc for w in ws]
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        lens = np.array([len(u) for u in uniques], dtype=np.int64)
        max_len = int(lens.max()) if len(lens) else 0
        pow31 = np.ones(max_len + 2, dtype=np.int64)
        for k_ in range(1, max_len + 2):
            pow31[k_] = pow31[k_ - 1] * 31 % MOD
        # polyhash per unique word: sum cp_i * 31^(L-1-i) mod M, with the
        # multiply-mod taken per char so word sums stay < L * 2^31
        ph = np.zeros(len(uniques), dtype=np.int64)
        nz = lens > 0
        if nz.any():
            joined = "".join(uniques[nz])
            cp = np.frombuffer(
                joined.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            lz = lens[nz]
            ends = np.cumsum(lz)
            starts = ends - lz
            pos_from_end = np.repeat(ends, lz) - 1 - np.arange(len(cp))
            contrib = cp * pow31[pos_from_end] % MOD
            ph[nz] = np.add.reduceat(contrib, starts) % MOD
        whash = ph[codes]
        wlen = lens[codes]

        def combine(p0, l1, p1):
            return (p0 * pow31[l1 + 1] + 32 * pow31[l1] + p1) % MOD

        doc_off = np.cumsum(wc) - wc
        # shingle hashes for docs with >= 3 words, deduped by word-id triple
        c3 = np.where(wc >= 3, wc - 2, 0)
        sh_doc = np.repeat(np.arange(n), c3)
        within = np.arange(int(c3.sum())) - np.repeat(np.cumsum(c3) - c3, c3)
        i0 = doc_off[sh_doc] + within
        s1 = combine(whash[i0], wlen[i0 + 1], whash[i0 + 1])
        sv = combine(s1, wlen[i0 + 2], whash[i0 + 2])
        t0, t1, t2 = codes[i0], codes[i0 + 1], codes[i0 + 2]
        order = np.lexsort((t2, t1, t0, sh_doc))
        sd = sh_doc[order]
        u0, u1, u2 = t0[order], t1[order], t2[order]
        keep = np.r_[
            True,
            (sd[1:] != sd[:-1]) | (u0[1:] != u0[:-1])
            | (u1[1:] != u1[:-1]) | (u2[1:] != u2[:-1]),
        ]
        sh_docs = sd[keep]
        sh_vals = sv[order][keep]
        # docs with < 3 words: one shingle = the whole text
        short = np.flatnonzero(wc < 3)
        if len(short):
            p = whash[doc_off[short]]
            two = wc[short] == 2
            if two.any():
                i = doc_off[short[two]]
                p = p.copy()
                p[two] = combine(whash[i], wlen[i + 1], whash[i + 1])
            sh_docs = np.concatenate([sh_docs, short])
            sh_vals = np.concatenate([sh_vals, p])
            reorder = np.argsort(sh_docs, kind="stable")
            sh_docs, sh_vals = sh_docs[reorder], sh_vals[reorder]
        bounds = np.flatnonzero(np.r_[True, sh_docs[1:] != sh_docs[:-1]])
        return sh_vals, bounds, n

    def _isnull(t) -> bool:
        return t is None or t != t  # None or NaN

    @pandas_udf("array<string>")
    def band_keys(texts):
        # band path never materializes the shingle arrays — only 8 short
        # key strings per doc cross the Arrow boundary
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        # NULL text parity with the expression spec (ANSI mode): the
        # array(split(...)) trick makes sh = [NULL] (a one-element array
        # holding null), array_min over it is null, so every minhash
        # coalesces to the MOD sentinel and the band keys are "b_MOD_MOD"
        # — null docs pair with each other and verify at jaccard 1.0
        # (array_intersect([null],[null]) = [null]).
        tl = texts.tolist()
        null_bands = [f"{b_}_{MOD}_{MOD}" for b_ in range(N_BANDS)]
        valid_idx = [i for i, t in enumerate(tl) if not _isnull(t)]
        out = [null_bands] * len(tl)
        if valid_idx:
            sh_vals, bounds, n = _shingle_core([tl[i] for i in valid_idx])
            mh = np.empty((n, len(seeds_a)), dtype=np.int64)
            for s_i in range(len(seeds_a)):
                hv = (seeds_a[s_i] * sh_vals + seeds_b[s_i]) % MOD
                mh[:, s_i] = np.minimum.reduceat(hv, bounds)
            for i, row in zip(valid_idx, mh.tolist()):
                out[i] = [
                    f"{b_}_{row[b_ * ROWS_PER_BAND]}_{row[b_ * ROWS_PER_BAND + 1]}"
                    for b_ in range(N_BANDS)
                ]
        return pd.Series(out)

    @pandas_udf("array<long>")
    def shingle_hashes(texts):
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        tl = texts.tolist()
        # NULL text -> sh = [NULL], matching the expression spec's
        # element_at(transform(array(split(text, ' ')), ...), 1) shape
        out = [[None]] * len(tl)
        valid_idx = [i for i, t in enumerate(tl) if not _isnull(t)]
        if valid_idx:
            sh_vals, bounds, _n = _shingle_core([tl[i] for i in valid_idx])
            for i, arr in zip(valid_idx, np.split(sh_vals, bounds[1:])):
                out[i] = arr
        return pd.Series(out)

    @pandas_udf("bands array<string>, sh array<long>")
    def encode(texts):
        """Both outputs from ONE _shingle_core pass — the separate UDFs
        above each re-ran the factorize+polyhash encoder over the same
        corpus (and the verify joins consume the relation four times), so
        minhash_lsh_pairs persists one combined encoding instead."""
        import pandas as pd_  # worker-side

        if len(texts) == 0:
            return pd_.DataFrame({"bands": [], "sh": []})
        tl = texts.tolist()
        null_bands = [f"{b_}_{MOD}_{MOD}" for b_ in range(N_BANDS)]
        bands_out = [null_bands] * len(tl)
        sh_out = [[None]] * len(tl)
        valid_idx = [i for i, t in enumerate(tl) if not _isnull(t)]
        if valid_idx:
            sh_vals, bounds, n = _shingle_core([tl[i] for i in valid_idx])
            mh = np.empty((n, len(seeds_a)), dtype=np.int64)
            for s_i in range(len(seeds_a)):
                hv = (seeds_a[s_i] * sh_vals + seeds_b[s_i]) % MOD
                mh[:, s_i] = np.minimum.reduceat(hv, bounds)
            sh_split = np.split(sh_vals, bounds[1:])
            for j, i in enumerate(valid_idx):
                row = mh[j].tolist()
                bands_out[i] = [
                    f"{b_}_{row[b_ * ROWS_PER_BAND]}_{row[b_ * ROWS_PER_BAND + 1]}"
                    for b_ in range(N_BANDS)
                ]
                sh_out[i] = sh_split[j]
        return pd_.DataFrame({"bands": bands_out, "sh": sh_out})

    return band_keys, shingle_hashes, encode


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Production MinHash+LSH near-dup: banded candidates from the
    vectorized encoder, exact-Jaccard verify on candidates only.

    The encoding (shingle hashes + band keys, one numpy pass) is
    PERSISTED: the band self-join reads it twice and the verify joins
    twice more, so without materialization the encoder would run 4x over
    the corpus. At cluster scale this is the signature TABLE a real
    dedup pipeline writes once and joins against."""
    from .partitioning import spread_small_scan

    corpus = spread_small_scan(_variant_corpus(docs))
    _, _, encode = _minhash_encode_udf()
    enc = track(corpus.select("doc_id", encode("text").alias("e")))
    base = enc.select("doc_id", F.col("e.sh").alias("sh"))
    bands = enc.select("doc_id", F.explode("e.bands").alias("band_key"))
    return _minhash_verify(bands, base)


def minhash_lsh_pairs_expr(docs: DataFrame) -> DataFrame:
    """The semantics-defining JVM-expression form (interpreted HOF
    lambdas — kept as the spec; equality with the vectorized production
    path is pinned in tests/test_dedup_forms.py)."""
    corpus = _variant_corpus(docs)
    base = corpus.select(
        "doc_id", F.expr(_SHINGLE_HASHES).alias("sh")
    )
    mh_exprs = [
        f"coalesce(array_min(transform(sh, h -> ({a}L * h + {b}L) % {MOD})), {MOD})"
        for a, b in MINHASH_SEEDS
    ]
    mh = base.select(
        "doc_id",
        "sh",
        F.expr("array(" + ", ".join(mh_exprs) + ")").alias("mh"),
    )
    band_expr = (
        "transform(sequence(0, {nb} - 1), b -> concat_ws('_',"
        " cast(b as string),"
        " cast(element_at(mh, b * {r} + 1) as string),"
        " cast(element_at(mh, b * {r} + 2) as string)))"
    ).format(nb=N_BANDS, r=ROWS_PER_BAND)
    bands = mh.select(
        "doc_id", F.explode(F.expr(band_expr)).alias("band_key")
    )
    return _minhash_verify(bands, base)


def _minhash_verify(bands: DataFrame, sh: DataFrame) -> DataFrame:
    """Band-bucket equality join -> candidate ids -> exact-Jaccard verify
    (shared by the vectorized and expression forms)."""
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    verified = (
        cand.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# corpus -> shingle hashes -> exact all-pairs Jaccard CTE chain, shared
# by the minhash oracle and the dedup-clusters oracle
_DUCK_JAC_CTES = f"""
{DUCK_VARIANT_CORPUS.strip()},
sh_base AS (
  SELECT doc_id,
         {duck_polyhash_over_array(_DUCK_SHINGLES)} AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM corpus)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM sh_base a JOIN sh_base b ON a.doc_id < b.doc_id
),
jac AS (
  SELECT id_a, id_b,
    round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 4)
      AS jaccard
  FROM pairs
)
"""

MINHASH_LSH_SQL = f"""
WITH {_DUCK_JAC_CTES.strip()}
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints (+ bounded hamming pairs)
# ---------------------------------------------------------------------------

def _np_polyhash(uniques, mult: int):
    """Vectorized polyhash over unique words — the numpy form of the
    functions/hashing.py fold (multiplier 31 or 37): per-character contributions
    cp * mult^(L-1-i) mod M summed and re-reduced mod M are congruent
    to (and bounded like) the left fold both engines run. The same
    construction the MinHash encoder (_shingle_core) has used since r2
    (gate-verified incl. CJK), generalized over the multiplier."""
    import numpy as np

    lens = np.array([len(u) for u in uniques], dtype=np.int64)
    max_len = int(lens.max()) if len(lens) else 0
    powm = np.ones(max_len + 1, dtype=np.int64)
    for k in range(1, max_len + 1):
        powm[k] = powm[k - 1] * mult % MOD
    ph = np.zeros(len(uniques), dtype=np.int64)
    nz = lens > 0
    if nz.any():
        joined = "".join(uniques[nz])
        cp = np.frombuffer(
            joined.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        lz = lens[nz]
        ends = np.cumsum(lz)
        starts = ends - lz
        pos_from_end = np.repeat(ends, lz) - 1 - np.arange(len(cp))
        contrib = cp * powm[pos_from_end] % MOD
        ph[nz] = np.add.reduceat(contrib, starts) % MOD
    return ph


def word_buckets_udf(n_buckets: int):
    """Arrow kernel: text -> array<long> of per-word polyhash buckets
    (``polyhash31(word) % n_buckets`` in word order) — the numpy twin of
    ``transform(spark_polyhash_over_array(split(text, ' ')), h -> h % n)``
    for the hashed-unigram consumers (dsir_weights, quality_classifier),
    whose token streams otherwise run the char fold interpreted per
    word. NULL text -> NULL array (explode drops it, exactly as the
    expression form's NULL propagation does)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def word_buckets(texts):
        tl = texts.tolist()
        out = [None] * len(tl)
        valid = [i for i, t in enumerate(tl) if t is not None and t == t]
        if valid:
            words_per_doc = [tl[i].split(" ") for i in valid]
            wc = np.array(
                [len(ws) for ws in words_per_doc], dtype=np.int64
            )
            flat = [w for ws in words_per_doc for w in ws]
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            bh = (
                _np_polyhash(np.asarray(uniques, dtype=object), 31)
                % n_buckets
            )[codes]
            for i, arr in zip(valid, np.split(bh, np.cumsum(wc)[:-1])):
                out[i] = arr
        return pd.Series(out)

    return word_buckets


def _simhash_kernel_udf(width: int):
    """Arrow-batched SimHash kernel (32- or 64-bit): per-batch word
    split + factorized polyhash (the proven _shingle_core machinery) +
    one ±1 vote reduction per doc — integer-identical to the oracle's
    vote aggregation (_duck_simhash_base / _duck_simhash64_base; pinned
    in tests/test_kernel_oracle_edges.py) but a ZERO-SHUFFLE projection:
    no word explode, no 32/64-SUM aggregate, no doc_id exchange.

    64-bit slots: h1/h2 are 31-bit polyhashes (mod 2^31-1), so their
    bit 31 is CONSTANT ZERO — mapping fingerprint bits 31 / 63 to those
    positions would leave two dead bits and halve two bands' key spaces.
    Those two slots instead take bits 0/1 of a third mix hash
    (h1*31 + h2) mod (2^31-1)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash_kernel(texts):
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype="int64")
        words_per_doc = [t.split(" ") for t in texts.tolist()]
        wc = np.array([len(ws) for ws in words_per_doc], dtype=np.int64)
        flat = [w for ws in words_per_doc for w in ws]
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        uniques = np.asarray(uniques, dtype=object)
        h1 = _np_polyhash(uniques, 31)[codes]
        if width == 32:
            shifts = np.arange(32, dtype=np.int64)
            B = (((h1[:, None] >> shifts[None, :]) & 1) * 2 - 1).astype(
                np.int64
            )
        else:
            h2 = _np_polyhash(uniques, 37)[codes]
            mix = (h1 * 31 + h2) % MOD
            cols = []
            for j in range(64):
                if j < 31:
                    src, k = h1, j
                elif j == 31:
                    src, k = mix, 0
                elif j < 63:
                    src, k = h2, j - 32
                else:
                    src, k = mix, 1
                cols.append((src >> k) & 1)
            B = (np.stack(cols, axis=1) * 2 - 1).astype(np.int64)
        bounds = np.cumsum(wc) - wc
        votes = np.add.reduceat(B, bounds, axis=0)
        pos = (votes > 0).astype(np.uint64)
        weights = np.uint64(1) << np.arange(
            B.shape[1], dtype=np.uint64
        )
        fp = (pos * weights[None, :]).sum(axis=1, dtype=np.uint64)
        # uint64 -> two's-complement int64: bit 63's weight becomes the
        # oracle's -2^63 contribution exactly
        return pd.Series(fp.view(np.int64))

    return simhash_kernel


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """32-bit SimHash fingerprints (doc_id, simhash): one Arrow
    projection per batch (zero Exchange — see _simhash_kernel_udf).
    NULL-text docs are dropped, as the oracle's word UNNEST drops them;
    empty text is one empty word, so every vote is -1 and the
    fingerprint is 0. Spec: SIMHASH_FP_SQL."""
    return _simhash_projection(docs, 32, "simhash")


def _simhash_projection(docs: DataFrame, width: int, col: str) -> DataFrame:
    from .partitioning import spread_small_scan

    return spread_small_scan(
        docs.filter(F.col("text").isNotNull()).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    ).select("doc_id", _simhash_kernel_udf(width)("text").alias(col))


SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 8
SIMHASH_MAX_DIST = 3  # pigeonhole: BANDS > MAX_DIST => banded recall = 1


def simhash_pairs_banded(
    docs: DataFrame, max_dist: int = SIMHASH_MAX_DIST
) -> DataFrame:
    """Production SimHash near-dup: equality-join candidate generation.

    Explode each fingerprint into (band_idx, band_bits) keys; two docs
    become a candidate pair iff they share a band key — an equality
    (shuffle hash / sort-merge) self-join, never a nested loop. Exact
    hamming distance is then verified on candidates only. Pigeonhole
    guarantees recall=1 for hamming <= BANDS-1, which the gate proves by
    equality with the exact all-pairs oracle over the same corpus.

    Runs over the deterministic variant corpus (base docs + truncated
    variants) so true near-dup pairs exist at gate scale.
    """
    # the a/b self-join consumes fp twice; without persist the kernel
    # projection would evaluate twice
    fp = track(simhash_fingerprints(_variant_corpus(docs)))
    return _simhash_banded_pairs(
        fp, "simhash", SIMHASH_BANDS, SIMHASH_BAND_BITS, max_dist
    )


def _simhash_banded_pairs(
    fp: DataFrame,
    fp_col: str,
    bands_n: int,
    band_bits: int,
    max_dist: int,
) -> DataFrame:
    """Banded candidate generation + exact hamming verify, shared by the
    32- and 64-bit forms.

    r6 lowering (guide §2.3/§2.4): band keys are PACKED LONGS
    (b * 2^bits + band value — injective, so long equality IS (band,
    value) equality) instead of strings, and a pair is emitted only
    from its FIRST matching band — the guard recomputes earlier bands
    from the two fingerprints with codegen'd shift/mask arithmetic —
    which yields the identical candidate SET without the distinct
    (measured at sf0.1: a 40M-pair dedup exchange on the 8-bit form).
    The tiny exploded relation is round-robin spread before the
    broadcast join so the pair fan-out uses every core."""
    mask = (1 << band_bits) - 1
    keys = (
        f"transform(sequence(0, {bands_n - 1}), b ->"
        f" (cast(b as bigint) * {mask + 1}L) +"
        f" (shiftright({fp_col}, b * {band_bits}) & {mask}))"
    )
    bands = fp.select(
        "doc_id",
        F.col(fp_col).alias("fpv"),
        F.posexplode(F.expr(keys)).alias("bidx", "band_key"),
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("fpv").alias("fp_a"),
        "bidx",
        "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("fpv").alias("fp_b"),
        "band_key",
    )
    first_match = F.lit(True)
    for i in range(bands_n - 1):
        first_match = first_match & (
            (F.col("bidx") <= i)
            | (
                F.expr(f"(shiftright(fp_a, {i * band_bits}) & {mask})")
                != F.expr(f"(shiftright(fp_b, {i * band_bits}) & {mask})")
            )
        )
    n_spread = max(fp.sparkSession.sparkContext.defaultParallelism, 8)
    cand = (
        a.repartition(n_spread)
        .join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_match)
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        .cast("long")
        .alias("hamming"),
    ).filter(F.col("hamming") <= max_dist)


# ---------------------------------------------------------------------------
# 64-bit SimHash — the production variant SCALE.md prescribes for 10^12-doc
# corpora: 64-bit fingerprints split into 4 x 16-bit bands. Same pigeonhole
# guarantee (BANDS > max_dist => recall=1 at hamming <= 3), but 65536-value
# bands keep candidate counts ~n^2/65536 per band instead of n^2/256 — the
# difference between a tiny verify set and quadratic doom at 10^8+ docs.
# The extra bits come from a second, independent polyhash fold
# (multiplier 37); since both folds are 31-bit values (mod 2^31-1), the
# two remaining slots (fingerprint bits 31 and 63) take bits of a third
# (h1*31 + h2) mod (2^31-1) mix hash so ALL 64 vote bits really vary
# (see _simhash_kernel_udf — without this, two bands would have 2^15
# effective values and double their candidate collisions).
# ---------------------------------------------------------------------------

SIMHASH64_BANDS = 4
SIMHASH64_BAND_BITS = 16


def simhash64_fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit SimHash fingerprints (doc_id, simhash64): two polyhash
    folds (31/37) plus the mix hash for the two slots 31-bit hashes
    cannot fill, in the zero-shuffle Arrow kernel (_simhash_kernel_udf).
    Bit 63's contribution is the two's-complement -2^63 so the
    fingerprint stays a plain BIGINT on both engines. NULL text is
    dropped as in simhash_fingerprints. Spec: SIMHASH64_FP_SQL."""
    return _simhash_projection(docs, 64, "simhash64")


def simhash64_pairs_banded(
    docs: DataFrame, max_dist: int = SIMHASH_MAX_DIST
) -> DataFrame:
    """Production-scale SimHash near-dup: 64-bit fingerprints, 4 x 16-bit
    band equality-join candidates, exact hamming verify. Pigeonhole:
    4 bands > max_dist=3 => recall=1, proven by gate equality with the
    exact all-pairs oracle over the uncapped variant corpus."""
    # self-joined twice below — persist, or the fingerprint kernel runs
    # once per side
    fp = track(simhash64_fingerprints(_variant_corpus(docs)))
    return _simhash_banded_pairs(
        fp, "simhash64", SIMHASH64_BANDS, SIMHASH64_BAND_BITS, max_dist
    )


def simhash_pairs(docs: DataFrame, max_doc_id: int = 300, max_dist: int = 8) -> DataFrame:
    """Exact all-pairs hamming over a small id block — a VERIFICATION
    utility (e.g. auditing banded recall on a sample), never the
    production path; see simhash_pairs_banded."""
    fp = simhash_fingerprints(docs.filter(F.col("doc_id") < max_doc_id))
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
    )


from ..functions.hashing import duck_polyhash  # noqa: E402


def _duck_simhash_base(src: str) -> str:
    """DuckDB CTE chain computing 32-bit simhash fingerprints over ``src``
    (a relation with doc_id, text) — the spec of simhash_fingerprints."""
    return f"""
words AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, UNNEST(string_split(text, ' ')) AS w
  FROM {src}
),
whash AS (
  SELECT doc_id, {duck_polyhash('w')} AS h FROM words
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM whash, (SELECT UNNEST(range(32)) AS j)
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""


_DUCK_SIMHASH_BASE = _duck_simhash_base("documents")

SIMHASH_FP_SQL = f"""
WITH {_DUCK_SIMHASH_BASE}
SELECT doc_id, simhash FROM fp
"""

SIMHASH_PAIRS_SQL = f"""
WITH {_DUCK_SIMHASH_BASE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE a.doc_id < 300 AND b.doc_id < 300
  AND bit_count(xor(a.simhash, b.simhash)) <= 8
"""

# Exact all-pairs oracle over the FULL variant corpus (no id cap): banded
# equality with this proves the candidate generation loses nothing at
# hamming <= SIMHASH_MAX_DIST.
SIMHASH_PAIRS_BANDED_SQL = f"""
WITH {DUCK_VARIANT_CORPUS.strip()},
{_duck_simhash_base('corpus').strip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_DIST}
"""

from ..functions.hashing import duck_polyhash37  # noqa: E402


def _duck_simhash64_base(src: str) -> str:
    """DuckDB CTE chain computing 64-bit simhash fingerprints over ``src``
    — same arithmetic as simhash64_fingerprints (two polyhash folds,
    64 vote bits, -2^63 contribution for bit 63)."""
    return f"""
words64 AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, UNNEST(string_split(text, ' ')) AS w
  FROM {src}
),
whash64 AS (
  SELECT doc_id, {duck_polyhash('w')} AS h1, {duck_polyhash37('w')} AS h2
  FROM words64
),
bits64 AS (
  -- j=31 / j=63 take bits 0/1 of the (h1*31 + h2) mod (2^31-1) mix hash:
  -- h1/h2 are 31-bit values, so their own bit 31 is constant zero
  -- (mirrors _simhash_kernel_udf exactly)
  SELECT doc_id, j,
         SUM(CASE WHEN (CASE WHEN j < 31 THEN (h1 >> j) & 1
                             WHEN j = 31 THEN ((h1 * 31 + h2) % 2147483647) & 1
                             WHEN j < 63 THEN (h2 >> (j - 32)) & 1
                             ELSE (((h1 * 31 + h2) % 2147483647) >> 1) & 1 END) = 1
                  THEN 1 ELSE -1 END) AS s
  FROM whash64, (SELECT UNNEST(range(64)) AS j)
  GROUP BY doc_id, j
),
fp64 AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN
                    (CASE WHEN j = 63 THEN -9223372036854775807 - 1
                          ELSE (CAST(1 AS BIGINT) << j) END)
                  ELSE 0 END) AS BIGINT) AS simhash64
  FROM bits64 GROUP BY doc_id
)
"""


SIMHASH64_FP_SQL = f"""
WITH {_duck_simhash64_base('documents')}
SELECT doc_id, simhash64 FROM fp64
"""

SIMHASH64_PAIRS_BANDED_SQL = f"""
WITH {DUCK_VARIANT_CORPUS.strip()},
{_duck_simhash64_base('corpus').strip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
FROM fp64 a JOIN fp64 b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash64, b.simhash64)) <= {SIMHASH_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, bounded all-pairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, max_doc_id: int = 150) -> DataFrame:
    base = docs.filter(F.col("doc_id") < max_doc_id).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(_SHINGLE_HASHES).alias("sh"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.size(F.array_intersect("a.sh", "b.sh")).cast("long").alias("n_inter"),
            (F.size("a.sh") + F.size("b.sh")).cast("long").alias("n_sum"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_sum") - F.col("n_inter")).cast("double"), 4
            ).alias("jaccard"),
        )
    )


NGRAM_JACCARD_SQL = f"""
WITH sh_base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {duck_polyhash_over_array(_DUCK_SHINGLES)} AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
        WHERE doc_id < 150)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
    AS jaccard
FROM sh_base a JOIN sh_base b ON a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# Exact duplicated n-gram spans (substring-level dedup signal)
# ---------------------------------------------------------------------------

DUP_NGRAM_N = 8
DUP_NGRAM_MIN_COUNT = 2


def _gram_spans_udf(n: int):
    """Arrow-vectorized gram extraction per document: array<string> of
    the word n-grams in position order (the gram's POSITION is its array
    index — consumers recover it with posexplode, so the kernel ships no
    per-gram structs). The gram construction deliberately does NOT use
    split+transform+slice HOF lambdas (Catalyst runs them interpreted
    per element — the measured trap) nor a lead()-window over exploded
    words (that shape shuffles the exploded corpus by doc_id before any
    aggregation). A batch UDF emits the grams with zero pre-shuffle; the
    only exchange in the operator is the groupBy(gram) count itself.

    Each gram is cut as ONE substring of the original text rather than
    `" ".join(ws[i:i+n])` (r6: the join built every gram from n Python
    string pieces — ~n× the allocation): split(" ") leaves exactly one
    space between consecutive words, so the text slice from word i's
    first character to word i+n-1's last character IS the join,
    character-identical to both engines' split/array_to_string."""
    from itertools import accumulate

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def grams(texts):
        out = []
        for t in texts.tolist():
            if t is None or t != t:
                out.append(None)
                continue
            ws = t.split(" ")
            if len(ws) < n:
                out.append([])
                continue
            # off[k] = start offset of word k; off[len(ws)] = len(t)+1
            off = list(accumulate((len(w) + 1 for w in ws), initial=0))
            out.append(
                [t[off[i] : off[i + n] - 1] for i in range(len(ws) - n + 1)]
            )
        return pd.Series(out)

    return grams


def _gram_rows(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, gram) for every contiguous word n-gram — the shared
    consumer of :func:`_gram_spans_udf` (position = array index via
    posexplode; NULL-text docs vanish with their NULL array)."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(_gram_spans_udf(n)("text")).alias("pos", "gram"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "gram")


def duplicated_ngram_spans(
    docs: DataFrame, n: int = DUP_NGRAM_N, min_count: int = DUP_NGRAM_MIN_COUNT
) -> DataFrame:
    """Exact substring-level duplication signal (the training-data
    pipeline op behind 'dedup exact repeated passages', cf. Lee et al.
    2022 'Deduplicating Training Data Makes Language Models Better'):
    every word position whose n-gram occurs >= min_count times across
    the corpus, with the occurrence count. Downstream consumers mask or
    cut the flagged spans; for a full suffix-array equivalent you run
    this at several n and merge overlapping flagged ranges.

    Scale shape: one Arrow-batched gram pass over the docs (no window,
    no pre-shuffle), one hash aggregation shuffled by gram, one join of
    the gram occurrences against the duplicated-gram counts (AQE picks
    broadcast when the duplicated set is small). The 100-TB form —
    shuffle a 64-bit gram hash instead of the string, re-derive strings
    only for flagged positions — is duplicated_ngram_spans_hashed
    (gate-proven row-identical); the string form here IS the spec and
    the oracle."""
    # consumed twice (the count aggregation and the join probe side):
    # track-persisted or the Arrow gram extraction would run over the
    # corpus once per reference — the same double-evaluation trap the
    # minhash/simhash/LSH operators close with track()
    grams = track(_gram_rows(docs, n))
    counts = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return grams.join(counts, "gram").select(
        "doc_id", "pos", "gram", F.col("cnt").cast("long").alias("cnt")
    )


DUP_NGRAM_SPANS_SQL = f"""
WITH words AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
         array_to_string(ws[i : i + {DUP_NGRAM_N} - 1], ' ') AS gram
  FROM words,
       unnest(range(1, greatest(CAST(len(ws) AS BIGINT) - {DUP_NGRAM_N} + 2,
                                1))) AS t(i)
),
counts AS (
  SELECT gram, COUNT(*) AS cnt FROM grams GROUP BY gram
  HAVING COUNT(*) >= {DUP_NGRAM_MIN_COUNT}
)
SELECT g.doc_id, g.pos, g.gram, CAST(c.cnt AS BIGINT) AS cnt
FROM grams g JOIN counts c USING (gram)
"""


def duplicated_ranges(
    docs: DataFrame, n: int = DUP_NGRAM_N, min_count: int = DUP_NGRAM_MIN_COUNT
) -> DataFrame:
    """Merge duplicated_ngram_spans' flagged positions into MAXIMAL,
    non-overlapping duplicated word-ranges per document — the form a
    cleaning pipeline actually consumes (cut/mask [start_pos, end_pos]).
    A flagged position p covers words [p, p+n-1], so two flagged
    positions p < q belong to one range iff q <= p + n (their covered
    word intervals overlap or touch) — the island merge therefore uses
    gap tolerance n, not strict adjacency (two flagged grams at p and
    p+2 with n=8 are ONE interval [p, p+9], never two overlapping
    'maximal' ranges a consumer would double-mask).

    Gaps-and-islands relationally: lag(pos) over (doc_id ORDER BY pos)
    marks run starts (prev < pos - n), a running SUM of the markers
    numbers the runs, one groupBy emits each run's extent. Both windows
    partition by doc_id — bounded per-document state, no global window;
    the heavy lifting (corpus-wide gram counting) already happened in
    duplicated_ngram_spans."""
    flagged = duplicated_ngram_spans(docs, n=n, min_count=min_count).select(
        "doc_id", "pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.select(
        "doc_id",
        "pos",
        F.when(
            F.lag("pos").over(w) >= F.col("pos") - n, F.lit(0)
        ).otherwise(F.lit(1)).alias("is_start"),
    ).select(
        "doc_id",
        "pos",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("run_id"),
    )
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + F.lit(n - 1)).alias("end_pos"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .select(
            "doc_id",
            F.col("start_pos").cast("long").alias("start_pos"),
            F.col("end_pos").cast("long").alias("end_pos"),
            "n_grams",
        )
    )


# Shared CTE chain for the duplicated-range oracles: DUP_RANGES_SQL and
# DEDUP_CUT_SQL both build on it explicitly (the _DUCK_JAC_CTES
# pattern) — deriving one SQL string from another by string surgery
# silently degraded to the whole unsplit SQL if the spliced line
# changed.
_DUCK_DUP_RANGES_CTES = f"""words AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
         array_to_string(ws[i : i + {DUP_NGRAM_N} - 1], ' ') AS gram
  FROM words,
       unnest(range(1, greatest(CAST(len(ws) AS BIGINT) - {DUP_NGRAM_N} + 2,
                                1))) AS t(i)
),
counts AS (
  SELECT gram, COUNT(*) AS cnt FROM grams GROUP BY gram
  HAVING COUNT(*) >= {DUP_NGRAM_MIN_COUNT}
),
flagged AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN counts c USING (gram)
),
runs AS (
  -- gap tolerance n (not strict adjacency): positions p < q cover
  -- overlapping-or-touching word intervals iff q <= p + n
  SELECT doc_id, pos,
         SUM(CASE WHEN prev >= pos - {DUP_NGRAM_N} THEN 0 ELSE 1 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM flagged
  )
),
dranges AS (
  SELECT doc_id,
         CAST(MIN(pos) AS BIGINT) AS start_pos,
         CAST(MAX(pos) + {DUP_NGRAM_N} - 1 AS BIGINT) AS end_pos,
         CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM runs
  GROUP BY doc_id, run_id
)"""

DUP_RANGES_SQL = f"""
WITH {_DUCK_DUP_RANGES_CTES}
SELECT doc_id, start_pos, end_pos, n_grams FROM dranges
"""

# ---------------------------------------------------------------------------
# Hashed-gram arm of the substring dedup (the 100-TB exchange shape)
# ---------------------------------------------------------------------------


def _flagged_grams_udf(n: int):
    """Arrow-vectorized second pass of the hashed arm: given a document's
    text and its flagged (pos, cnt) list, re-derive the gram STRING at
    each flagged position. Runs only over docs that have flagged
    positions, and only materializes the flagged grams — the corpus-wide
    count aggregation never saw a string."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<pos: long, gram: string, cnt: long>>")
    def flagged_grams(texts, flags):
        out = []
        for t, fl in zip(texts.tolist(), flags.tolist()):
            if t is None or t != t or fl is None:
                out.append(None)
                continue
            ws = t.split(" ")
            out.append(
                [
                    {
                        "pos": int(f["pos"]),
                        "gram": " ".join(ws[int(f["pos"]): int(f["pos"]) + n]),
                        "cnt": int(f["cnt"]),
                    }
                    for f in fl
                ]
            )
        return pd.Series(out)

    return flagged_grams


def duplicated_ngram_spans_hashed(
    docs: DataFrame, n: int = DUP_NGRAM_N, min_count: int = DUP_NGRAM_MIN_COUNT
) -> DataFrame:
    """duplicated_ngram_spans with the SCALE exchange shape the string
    form's docstring names as future work (and SCALE.md prescribes for
    100 TB): the corpus-wide count aggregation shuffles a 64-bit
    xxhash64 of each gram instead of the ~8-word string — an ~8-byte key
    per occurrence in the one exchange that touches every gram — and the
    gram strings are re-derived afterwards ONLY for flagged positions,
    from the source text riding a doc_id join (one row per doc, the
    source table itself).

    Result-identical to duplicated_ngram_spans (same string oracle)
    absent a 64-bit xxhash collision between distinct grams — expected
    collisions ~G^2/2^65 for G distinct grams, i.e. ~0.003 at G = 10^8;
    a production pipeline that cannot tolerate that adds a verify join
    on the flagged subset only.

    Plan: Scan -> ArrowEval(gram hash) -> project(doc_id, pos, h) ->
    hash-agg by h -> join -> narrow groupBy(doc_id) -> join docs ->
    ArrowEval(re-derive strings) -> explode. The string column exists
    only inside the first Python stage and the final output stage."""
    hashed = track(
        _gram_rows(docs, n).select(
            "doc_id",
            "pos",
            # the 8-byte key that rides the corpus-wide exchange
            F.xxhash64(F.col("gram")).alias("h"),
        )
    )
    counts = (
        hashed.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    flagged = hashed.join(counts, "h").select("doc_id", "pos", "cnt")
    per_doc = flagged.groupBy("doc_id").agg(
        F.collect_list(F.struct("pos", "cnt")).alias("flags")
    )
    joined = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).join(per_doc, "doc_id")
    return joined.select(
        "doc_id",
        F.explode(_flagged_grams_udf(n)("text", "flags")).alias("g"),
    ).select(
        "doc_id",
        F.col("g.pos").alias("pos"),
        F.col("g.gram").alias("gram"),
        F.col("g.cnt").cast("long").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# Multi-n duplicated ranges (union of span lengths, interval-merged)
# ---------------------------------------------------------------------------

DUP_MULTI_NS = (8, 16)


def duplicated_ranges_multi(
    docs: DataFrame,
    ns: tuple = DUP_MULTI_NS,
    min_count: int = DUP_NGRAM_MIN_COUNT,
) -> DataFrame:
    """Maximal duplicated word-intervals from the UNION of several gram
    lengths (the suffix-array-flavored form of Lee et al. 2022: a long
    duplicated passage is caught by the long n even where the short n's
    count dips under min_count, and vice versa). Each flagged position p
    at length n contributes the interval [p, p+n-1]; intervals that
    overlap or touch merge into one island.

    Interval merge relationally (per-doc windows only — bounded state):
    order intervals by (start, end), a running MAX(end) over preceding
    rows detects island starts (start > prev_max_end + 1), a running SUM
    numbers the islands, one groupBy emits each island's extent. Island
    membership is invariant to tie order within equal starts (any two
    equal-start intervals overlap), so the result is deterministic."""
    parts = None
    for n in ns:
        f = duplicated_ngram_spans(docs, n=n, min_count=min_count).select(
            "doc_id",
            F.col("pos").alias("start"),
            (F.col("pos") + F.lit(int(n) - 1)).cast("long").alias("end"),
        )
        parts = f if parts is None else parts.unionByName(f)
    w = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = parts.select(
        "doc_id",
        "start",
        "end",
        F.when(prev_max >= F.col("start") - 1, F.lit(0))
        .otherwise(F.lit(1))
        .alias("is_start"),
    )
    runs = marked.select(
        "doc_id",
        "start",
        "end",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run_id"),
    )
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.min("start").cast("long").alias("start_pos"),
            F.max("end").cast("long").alias("end_pos"),
            F.count("*").cast("long").alias("n_spans"),
        )
        .select("doc_id", "start_pos", "end_pos", "n_spans")
    )


def _duck_flagged_spans(n: int, min_count: int) -> str:
    """CTE chain (suffixed by n) computing flagged [start, end] intervals
    for one gram length — mirrors duplicated_ngram_spans at that n."""
    return f"""
grams{n} AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
         array_to_string(ws[i : i + {n} - 1], ' ') AS gram
  FROM mwords,
       unnest(range(1, greatest(CAST(len(ws) AS BIGINT) - {n} + 2,
                                1))) AS t(i)
),
counts{n} AS (
  SELECT gram, COUNT(*) AS cnt FROM grams{n} GROUP BY gram
  HAVING COUNT(*) >= {min_count}
),
spans{n} AS (
  SELECT g.doc_id, g.pos AS s, g.pos + {n} - 1 AS e
  FROM grams{n} g JOIN counts{n} c USING (gram)
)
"""


DUP_RANGES_MULTI_SQL = (
    """
WITH mwords AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents
),
"""
    + ",\n".join(
        _duck_flagged_spans(n, DUP_NGRAM_MIN_COUNT).strip() for n in DUP_MULTI_NS
    )
    + ",\n"
    + f"""
allspans AS (
  {" UNION ALL ".join(f"SELECT doc_id, s, e FROM spans{n}" for n in DUP_MULTI_NS)}
),
marked AS (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s - 1
              THEN 0 ELSE 1 END AS is_start
  FROM allspans
),
runs AS (
  SELECT doc_id, s, e,
         SUM(is_start) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM marked
)
SELECT doc_id,
       CAST(MIN(s) AS BIGINT) AS start_pos,
       CAST(MAX(e) AS BIGINT) AS end_pos,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM runs
GROUP BY doc_id, run_id
"""
)


# 32- and 64-bit fingerprints in one labeled-union relation (the driver
# gate simhash_fingerprints_variants; individual forms remain in
# EXTRA_QUERIES for local parity and bench)
SIMHASH_FP_VARIANTS_SQL = f"""
WITH {_DUCK_SIMHASH_BASE.strip()},
{_duck_simhash64_base('documents').strip()}
SELECT doc_id, CAST(32 AS BIGINT) AS bits, simhash AS fp FROM fp
UNION ALL
SELECT doc_id, CAST(64 AS BIGINT) AS bits, simhash64 AS fp FROM fp64
"""


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (the dedup DECISION step)
# ---------------------------------------------------------------------------


# Driver-side union-find arm budget for dedup_clusters: when the LSH
# near-dup PAIR list (ids only, 16 bytes/row) fits this many rows, the
# component labels are computed in-process and broadcast back — the
# same size-gated hybrid as bpe_learn's dictionary arm. Near-dup pair
# lists are far smaller than the corpus (they only contain actual
# near-duplicates); above the budget the iterative min-label loop below
# remains the honest distributed shape.
DEDUP_CC_PAIR_BUDGET = 5_000_000


def _cc_label_map(pairs: list) -> list:
    """Union-find over (id_a, id_b) pairs; returns (id, label) for every
    id that appears in a pair, label = min id of its component."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


def dedup_clusters(
    docs: DataFrame, max_iters: int = 25, pair_budget: int | None = None
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph +
    keeper selection — the DECISION step a cleaning pipeline runs after
    pair generation: group mutually-near-duplicate documents into
    clusters and keep exactly one per cluster (the min doc_id), cutting
    the rest. Returns (doc_id, cluster_id, is_keeper) for EVERY corpus
    doc (singletons are their own keeper).

    Execution is a size-gated hybrid (r6, the bpe_learn pattern): when
    the ids-only pair list fits ``DEDUP_CC_PAIR_BUDGET`` rows it is
    collected once, union-find labels the components in-process, and a
    single broadcast left-join labels the corpus — zero iterations.
    Above the budget the distributed loop below runs unchanged
    (``pair_budget=0`` forces it; the arms are pinned equal in
    tests/test_dedup.py).

    Spark shape (above the budget): iterative min-label propagation
    (the Pregel shape).
    Every node starts labeled with its own id; each iteration joins the
    label table to the bidirectional edge list, takes each node's min
    neighbor label, and keeps least(own, neighbor-min). The fixpoint —
    no label changes — is exactly per-component min id, reached within
    graph-diameter iterations. Per-iteration cost is ONE equality join
    + one groupBy over the edges (no all-pairs, no window); the
    convergence test rides the same action that materializes the new
    labels (a sum of per-row change flags), so each iteration is one
    job, like the k-means Lloyd loop. Iteration state is persisted and
    the PREVIOUS iteration's persist is released scope-locally
    (mark/release_since). Near-dup clusters have tiny diameters in
    practice (variants of one source document); at 10^12-doc scale you
    bound the iteration count with the large-star/small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — same join-per-round shape, logarithmic
    round count; this form IS that algorithm's simple-graph special
    case and the gate's oracle (a DuckDB recursive closure) pins its
    semantics."""
    from .. import cached

    # persist the PAIRS, not the bidirectional union: the union's two
    # branches both reference the pairs subtree, so persisting only the
    # union would evaluate the LSH band-join + verify twice on first
    # materialization; with pairs cached, the union is two cheap cache
    # reads re-evaluated per iteration
    pairs = cached.track(minhash_lsh_pairs(docs).select("id_a", "id_b"))
    nodes = _variant_corpus(docs).select(
        F.col("doc_id").cast("long").alias("id")
    )
    # Size-gated driver arm (the bpe_learn dictionary-arm pattern):
    # near-dup pair lists are ids-only and tiny relative to the corpus.
    # When the pair count fits the budget, union-find runs in-process
    # and ONE broadcast left-join labels the corpus — no iteration at
    # all (the count rides the pair table's persist, which the
    # distributed loop would have materialized anyway). Output is
    # identical: label = min id per component, singletons label
    # themselves via the coalesce.
    budget = DEDUP_CC_PAIR_BUDGET if pair_budget is None else pair_budget
    if pairs.count() <= budget:
        lm = _cc_label_map(
            [(r[0], r[1]) for r in pairs.collect()]
        )
        spark = docs.sparkSession
        lm_df = spark.createDataFrame(
            sorted(lm), "id long, label long"
        )
        return nodes.join(F.broadcast(lm_df), "id", "left").select(
            F.col("id").alias("doc_id"),
            F.coalesce("label", F.col("id")).alias("cluster_id"),
            (F.col("id") == F.coalesce("label", F.col("id")))
            .cast("long")
            .alias("is_keeper"),
        )
    # Self-loops folded into the edge list make each round ONE
    # equality join + ONE aggregate: min over (self ∪ neighbors) labels
    # IS least(own, neighbor-min), so the r5 form's second (left) join
    # and per-row change flags disappear (measured: each round cost
    # ~1.2-1.4 s of mostly plan/stage overhead at sf0.1).
    edges = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).unionByName(
        nodes.select(F.col("id").alias("id_a"), F.col("id").alias("id_b"))
    )
    labels = cached.track(nodes.select("id", F.col("id").alias("label")))
    # Convergence rides the materializing action as before, but as the
    # LABEL-SUM fixpoint: per-node labels are monotone nonincreasing
    # (min over a set containing the old label), so the sum is strictly
    # decreasing until the fixpoint and equal exactly there — no change
    # column, no second join. SUM of zero rows is NULL == NULL: an
    # empty corpus converges immediately rather than crashing the cap.
    # Summed as DECIMAL(38,0): two ids near 2^62 overflow a BIGINT sum.
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).collect()[0][0]
    converged = False
    for _ in range(max_iters):
        new_labels = cached.track(
            edges.join(labels, edges["id_b"] == labels["id"])
            .groupBy("id_a")
            .agg(F.min("label").alias("label"))
            .select(F.col("id_a").alias("id"), "label")
        )
        new_sum = new_labels.agg(label_sum).collect()[0][0]
        # drop ONLY the pre-iteration label persist; new_labels stays
        # tracked as the next iteration's input / the returned relation
        cached.release_entry(labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} iterations"
            " (component diameter exceeds the cap) — raise max_iters or"
            " switch to star-contraction rounds"
        )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).cast("long").alias("is_keeper"),
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_DUCK_JAC_CTES.strip()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM corpus
  UNION
  SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS doc_id, MIN(r) AS cluster_id,
       CAST(CASE WHEN MIN(r) = id THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# Substring-dedup application (cut the flagged ranges out of the text)
# ---------------------------------------------------------------------------


def dedup_cut(
    docs: DataFrame, n: int = DUP_NGRAM_N, min_count: int = DUP_NGRAM_MIN_COUNT
) -> DataFrame:
    """APPLY the substring dedup: remove every word inside a duplicated
    range (Lee et al. 2022 cut duplicated passages from the training
    text, they did not just report them) — returns (doc_id, cleaned)
    for every non-null-text document, '' when the whole text was
    duplicated.

    Relational, both engines: posexplode the words, mark each position
    by a doc_id equi-join against duplicated_ranges (ranges per doc are
    few — never a non-equi anti join, which Spark would plan as a
    nested loop), keep unmarked positions, reassemble in position order.
    The corpus-wide heavy lifting (gram counting) happens inside
    duplicated_ranges; this pass adds one doc_id-keyed join + two
    per-doc aggregations."""
    ranges = duplicated_ranges(docs, n=n, min_count=min_count)
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    words = base.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    marked = (
        words.join(ranges, "doc_id", "left")
        .groupBy("doc_id", "pos", "w")
        .agg(
            F.max(
                F.when(
                    (F.col("pos") >= F.col("start_pos"))
                    & (F.col("pos") <= F.col("end_pos")),
                    1,
                ).otherwise(0)
            ).alias("cut")
        )
    )
    rebuilt = (
        marked.filter(F.coalesce(F.col("cut"), F.lit(0)) == 0)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, w))),"
                    " s -> s.w)"
                ),
            ).alias("cleaned")
        )
    )
    return (
        base.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("cleaned", F.lit("")).alias("cleaned"))
    )


DEDUP_CUT_SQL = f"""
WITH {_DUCK_DUP_RANGES_CTES},
dwords AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, ws[i] AS w
  FROM words, unnest(range(1, CAST(len(ws) AS BIGINT) + 1)) AS t(i)
),
marked AS (
  SELECT d.doc_id, d.pos, d.w,
         MAX(CASE WHEN d.pos BETWEEN r.start_pos AND r.end_pos
                  THEN 1 ELSE 0 END) AS cut
  FROM dwords d LEFT JOIN dranges r USING (doc_id)
  GROUP BY d.doc_id, d.pos, d.w
),
rebuilt AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS cleaned
  FROM marked WHERE COALESCE(cut, 0) = 0
  GROUP BY doc_id
)
SELECT w.doc_id, COALESCE(r.cleaned, '') AS cleaned
FROM (
  -- ws IS NULL <=> text was NULL (string_split(NULL) = NULL): exclude,
  -- matching the Spark side's text.isNotNull() base filter — without
  -- it the oracle emitted cleaned='' rows for NULL-text docs the
  -- engine (correctly) drops
  SELECT DISTINCT doc_id FROM words WHERE ws IS NOT NULL
) w
LEFT JOIN rebuilt r USING (doc_id)
"""


def reflow_lines(docs: DataFrame, words_per_line: int = 12) -> DataFrame:
    """Deterministic line structure for line-granularity operators:
    wrap each document's space-separated words into lines of
    ``words_per_line`` words (last line shorter). The synthetic corpus
    is single-line; this view exposes real cross-document duplicate
    lines (the word blocks repeat) so line_dedup's gate asserts actual
    removals. NULL text stays NULL; '' stays ''. The DuckDB oracle
    builds the identical view (LINE_DEDUP_REFLOW_SQL's rdocs CTE)."""
    w = int(words_per_line)
    # split once in an inner projection: referencing `ws` from the
    # transform lambda keeps CollapseProject from re-inlining the
    # split per line element (r6: the inlined form re-split the full
    # text for EVERY line — measured 2.5x slower on this view)
    inner = docs.select(
        F.col("doc_id"), F.split("text", " ").alias("ws")
    )
    lines = F.expr(
        f"transform(sequence(0, cast(ceil(size(ws) / {w}.0)"
        f" as int) - 1),"
        f" i -> array_join(slice(ws, i * {w} + 1, {w}), ' '))"
    )
    return inner.select(
        F.col("doc_id"), F.array_join(lines, "\n").alias("text")
    )


def _exploded_lines(docs: DataFrame):
    """Shared scaffold of the line-granularity family (line_dedup,
    line_dedup_hashed, boilerplate_lines): non-null base, one
    posexplode pass with the trimmed key, and the blank/non-blank
    split (whitespace-only lines are structural — they bypass every
    corpus-wide join, where the '' key would be the hottest bucket).
    Returns ``(base, blanks, nonblank)``."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    lines = base.select(
        "doc_id",
        F.posexplode(F.split("text", "\n", -1)).alias("pos", "line"),
    ).withColumn("k", F.trim(F.col("line")))
    blanks = lines.filter(F.col("k") == "").select("doc_id", "pos", "line")
    nonblank = lines.filter(F.col("k") != "")
    return base, blanks, nonblank


def _reassemble_lines(base: DataFrame, kept: DataFrame) -> DataFrame:
    """Shared tail of the line-granularity family: per-doc ordered
    reassembly of the kept ``(doc_id, pos, line)`` rows plus the
    n_removed accounting against the original line count (docs whose
    every line was removed come back as cleaned='')."""
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("cleaned"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select(
            "doc_id", F.size(F.split("text", "\n", -1)).alias("n_lines")
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def line_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-level EXACT line deduplication (RefinedWeb, Penedo et al.
    2023, arXiv:2306.01116 — line-wise dedup of boilerplate; the C4
    repeated-span rule of Raffel et al. 2020 at line granularity):
    every occurrence of a (trimmed) line after its corpus-wide FIRST
    occurrence — ordered by (doc_id, pos) — is removed; whitespace-only
    lines are structural and always kept. Returns
    ``(doc_id, cleaned, n_removed)`` for every non-null-text document,
    cleaned='' when every line was removed.

    Scale shape: one explode pass; the first-occurrence table is a hash
    aggregate keyed on the trimmed line whose min-struct CARRIES the
    surviving row (doc_id, pos, line) — struct comparison never reaches
    the line field because (doc_id, pos) is unique — so the kept rows
    fall straight out of the aggregate and the old occurrences-side
    join-back (one full extra exchange of every occurrence) is gone
    (r6); map-side partial min ships at most one representative line
    per (partition, key). Blank lines never enter the aggregate (the ''
    key would be the corpus's hottest bucket — classic skew); they
    bypass via union. The 10^12-doc exchange is
    :func:`line_dedup_hashed` — same output through a 128-bit hashed
    line key. Reference analog: the dedup intent of doc2md_utils.py's
    re-index skip, at line granularity."""
    base, blanks, nonblank = _exploded_lines(docs)
    first = nonblank.groupBy("k").agg(
        F.min(F.struct("doc_id", "pos", "line")).alias("f")
    )
    kept = blanks.unionByName(
        first.select("f.doc_id", "f.pos", "f.line")
    )
    return _reassemble_lines(base, kept)


# Shared oracle fragments for the line-granularity family — the SQL
# twins of _exploded_lines (explode + trimmed key) and
# _reassemble_lines (ordered rebuild + n_removed accounting); each
# oracle supplies only its own `kept` CTE between them. The builders
# take the source relation name and a CTE-name prefix so two family
# members can compose inside ONE statement (CURATION_PIPELINE_SQL).


def reflow_cte(src: str, out: str = "rdocs") -> str:
    """The SQL twin of reflow_lines(12) over relation ``src`` holding
    (doc_id, text), emitted as CTE ``out``."""
    return f"""{out} AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         array_to_string(
           list_transform(
             range(0, CAST(ceil(len(string_split(text, ' ')) / 12.0)
                           AS BIGINT)),
             i -> array_to_string(
                    list_slice(string_split(text, ' '),
                               i * 12 + 1, i * 12 + 12), ' ')),
           chr(10)) AS text
  FROM {src}
  WHERE text IS NOT NULL
)"""


def line_keyed_ctes(src: str, p: str = "") -> str:
    """lines + trimmed-key CTEs over relation ``src`` holding
    (doc_id, text); CTE names prefixed with ``p``."""
    return f"""{p}lines AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, ls[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM {src}),
       unnest(range(1, CAST(len(ls) AS BIGINT) + 1)) AS t(i)
),
{p}keyed AS (SELECT doc_id, pos, line, trim(line) AS k FROM {p}lines)"""


def reassemble_ctes(src: str, p: str = "") -> str:
    """Ordered rebuild + n_removed accounting as composable CTEs:
    reads ``{p}kept`` (doc_id, pos, line) and the original relation
    ``src`` (doc_id, text); emits ``{p}out`` holding
    (doc_id, cleaned, n_removed)."""
    return f"""{p}rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned,
         COUNT(*) AS n_kept
  FROM {p}kept GROUP BY doc_id
),
{p}tot AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM {src}
),
{p}out AS (
  SELECT t.doc_id AS doc_id, COALESCE(r.cleaned, '') AS cleaned,
         CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
  FROM {p}tot t LEFT JOIN {p}rebuilt r USING (doc_id)
)"""


_REFLOW_LINES_CTES = (
    reflow_cte("documents") + ",\n" + line_keyed_ctes("rdocs")
)

_REASSEMBLE_LINES_SQL = (
    reassemble_ctes("rdocs")
    + "\nSELECT doc_id, cleaned, n_removed FROM out"
)

# Gate oracle: the reflowed-corpus view (rdocs, bit-identical to
# reflow_lines at 12 words/line) followed by the same first-occurrence
# keep rule. row_number() is the oracle's luxury — the Spark side's
# corpus-wide min-struct aggregate computes the same first occurrence
# without a global window.
LINE_DEDUP_REFLOW_SQL = f"""
WITH {_REFLOW_LINES_CTES},
ranked AS (
  SELECT doc_id, pos, line, k,
         row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
  FROM keyed
),
kept AS (SELECT doc_id, pos, line FROM ranked WHERE k = '' OR rn = 1),
{_REASSEMBLE_LINES_SQL}
"""


def line_dedup_hashed(docs: DataFrame) -> DataFrame:
    """The 100-TB exchange shape of :func:`line_dedup` — identical
    output (gate-checked against the same oracle). The first-occurrence
    aggregate groups on a 128-bit line key (two independently-seeded
    xxhash64 values) instead of the line string, so the corpus-wide
    exchange groups and combines on 16 bytes of hash instead of the
    full line text — the line string is never COMPARED during the
    corpus-wide aggregation, and only one representative line per
    (partition, key) rides the exchange inside the min-struct (the
    same join-back elimination as :func:`line_dedup`: the r5 shape
    re-shipped EVERY occurrence row through a second exchange to probe
    the first-occurrence table). A key collision would need two
    distinct lines agreeing on BOTH hashes: by the birthday bound that
    is ~d^2/2^129 for d distinct lines — ~1e-14 even at 10^12 lines (a
    single xxhash64 would NOT survive that scale: 10^24/2^65 >> 1).
    The per-doc reassembly is the same ordered aggregation."""
    base, blanks, nonblank = _exploded_lines(docs)
    first = (
        nonblank.select(
            "doc_id",
            "pos",
            "line",
            F.xxhash64(F.col("k")).alias("h1"),
            F.xxhash64(F.lit(1), F.col("k")).alias("h2"),
        )
        .groupBy("h1", "h2")
        .agg(F.min(F.struct("doc_id", "pos", "line")).alias("f"))
    )
    kept = blanks.unionByName(
        first.select("f.doc_id", "f.pos", "f.line")
    )
    return _reassemble_lines(base, kept)


BOILERPLATE_MIN_DF = 3


def boilerplate_lines(
    docs: DataFrame, min_df: int = BOILERPLATE_MIN_DF
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the CCNet/RefinedWeb
    navigation-chrome rule: a line whose trimmed form occurs in many
    DISTINCT documents is site furniture — cookie banners, nav menus,
    copyright footers — not content). EVERY occurrence of a trimmed
    line with document frequency >= ``min_df`` is dropped (unlike
    :func:`line_dedup`, which keeps the corpus-wide first occurrence);
    whitespace-only lines are structural and always kept. Returns
    ``(doc_id, cleaned, n_removed)`` for every non-null-text document.

    Scale shape: one explode pass; the doc-frequency table is a hash
    aggregate keyed on the trimmed line (map-side partial
    distinct-accumulate), filtered DOWN to the boilerplate keys — a
    tiny fraction of distinct lines (13 keys of ~59k distinct at
    sf0.01) — so the anti-join back to the occurrences is
    AQE-broadcastable in most corpora; when a 100-TB corpus's
    boilerplate set outgrows the broadcast threshold the anti-join
    falls back to the same hash-partitioned exchange the aggregate
    already produced. Blank lines bypass the join (the '' key would be
    the hottest bucket). At 10^12 docs the exchange rides the
    line_dedup_hashed 128-bit key instead of the string.
    Reference analog: the cleanup intent of doc2md_utils.py's markdown
    post-processing, lifted to corpus granularity."""
    base, blanks, nonblank = _exploded_lines(docs)
    boiler = (
        nonblank.groupBy("k")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= int(min_df))
        .select("k")
    )
    kept = blanks.unionByName(
        nonblank.join(boiler, "k", "left_anti").select(
            "doc_id", "pos", "line"
        )
    )
    return _reassemble_lines(base, kept)


# Gate oracle: same reflowed-corpus view as LINE_DEDUP_REFLOW_SQL, then
# the document-frequency rule instead of first-occurrence.
BOILERPLATE_LINES_SQL = f"""
WITH {_REFLOW_LINES_CTES},
boiler AS (
  SELECT k FROM keyed WHERE k <> ''
  GROUP BY k HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DF}
),
kept AS (
  SELECT doc_id, pos, line FROM keyed
  WHERE k = '' OR k NOT IN (SELECT k FROM boiler)
),
{_REASSEMBLE_LINES_SQL}
"""


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental exact dedup (ingest-vs-snapshot)
# ---------------------------------------------------------------------------
#
# The incremental-ingestion counterpart of exact_dedup: a NEW batch is
# deduplicated against an already-ingested PRIOR snapshot. The scale
# problem is that a plain anti-join shuffles (or broadcast-builds over)
# the ENTIRE new batch; with a Bloom filter over the prior's text
# hashes, rows the filter rejects are DEFINITELY new and never touch
# the join — only bloom hits (true overlaps + the ~(1-e^{-kn/m})^k
# false-positive sliver) enter the exact verification anti-join, which
# then removes the false positives, so the result is EXACT and the
# oracle is a plain NOT EXISTS. At 100 TB with a 1% overlap, ~99% of
# rows ride the scan->filter codegen path and never shuffle.
#
# The filter itself is built relationally — explode k=BLOOM_K hash
# positions per prior row, bit-pack into 64-bit words, groupBy word
# index with bit_or (map-side combinable) — so the build scales to any
# prior size; only m/64 words are collected (bounded by the filter
# size, not the data). Membership is a pure JVM expression over an
# array<long> literal: element_at + bitwiseAND inside whole-stage
# codegen, no Python, no shuffle. For filters too big for a plan
# literal (GB-scale m), ship the same words relation as a broadcast
# join on word index instead; the gate exercises the literal arm.

BLOOM_M_BITS = 4096  # power of two; gate-scale (prior ~125 texts)
BLOOM_K = 3


def _bloom_pos(col, i: int, m: int):
    """i-th Bloom position of a text value: pmod(xxhash64(text, i), m).
    Seeding via the extra xxhash64 argument gives k independent hash
    families from the one JVM hash primitive."""
    return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))


def bloom_build(prior: DataFrame, m: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """Aggregate ``prior.text`` into an m-bit Bloom filter, returned as
    a Python list of m/64 longs. Distributed build: k positions per
    row -> (word index, bit) -> groupBy(word).agg(bit_or) — partial
    aggregation happens map-side, and the collect is bounded by m/64
    rows regardless of prior size."""
    pos = F.explode(
        F.array(*[_bloom_pos(F.col("text"), i, m) for i in range(k)])
    ).alias("p")
    words = (
        prior.filter(F.col("text").isNotNull())
        .select(pos)
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("p"), F.lit(64)).cast("int"),
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = [0] * (m // 64)
    for r in words:
        arr[r["w"]] = r["bits"]
    return arr


def _bloom_might_contain(bloom_words, col, m: int, k: int):
    """JVM membership test: AND over the k positions of
    (words[pos/64] & (1 << pos%64)) != 0 — element_at over an
    array<long> literal, whole-stage codegen, no Python."""
    lit_words = F.lit(bloom_words)
    cond = None
    for i in range(k):
        p = _bloom_pos(col, i, m)
        word = F.element_at(lit_words, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
        )
        c = word.bitwiseAND(bit) != 0
        cond = c if cond is None else (cond & c)
    return cond


def bloom_incremental_dedup(
    new_batch: DataFrame,
    prior: DataFrame,
    m: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Exact incremental dedup of ``new_batch`` against ``prior`` by
    text equality, Bloom-prefiltered. Returns the genuinely-new rows
    ``(doc_id, text)`` — rows whose text appears nowhere in prior.

    Two legs over the batch: bloom MISSES are definitely new (pure
    codegen filter, no join); bloom HITS are candidates and pass
    through an exact anti-join against prior, which strips the false
    positives. No false negatives by construction (every prior text
    set all k of its bits), so result == plain anti-join — the gate's
    DuckDB oracle IS the plain NOT EXISTS. The anti-join's left side
    carries only the candidate sliver (plan pinned in
    tests/test_bloom_dedup.py)."""
    bloom = bloom_build(prior, m, k)
    base = new_batch.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    cand = _bloom_might_contain(bloom, F.col("text"), m, k)
    definitely_new = base.filter(~cand)
    survivors = base.filter(cand).join(
        prior.select("text").filter(F.col("text").isNotNull()).distinct(),
        on="text",
        how="left_anti",
    )
    return definitely_new.unionByName(survivors.select("doc_id", "text"))


def prior_snapshot(docs: DataFrame) -> DataFrame:
    """Deterministic prior-snapshot view for the incremental-dedup
    gate: every doc_id % 4 == 0 document counts as already ingested,
    so the gate drops a real ~25% of the batch (plus any cross-doc
    exact-text duplicates) instead of proving emptiness."""
    return docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")


BLOOM_INCREMENTAL_DEDUP_SQL = """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.text AS text
FROM documents d
WHERE d.text IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM documents p
    WHERE p.doc_id % 4 = 0 AND p.text IS NOT NULL AND p.text = d.text
  )
"""


# ---------------------------------------------------------------------------
# Incremental MinHash near-dup (new batch vs prior snapshot)
# ---------------------------------------------------------------------------
#
# The near-dup counterpart of bloom_incremental_dedup: a NEW crawl
# batch is near-dup-checked against an already-ingested PRIOR corpus.
# The prior's signature/band table is the artifact a real pipeline
# writes ONCE at ingest (minhash_lsh_pairs' docstring calls it the
# signature TABLE); an incremental run encodes only the new batch and
# equality-joins its band keys against that table — never prior x prior
# (already deduped), never new x new (a separate intra-batch pass if
# wanted). At 10^12 prior docs the band table is bucketed by band_key
# so the daily increment's join is storage-partitioned; the corpus is
# never re-encoded and never re-banded.


def _minhash_encode(docs: DataFrame):
    """(bands, sh) relations for one side — the vectorized encoder,
    track()-persisted exactly like minhash_lsh_pairs (both relations
    read the encoding)."""
    from .partitioning import spread_small_scan

    _, _, encode = _minhash_encode_udf()
    enc = track(
        spread_small_scan(docs).select("doc_id", encode("text").alias("e"))
    )
    return (
        enc.select("doc_id", F.explode(F.col("e.bands")).alias("band_key")),
        enc.select("doc_id", F.col("e.sh").alias("sh")),
    )


def minhash_incremental(new_batch: DataFrame, prior: DataFrame) -> DataFrame:
    """Near-dup pairs BETWEEN a new batch and a prior snapshot:
    band-key equality join across the two sides' band tables, exact
    Jaccard verify on the candidate sliver, threshold
    JACCARD_THRESHOLD. Returns (prior_id, new_id, jaccard).

    Recall: identical banding to minhash_lsh_pairs, whose recall=1 vs
    the uncapped exact all-pairs oracle is gate-proven; the cross-side
    pairs here are a subset of that pair space, and the gate's oracle
    is the exact all-pairs cross-side Jaccard — so the banding must
    (and does) find every qualifying pair."""
    bands_n, sh_n = _minhash_encode(
        new_batch.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    bands_p, sh_p = _minhash_encode(
        prior.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    cand = (
        bands_p.alias("p")
        .join(
            bands_n.alias("n"),
            F.col("p.band_key") == F.col("n.band_key"),
        )
        .select(
            F.col("p.doc_id").alias("prior_id"),
            F.col("n.doc_id").alias("new_id"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            sh_p.withColumnRenamed("doc_id", "prior_id").withColumnRenamed(
                "sh", "sh_a"
            ),
            "prior_id",
        )
        .join(
            sh_n.withColumnRenamed("doc_id", "new_id").withColumnRenamed(
                "sh", "sh_b"
            ),
            "new_id",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (
                    F.size("sh_a") + F.size("sh_b") - F.col("n_inter")
                ).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("prior_id", "new_id", "jaccard")
    )
    return verified


# Gate oracle: exact all-pairs cross-side Jaccard over the variant
# corpus split (prior = base ids, new = +10^6 variants) — banding
# invisible to semantics, recall must be 1.
MINHASH_INCREMENTAL_SQL = f"""
WITH {DUCK_VARIANT_CORPUS.strip()},
msh AS (
  SELECT doc_id,
         {duck_polyhash_over_array(_DUCK_SHINGLES)} AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM corpus)
),
mpairs AS (
  SELECT p.doc_id AS prior_id, n.doc_id AS new_id, p.sh AS sh_a, n.sh AS sh_b
  FROM msh p JOIN msh n
    ON p.doc_id < 1000000 AND n.doc_id >= 1000000
),
mjac AS (
  SELECT prior_id, new_id,
    round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 4)
      AS jaccard
  FROM mpairs
)
SELECT prior_id, new_id, jaccard FROM mjac
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Composed incremental-ingest dedup decision (exact + near, one plan)
# ---------------------------------------------------------------------------

INGEST_EXACT_COPY_MOD = 7  # gate seed: doc_id % 7 == 0 re-ingested verbatim


def ingest_new_batch(docs: DataFrame) -> DataFrame:
    """Deterministic NEW-batch view for the composed ingest gate: the
    near-dup variants (+10^6, last 2 words dropped) plus VERBATIM
    re-ingestions of every doc_id % 7 == 0 document (+2*10^6) — so the
    exact arm and the near arm both demonstrably fire, and the exact
    copies also carry a jaccard-1.0 near match (both flags set on one
    row, the composition the operator exists to express)."""
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    variants = _variant_corpus(docs).filter(
        F.col("doc_id") >= 1_000_000
    )
    copies = base.filter(F.col("doc_id") % INGEST_EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    novel = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(
            F.lit("freshcrawl item "),
            F.col("doc_id").cast("string"),
            F.lit(" body alpha beta gamma delta epsilon zeta"),
        ).alias("text"),
    )
    return variants.unionByName(copies).unionByName(novel)


def ingest_dedup(new_batch: DataFrame, prior: DataFrame) -> DataFrame:
    """The incremental-ingest DECISION: for every new-batch document,
    exact-dup and near-dup status against the prior snapshot in ONE
    lazy plan —

        is_exact_dup  text already in prior (bloom-prefiltered, exact
                      verify — bloom_incremental_dedup's arms)
        near_dup_of   best near-dup prior doc (minhash_incremental's
                      banded candidates; highest jaccard, min prior_id
                      at ties), NULL when none
        jaccard       that pair's shingle Jaccard (NULL when none)
        keep          1 iff neither flag fired

    Returns (doc_id, is_exact_dup, near_dup_of, jaccard, keep). Proves
    the incremental family COMPOSES — the per-day crawl ingest runs
    exactly this: cheap exact kill first, near-dup decision on what
    remains, one relational plan end-to-end."""
    base = new_batch.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    bloom = bloom_build(prior)
    cand = _bloom_might_contain(
        bloom, F.col("text"), BLOOM_M_BITS, BLOOM_K
    )
    exact_ids = (
        base.filter(cand)
        .join(
            prior.select("text").filter(F.col("text").isNotNull()).distinct(),
            "text",
            "left_semi",
        )
        .select("doc_id")
        .withColumn("is_exact_dup", F.lit(1).cast("long"))
    )
    near = minhash_incremental(base, prior)
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard"), F.asc("prior_id")
    )
    best = (
        near.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("prior_id").alias("near_dup_of"),
            "jaccard",
        )
    )
    out = (
        base.select("doc_id")
        .join(exact_ids, "doc_id", "left")
        .join(best, "doc_id", "left")
    )
    is_exact = F.coalesce(F.col("is_exact_dup"), F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        is_exact.alias("is_exact_dup"),
        "near_dup_of",
        "jaccard",
        (
            (is_exact == 0) & F.col("near_dup_of").isNull()
        )
        .cast("long")
        .alias("keep"),
    )


INGEST_DEDUP_SQL = f"""
WITH iprior AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  WHERE text IS NOT NULL
),
inew AS (
  SELECT CAST(doc_id AS BIGINT) + 1000000 AS doc_id,
         array_to_string(
           (string_split(text, ' '))[1 : greatest(len(string_split(text, ' ')) - 2, 1)],
           ' ') AS text
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 2000000 AS doc_id, text
  FROM documents
  WHERE doc_id % {INGEST_EXACT_COPY_MOD} = 0 AND text IS NOT NULL
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 3000000 AS doc_id,
         'freshcrawl item ' || CAST(doc_id AS VARCHAR)
           || ' body alpha beta gamma delta epsilon zeta' AS text
  FROM documents
  WHERE doc_id % 5 = 0 AND text IS NOT NULL
),
ish_p AS (
  SELECT doc_id,
         {duck_polyhash_over_array(_DUCK_SHINGLES)} AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM iprior)
),
ish_n AS (
  SELECT doc_id,
         {duck_polyhash_over_array(_DUCK_SHINGLES)} AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM inew)
),
ijac AS (
  SELECT p.doc_id AS prior_id, n.doc_id AS new_id,
    round(CAST(len(list_intersect(p.sh, n.sh)) AS DOUBLE)
          / (len(p.sh) + len(n.sh) - len(list_intersect(p.sh, n.sh))), 4)
      AS jaccard
  FROM ish_p p CROSS JOIN ish_n n
),
ibest AS (
  SELECT new_id AS doc_id, prior_id AS near_dup_of, jaccard
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY new_id ORDER BY jaccard DESC, prior_id ASC) AS rn
    FROM ijac WHERE jaccard >= {JACCARD_THRESHOLD}
  ) WHERE rn = 1
)
SELECT n.doc_id AS doc_id,
       CAST(EXISTS (SELECT 1 FROM iprior p WHERE p.text = n.text)
            AS BIGINT) AS is_exact_dup,
       b.near_dup_of AS near_dup_of,
       b.jaccard AS jaccard,
       CAST(NOT EXISTS (SELECT 1 FROM iprior p WHERE p.text = n.text)
            AND b.near_dup_of IS NULL AS BIGINT) AS keep
FROM inew n LEFT JOIN ibest b USING (doc_id)
"""
