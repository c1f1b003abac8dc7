"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting (training-data pipeline family; F10 token counting
mirrors the reference's tiktoken import at docker/main.py:32 — whose
splitter is actually character-based, see SURVEY.md F10).

All JVM-side Spark expressions with bit-exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MOD, duck_polyhash_over_array

# marker-word lists per language (n-gram/stopword heuristic; deterministic
# over the synthetic corpus — real lists would come from fastText/CLD data)
LANG_MARKERS = {
    "de": ("der", "fast", "table", "und"),
    "en": ("the", "a", "key", "row"),
    "es": ("data", "small", "el"),
    "fr": ("le", "slow", "part"),
    "zh": ("window", "batch"),
}

# BPE-ish token regex: letter runs, digit runs, single punctuation
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "of", "to", "and", "data", "key", "row")


def _count_in(words_expr: str, needles: tuple[str, ...]) -> str:
    arr = "array(" + ", ".join(f"'{w}'" for w in needles) + ")"
    return f"size(filter({words_expr}, w -> array_contains({arr}, w)))"


def lang_id(docs: DataFrame) -> DataFrame:
    """Predicted language = argmax marker count, ties -> lang asc. The
    fold starts from the first language, so NULL text (all scores NULL)
    predicts it with a NULL score, as the oracle's ranking does."""
    first, *rest = (
        f"named_struct('lang', '{lang}', 'score',"
        f" {_count_in('ws', LANG_MARKERS[lang])})"
        for lang in sorted(LANG_MARKERS)
    )
    expr = f"""
    element_at(transform(array(split(text, ' ')), ws ->
      aggregate(array({", ".join(rest)}), {first},
                (best, s) -> IF(s.score > best.score, s, best))
    ), 1)
    """
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(expr).getField("lang").alias("pred_lang"),
        F.expr(expr).getField("score").cast("long").alias("marker_hits"),
    )


def _duck_count_in(needles: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in needles) + "]"
    return f"len(list_filter(ws, w -> list_contains({arr}, w)))"


LANG_ID_SQL = (
    "WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,"
    " string_split(text, ' ') AS ws FROM documents),\n"
    "unp AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang,"
        f" {_duck_count_in(LANG_MARKERS[lang])} AS score FROM w"
        for lang in sorted(LANG_MARKERS)
    )
    + "),\n"
    "ranked AS (SELECT doc_id, lang, score, ROW_NUMBER() OVER"
    " (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn FROM unp)\n"
    "SELECT doc_id, lang AS pred_lang, CAST(score AS BIGINT) AS marker_hits"
    " FROM ranked WHERE rn = 1"
)


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / stopword-ratio / word-length quality features + blended score
    (the deterministic analog of model-based quality classifiers)."""
    expr = f"""
    element_at(transform(array(split(text, ' ')), ws -> named_struct(
      'n_words', size(ws),
      'stop_ratio', {_count_in('ws', STOPWORDS)} / cast(size(ws) as double),
      'avg_word_len', aggregate(ws, 0L, (a, w) -> a + length(w))
                      / cast(size(ws) as double)
    )), 1)
    """
    q = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(expr).alias("f"),
    ).select(
        "doc_id",
        F.col("f.n_words").cast("long").alias("n_words"),
        (F.floor(F.col("f.stop_ratio") * 10000) / 10000).alias("stop_ratio"),
        (F.floor(F.col("f.avg_word_len") * 10000) / 10000).alias("avg_word_len"),
        (
            F.floor(
                (
                    0.4 * F.least(F.col("f.n_words") / 50.0, F.lit(1.0))
                    + 0.3 * F.col("f.stop_ratio")
                    + 0.3 * F.least(F.col("f.avg_word_len") / 8.0, F.lit(1.0))
                )
                * 10000
            )
            / 10000
        ).alias("quality"),
    )
    return q


QUALITY_SQL = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents
),
f AS (
  SELECT doc_id,
    len(ws) AS n_words,
    {_duck_count_in(STOPWORDS)} / CAST(len(ws) AS DOUBLE) AS stop_ratio,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(ws, x -> CAST(length(x) AS BIGINT))),
                (a, b) -> a + b) / CAST(len(ws) AS DOUBLE) AS avg_word_len
  FROM w
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  floor(stop_ratio * 10000) / 10000 AS stop_ratio,
  floor(avg_word_len * 10000) / 10000 AS avg_word_len,
  floor((0.4 * least(n_words / 50.0, 1.0) + 0.3 * stop_ratio
        + 0.3 * least(avg_word_len / 8.0, 1.0)) * 10000) / 10000 AS quality
FROM f
"""


def token_counts(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).cast("long").alias("re_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document — the
    classic surface-statistics readability pair, a standard quality
    signal for corpus filtering. Syllables via the vowel-group
    heuristic (maximal [aeiouy]+ runs), sentences via terminal
    punctuation (floored at 1). Pure JVM regexp/arith projection, no
    shuffle; float outputs floored at 1e-4 so both engines' IEEE
    doubles hash identically."""
    words = F.size(F.split("text", " ")).cast("double")
    sents = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), F.lit(0))),
    ).cast("double")
    syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("double")
    flesch = 206.835 - 1.015 * (words / sents) - 84.6 * (syll / words)
    fk = 0.39 * (words / sents) + 11.8 * (syll / words) - 15.59
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sents"),
        syll.cast("long").alias("n_syllables"),
        (F.floor(flesch * 10000) / 10000).alias("flesch"),
        (F.floor(fk * 10000) / 10000).alias("fk_grade"),
    )


READABILITY_SQL = """
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]'))) AS DOUBLE) AS s,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS y
  FROM documents
)
SELECT doc_id,
  CAST(w AS BIGINT) AS n_words,
  CAST(s AS BIGINT) AS n_sents,
  CAST(y AS BIGINT) AS n_syllables,
  floor((206.835 - 1.015 * (w / s) - 84.6 * (y / w)) * 10000) / 10000
    AS flesch,
  floor((0.39 * (w / s) + 11.8 * (y / w) - 15.59) * 10000) / 10000
    AS fk_grade
FROM f
"""


TOKEN_COUNTS_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS re_tokens,
  CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""

_K = 8  # fingerprint k-gram size


def fingerprints(docs: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint: min polyhash over all character
     8-grams (winnowing's global-min degenerate case) + distinct count.
     NULL text hashes as '' (fingerprint 0), as the oracle's does."""
    expr = f"""
    element_at(transform(array(
      CASE WHEN length(text) >= {_K} THEN
        transform(sequence(1, length(text) - {_K} + 1),
                  i -> aggregate(split(substring(text, i, {_K}), ''), 0L,
                                 (acc, c) -> (acc * 31 + ascii(c)) % {MOD}))
      ELSE array(aggregate(split(coalesce(text, ''), ''), 0L,
                           (acc, c) -> (acc * 31 + ascii(c)) % {MOD}))
      END), hs -> named_struct(
        'fp', array_min(hs),
        'n_distinct', size(array_distinct(hs)))
    ), 1)
    """
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(expr).getField("fp").alias("fingerprint"),
        F.expr(expr).getField("n_distinct").cast("long").alias("n_distinct_grams"),
    )


FINGERPRINTS_SQL = f"""
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CASE WHEN length(text) >= {_K} THEN
      list_transform(range(1, length(text) - {_K} + 2),
                     i -> substr(text, CAST(i AS BIGINT), {_K}))
    ELSE [text] END AS grams
  FROM documents
),
h AS (
  SELECT doc_id, {duck_polyhash_over_array('grams')} AS hs FROM g
)
SELECT doc_id, list_min(hs) AS fingerprint,
       CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct_grams
FROM h
"""


# ---------------------------------------------------------------------------
# Per-source corpus report card
# ---------------------------------------------------------------------------


def source_report(docs: DataFrame) -> DataFrame:
    """The per-SOURCE (domain) report card a curation pipeline publishes
    before fixing mixing weights (the Dolma / RedPajama source-summary
    shape): per source, document count, token total, exact-duplicate
    count and fraction (docs whose first-2-word normalization key has a
    smaller-id keeper, `exact_dedup`'s rule), and mean quality score
    (`quality_score`'s blend).

    Determinism: per-doc quality floors at 1e-4 FIRST, making it an
    exact integer in units of 1e-4; the per-source mean is then an
    integer sum divided twice in double (same two IEEE ops in DuckDB)
    and floored — no float accumulation anywhere. NULL text coalesces
    to '' so every document is counted.

    Scale shape: one projection computes all per-doc signals in a
    single pass; the dup flag needs one groupBy on the normalization
    key + one join back (the exact-dedup pipeline's own exchanges); the
    final per-source aggregate is map-side combinable with source
    cardinality output rows."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("t"),
        "source",
    )
    sig = f"""
    element_at(transform(array(split(t, ' ')), ws -> named_struct(
      'n_words', size(ws),
      'q10k', cast(floor((
          0.4 * least(size(ws) / 50.0D, 1.0D)
        + 0.3 * ({_count_in('ws', STOPWORDS)} / cast(size(ws) as double))
        + 0.3 * least((aggregate(ws, 0L, (a, w) -> a + length(w))
                       / cast(size(ws) as double)) / 8.0D, 1.0D)
      ) * 10000) as bigint),
      'dup_key', concat_ws(' ', slice(ws, 1, 2))
    )), 1)
    """
    per = base.select(
        "doc_id",
        "source",
        F.expr(sig).alias("s"),
    ).select(
        "doc_id",
        "source",
        F.col("s.n_words").cast("long").alias("n_words"),
        F.col("s.q10k").alias("q10k"),
        F.col("s.dup_key").alias("dup_key"),
    )
    keepers = per.groupBy("dup_key").agg(F.min("doc_id").alias("keeper"))
    j = per.join(keepers, "dup_key")
    dup = (F.col("doc_id") != F.col("keeper")).cast("long")
    agg = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.sum(dup).cast("long").alias("dup_docs"),
        F.sum("q10k").cast("long").alias("sq"),
    )
    fl4 = lambda c: F.floor(c * 10000) / 10000  # noqa: E731
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "dup_docs",
        fl4(
            F.col("dup_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_frac"),
        fl4(
            F.col("sq").cast("double")
            / F.col("n_docs").cast("double")
            / 10000.0
        ).alias("mean_quality"),
    )


SOURCE_REPORT_SQL = f"""
WITH sbase AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, coalesce(text, '') AS t, source
  FROM documents
),
sper AS (
  SELECT doc_id, source,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(floor((
        0.4 * least(len(ws) / 50.0, 1.0)
      + 0.3 * ({_duck_count_in(STOPWORDS)} / CAST(len(ws) AS DOUBLE))
      + 0.3 * least((list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(ws, w -> CAST(length(w) AS BIGINT))),
                       (a, w) -> a + w)
                     / CAST(len(ws) AS DOUBLE)) / 8.0, 1.0)
    ) * 10000) AS BIGINT) AS q10k,
    array_to_string(ws[1:2], ' ') AS dup_key
  FROM (SELECT doc_id, source, string_split(t, ' ') AS ws FROM sbase)
),
skeep AS (SELECT dup_key, MIN(doc_id) AS keeper FROM sper GROUP BY dup_key),
sagg AS (
  SELECT p.source,
         COUNT(*) AS n_docs,
         SUM(p.n_words) AS n_tokens,
         SUM(CASE WHEN p.doc_id <> k.keeper THEN 1 ELSE 0 END) AS dup_docs,
         SUM(p.q10k) AS sq
  FROM sper p JOIN skeep k USING (dup_key)
  GROUP BY p.source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(dup_docs AS BIGINT) AS dup_docs,
       floor(CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
             * 10000) / 10000 AS dup_frac,
       floor(CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE) / 10000.0
             * 10000) / 10000 AS mean_quality
FROM sagg
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme)
# ---------------------------------------------------------------------------

WINNOW_W = 4  # winnowing window: one fingerprint per W consecutive hashes
# pair thresholds, calibrated so the gate asserts a SELECTIVE result on
# the shared-vocabulary synthetic corpus (~20 pairs at sf0.001 AND
# sf0.01, not a near-complete pair graph): only fingerprints rare enough
# to be discriminative (df <= 20 docs) count, and a pair must share 10+
WINNOW_MIN_SHARED = 10
WINNOW_DF_CAP = 20

# the same char-8-gram polyhash array as `fingerprints` (kept verbatim so
# both operators share the proven cross-engine hash idiom)
_HS_EXPR = f"""
CASE WHEN length(text) >= {_K} THEN
  transform(sequence(1, length(text) - {_K} + 1),
            i -> aggregate(split(substring(text, i, {_K}), ''), 0L,
                           (acc, c) -> (acc * 31 + ascii(c)) % {MOD}))
ELSE array(aggregate(split(text, ''), 0L,
                     (acc, c) -> (acc * 31 + ascii(c)) % {MOD}))
END
"""

# each selected (pos, fp) is packed into one BIGINT — pos * 2^31 + fp,
# exact because fp < MOD = 2^31 - 1 — so the distinct runs over a plain
# integer list (DuckDB's list_distinct does not support struct elements)
_WINNOW_SHIFT = 2**31

_WINNOW_EXPR = f"""
element_at(transform(array({_HS_EXPR}), hs ->
  array_distinct(transform(sequence(1, greatest(1, size(hs) - {WINNOW_W} + 1)),
    j -> (CAST(j AS BIGINT) + size(slice(hs, j, {WINNOW_W}))
            - array_position(reverse(slice(hs, j, {WINNOW_W})),
                             array_min(slice(hs, j, {WINNOW_W}))))
         * {_WINNOW_SHIFT}L
         + array_min(slice(hs, j, {WINNOW_W}))))
), 1)
"""


def _winnow_udf():
    """Arrow-batched winnowing kernel, integer-identical to the
    `_WINNOW_EXPR` spec (pinned against an independent Python reference
    in tests/test_winnow.py): code points come from a vectorized UTF-32
    reinterpretation (= Spark's `ascii(c)` per char), the k-gram
    polyhash is the same left fold `(acc*31 + c) % MOD` evaluated as K
    vectorized passes, and the window-min/rightmost-tie selection is W
    shifted `<=` comparisons — all int64, no float anywhere, so no
    evaluation order can drift. The interpreted-HOF expression form
    cost 10.3 s at sf0.1 (slice/reverse/min lambdas per window); the
    kernel replaces it as the production path, the expression stays as
    the cross-engine spec."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    K, W, SHIFT = _K, WINNOW_W, _WINNOW_SHIFT

    @pandas_udf("array<long>")
    def winnow_sel(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = len(codes)
            if n >= K:
                m = n - K + 1
                hs = np.zeros(m, dtype=np.int64)
                for j in range(K):
                    hs = (hs * 31 + codes[j : j + m]) % MOD
            else:
                acc = 0
                for c in codes:
                    acc = (acc * 31 + int(c)) % MOD
                hs = np.array([acc], dtype=np.int64)
                m = 1
            if m >= W:
                nw = m - W + 1
                mins = hs[0:nw].copy()
                pos = np.zeros(nw, dtype=np.int64)
                for i in range(1, W):
                    cand = hs[i : i + nw]
                    take = cand <= mins  # <= -> rightmost min wins
                    mins = np.where(take, cand, mins)
                    pos = np.where(take, i, pos)
                abspos = np.arange(nw, dtype=np.int64) + pos + 1
            else:
                mn = int(hs.min())
                p = m - 1 - int(np.argmax((hs == mn)[::-1]))
                mins = np.array([mn], dtype=np.int64)
                abspos = np.array([p + 1], dtype=np.int64)
            out.append(np.unique(abspos * SHIFT + mins).tolist())
        return pd.Series(out, dtype="object")

    return winnow_sel


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS local-fingerprinting scheme; upgrades `fingerprints`' global
    -min degenerate case): over the char-8-gram polyhash sequence, every
    window of WINNOW_W consecutive hashes contributes its minimum —
    rightmost position on ties — and the distinct selected (pos, hash)
    pairs are the document's fingerprint set. Guarantees every shared
    substring of length >= k + w - 1 yields at least one shared selected
    fingerprint (the winnowing coverage theorem), with expected density
    2/(w+1) of all grams.

    Scale shape: a shuffle-free projection at corpus scale — the
    selection runs in one Arrow-batched integer kernel per document
    batch (`_winnow_udf`; the equivalent JVM expression `_WINNOW_EXPR`
    is the spec, equality-pinned in tests), so it pipelines with the
    parquet scan at any corpus size (spread_small_scan adds an exchange
    only below session parallelism — the unsplittable gate input).
    Docs shorter than k hash whole-text, as in `fingerprints`; NULL
    text yields no rows."""
    from .partitioning import spread_small_scan

    sel = spread_small_scan(
        docs.filter(F.col("text").isNotNull()).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    ).select(
        "doc_id",
        F.explode(_winnow_udf()(F.col("text"))).alias("s"),
    )
    return sel.select(
        "doc_id",
        F.expr(f"s div {_WINNOW_SHIFT}L").cast("long").alias("pos"),
        (F.col("s") % F.lit(_WINNOW_SHIFT)).cast("long").alias("fp"),
    )


def _winnow_doc_fps(docs: DataFrame) -> DataFrame:
    """Per-doc DISTINCT selected hashes — (doc_id, fp) with fp unique
    within each document, straight from the kernel: the selected set is
    already computed per doc, so dropping positions and deduplicating
    inside the batch replaces winnow_overlap_pairs' corpus-wide
    (doc_id, fp) distinct — a 526k-row exchange at sf0.1 — with zero
    additional shuffle. Value-identical to
    winnow_fingerprints(docs).select('doc_id','fp').distinct()."""
    from .partitioning import spread_small_scan

    sel = spread_small_scan(
        docs.filter(F.col("text").isNotNull()).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    _winnow_udf()(F.col("text")),
                    lambda s: s % F.lit(_WINNOW_SHIFT),
                )
            )
        ).alias("fp"),
    )
    return sel.select("doc_id", F.col("fp").cast("long").alias("fp"))


def winnow_overlap_pairs(docs: DataFrame) -> DataFrame:
    """Document-overlap candidate pairs from shared winnowed fingerprints
    (the MOSS match step): unordered doc pairs sharing >= WINNOW_MIN_
    SHARED distinct selected hashes, after dropping ubiquitous hashes
    (document frequency > WINNOW_DF_CAP — boilerplate/stopword grams,
    standard MOSS hygiene that also BOUNDS the join fanout: each
    surviving fingerprint contributes at most DF_CAP^2/2 pairs, so the
    self-join is an equality join with capped per-key cardinality, never
    an all-pairs product).

    Scale shape: fingerprint extraction is the shuffle-free projection
    above, with per-doc dedup inside the kernel (no corpus-wide
    distinct); one hash aggregate computes document frequency; the HOT
    fingerprints (df > cap) are removed with a broadcast anti-join —
    the over-cap set is the Zipf head (boilerplate grams), orders of
    magnitude smaller than the rare tail, so the survivors' relation
    never re-shuffles before the pair join; the pair join shuffles
    (fp, doc_id) ids only — text never moves. The final count >=
    threshold is a map-side-combinable aggregate on (doc_a, doc_b)."""
    from ..cached import track

    # the per-doc-distinct fp relation feeds the df aggregate and both
    # pair-join sides; track()-persist so the kernel runs once
    # (released by the gate wrapper / caller per the cached.py contract)
    fps = track(_winnow_doc_fps(docs))
    hot = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > WINNOW_DF_CAP)
        .select("fp")
    )
    f2 = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = f2.select(F.col("doc_id").alias("doc_a"), "fp")
    b = f2.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


_WINNOW_CTE = f"""
wg AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CASE WHEN length(text) >= {_K} THEN
      list_transform(range(1, length(text) - {_K} + 2),
                     i -> substr(text, CAST(i AS BIGINT), {_K}))
    ELSE [text] END AS grams
  FROM documents WHERE text IS NOT NULL
),
wh AS (SELECT doc_id, {duck_polyhash_over_array('grams')} AS hs FROM wg),
wsel AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(1, len(hs) - {WINNOW_W} + 1) + 1),
    j -> (j + len(hs[j:j+{WINNOW_W}-1])
            - list_position(list_reverse(hs[j:j+{WINNOW_W}-1]),
                            list_min(hs[j:j+{WINNOW_W}-1])))
         * {_WINNOW_SHIFT}
         + list_min(hs[j:j+{WINNOW_W}-1]))) AS sel
  FROM wh
),
wf AS (
  SELECT doc_id, CAST(s // {_WINNOW_SHIFT} AS BIGINT) AS pos,
         CAST(s % {_WINNOW_SHIFT} AS BIGINT) AS fp
  FROM (SELECT doc_id, unnest(sel) AS s FROM wsel)
)
"""

WINNOW_FINGERPRINTS_SQL = f"""
WITH {_WINNOW_CTE.strip()}
SELECT doc_id, pos, fp FROM wf
"""

WINNOW_PAIRS_SQL = f"""
WITH {_WINNOW_CTE.strip()},
wdist AS (SELECT DISTINCT doc_id, fp FROM wf),
wrare AS (
  SELECT fp FROM wdist GROUP BY fp HAVING count(*) <= {WINNOW_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM wdist a JOIN wrare USING (fp) JOIN wdist b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# Per-language token-count quantiles (threshold calibration)
# ---------------------------------------------------------------------------

QUANTILE_QS = (0.5, 0.9, 0.99)


def token_quantiles(docs: DataFrame) -> DataFrame:
    """Exact per-language quantiles of the whitespace token count — the
    distribution report that calibrates curation thresholds (length
    filters, packing sequence length, truncation budgets).

    Quantile definition is the interpolation-free DISCRETE one — the
    element at 1-based rank ceil(q*n) in sorted order — because the two
    engines' interpolated quantiles round differently in the last ulp;
    an element-selection quantile is integer-exact on both. Returns
    (lang, q, n_docs, q_tokens).

    Scale shape: one shuffle by lang (the window partition), one
    row_number pass, a rank equi-filter — no global sort, no collect.
    Language cardinality is tiny, so at 100 TB the per-lang partitions
    are the skew concern: calibration runs on a per-lang SAMPLE (the
    quantile of a uniform sample converges at O(1/sqrt(m))), or switch
    to approx_percentile and keep this exact form as its audit."""
    from pyspark.sql import Window

    # deterministic total order: break token-count ties by a stable
    # per-row ordinal derived from doc_id so rank selection is unique
    w = Window.partitionBy("lang").orderBy("t", "doc_ord")
    base = docs.filter(F.col("text").isNotNull()).select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("t"),
        F.col("doc_id").cast("long").alias("doc_ord"),
    )
    ranked = base.select(
        "lang",
        "t",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in QUANTILE_QS])
    ).alias("q")
    picked = ranked.select("lang", "t", "rn", "n", qs).filter(
        F.col("rn") == F.ceil(F.col("q") * F.col("n"))
    )
    return picked.select(
        "lang",
        F.col("q").cast("double").alias("q"),
        F.col("n").cast("long").alias("n_docs"),
        F.col("t").alias("q_tokens"),
    )


TOKEN_QUANTILES_SQL = f"""
WITH tq AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
         CAST(doc_id AS BIGINT) AS doc_ord
  FROM documents WHERE text IS NOT NULL
),
tr AS (
  SELECT lang, t,
         row_number() OVER (PARTITION BY lang ORDER BY t, doc_ord) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM tq
)
SELECT lang, CAST(q AS DOUBLE) AS q, CAST(n AS BIGINT) AS n_docs,
       t AS q_tokens
FROM tr, unnest([{", ".join(str(q) for q in QUANTILE_QS)}]) AS u(q)
WHERE rn = ceil(q * n)
"""


# ---------------------------------------------------------------------------
# Character-class entropy + shape ratios (quality-signal family)
# ---------------------------------------------------------------------------

# ln(2) as a double LITERAL shared by both engines — dividing by each
# engine's own ln(2.0) call would bet on two libm results agreeing.
_LN2 = 0.6931471805599453

# character classes: ASCII-only regexes so Java (Spark) and RE2 (DuckDB)
# agree on every input; `other` is the exact integer remainder, so the
# five counts always sum to n_chars
_ENT_CLASSES = (
    ("c_lower", "[a-z]"),
    ("c_upper", "[A-Z]"),
    ("c_digit", "[0-9]"),
    ("c_space", " "),
)


def _ent_term(c: str) -> str:
    """One class's c*ln(c) contribution; identical text runs on Spark and
    DuckDB (the BM25 shared-formula device — ln on small-integer-valued
    doubles plus IEEE +,*,/ evaluates bit-identically on both engines)."""
    return (
        f"(CASE WHEN {c} > 0 THEN CAST({c} AS DOUBLE)"
        f" * ln(CAST({c} AS DOUBLE)) ELSE 0.0 END)"
    )


_ENT_SUM = " + ".join(
    _ent_term(c) for c in ("c_lower", "c_upper", "c_digit", "c_space", "c_other")
)

# H = log2(L) - (sum_i c_i*ln(c_i))/L/ln2  (grouped-counts identity for
# -sum p*log2 p), floored at 1e-4; L=0 -> NULL on BOTH engines (DuckDB
# IEEE doubles would give inf/nan here while Spark non-ANSI gives NULL)
_ENT_FORMULA = (
    "(CASE WHEN n_chars = 0 THEN NULL ELSE"
    " floor(((ln(CAST(n_chars AS DOUBLE))"
    f" - ({_ENT_SUM}) / CAST(n_chars AS DOUBLE)) / {_LN2!r})"
    " * 10000) / 10000 END)"
)

_ALPHA_FRAC = (
    "(CASE WHEN n_chars = 0 THEN NULL ELSE"
    " floor(CAST(c_lower + c_upper AS DOUBLE) / CAST(n_chars AS DOUBLE)"
    " * 10000) / 10000 END)"
)

_DIGIT_FRAC = (
    "(CASE WHEN n_chars = 0 THEN NULL ELSE"
    " floor(CAST(c_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)"
    " * 10000) / 10000 END)"
)


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-CLASS Shannon entropy (bits) plus alphabetic
    and digit fractions — the gibberish / boilerplate / numeric-table
    detector a curation pipeline runs next to the word-level quality
    score (RefinedWeb/Gopher-style shape signal: natural prose sits near
    ~1.9-2.1 bits over {lower, upper, digit, space, other}; base64 blobs,
    number dumps and separator walls fall far outside that band, e.g. a
    single-class document scores exactly 0.0).

    Classes are counted as length deltas under ASCII regex removal — five
    codegen'd JVM expressions in ONE projection over the scan: no UDF, no
    explode, no shuffle, so the operator is embarrassingly parallel and
    column-pruned at any scale. Entropy uses the grouped-counts identity
    H = log2(L) - (sum c_i ln c_i)/(L ln 2) with the term sum written in
    a FIXED textual order shared verbatim with the DuckDB oracle (the
    BM25 device), ln(2) inlined as a literal, and a floor at 1e-4
    (the repo's _fl4 convention); empty/NULL text yields NULL entropy on
    both engines rather than engine-specific inf/NULL division."""
    t = F.coalesce(F.col("text"), F.lit(""))
    counted = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(t).cast("long").alias("n_chars"),
        *[
            (F.length(t) - F.length(F.regexp_replace(t, pat, "")))
            .cast("long")
            .alias(name)
            for name, pat in _ENT_CLASSES
        ],
    ).withColumn(
        "c_other",
        (
            F.col("n_chars")
            - F.col("c_lower")
            - F.col("c_upper")
            - F.col("c_digit")
            - F.col("c_space")
        ).cast("long"),
    )
    return counted.select(
        "doc_id",
        "n_chars",
        "c_lower",
        "c_upper",
        "c_digit",
        "c_space",
        "c_other",
        F.expr(_ENT_FORMULA).alias("class_entropy"),
        F.expr(_ALPHA_FRAC).alias("alpha_frac"),
        F.expr(_DIGIT_FRAC).alias("digit_frac"),
    )


CHAR_ENTROPY_SQL = f"""
WITH eb AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, coalesce(text, '') AS t
  FROM documents
),
ec AS (
  SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
{",".join(
    f"    CAST(length(t) - length(regexp_replace(t, '{pat}', '', 'g'))"
    f" AS BIGINT) AS {name}" for name, pat in _ENT_CLASSES
)}
  FROM eb
),
ec2 AS (
  SELECT *, CAST(n_chars - c_lower - c_upper - c_digit - c_space AS BIGINT)
         AS c_other
  FROM ec
)
SELECT doc_id, n_chars, c_lower, c_upper, c_digit, c_space, c_other,
       {_ENT_FORMULA} AS class_entropy,
       {_ALPHA_FRAC} AS alpha_frac,
       {_DIGIT_FRAC} AS digit_frac
FROM ec2
"""


# ---------------------------------------------------------------------------
# Deflate compression ratio (redundancy signal; no SQL analog)
# ---------------------------------------------------------------------------

ZLIB_LEVEL = 6  # fixed: the ratio is deterministic per zlib build


def compression_signals(docs: DataFrame) -> DataFrame:
    """Per-document deflate compression ratio — the direct redundancy
    measure curation stacks use beside n-gram repetition rules (a very
    low compressed/raw ratio flags template walls and repeated spans
    that k-gram heuristics can miss; a ratio near/above 1 flags
    already-compressed or random payloads pasted as text).

    Arrow-batched pandas UDF over stdlib zlib (level fixed at
    ZLIB_LEVEL) — one pass, no shuffle; the bytes never leave the
    executor, only two integers per row come back. No DuckDB oracle
    exists for deflate, so this ships as a pytest-pinned operator
    (tests/test_entropy.py checks the UDF against direct zlib calls and
    the repetitive<diverse ordering) — the rows-only gate shape the
    driver records for non-SQL-expressible ops. NULL text yields NULL
    lengths/ratio; ratio floors at 1e-4 like every blended signal."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("raw_len long, zip_len long")
    def zlens(texts):
        import zlib

        raw, comp = [], []
        for t in texts.tolist():
            if t is None or t != t:
                raw.append(None)
                comp.append(None)
                continue
            b = t.encode("utf-8")
            raw.append(len(b))
            comp.append(len(zlib.compress(b, ZLIB_LEVEL)))
        return pd.DataFrame({"raw_len": raw, "zip_len": comp})

    out = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        zlens(F.col("text")).alias("z"),
    )
    ratio = F.when(
        F.col("z.raw_len") > 0,
        F.floor(
            F.col("z.zip_len").cast("double")
            / F.col("z.raw_len").cast("double")
            * 10000
        )
        / 10000,
    )
    return out.select(
        "doc_id",
        F.col("z.raw_len").alias("raw_len"),
        F.col("z.zip_len").alias("zip_len"),
        ratio.alias("zip_ratio"),
    )
