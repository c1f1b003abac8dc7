"""Corpus-curation operators for a training-data pipeline: Gopher-style
repetition quality filters, benchmark contamination checks, stratified
quota sampling, and concat-and-chunk sequence packing.

These extend the engine beyond the reference's extraction surface (the
reference stops at chunk+embed, docker/main.py:700-780) with the cleaning
steps a 100-TB pretraining pipeline runs over the extracted text:

- ``repetition_stats``    — per-doc duplicate-word / duplicate-bigram /
  top-gram fractions with a keep flag (the Rae et al. 2021 "Gopher rules"
  repetition family, word-level since the corpus has no line structure).
- ``contamination_check`` — word-n-gram overlap of every training doc
  against a benchmark/eval doc set (the GPT-3-appendix-C decontamination
  shape: flag docs sharing n-grams with evaluation data).
- ``quota_sample``        — deterministic stratified top-k-by-hash sample
  per language (quota/stratified sampling for corpus mixing).
- ``pack_sequences``      — global concat-and-chunk token packing: every
  doc's position in the fixed-size training-sequence stream (GPT-style
  document packing), via a two-phase distributed prefix sum.

Engine paths are JVM expressions / one-pass Arrow kernels with shuffles
keyed only by doc-local or gram keys; each has a bit-exact DuckDB oracle
(fractions floor-rounded at 1e-4 like textstats.quality_score so both
engines compare equal under value hashing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared helpers
# ---------------------------------------------------------------------------


def _fl4(c: Column) -> Column:
    """floor-round to 4 decimals — drift-free across engines."""
    return F.floor(c * 10000) / 10000


def _docs_base(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
    )


# ---------------------------------------------------------------------------
# 1. Gopher-style repetition statistics
# ---------------------------------------------------------------------------

# keep thresholds (word-level analogs of the Gopher line/paragraph rules)
REP_TOP_WORD_MAX = 0.10  # most frequent word  <= 10% of tokens
REP_DUP_BIGRAM_MAX = 0.60  # tokens in repeated bigrams <= 60%


def _rep_stats_udf():
    """One-pass per-doc counters (n_words, top_word, dup_words, n_bigrams,
    top_bigram, dup_bigrams) as an Arrow-batched kernel: a single corpus
    scan with ZERO shuffles — the 100-TB shape for embarrassingly
    per-document statistics (vs the 4-exchange relational form the oracle
    uses as spec). Per-row Counter loop inside the Arrow batch is the same
    batch-amortized pattern as retrieval._bm25_tf_udf."""
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<n_words: long, top_w: long, dup_w: long,"
        " n_bi: long, top_bi: long, dup_bi: long>"
    )
    def rep_stats(texts):
        rows = []
        for t in texts.tolist():
            if t is None or t != t:
                rows.append((None, None, None, None, None, None))
                continue
            ws = t.split(" ")
            wc = Counter(ws)
            bis = Counter(zip(ws, ws[1:]))
            rows.append(
                (
                    len(ws),
                    max(wc.values()) if wc else 0,
                    sum(c for c in wc.values() if c >= 2),
                    sum(bis.values()),
                    max(bis.values()) if bis else 0,
                    sum(c for c in bis.values() if c >= 2),
                )
            )
        return pd.DataFrame(
            rows, columns=["n_words", "top_w", "dup_w", "n_bi", "top_bi", "dup_bi"]
        )

    return rep_stats


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition-quality features + keep flag.

    Word-level Gopher rules (Rae et al. 2021 §A1.1 applied at word
    granularity — the synthetic corpus has no newlines, so the line/
    paragraph variants degenerate to these):

    - top_word_frac:   occurrences of the most frequent word / n_words
    - dup_word_frac:   occurrences of words appearing >= 2 times / n_words
    - top_bigram_frac: occurrences of the most frequent bigram / n_bigrams
    - dup_bigram_frac: occurrences of bigrams appearing >= 2x / n_bigrams
    - keep: 1 iff top_word_frac <= 0.10 AND dup_bigram_frac <= 0.60

    NULL-text documents emit no row (the oracle's UNNEST over a NULL
    split yields zero rows; the engine filters to the same contract).

    One Arrow scan, no shuffle (stats are doc-local)."""
    stats = (
        _docs_base(docs)
        .where(F.col("text").isNotNull())
        .select("doc_id", _rep_stats_udf()(F.col("text")).alias("s"))
    )
    nw = F.col("s.n_words").cast("double")
    nb = F.greatest(F.col("s.n_bi"), F.lit(1)).cast("double")
    top_word_frac = _fl4(F.col("s.top_w") / nw)
    dup_bigram_frac = _fl4(F.col("s.dup_bi") / nb)
    return stats.select(
        "doc_id",
        F.col("s.n_words").alias("n_words"),
        top_word_frac.alias("top_word_frac"),
        _fl4(F.col("s.dup_w") / nw).alias("dup_word_frac"),
        _fl4(F.col("s.top_bi") / nb).alias("top_bigram_frac"),
        dup_bigram_frac.alias("dup_bigram_frac"),
        (
            (top_word_frac <= REP_TOP_WORD_MAX)
            & (dup_bigram_frac <= REP_DUP_BIGRAM_MAX)
        )
        .cast("long")
        .alias("keep"),
    )


REPETITION_STATS_SQL = f"""
WITH rwords AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, w, pos
  FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
           UNNEST(range(len(string_split(text, ' ')))) AS pos
    FROM documents
  )
),
rbigrams AS (
  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM rwords
  QUALIFY g IS NOT NULL
),
wcnt AS (
  SELECT doc_id, w, COUNT(*) AS c FROM rwords GROUP BY doc_id, w
),
wagg AS (
  SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_w,
         COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS dup_w
  FROM wcnt GROUP BY doc_id
),
bcnt AS (
  SELECT doc_id, g, COUNT(*) AS c FROM rbigrams GROUP BY doc_id, g
),
bagg AS (
  SELECT doc_id, SUM(c) AS n_bi, MAX(c) AS top_bi,
         COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS dup_bi
  FROM bcnt GROUP BY doc_id
),
rfeat AS (
  SELECT w.doc_id, w.n_words,
    floor(w.top_w / CAST(w.n_words AS DOUBLE) * 10000) / 10000 AS top_word_frac,
    floor(w.dup_w / CAST(w.n_words AS DOUBLE) * 10000) / 10000 AS dup_word_frac,
    floor(COALESCE(b.top_bi, 0)
          / CAST(greatest(COALESCE(b.n_bi, 0), 1) AS DOUBLE) * 10000) / 10000
      AS top_bigram_frac,
    floor(COALESCE(b.dup_bi, 0)
          / CAST(greatest(COALESCE(b.n_bi, 0), 1) AS DOUBLE) * 10000) / 10000
      AS dup_bigram_frac
  FROM wagg w LEFT JOIN bagg b ON w.doc_id = b.doc_id
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  top_word_frac, dup_word_frac, top_bigram_frac, dup_bigram_frac,
  CAST(top_word_frac <= {REP_TOP_WORD_MAX}
       AND dup_bigram_frac <= {REP_DUP_BIGRAM_MAX} AS BIGINT) AS keep
FROM rfeat
"""


# ---------------------------------------------------------------------------
# 2. Benchmark contamination check
# ---------------------------------------------------------------------------

CONTAM_N = 8  # word n-gram width (matches the substring-dedup gram width)
CONTAM_BENCH_MOD = 97  # doc_id % 97 == 0 -> benchmark/eval member
CONTAM_FLAG_MIN = 0.05  # flag docs with >= 5% contaminated gram positions


def _word_ngrams(corpus: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, gram) for every contiguous word n-gram, via the
    dedup family's one-pass Arrow kernel (dedup._gram_spans_udf). The
    lead()-window-over-exploded-words alternative shuffles the whole
    exploded corpus by doc_id before any aggregation — the exact trap
    that kernel's docstring names — so gram extraction here is a pure
    scan with zero pre-shuffle."""
    from .dedup import _gram_rows

    return _gram_rows(corpus, n)


def contamination_check(docs: DataFrame) -> DataFrame:
    """Train-vs-benchmark n-gram overlap (the GPT-3 appendix-C / PaLM
    decontamination shape): the benchmark set is every doc with
    doc_id % 97 == 0 (a stand-in for held-out eval data); every OTHER
    doc reports how many of its word-8-gram positions occur anywhere in
    the benchmark set, and is flagged at >= 5% overlap.

    Runs over the dedup family's VARIANT corpus (documents + truncated
    near-duplicates at doc_id+10^6, dedup._variant_corpus) so the gate
    exercises real contamination: 10^6 % 97 != 0 puts every benchmark
    doc's near-duplicate in the TRAIN side with 100% gram overlap — the
    planted leaked-eval-doc case the operator exists to catch (plus the
    reverse direction: base docs whose variant drew a benchmark id, and
    natural exact-duplicate pairs straddling the split).

    Scale shape: gram extraction is one Arrow scan with zero pre-shuffle
    (shared kernel with dup_ngram_spans), track()-persisted because both
    the bench and train arms consume it; the benchmark gram set is
    distinct-aggregated and BROADCAST (eval suites are tiny relative to
    the corpus — the join must not shuffle 100 TB of train grams by gram
    string); per-doc aggregation shuffles only (doc_id) pairs."""
    from ..cached import track
    from .dedup import _variant_corpus

    corpus = _variant_corpus(docs)
    grams = track(_word_ngrams(corpus, CONTAM_N))
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    bench = grams.where(is_bench).select("gram").distinct()
    train = grams.where(~is_bench)
    marked = train.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "gram", "left"
    )
    agg = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
    )
    base = corpus.where(~is_bench).select("doc_id")
    frac = _fl4(
        F.coalesce(F.col("n_contaminated"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)).cast(
            "double"
        )
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_contaminated"), F.lit(0))
        .cast("long")
        .alias("n_contaminated"),
        frac.alias("contam_frac"),
        (frac >= CONTAM_FLAG_MIN).cast("long").alias("flagged"),
    )


def _contamination_sql() -> str:
    from .dedup import DUCK_VARIANT_CORPUS

    return f"""
WITH {DUCK_VARIANT_CORPUS.strip()},
cwords AS (
  SELECT doc_id, w, pos
  FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
           UNNEST(range(len(string_split(text, ' ')))) AS pos
    FROM corpus
  )
),
cgrams AS (
  SELECT doc_id,
    {" || ' ' || ".join(
        f"lead(w, {i}) OVER (PARTITION BY doc_id ORDER BY pos)"
        if i else "w"
        for i in range(CONTAM_N)
    )} AS gram
  FROM cwords
  QUALIFY lead(w, {CONTAM_N - 1}) OVER (PARTITION BY doc_id ORDER BY pos)
          IS NOT NULL
),
cbench AS (
  SELECT DISTINCT gram FROM cgrams WHERE doc_id % {CONTAM_BENCH_MOD} = 0
),
ctrain AS (
  SELECT doc_id, gram FROM cgrams WHERE doc_id % {CONTAM_BENCH_MOD} <> 0
),
cagg AS (
  SELECT t.doc_id, COUNT(*) AS n_grams,
         COALESCE(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END), 0)
           AS n_contaminated
  FROM ctrain t LEFT JOIN cbench b ON t.gram = b.gram
  GROUP BY t.doc_id
),
cout AS (
  SELECT d.doc_id,
    COALESCE(a.n_grams, 0) AS n_grams,
    COALESCE(a.n_contaminated, 0) AS n_contaminated,
    floor(COALESCE(a.n_contaminated, 0)
          / CAST(greatest(COALESCE(a.n_grams, 0), 1) AS DOUBLE)
          * 10000) / 10000 AS contam_frac
  FROM (SELECT doc_id FROM corpus
        WHERE doc_id % {CONTAM_BENCH_MOD} <> 0) d
  LEFT JOIN cagg a ON d.doc_id = a.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_contaminated AS BIGINT) AS n_contaminated, contam_frac,
  CAST(contam_frac >= {CONTAM_FLAG_MIN} AS BIGINT) AS flagged
FROM cout
"""


CONTAMINATION_SQL = _contamination_sql()


# ---------------------------------------------------------------------------
# 3. Stratified quota sampling
# ---------------------------------------------------------------------------

QUOTA_K = 50  # docs kept per language stratum
_QH_A = 1103515245
_QH_B = 12345
_QH_MOD = 2_147_483_647


def _sample_key() -> Column:
    """Deterministic pseudo-random sort key from doc_id, identical integer
    arithmetic on both engines (doc_id is reduced mod 2^31-1 first so the
    multiply stays < 2^62 — no BIGINT overflow at 10^12 doc_ids under
    ANSI)."""
    return (
        (F.col("doc_id") % _QH_MOD) * _QH_A + _QH_B
    ) % _QH_MOD


def quota_sample(docs: DataFrame, k: int = QUOTA_K) -> DataFrame:
    """Deterministic stratified sample: the k docs with the smallest hash
    key per language (corpus-mixing quota sampling; C4/Raffel et al.-style
    deterministic selection rather than rand()).

    Scale shape: a per-stratum row_number over 10^12 rows would sort each
    language's full partition on one reducer. Instead: (1) one partial-agg
    count per stratum, (2) a broadcast slack threshold thr = key-space *
    (k/n) * slack that keeps ~k*slack survivors per stratum, (3) exact
    window rank over the tiny survivor set, (4) a driver-side check that
    every stratum still yielded min(k, n) rows — if the uniform-hash bound
    ever fails, the slack doubles and the filter re-runs (never in
    practice; the loop is the correctness proof, not the fast path).

    NULL lang is a stratum of its own, matching the oracle's window
    partitioning (the threshold join is null-safe)."""
    base = _docs_base(docs).select(
        "doc_id", "lang", _sample_key().alias("sample_key")
    )
    counts = {
        r["lang"]: r["n"]
        for r in base.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    slack = 8.0
    w = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    while True:
        thr = [
            (lang, int(min(_QH_MOD, _QH_MOD * slack * k / max(n, 1))))
            for lang, n in sorted(
                counts.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
            )
        ]
        thr_df = base.sparkSession.createDataFrame(
            thr, "lang string, thr long"
        )
        survivors = (
            base.join(
                F.broadcast(thr_df),
                base["lang"].eqNullSafe(thr_df["lang"]),
            )
            .where(F.col("sample_key") <= F.col("thr"))
            .select(base["doc_id"], base["lang"], base["sample_key"])
        )
        ranked = (
            survivors.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(
                "doc_id", "lang", "sample_key", F.col("rn").cast("long")
            )
        )
        got = {
            r["lang"]: r["n"]
            for r in ranked.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        if all(got.get(lang, 0) >= min(k, n) for lang, n in counts.items()):
            return ranked
        slack *= 2  # pragma: no cover — hash-uniformity bound failed


QUOTA_SAMPLE_SQL = f"""
WITH qkeyed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
    ((CAST(doc_id AS BIGINT) % {_QH_MOD}) * {_QH_A} + {_QH_B}) % {_QH_MOD}
      AS sample_key
  FROM documents
),
qranked AS (
  SELECT doc_id, lang, sample_key,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS rn
  FROM qkeyed
)
SELECT doc_id, lang, sample_key, CAST(rn AS BIGINT) AS rn
FROM qranked WHERE rn <= {QUOTA_K}
"""


# ---------------------------------------------------------------------------
# 4. Concat-and-chunk sequence packing
# ---------------------------------------------------------------------------

PACK_SEQ_LEN = 512  # training sequence length (tokens)
PACK_BLOCK = 64  # docs per prefix-sum block


def pack_sequences(docs: DataFrame, seq_len: int = PACK_SEQ_LEN) -> DataFrame:
    """GPT-style document packing: all docs are concatenated in doc_id
    order into one token stream chopped into fixed seq_len sequences;
    each doc reports its global token offset and the sequence ids it
    lands in.

    The global prefix sum is TWO-PHASE so no window ever sees the full
    corpus: per-doc token counts cumsum WITHIN doc_id-blocks (window
    partitioned by block, ~PACK_BLOCK rows each), block totals cumsum
    ACROSS blocks (one window over n/PACK_BLOCK aggregated rows,
    broadcast back). At 10^12 docs the block level recurses to ~3
    hierarchical levels — same algebra, documented in SCALE.md; the
    oracle is the flat one-window spec."""
    toks = _docs_base(docs).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return _pack_over(toks, seq_len)


def _pack_over(toks: DataFrame, seq_len: int = PACK_SEQ_LEN) -> DataFrame:
    """Pack core over any (doc_id, n_tokens) relation — shared by
    pack_sequences (whole corpus) and pretraining_mix (the filtered +
    deduplicated survivor set)."""
    toks = toks.withColumn("block", F.expr(f"doc_id DIV {PACK_BLOCK}"))
    btot = toks.groupBy("block").agg(F.sum("n_tokens").alias("bt"))
    # this window sees only the n/PACK_BLOCK block totals — bounded by
    # construction (Catalyst folds a dummy constant partition key away,
    # so the bound is recorded in tests/test_plans.py's sweep allowlist
    # rather than in the spec)
    wb = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "block", F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("boff")
    )
    ww = (
        Window.partitionBy("block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = toks.withColumn(
        "woff", F.coalesce(F.sum("n_tokens").over(ww), F.lit(0))
    )
    j = within.join(F.broadcast(boff), "block")
    start = F.col("boff") + F.col("woff")
    return j.select(
        "doc_id",
        "n_tokens",
        start.alias("start_offset"),
        F.expr(f"(boff + woff) DIV {seq_len}").alias("first_seq"),
        F.expr(f"(boff + woff + n_tokens - 1) DIV {seq_len}").alias(
            "last_seq"
        ),
        (
            F.expr(f"(boff + woff + n_tokens - 1) DIV {seq_len}")
            - F.expr(f"(boff + woff) DIV {seq_len}")
            + 1
        ).alias("n_seqs"),
    )


PACK_SEQUENCES_SQL = f"""
WITH ptoks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
poff AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM ptoks
)
SELECT doc_id, n_tokens, start_offset,
  start_offset // {PACK_SEQ_LEN} AS first_seq,
  (start_offset + n_tokens - 1) // {PACK_SEQ_LEN} AS last_seq,
  (start_offset + n_tokens - 1) // {PACK_SEQ_LEN}
    - start_offset // {PACK_SEQ_LEN} + 1 AS n_seqs
FROM poff
"""


# ---------------------------------------------------------------------------
# 5. CCNet-style unigram LM scoring (the perplexity-filter shape)
# ---------------------------------------------------------------------------


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-doc average negative log-likelihood under the corpus's own
    unigram language model — the CCNet (Wenzek et al. 2019) perplexity
    -filter shape with the external KenLM replaced by the corpus unigram
    MLE (deterministic, no external model artifact). Downstream keeps
    the low-perplexity head / drops the tail by filtering on ``avg_nll``
    or ``ppl``.

    Scale shape: one map-side-combined groupBy on word builds the LM
    (vocab-sized relation, shuffle-joined back to the token stream — AQE
    broadcasts it when small), a 1-row total broadcast, and one per-doc
    groupBy. Per-token NLLs are cast to decimal(38,20) before the doc
    sum so the aggregate is order-independent (same determinism device
    as ivf_kmeans_topk's Lloyd updates); both engines then divide the
    exact sum in float64 and floor at 1e-4."""
    base = _docs_base(docs)
    toks = base.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    nll = (
        -F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
    ).cast("decimal(38,20)")
    agg = (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            (F.sum("nll").cast("double") / F.count("*")).alias("avg_raw"),
        )
    )
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        _fl4(F.col("avg_raw")).alias("avg_nll"),
        _fl4(F.exp("avg_raw")).alias("ppl"),
    )


UNIGRAM_LOGPROB_SQL = """
WITH utoks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
uvocab AS (SELECT w, count(*) AS cnt FROM utoks GROUP BY w),
utot AS (SELECT sum(cnt) AS total FROM uvocab),
unll AS (
  SELECT t.doc_id,
         CAST(-ln(v.cnt::DOUBLE / (SELECT total FROM utot)::DOUBLE)
              AS DECIMAL(38,20)) AS nll
  FROM utoks t JOIN uvocab v USING (w)
),
uagg AS (
  SELECT doc_id, count(*) AS n_tok,
         CAST(sum(nll) AS DOUBLE) / count(*) AS avg_raw
  FROM unll GROUP BY doc_id
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       floor(avg_raw * 10000) / 10000 AS avg_nll,
       floor(exp(avg_raw) * 10000) / 10000 AS ppl
FROM uagg
"""


# ---------------------------------------------------------------------------
# 5b. CCNet head/middle/tail perplexity buckets
# ---------------------------------------------------------------------------


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet's (Wenzek et al. 2019) per-language perplexity split: every
    scored document labeled ``head`` / ``middle`` / ``tail`` by which
    third of its LANGUAGE's avg-NLL distribution it falls in (head =
    lowest perplexity = kept for pretraining; LLaMA-1 trained on
    head+middle). Composes unigram_logprob as the LM score.

    Cutoffs come from a bounded HISTOGRAM, not a per-language sort:
    avg_nll is already floored at 1e-4, so group by (lang, avg_nll) is
    at most ~1e5 bins per language however many documents exist; the
    tercile thresholds t1/t2 are the smallest bins whose cumulative
    count reaches ceil(N/3) / ceil(2N/3) (integer predicate 3*cum >= N,
    no division), and the per-language cutoff relation broadcasts back.
    Scale shape: one doc_id join, one bounded histogram aggregate, two
    windows OVER THE HISTOGRAM (never over documents), one broadcast
    join — the document stream is never globally sorted. Documents with
    NULL text produce no tokens and are absent, as in unigram_logprob.
    """
    base = _docs_base(docs)
    scored = unigram_logprob(docs).select("doc_id", "avg_nll", "ppl").join(
        base.select("doc_id", "lang"), "doc_id"
    )
    hist = scored.groupBy("lang", "avg_nll").agg(F.count("*").alias("cnt"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("avg_nll")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "avg_nll",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(3 * F.col("cum") >= F.col("n"), F.col("avg_nll"))
        ).alias("t1"),
        F.min(
            F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("avg_nll"))
        ).alias("t2"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "avg_nll",
        "ppl",
        F.when(F.col("avg_nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


CCNET_BUCKETS_SQL = f"""
WITH nllq AS ({UNIGRAM_LOGPROB_SQL.strip()}),
cscored AS (
  SELECT n.doc_id, d.lang, n.avg_nll, n.ppl
  FROM nllq n JOIN documents d ON n.doc_id = CAST(d.doc_id AS BIGINT)
),
chist AS (
  SELECT lang, avg_nll, count(*) AS cnt FROM cscored GROUP BY lang, avg_nll
),
ccum AS (
  SELECT lang, avg_nll,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY avg_nll
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS n
  FROM chist
),
ccuts AS (
  SELECT lang,
         MIN(CASE WHEN 3 * cum >= n THEN avg_nll END) AS t1,
         MIN(CASE WHEN 3 * cum >= 2 * n THEN avg_nll END) AS t2
  FROM ccum GROUP BY lang
)
SELECT s.doc_id, s.lang, s.avg_nll, s.ppl,
       CASE WHEN s.avg_nll <= c.t1 THEN 'head'
            WHEN s.avg_nll <= c.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM cscored s JOIN ccuts c USING (lang)
"""


# ---------------------------------------------------------------------------
# 5c. Train/val/test split + cross-split leakage guard
# ---------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 98  # buckets 0-97 train, 98 val, 99 test


def _split_bucket(id_col: Column) -> Column:
    """Deterministic 0-99 bucket from any doc id — quota_sample's LCG
    key arithmetic mod 100, a pure function of the id so it applies to
    ANY id-carrying relation without a join."""
    return ((id_col % _QH_MOD) * _QH_A + _QH_B) % _QH_MOD % 100


def _split_label(id_col: Column) -> Column:
    b = _split_bucket(id_col)
    return (
        F.when(b < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(b < SPLIT_TRAIN_PCT + 1, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _duck_split_label(id_expr: str) -> str:
    b = f"((({id_expr}) % {_QH_MOD}) * {_QH_A} + {_QH_B}) % {_QH_MOD} % 100"
    return (
        f"CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'"
        f" WHEN {b} < {SPLIT_TRAIN_PCT + 1} THEN 'val'"
        f" ELSE 'test' END"
    )


def split_assign(docs: DataFrame) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by hashed doc_id
    (the C4/Pile-style held-out split: hash-based, not positional, so
    it is stable under re-partitioning, appends, and re-runs). Pure
    projection — zero shuffles at any corpus size; integer arithmetic
    identical on both engines (quota_sample's LCG, overflow-safe at
    10^12 ids)."""
    return _docs_base(docs).select(
        "doc_id", "lang", _split_label(F.col("doc_id")).alias("split")
    )


SPLIT_ASSIGN_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       {_duck_split_label('CAST(doc_id AS BIGINT)')} AS split
FROM documents
"""


def split_leakage(docs: DataFrame) -> DataFrame:
    """Cross-split near-duplicate leakage report: MinHash-LSH near-dup
    pairs whose members land in DIFFERENT splits — the eval-set
    contamination a hash split cannot prevent (a near-duplicate of a
    train doc falling into val/test silently inflates eval scores; cf.
    the dedup motivation in Lee et al. 2022). Output (id_a, id_b,
    split_a, split_b, jaccard).

    Because the split is a pure function of the id, labeling is a
    PROJECTION on the (already ids-only) pair relation — no join with
    the corpus; the heavy lifting is exactly minhash_lsh_pairs' banded
    plan, unchanged. The leakage fix downstream is a broadcast
    anti-join of flagged val/test ids against the training set."""
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs)
    out = pairs.select(
        "id_a",
        "id_b",
        _split_label(F.col("id_a")).alias("split_a"),
        _split_label(F.col("id_b")).alias("split_b"),
        "jaccard",
    )
    return out.filter(F.col("split_a") != F.col("split_b"))


def _split_leakage_sql() -> str:
    from .dedup import _DUCK_JAC_CTES, JACCARD_THRESHOLD

    return f"""
WITH {_DUCK_JAC_CTES.strip()}
SELECT id_a, id_b,
       {_duck_split_label('id_a')} AS split_a,
       {_duck_split_label('id_b')} AS split_b,
       jaccard
FROM jac
WHERE jaccard >= {JACCARD_THRESHOLD}
  AND {_duck_split_label('id_a')} <> {_duck_split_label('id_b')}
"""


SPLIT_LEAKAGE_SQL = _split_leakage_sql()


# ---------------------------------------------------------------------------
# 6. DSIR hashed-unigram importance weights
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"


def dsir_weights(
    docs: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169) data-selection importance
    weights: per-doc log-ratio of a hashed-unigram LM fit on the TARGET
    slice (here ``lang = target_lang``, the in-corpus stand-in for the
    paper's Wikipedia/Books target) vs one fit on the full RAW corpus,
    Laplace-smoothed. Sampling ``exp(log_weight)``-proportionally
    reweights raw data toward the target distribution.

    Scale shape: tokens hash into ``n_buckets`` via the cross-engine
    polyhash (no vocabulary explosion — the paper's trick), so both LMs
    are n_buckets-row aggregates broadcast back over the token stream;
    per-doc sums use the decimal(38,20) order-independence device."""
    from .dedup import word_buckets_udf

    base = _docs_base(docs)
    # Arrow word-bucket kernel (r6): the expression form ran the
    # per-char polyhash fold interpreted per word — and the token
    # stream is evaluated twice (LM aggregate + per-doc join probe), so
    # the cheap vectorized re-compute beats persisting a corpus-scale
    # token stream (the expression twin remains the DuckDB oracle)
    toks = base.select(
        "doc_id",
        "lang",
        F.explode(word_buckets_udf(n_buckets)("text")).alias("b"),
    )
    # ONE conditional aggregate builds both LMs (a raw groupBy + a
    # target groupBy + left join would evaluate the per-token polyhash
    # stream twice and add a join for counts that live in the same row)
    cnts = toks.groupBy("b").agg(
        F.count("*").alias("raw_cnt"),
        F.sum(
            F.when(F.col("lang") == target_lang, 1).otherwise(0)
        ).alias("tgt_cnt"),
    )
    tots = cnts.agg(
        F.sum("raw_cnt").alias("rt"), F.sum("tgt_cnt").alias("tt")
    )
    lr = cnts.crossJoin(F.broadcast(tots)).select(
        "b",
        (
            F.log(
                (F.col("tgt_cnt") + 1).cast("double")
                / (F.col("tt") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("raw_cnt") + 1).cast("double")
                / (F.col("rt") + n_buckets).cast("double")
            )
        )
        .cast("decimal(38,20)")
        .alias("lr"),
    )
    return (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), F.sum("lr").alias("wsum"))
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tokens"),
            _fl4(F.col("wsum").cast("double")).alias("log_weight"),
            _fl4(
                F.col("wsum").cast("double") / F.col("n_tok")
            ).alias("avg_log_weight"),
        )
    )


def _dsir_sql() -> str:
    from ..functions.hashing import duck_polyhash_over_array

    harr = duck_polyhash_over_array("string_split(text, ' ')")
    b, lang = DSIR_BUCKETS, DSIR_TARGET_LANG
    return f"""
WITH dtoks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         unnest(list_transform({harr}, h -> h % {b})) AS b
  FROM documents
),
dcnts AS (
  SELECT b, count(*) AS raw_cnt,
         sum(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END) AS tgt_cnt
  FROM dtoks GROUP BY b
),
dtots AS (SELECT sum(raw_cnt) AS rt, sum(tgt_cnt) AS tt FROM dcnts),
dlr AS (
  SELECT b, CAST(ln((tgt_cnt + 1)::DOUBLE / (tt + {b})::DOUBLE)
              - ln((raw_cnt + 1)::DOUBLE / (rt + {b})::DOUBLE)
              AS DECIMAL(38,20)) AS lr
  FROM dcnts CROSS JOIN dtots
),
dagg AS (
  SELECT doc_id, count(*) AS n_tok, sum(lr) AS wsum
  FROM dtoks JOIN dlr USING (b) GROUP BY doc_id
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       floor(CAST(wsum AS DOUBLE) * 10000) / 10000 AS log_weight,
       floor(CAST(wsum AS DOUBLE) / n_tok * 10000) / 10000
         AS avg_log_weight
FROM dagg
"""


DSIR_WEIGHTS_SQL = _dsir_sql()


# ---------------------------------------------------------------------------
# 7. PII redaction (C4 / Dolma-style masking)
# ---------------------------------------------------------------------------

# Patterns live in the Java-regex / RE2 INTERSECTION dialect (no
# backreferences, no lookaround, no possessive quantifiers): Spark
# compiles them with java.util.regex, the DuckDB oracle with RE2, and
# both must see the same matches. Greedy quantifiers without ambiguous
# alternation make Java's leftmost-first and RE2's leftmost-longest
# agree.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+\d{1,3}-\d{3}-\d{4}"
PII_IP_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"


def seed_pii(docs: DataFrame) -> DataFrame:
    """Deterministic PII view for the redaction gate: the synthetic
    corpus contains no contact strings, so a gate over the raw table
    would assert nothing (the embedding_neardup lesson — an oracle that
    only ever sees zero redactions proves emptiness, not behavior).
    Appends a contact block derived from doc_id to 2/3 of documents
    (doc_id % 3 == 0: email + phone + IP; == 1: email only; == 2:
    untouched), NULL text stays NULL. The DuckDB oracle builds the
    identical view (PII_REDACT_SQL's pdocs CTE)."""
    did = F.col("doc_id").cast("long")
    full = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        did.cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (did % 256).cast("string"),
        F.lit("."),
        (did % 100).cast("string"),
        F.lit("."),
        (did % 50).cast("string"),
        F.lit("."),
    )
    mail_only = F.concat(
        F.col("text"),
        F.lit(" Mail user"),
        did.cast("string"),
        F.lit("@example.org."),
    )
    return docs.select(
        did.alias("doc_id"),
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .when(did % 3 == 0, full)
        .when(did % 3 == 1, mail_only)
        .otherwise(F.col("text"))
        .alias("text"),
    )


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII masking over ``(doc_id, text)`` — the C4 (Raffel et al.
    2020) / Dolma (Soldaini et al. 2024) pre-training cleanup step:
    emails, then phone numbers, then IPv4 addresses are replaced with
    typed mask tokens, with per-category match counts (counted on the
    ORIGINAL text, so counts are independent of replacement order).
    Returns ``(doc_id, cleaned, n_emails, n_phones, n_ips)`` for every
    non-null-text document.

    Scale shape: a pure per-row JVM projection — regexp_count +
    regexp_replace inside whole-stage codegen, no shuffle, no Python.
    At 100 TB this is the cheapest operator family in the pipeline:
    it pipelines with the scan and prunes to the two referenced
    columns. Reference analog: the text post-processing seam of
    doc2md_utils.py's markdown cleanup (the reference never ships PII
    handling; a pre-training pipeline cannot skip it)."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    cleaned = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return base.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.regexp_count("text", F.lit(PII_EMAIL_RE))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count("text", F.lit(PII_PHONE_RE))
        .cast("long")
        .alias("n_phones"),
        F.regexp_count("text", F.lit(PII_IP_RE))
        .cast("long")
        .alias("n_ips"),
    )


# Backslashes survive verbatim in both carriers: this is a Python raw
# string, and DuckDB string literals do not process escapes.


def seed_pii_cte(src: str = "documents", out: str = "pdocs") -> str:
    """SQL twin of seed_pii over relation ``src`` (doc_id, text),
    emitted as CTE ``out`` — composable (CURATION_PIPELINE_SQL)."""
    return f"""{out} AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE
           WHEN doc_id % 3 = 0 THEN
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 100 AS VARCHAR)
                  || '.' || CAST(doc_id % 50 AS VARCHAR) || '.'
           WHEN doc_id % 3 = 1 THEN
             text || ' Mail user' || CAST(doc_id AS VARCHAR)
                  || '@example.org.'
           ELSE text
         END AS text
  FROM {src}
  WHERE text IS NOT NULL
)"""


def pii_redact_select(src: str = "pdocs") -> str:
    """SQL twin of pii_redact over relation ``src`` (doc_id, text) —
    the SELECT body, usable bare or wrapped in a CTE."""
    return rf"""SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g'),
         '{PII_IP_RE}', '<IP>', 'g') AS cleaned,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(text, '{PII_IP_RE}')) AS BIGINT)
         AS n_ips
FROM {src}"""


PII_REDACT_SQL = f"""
WITH {seed_pii_cte()}
{pii_redact_select()}
"""


# ---------------------------------------------------------------------------
# 8. Composed curation pipeline (the user's actual cleanup pass)
# ---------------------------------------------------------------------------


def curation_pipeline(docs: DataFrame) -> DataFrame:
    """The composed pre-training cleanup pass a corpus actually gets —
    PII masking, then boilerplate-line removal, then corpus-wide exact
    line dedup — with per-stage accounting, proving the curation
    operators compose RELATIONALLY (one lazy plan end-to-end, no
    materialization between stages; Catalyst fuses the projections and
    AQE sizes every stage's exchange). Returns
    ``(doc_id, cleaned, n_pii, n_boiler, n_dedup, n_chars)``.

    Stage order is the production order: masking first (so masks can't
    leak into dedup keys asymmetrically), the document-frequency rule
    before first-occurrence dedup (site furniture removed everywhere,
    then surviving duplicates keep one copy). The gate runs over the
    deterministically PII-seeded reflowed view so every stage's count
    is asserted non-zero (the embedding_neardup lesson).

    Scale shape: the union of the component shapes — each stage's
    corpus-wide exchange is line-keyed and map-side combined; nothing
    new materializes driver-side. At 10^12 docs the two line-key
    exchanges ride the line_dedup_hashed 128-bit key."""
    from . import dedup

    p = pii_redact(seed_pii(docs))
    reflowed = dedup.reflow_lines(
        p.select("doc_id", F.col("cleaned").alias("text"))
    )
    b = dedup.boilerplate_lines(reflowed)
    d = dedup.line_dedup(
        b.select("doc_id", F.col("cleaned").alias("text"))
    )
    return (
        d.join(
            b.select("doc_id", F.col("n_removed").alias("n_boiler")),
            "doc_id",
        )
        .join(
            p.select(
                "doc_id",
                (
                    F.col("n_emails") + F.col("n_phones") + F.col("n_ips")
                ).alias("n_pii"),
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "cleaned",
            F.col("n_pii").cast("long").alias("n_pii"),
            F.col("n_boiler").cast("long").alias("n_boiler"),
            F.col("n_removed").cast("long").alias("n_dedup"),
            F.length("cleaned").cast("long").alias("n_chars"),
        )
    )


def _curation_pipeline_sql() -> str:
    from .dedup import (
        BOILERPLATE_MIN_DF,
        line_keyed_ctes,
        reassemble_ctes,
        reflow_cte,
    )

    return f"""
WITH {seed_pii_cte('documents', 'pdocs')},
pii AS ({pii_redact_select('pdocs')}),
ptext AS (SELECT doc_id, cleaned AS text FROM pii),
{reflow_cte('ptext', 'rdocs')},
{line_keyed_ctes('rdocs', 'b_')},
b_boiler AS (
  SELECT k FROM b_keyed WHERE k <> ''
  GROUP BY k HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DF}
),
b_kept AS (
  SELECT doc_id, pos, line FROM b_keyed
  WHERE k = '' OR k NOT IN (SELECT k FROM b_boiler)
),
{reassemble_ctes('rdocs', 'b_')},
btext AS (SELECT doc_id, cleaned AS text FROM b_out),
{line_keyed_ctes('btext', 'd_')},
d_ranked AS (
  SELECT doc_id, pos, line, k,
         row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
  FROM d_keyed
),
d_kept AS (SELECT doc_id, pos, line FROM d_ranked WHERE k = '' OR rn = 1),
{reassemble_ctes('btext', 'd_')}
SELECT d.doc_id AS doc_id, d.cleaned AS cleaned,
       CAST(p.n_emails + p.n_phones + p.n_ips AS BIGINT) AS n_pii,
       CAST(b.n_removed AS BIGINT) AS n_boiler,
       CAST(d.n_removed AS BIGINT) AS n_dedup,
       CAST(len(d.cleaned) AS BIGINT) AS n_chars
FROM d_out d JOIN b_out b USING (doc_id) JOIN pii p USING (doc_id)
"""


CURATION_PIPELINE_SQL = _curation_pipeline_sql()


# ---------------------------------------------------------------------------
# 9. C4 heuristic line/document filters (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------
#
# The C4 cleaning pass the reference pipeline would need before its
# extraction output becomes pre-training data: per-LINE rules (keep a
# line only if it ends in terminal punctuation, has >= C4_MIN_WORDS
# words, and does not mention javascript) and per-DOCUMENT rules (drop
# a page with fewer than C4_MIN_KEPT_LINES surviving lines, or one
# containing "lorem ipsum" or a curly brace). All rules are doc-local,
# so the operator is ONE whole-stage-codegen JVM projection over
# higher-order functions — zero shuffles, zero Python; at 100 TB it
# pipelines with the scan like pii_redact.

C4_MIN_WORDS = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINALS = (".", "!", "?", '"')


def seed_c4(docs: DataFrame) -> DataFrame:
    """Deterministic C4-trigger view for the filter gate: the synthetic
    corpus has no punctuation, so every line would fail the terminal-
    punctuation rule and the gate would only prove emptiness (the
    embedding_neardup / seed_pii lesson). Keyed on (doc_id, line index):
    h = (doc_id*31 + i*7) % 10 — h < 6 appends '.', h == 6 appends
    ' requires javascript.' (passes the punctuation rule, fails the
    javascript rule — rule isolation), else untouched (fails the
    punctuation rule). Doc-level poison: doc_id % 37 == 0 gains a
    'lorem ipsum' line, doc_id % 41 == 3 a '{' line. NULL-text rows
    are dropped (matches the oracle CTE). Input is the reflowed view
    (multi-line text)."""
    decorated = F.expr(
        "transform(split(text, '\n'), (l, i) -> CASE"
        " WHEN (doc_id * 31 + i * 7) % 10 < 6 THEN l || '.'"
        " WHEN (doc_id * 31 + i * 7) % 10 = 6"
        " THEN l || ' requires javascript.'"
        " ELSE l END)"
    )
    did = F.col("doc_id").cast("long")
    base = F.array_join(decorated, "\n")
    return (
        docs.filter(F.col("text").isNotNull())
        .select(did.alias("doc_id"), "text")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 37 == 0,
                F.concat(base, F.lit("\nlorem ipsum dolor sit amet.")),
            )
            .when(
                F.col("doc_id") % 41 == 3,
                F.concat(base, F.lit("\nvar f = function() { return 0; }")),
            )
            .otherwise(base)
            .alias("text"),
        )
    )


_C4_PUNCT = "right(trim(l), 1) IN ('.', '!', '?', '\"')"
_C4_LEN = f"size(split(trim(l), ' ')) >= {C4_MIN_WORDS}"
_C4_JS = "contains(lower(l), 'javascript')"


def c4_filters(docs: DataFrame) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2) over ``(doc_id, text)``
    with per-rule accounting. Line rules — a line survives iff it ends
    in a terminal punctuation mark ('.', '!', '?', '\"'), carries at
    least C4_MIN_WORDS space-separated words, and does not contain the
    word 'javascript' (case-insensitive). Document rules — ``keep=0``
    when fewer than C4_MIN_KEPT_LINES lines survive, or the page
    contains 'lorem ipsum' (boilerplate placeholder) or '{' (code);
    dropped documents emit ``cleaned=''``. Violation counters are
    per-rule independent (a line can count against several).

    Returns (doc_id, cleaned, n_lines, n_kept, n_nopunct, n_short,
    n_js, keep).

    Scale shape: every rule is doc-local, so the whole operator is one
    JVM projection over higher-order functions (filter/transform over
    the split-line array) — no shuffle, no Python, full whole-stage
    codegen; it pipelines with the parquet scan and prunes to
    (doc_id, text). Reference analog: the markdown post-processing
    seam (doc2md_utils.py) — the reference never cleans for
    pre-training; C4 is the canonical recipe."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    t = base.select(
        "doc_id", "text", F.expr("split(text, '\n')").alias("ls")
    )
    kept = F.expr(
        f"filter(ls, l -> {_C4_PUNCT} AND {_C4_LEN} AND NOT {_C4_JS})"
    )
    n_kept = F.size(kept).cast("long")
    keep = (
        (n_kept >= C4_MIN_KEPT_LINES)
        & ~F.contains(F.lower("text"), F.lit("lorem ipsum"))
        & ~F.contains(F.col("text"), F.lit("{"))
    )
    return t.select(
        "doc_id",
        F.when(keep, F.array_join(kept, "\n")).otherwise("").alias(
            "cleaned"
        ),
        F.expr("size(ls)").cast("long").alias("n_lines"),
        n_kept.alias("n_kept"),
        F.expr(f"size(filter(ls, l -> NOT ({_C4_PUNCT})))")
        .cast("long")
        .alias("n_nopunct"),
        F.expr(f"size(filter(ls, l -> NOT ({_C4_LEN})))")
        .cast("long")
        .alias("n_short"),
        F.expr(f"size(filter(ls, l -> {_C4_JS}))")
        .cast("long")
        .alias("n_js"),
        keep.cast("long").alias("keep"),
    )


def seed_c4_cte(src: str = "rdocs", out: str = "cdocs") -> str:
    """SQL twin of seed_c4 over relation ``src`` (doc_id, text),
    emitted as CTE ``out``."""
    return f"""{out} AS (
  SELECT doc_id,
         CASE WHEN doc_id % 37 = 0
              THEN base || chr(10) || 'lorem ipsum dolor sit amet.'
              WHEN doc_id % 41 = 3
              THEN base || chr(10) || 'var f = function() {{ return 0; }}'
              ELSE base END AS text
  FROM (
    SELECT doc_id,
           array_to_string(
             list_transform(range(1, len(ls) + 1), i ->
               CASE WHEN (doc_id * 31 + (i - 1) * 7) % 10 < 6
                    THEN ls[i] || '.'
                    WHEN (doc_id * 31 + (i - 1) * 7) % 10 = 6
                    THEN ls[i] || ' requires javascript.'
                    ELSE ls[i] END),
             chr(10)) AS base
    FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 string_split(text, chr(10)) AS ls
          FROM {src} WHERE text IS NOT NULL)
  )
)"""


# The JVM's semantics, which the views and the fused kernel follow:
# Spark's trim strips U+0020 only (DuckDB's one-argument trim also strips
# U+00A0), and Java's toLowerCase maps 'İ' (U+0130, the one unconditional
# special-casing lowercase) to 'i' + U+0307 (DuckDB's lower gives 'i').
_C4_PUNCT_D = "right(trim(l, ' '), 1) IN ('.', '!', '?', '\"')"
_C4_LEN_D = f"len(string_split(trim(l, ' '), ' ')) >= {C4_MIN_WORDS}"


def _duck_jvm_lower(x: str) -> str:
    return f"lower(replace({x}, 'İ', 'i' || chr(775)))"


_C4_JS_D = f"contains({_duck_jvm_lower('l')}, 'javascript')"


def c4_filters_select(src: str = "cdocs") -> str:
    """SQL twin of c4_filters over relation ``src`` (doc_id, text)."""
    return f"""SELECT doc_id,
       CASE WHEN keep = 1 THEN array_to_string(kept, chr(10))
            ELSE '' END AS cleaned,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(len(list_filter(ls, l -> NOT ({_C4_PUNCT_D}))) AS BIGINT)
         AS n_nopunct,
       CAST(len(list_filter(ls, l -> NOT ({_C4_LEN_D}))) AS BIGINT)
         AS n_short,
       CAST(len(list_filter(ls, l -> {_C4_JS_D})) AS BIGINT) AS n_js,
       keep
FROM (
  SELECT doc_id, ls, kept,
         CAST(len(kept) >= {C4_MIN_KEPT_LINES}
              AND NOT contains({_duck_jvm_lower('text')}, 'lorem ipsum')
              AND NOT contains(text, '{{') AS BIGINT) AS keep
  FROM (
    SELECT doc_id, text, ls,
           list_filter(ls, l -> {_C4_PUNCT_D} AND {_C4_LEN_D}
                                AND NOT {_C4_JS_D}) AS kept
    FROM (SELECT doc_id, text, string_split(text, chr(10)) AS ls
          FROM {src} WHERE text IS NOT NULL)
  )
)"""


from .dedup import reflow_cte as _reflow_cte  # noqa: E402  (shared view)

C4_FILTERS_SQL = f"""
WITH {_reflow_cte('documents')},
{seed_c4_cte()}
{c4_filters_select()}
"""


def _jvm_mod(a: int, m: int) -> int:
    """The JVM's (and DuckDB's) integer ``%``: the remainder takes the
    dividend's sign, where Python's takes the divisor's."""
    r = abs(a) % m
    return -r if a < 0 else r


def _c4_fused_kernel_udf(words_per_line: int):
    """Arrow kernel for the fused reflow -> seed_c4 -> c4_filters gate
    chain. The three stages are replicated at their STRING boundaries
    (each stage re-splits on '\\n' exactly as the composed views do, so
    embedded newlines cannot diverge), and every rule uses the JVM
    expression's exact semantics: ``trim`` strips spaces only
    (str.strip(' ')), ``split`` keeps trailing empties (Python's
    str.split does), ``right(t, 1)`` of '' is '' (t[-1:]), ``%`` takes
    the dividend's sign (_jvm_mod), and a NULL doc_id makes every seed
    CASE fall through (lines unseeded, no poison line). The chain is
    otherwise five interpreted higher-order-function passes over the
    line array per document (transform + filter x4 — Spark does not
    codegen HOFs, the measured pq/label_noise defect class); the whole
    corpus fits one 53 ms numpy-free pass at sf0.1."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    w = int(words_per_line)
    terminals = set(C4_TERMINALS)
    min_words = C4_MIN_WORDS
    min_kept = C4_MIN_KEPT_LINES

    @pandas_udf(
        "struct<cleaned: string, n_lines: bigint, n_kept: bigint,"
        " n_nopunct: bigint, n_short: bigint, n_js: bigint, keep: bigint>"
    )
    def fused(doc_ids, texts):
        out_cleaned, out_nl, out_nk = [], [], []
        out_np, out_ns, out_nj, out_keep = [], [], [], []
        for doc_id, text in zip(doc_ids, texts):
            # ids arrive as strings: exact for every long, None for NULL
            # (a bigint Series holding a NULL would arrive as float64)
            doc_id = None if doc_id is None else int(doc_id)
            # reflow_lines(w): wrap space-separated words into w-word
            # lines (split('') is [''] -> one empty line, as in the JVM)
            ws = text.split(" ")
            n_wrapped = -(-len(ws) // w)
            rtext = "\n".join(
                " ".join(ws[i * w : i * w + w]) for i in range(n_wrapped)
            )
            # seed_c4: per-line CASE on h = (doc_id*31 + i*7) % 10
            # (0-based transform index), then the doc-level poison line;
            # on a NULL id every CASE branch is NULL and falls through
            if doc_id is None:
                stext = rtext
            else:
                seeded = []
                for i, l in enumerate(rtext.split("\n")):
                    h = _jvm_mod(doc_id * 31 + i * 7, 10)
                    if h < 6:
                        seeded.append(l + ".")
                    elif h == 6:
                        seeded.append(l + " requires javascript.")
                    else:
                        seeded.append(l)
                stext = "\n".join(seeded)
                if _jvm_mod(doc_id, 37) == 0:
                    stext += "\nlorem ipsum dolor sit amet."
                elif _jvm_mod(doc_id, 41) == 3:
                    stext += "\nvar f = function() { return 0; }"
            # c4_filters: line rules + document rules + counters
            ls = stext.split("\n")
            kept = []
            n_nopunct = n_short = n_js = 0
            for l in ls:
                t = l.strip(" ")
                punct = t[-1:] in terminals
                long_enough = len(t.split(" ")) >= min_words
                js = "javascript" in l.lower()
                if not punct:
                    n_nopunct += 1
                if not long_enough:
                    n_short += 1
                if js:
                    n_js += 1
                if punct and long_enough and not js:
                    kept.append(l)
            keep = int(
                len(kept) >= min_kept
                and "lorem ipsum" not in stext.lower()
                and "{" not in stext
            )
            out_cleaned.append("\n".join(kept) if keep else "")
            out_nl.append(len(ls))
            out_nk.append(len(kept))
            out_np.append(n_nopunct)
            out_ns.append(n_short)
            out_nj.append(n_js)
            out_keep.append(keep)
        return pd.DataFrame(
            {
                "cleaned": out_cleaned,
                "n_lines": out_nl,
                "n_kept": out_nk,
                "n_nopunct": out_np,
                "n_short": out_ns,
                "n_js": out_nj,
                "keep": out_keep,
            }
        )

    return fused


def c4_filters_fused(docs: DataFrame, words_per_line: int = 12) -> DataFrame:
    """The gate query's fused form of
    ``c4_filters(seed_c4(reflow_lines(docs)))`` over raw
    ``(doc_id, text)``.

    Execution (r6): the three composed views evaluate five interpreted
    higher-order-function passes per document (reflow's transform,
    seed's transform, c4's filter x4 — Spark does not whole-stage-
    codegen HOFs; the pq_adc/label_noise defect class), ~0.7-1.1 s of
    the query's ~1.0-1.3 s at sf0.1 while the same work is a 53 ms
    single Python pass. So the whole chain runs in one ArrowEvalPython
    projection (_c4_fused_kernel_udf) — zero shuffles. Spec:
    C4_FILTERS_SQL (which mirrors the composed views CTE-for-CTE),
    pinned on the gate corpus and hand frames (tests/test_c4.py) and on
    fixtures.edge_documents (tests/test_kernel_oracle_edges.py)."""
    base = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .filter(F.col("text").isNotNull())
    )
    o = _c4_fused_kernel_udf(words_per_line)(
        F.col("doc_id").cast("string"), F.col("text")
    ).alias("o")
    return base.select("doc_id", o).select(
        "doc_id",
        "o.cleaned",
        "o.n_lines",
        "o.n_kept",
        "o.n_nopunct",
        "o.n_short",
        "o.n_js",
        "o.keep",
    )


# ---------------------------------------------------------------------------
# 10. Corpus-wide top-k frequent n-grams (corpus statistics)
# ---------------------------------------------------------------------------

TOPGRAM_N = 4
TOPGRAM_K = 100


def top_ngrams(
    docs: DataFrame, n: int = TOPGRAM_N, k: int = TOPGRAM_K
) -> DataFrame:
    """The corpus-statistics report a curation run starts from: the k
    most frequent word n-grams corpus-wide, with occurrence and
    document-frequency counts. Feeds boilerplate discovery (high-df
    grams), Gopher-style threshold calibration, and tokenizer-corpus
    sanity checks.

    Returns (gram, n_occurrences, n_docs), deterministically ordered
    and cut: count desc, then gram asc at ties (the k-boundary is
    stable on both engines).

    Scale shape: gram extraction is ONE Arrow scan with zero
    pre-shuffle (shared kernel with dup_ngram_spans /
    contamination_check); the count is a hash aggregate on the gram
    with map-side partial aggregation; document frequency is the
    standard two-phase distinct aggregate over (gram, doc_id); the
    final top-k is TakeOrderedAndProject — per-partition heaps merged
    on the driver, never a global sort (plan pinned in
    tests/test_curation.py). At 100 TB ride the hashed-gram narrowing
    exactly as dup_ngram_spans_hashed does: aggregate on xxhash64(gram)
    and join the surviving top slice back for display strings."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    grams = _word_ngrams(base, n)
    agg = grams.groupBy("gram").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return agg.orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    ).limit(k)


TOP_NGRAMS_SQL = f"""
WITH words AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id,
         array_to_string(ws[i : i + {TOPGRAM_N} - 1], ' ') AS gram
  FROM words,
       unnest(range(1, greatest(CAST(len(ws) AS BIGINT) - {TOPGRAM_N} + 2,
                                1))) AS t(i)
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM grams GROUP BY gram
ORDER BY n_occurrences DESC, gram ASC
LIMIT {TOPGRAM_K}
"""


# ---------------------------------------------------------------------------
# 11. Model-based quality classifier (fastText shape)
# ---------------------------------------------------------------------------

QCLF_BUCKETS = 256
# integer weight-table parameters: w_numer(b) = ((b*A + C) % P) - (P-1)/2,
# actual weight = w_numer / P — a deterministic pseudo-trained vector
# standing in for a model artifact (the EXECUTION shape is what matters)
QCLF_A = 1103515245
QCLF_C = 12345
QCLF_P = 997
QCLF_BIAS = 0.1
QCLF_KEEP_MIN = 0.5


def quality_classifier(docs: DataFrame, n_buckets: int = QCLF_BUCKETS) -> DataFrame:
    """Model-based quality scoring — the fastText-classifier shape used
    by CCNet/LLaMA/Dolma-style pipelines (a linear model over hashed
    bag-of-words features, sigmoid output, threshold keep): tokens hash
    into ``n_buckets`` via the cross-engine polyhash, bucket weights
    come from a BROADCAST n_buckets-row weights relation (here derived
    deterministically from the bucket index — in production the same
    relation is loaded from a trained model artifact; the plan is
    identical), and

        score   = bias + (sum_t w[bucket(t)]) / n_tokens
        quality = sigmoid(score),  keep = quality >= 0.5

    Returns (doc_id, n_tokens, score, quality, keep).

    Determinism: per-token weights stay INTEGER numerators through the
    per-doc sum (exact, order-independent — stronger than the
    decimal(38,20) device) and are divided by the common denominator
    once at the end; both engines floor at 1e-4 and compute ``keep``
    on the floored value.

    Scale shape: explode + broadcast join against the n_buckets-row
    weights relation + one per-doc groupBy (map-side combinable integer
    sum) — the same exchange profile as dsir_weights; the model never
    shuffles."""
    from .dedup import word_buckets_udf

    base = _docs_base(docs).filter(F.col("text").isNotNull())
    # Arrow word-bucket kernel (r6) — see dsir_weights; oracle twin
    # keeps the interpreted char-fold expression
    toks = base.select(
        "doc_id",
        F.explode(word_buckets_udf(n_buckets)("text")).alias("b"),
    )
    weights = (
        docs.sparkSession.range(n_buckets)
        .select(
            F.col("id").alias("b"),
            (
                (F.col("id") * QCLF_A + QCLF_C) % QCLF_P
                - (QCLF_P - 1) // 2
            ).alias("wn"),
        )
    )
    agg = (
        toks.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), F.sum("wn").alias("wsum"))
    )
    score = F.lit(QCLF_BIAS) + (
        F.col("wsum").cast("double") / F.lit(float(QCLF_P))
    ) / F.col("n_tok").cast("double")
    quality = _fl4(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)))
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        _fl4(score).alias("score"),
        quality.alias("quality"),
        (quality >= QCLF_KEEP_MIN).cast("long").alias("keep"),
    )


def _quality_classifier_sql() -> str:
    from ..functions.hashing import duck_polyhash_over_array

    harr = duck_polyhash_over_array("string_split(text, ' ')")
    nb, a, c, p = QCLF_BUCKETS, QCLF_A, QCLF_C, QCLF_P
    return f"""
WITH qtoks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(list_transform({harr}, h -> h % {nb})) AS b
  FROM documents WHERE text IS NOT NULL
),
qweights AS (
  SELECT CAST(b AS BIGINT) AS b,
         (b * {a} + {c}) % {p} - {(p - 1) // 2} AS wn
  FROM range({nb}) t(b)
),
qagg AS (
  SELECT doc_id, count(*) AS n_tok, sum(wn) AS wsum
  FROM qtoks JOIN qweights USING (b) GROUP BY doc_id
),
qscored AS (
  SELECT doc_id, n_tok,
         {QCLF_BIAS} + (wsum::DOUBLE / {float(p)}) / n_tok::DOUBLE AS s
  FROM qagg
),
qfin AS (
  SELECT doc_id, n_tok, floor(s * 10000) / 10000 AS score,
         floor(1.0 / (1.0 + exp(-s)) * 10000) / 10000 AS quality
  FROM qscored
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, score, quality,
       CAST(quality >= {QCLF_KEEP_MIN} AS BIGINT) AS keep
FROM qfin
"""


QUALITY_CLASSIFIER_SQL = _quality_classifier_sql()


# ---------------------------------------------------------------------------
# 12. Gopher line-level repetition rules (dup_line_frac / char_frac)
# ---------------------------------------------------------------------------

GOPHER_DUP_LINE_MAX = 0.30  # Rae et al. 2021 A1.1: drop > 30% dup lines
GOPHER_DUP_LINE_CHAR_MAX = 0.20  # drop > 20% chars in dup lines


def seed_line_dups(docs: DataFrame) -> DataFrame:
    """Deterministic within-doc duplicate-line view for the
    line-repetition gate: the reflowed synthetic corpus has ZERO
    within-doc duplicate lines (measured), so an unseeded gate proves
    emptiness. doc_id % 5 == 0 re-appends the doc's first line once,
    doc_id % 25 == 0 twice more — short docs then cross the Gopher
    thresholds while long ones stay under, so both keep classes occur.
    Input is the reflowed (multi-line) view; NULL text dropped."""
    first = F.expr("element_at(split(text, '\n'), 1)")
    did = F.col("doc_id").cast("long")
    return (
        docs.filter(F.col("text").isNotNull())
        .select(did.alias("doc_id"), "text")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 25 == 0,
                F.concat_ws("\n", F.col("text"), first, first, first),
            )
            .when(
                F.col("doc_id") % 5 == 0,
                F.concat_ws("\n", F.col("text"), first),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )


def _line_stats_udf():
    """One-pass per-doc line counters (total lines / chars, duplicate
    occurrences beyond first and their chars) as an Arrow-batched
    kernel — same zero-shuffle pattern as _rep_stats_udf; per-row
    Counter loop is batch-amortized and per-doc bounded."""
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<n_lines: long, n_dup: long, chars: long, dup_chars: long>"
    )
    def line_stats(texts):
        rows = []
        for t in texts.tolist():
            if t is None or t != t:
                rows.append((None, None, None, None))
                continue
            ls = t.split("\n")
            c = Counter(ls)
            rows.append(
                (
                    len(ls),
                    sum(v - 1 for v in c.values() if v >= 2),
                    sum(len(x) for x in ls),
                    sum(len(k) * (v - 1) for k, v in c.items() if v >= 2),
                )
            )
        return pd.DataFrame(
            rows, columns=["n_lines", "n_dup", "chars", "dup_chars"]
        )

    return line_stats


def line_repetition_stats(docs: DataFrame) -> DataFrame:
    """The line-granularity half of the Gopher repetition rules (Rae et
    al. 2021 §A1.1) that repetition_stats' word/bigram fractions leave
    open: per document, the fraction of lines that are duplicates of an
    earlier line (occurrences beyond the first) and the fraction of
    characters inside those duplicate occurrences, with the paper's
    keep thresholds (<= 0.30 lines, <= 0.20 chars).

    Returns (doc_id, n_lines, dup_line_frac, dup_line_char_frac, keep).

    Scale shape: stats are doc-local — ONE Arrow scan, zero shuffles
    (plan pinned in tests/test_curation.py), unlike the oracle's
    explode + per-(doc,line) aggregate spec form."""
    stats = (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            _line_stats_udf()(F.col("text")).alias("s"),
        )
    )
    nl = F.col("s.n_lines").cast("double")
    nc = F.greatest(F.col("s.chars"), F.lit(1)).cast("double")
    lf = _fl4(F.col("s.n_dup") / nl)
    cf = _fl4(F.col("s.dup_chars") / nc)
    return stats.select(
        "doc_id",
        F.col("s.n_lines").alias("n_lines"),
        lf.alias("dup_line_frac"),
        cf.alias("dup_line_char_frac"),
        (
            (lf <= GOPHER_DUP_LINE_MAX) & (cf <= GOPHER_DUP_LINE_CHAR_MAX)
        )
        .cast("long")
        .alias("keep"),
    )


def seed_line_dups_cte(src: str = "rdocs", out: str = "ldocs") -> str:
    """SQL twin of seed_line_dups over relation ``src`` (doc_id, text)."""
    return f"""{out} AS (
  SELECT doc_id,
         CASE WHEN doc_id % 25 = 0
              THEN text || chr(10) || f || chr(10) || f || chr(10) || f
              WHEN doc_id % 5 = 0 THEN text || chr(10) || f
              ELSE text END AS text
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
               string_split(text, chr(10))[1] AS f
        FROM {src} WHERE text IS NOT NULL)
)"""


def line_repetition_stats_select(src: str = "ldocs") -> str:
    """SQL twin of line_repetition_stats over relation ``src``."""
    return f"""SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       floor(n_dup::DOUBLE / n_lines * 10000) / 10000 AS dup_line_frac,
       floor(dup_chars::DOUBLE / greatest(chars, 1) * 10000) / 10000
         AS dup_line_char_frac,
       CAST(floor(n_dup::DOUBLE / n_lines * 10000) / 10000
              <= {GOPHER_DUP_LINE_MAX}
            AND floor(dup_chars::DOUBLE / greatest(chars, 1) * 10000)
                  / 10000 <= {GOPHER_DUP_LINE_CHAR_MAX}
            AS BIGINT) AS keep
FROM (
  SELECT doc_id, sum(c) AS n_lines,
         sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS n_dup,
         sum(ln * c) AS chars,
         sum(CASE WHEN c >= 2 THEN ln * (c - 1) ELSE 0 END) AS dup_chars
  FROM (
    SELECT doc_id, l, count(*) AS c, len(l) AS ln
    FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
          FROM {src})
    GROUP BY doc_id, l
  )
  GROUP BY doc_id
)"""


def _line_repetition_sql() -> str:
    from .dedup import reflow_cte

    return f"""
WITH {reflow_cte('documents')},
{seed_line_dups_cte()}
{line_repetition_stats_select()}
"""


LINE_REPETITION_SQL = _line_repetition_sql()


# ---------------------------------------------------------------------------
# 13. Filter funnel (pipeline attrition report)
# ---------------------------------------------------------------------------

FUNNEL_MIN_WORDS = 50  # Gopher doc-length rule (lower bound fits the corpus)


def filter_funnel(docs: DataFrame) -> DataFrame:
    """The attrition report every curation pipeline publishes (Dolma /
    RefinedWeb-style funnel): how many documents survive each
    successive filter stage —

        0 input        non-null-text documents
        1 length       >= FUNNEL_MIN_WORDS words (Gopher doc-length)
        2 quality      quality_classifier keep (model-based score)
        3 gopher_word  repetition_stats keep (word/bigram rules)

    applied CUMULATIVELY, as ONE lazy relational plan (cheap-to-
    expensive stage order, and every stage shows real attrition at
    sf0.001: 500 -> 284 -> 282 -> 249). Returns
    (stage_idx, stage, n_surviving) — 4 rows.

    Proves the filter families COMPOSE (the per-doc keep relations join
    on doc_id and fold into one aggregate), not just that each gates
    alone — the same design statement as curation_pipeline for the
    text-rewriting family.

    Scale shape: two per-doc keep relations (each with the exchange
    profile documented on its own operator) joined on doc_id, one
    global aggregate (4 longs), one stack() projection. No new shuffle
    classes beyond the member operators'."""
    rep = repetition_stats(docs).select(
        "doc_id",
        F.col("n_words"),
        F.col("keep").alias("rep_keep"),
    )
    q = quality_classifier(docs).select(
        "doc_id", F.col("keep").alias("q_keep")
    )
    j = rep.join(q, "doc_id")
    len_ok = (F.col("n_words") >= FUNNEL_MIN_WORDS).cast("long")
    s1 = len_ok
    s2 = len_ok * F.col("q_keep")
    s3 = s2 * F.col("rep_keep")
    agg = j.agg(
        F.count("*").alias("n0"),
        F.sum(s1).alias("n1"),
        F.sum(s2).alias("n2"),
        F.sum(s3).alias("n3"),
    )
    return agg.select(
        F.expr(
            "stack(4, 0L, 'input', n0,"
            " 1L, 'length', n1,"
            " 2L, 'quality', n2,"
            " 3L, 'gopher_word', n3)"
        ).alias("stage_idx", "stage", "n_surviving")
    ).select(
        F.col("stage_idx").cast("long"),
        "stage",
        F.col("n_surviving").cast("long").alias("n_surviving"),
    )


def _filter_funnel_sql() -> str:
    return f"""
WITH f_rep AS ({REPETITION_STATS_SQL}),
f_q AS ({QUALITY_CLASSIFIER_SQL}),
f_flags AS (
  SELECT r.doc_id,
         CAST(r.n_words >= {FUNNEL_MIN_WORDS} AS BIGINT) AS len_ok,
         r.keep AS rep_keep, q.keep AS q_keep
  FROM f_rep r JOIN f_q q USING (doc_id)
),
f_agg AS (
  SELECT count(*) AS n0, sum(len_ok) AS n1,
         sum(len_ok * q_keep) AS n2,
         sum(len_ok * q_keep * rep_keep) AS n3
  FROM f_flags
)
SELECT CAST(s.idx AS BIGINT) AS stage_idx, s.stage AS stage,
       CAST(CASE s.idx WHEN 0 THEN n0 WHEN 1 THEN n1
                       WHEN 2 THEN n2 ELSE n3 END AS BIGINT)
         AS n_surviving
FROM f_agg,
     (VALUES (0, 'input'), (1, 'length'),
             (2, 'quality'), (3, 'gopher_word')) AS s(idx, stage)
"""


FILTER_FUNNEL_SQL = _filter_funnel_sql()


# ---------------------------------------------------------------------------
# 14. Text normalization (NFC + control-strip + whitespace collapse)
# ---------------------------------------------------------------------------

# Java-regex / RE2 intersection dialect (same contract as the PII
# patterns): explicit byte-range classes, no shorthand that the two
# engines expand differently.
NORM_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
NORM_WS_RE = "[ \t]+"


def seed_denorm(docs: DataFrame) -> DataFrame:
    """Deterministic denormalized view for the normalization gate: the
    synthetic corpus is pure ASCII with single spaces, so an unseeded
    gate would prove nothing changed. doc_id % 3 == 0 appends a
    DECOMPOSED accent ('cafe' + U+0301 — NFC must compose it to
    U+00E9); doc_id % 3 == 1 injects a BEL control char, a tab and a
    triple space; doc_id % 3 == 2 stays untouched (changed must
    be 0)."""
    did = F.col("doc_id").cast("long")
    return docs.filter(F.col("text").isNotNull()).select(
        did.alias("doc_id"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.col("text"), F.lit(" went to the cafe" + chr(0x301))
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" noisy" + chr(7) + " bits" + chr(9) + "here   end"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _nfc_udf():
    """Arrow-batched NFC normalization (Python unicodedata; DuckDB's
    nfc_normalize is the oracle twin — both implement UAX #15, verified
    identical on the seeded sequences). Spark has no built-in
    normalizer; at 100 TB this stays an Arrow-batch step, or moves to
    an ICU Normalizer2 call in a JVM UDF if the Python leg ever
    dominates (it is ~50x cheaper than the extraction kernel)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(texts):
        import unicodedata

        return pd.Series(
            [
                None if t is None else unicodedata.normalize("NFC", t)
                for t in texts.tolist()
            ]
        )

    return nfc


def normalize_text(docs: DataFrame) -> DataFrame:
    """CCNet/C4-style text normalization: Unicode NFC composition, then
    control-character strip, then horizontal-whitespace collapse + trim.
    Returns (doc_id, normalized, changed, n_chars_before, n_chars_after)
    for every non-null-text document.

    Scale shape: one Arrow-batch NFC pass + two JVM regexp projections
    — no shuffle; composes with pii_redact/c4_filters into the same
    single scan."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    nfc = _nfc_udf()(F.col("text"))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc, NORM_CTRL_RE, ""), NORM_WS_RE, " "
        )
    )
    return base.select(
        "doc_id",
        cleaned.alias("normalized"),
        (cleaned != F.col("text")).cast("long").alias("changed"),
        F.length("text").cast("long").alias("n_chars_before"),
        F.length(cleaned).cast("long").alias("n_chars_after"),
    )


def seed_denorm_cte(src: str = "documents", out: str = "ndocs") -> str:
    """SQL twin of seed_denorm."""
    return f"""{out} AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' went to the cafe' || chr(769)
              WHEN doc_id % 3 = 1
              THEN text || ' noisy' || chr(7) || ' bits' || chr(9)
                        || 'here   end'
              ELSE text END AS text
  FROM {src} WHERE text IS NOT NULL
)"""


NORMALIZE_TEXT_SQL = f"""
WITH {seed_denorm_cte()},
nnorm AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(nfc_normalize(text), '{NORM_CTRL_RE}', '', 'g'),
           '{NORM_WS_RE}', ' ', 'g')) AS normalized
  FROM ndocs
)
SELECT doc_id, normalized,
       CAST(normalized <> text AS BIGINT) AS changed,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length(normalized) AS BIGINT) AS n_chars_after
FROM nnorm
"""


# ---------------------------------------------------------------------------
# 15. Vocabulary coverage (top-k words + cumulative corpus coverage)
# ---------------------------------------------------------------------------

VOCAB_K = 50


def vocab_coverage(docs: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """Tokenizer-corpus statistics: the k most frequent words with
    occurrence counts, corpus frequency, and CUMULATIVE coverage — the
    report that sizes a vocabulary (how many types cover 95% of
    tokens) and sanity-checks a corpus before tokenizer training.

    Returns (rank, word, cnt, frac, cum_frac), rank 1..k by
    (count desc, word asc) — deterministic cut and order.

    Scale shape: one map-side-combined word count, top-k via
    TakeOrderedAndProject, then the cumulative window runs over the
    k-row result only (a single tiny partition by construction — the
    full corpus never sees a global window); the total-token count is
    a 1-row broadcast. Fractions floor at 1e-6 (finer than _fl4: with
    a 100-word corpus vocabulary single words hold >1% each, but real
    corpora need the tail resolution)."""
    base = docs.select("text").filter(F.col("text").isNotNull())
    words = base.select(F.explode(F.split("text", " ")).alias("w"))
    counts = words.groupBy("w").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(k)
    # window input is the k-row top only (see test_plans.py allowlist)
    wr = Window.orderBy(F.desc("cnt"), F.asc("w"))
    fl6 = lambda c: F.floor(c * 1_000_000) / 1_000_000  # noqa: E731
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(wr).cast("long").alias("rank"),
            F.col("w").alias("word"),
            F.col("cnt").cast("long").alias("cnt"),
            fl6(F.col("cnt") / F.col("total")).alias("frac"),
            fl6(
                F.sum("cnt").over(
                    wr.rowsBetween(Window.unboundedPreceding, 0)
                )
                / F.col("total")
            ).alias("cum_frac"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH vwords AS (
  SELECT unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
),
vcounts AS (SELECT w, count(*) AS cnt FROM vwords GROUP BY w),
vtotal AS (SELECT sum(cnt) AS total FROM vcounts),
vtop AS (
  SELECT w, cnt FROM vcounts ORDER BY cnt DESC, w ASC LIMIT {VOCAB_K}
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS BIGINT)
         AS rank,
       w AS word, CAST(cnt AS BIGINT) AS cnt,
       floor(cnt::DOUBLE / total * 1000000) / 1000000 AS frac,
       floor(sum(cnt) OVER (ORDER BY cnt DESC, w ASC
                            ROWS UNBOUNDED PRECEDING)::DOUBLE
             / total * 1000000) / 1000000 AS cum_frac
FROM vtop CROSS JOIN vtotal
"""


# ---------------------------------------------------------------------------
# 17. Token-budget stratified mixing (domain-mix construction)
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 4000  # tokens kept per language stratum
MIX_BUCKETS = 1024  # sample-key histogram resolution (scale device)
_MIX_BUCKET_W = _QH_MOD // MIX_BUCKETS + 1


def token_budget_mix(
    docs: DataFrame, budget: int = TOKEN_BUDGET
) -> DataFrame:
    """Training-mix construction by TOKEN budget (the DoReMi/Dolma
    domain-mixing step): per language stratum, walk documents in
    deterministic hash order and keep them until the stratum has
    contributed `budget` tokens — the doc that crosses the budget is
    kept, everything after it is dropped. quota_sample is the
    count-based sibling; real mixes are specified in tokens.

    Keep rule (both engines): cum_tokens - n_tokens < budget, where
    cum_tokens is the running token sum in (sample_key, doc_id) order
    within the stratum. A stratum whose total is under budget is kept
    whole.

    Scale shape: a per-stratum window over 10^12 rows would sort each
    language's full partition. Instead the sample-key space is cut into
    MIX_BUCKETS histogram buckets: (1) one partial-agg (lang, bucket)
    token-sum pass, (2) a driver-side prefix over the collected
    histogram (bounded: n_lang x MIX_BUCKETS rows) finds each stratum's
    cutoff bucket — the first whose prefix total reaches the budget,
    (3) only rows in buckets <= cutoff survive to the exact window
    (~budget-sized survivor sets, the mix itself), buckets past the
    cutoff are filtered BEFORE any sort. The exact window re-applies
    the keep rule so the histogram is purely a pruning device — the
    flat one-window spec is the oracle. Same two-phase design as
    quota_sample's threshold and pack_sequences' block cumsum."""
    base = _docs_base(docs).select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        _sample_key().alias("sample_key"),
    )
    hist = (
        base.groupBy("lang", (F.col("sample_key") / _MIX_BUCKET_W)
                    .cast("long").alias("bucket"))
        .agg(F.sum("n_tokens").alias("bt"))
        .collect()
    )
    per_lang: dict = {}
    for r in hist:
        per_lang.setdefault(r["lang"], []).append((r["bucket"], r["bt"]))
    cutoffs = []
    for lang, buckets in per_lang.items():
        run, cut = 0, MIX_BUCKETS  # keep-all when total never reaches budget
        for b, bt in sorted(buckets):
            run += bt
            if run >= budget:
                cut = b
                break
        cutoffs.append((lang, cut))
    cut_df = base.sparkSession.createDataFrame(
        sorted(cutoffs, key=lambda kv: (kv[0] is None, kv[0] or "")),
        "lang string, cut long",
    )
    survivors = (
        base.join(F.broadcast(cut_df), base["lang"].eqNullSafe(cut_df["lang"]))
        .where((F.col("sample_key") / _MIX_BUCKET_W).cast("long")
               <= F.col("cut"))
        .select(base["doc_id"], base["lang"], "n_tokens", "sample_key")
    )
    wm = (
        Window.partitionBy("lang")
        .orderBy("sample_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        survivors.withColumn("cum_tokens", F.sum("n_tokens").over(wm))
        .where(F.col("cum_tokens") - F.col("n_tokens") < budget)
        .select("doc_id", "lang", "n_tokens", "sample_key", "cum_tokens")
    )


TOKEN_BUDGET_MIX_SQL = f"""
WITH tbm AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         ((CAST(doc_id AS BIGINT) % {_QH_MOD}) * {_QH_A} + {_QH_B})
           % {_QH_MOD} AS sample_key
  FROM documents
),
tbc AS (
  SELECT doc_id, lang, n_tokens, sample_key,
    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY sample_key, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM tbm
)
SELECT doc_id, lang, n_tokens, sample_key, cum_tokens
FROM tbc WHERE cum_tokens - n_tokens < {TOKEN_BUDGET}
"""


# ---------------------------------------------------------------------------
# 18. Pretraining-mix capstone: filters -> exact dedup -> sequence packing
# ---------------------------------------------------------------------------


def pretraining_mix(docs: DataFrame) -> DataFrame:
    """Raw corpus -> training sequences, ONE lazy relational plan — the
    end-to-end pretraining data-prep composition every LLM pipeline
    runs: (1) the filter_funnel keep decision (Gopher doc-length AND
    model-based quality AND Gopher word-repetition), (2) exact-dedup
    keeper selection over the survivors (min doc_id per normalization
    key, the exact_dedup family's key), (3) GPT-style sequence packing
    of the deduplicated keepers (pack_sequences' two-phase block
    cumsum). Returns the pack relation (doc_id, n_tokens, start_offset,
    first_seq, last_seq, n_seqs) over exactly the surviving keepers.

    Every stage shows real attrition at sf0.001 (500 -> 249 filtered
    -> 209 after dedup) and the packing runs over the survivor set, not
    the corpus — the composition statement filter_funnel makes for
    counting, made for the actual data product.

    Scale shape: the member operators' own exchange profiles (two
    Arrow keep scans joined on doc_id, one hash agg for the keeper,
    block-hierarchical cumsum for packing); no new shuffle classes.
    The keeper groupBy is the only corpus-keyed exchange and is
    map-side combined."""
    rep = repetition_stats(docs).select(
        "doc_id", "n_words", F.col("keep").alias("rep_keep")
    )
    q = quality_classifier(docs).select(
        "doc_id", F.col("keep").alias("q_keep")
    )
    kept = (
        rep.join(q, "doc_id")
        .where(
            (F.col("n_words") >= FUNNEL_MIN_WORDS)
            & (F.col("q_keep") == 1)
            & (F.col("rep_keep") == 1)
        )
        .select("doc_id")
    )
    survivors = (
        _docs_base(docs).select("doc_id", "text").join(kept, "doc_id")
    )
    keeper = (
        survivors.select(
            "doc_id",
            F.expr("concat_ws(' ', slice(split(text, ' '), 1, 2))").alias(
                "dup_key"
            ),
        )
        .groupBy("dup_key")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = survivors.join(keeper, "doc_id").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return _pack_over(toks)


PRETRAINING_MIX_SQL = f"""
WITH pm_rep AS ({REPETITION_STATS_SQL}),
pm_q AS ({QUALITY_CLASSIFIER_SQL}),
pm_kept AS (
  SELECT r.doc_id FROM pm_rep r JOIN pm_q q USING (doc_id)
  WHERE r.n_words >= {FUNNEL_MIN_WORDS} AND r.keep = 1 AND q.keep = 1
),
pm_docs AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.text
  FROM documents d JOIN pm_kept k ON CAST(d.doc_id AS BIGINT) = k.doc_id
),
pm_keeper AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (
    SELECT doc_id,
           array_to_string((string_split(text, ' '))[1:2], ' ') AS dup_key
    FROM pm_docs
  ) GROUP BY dup_key
),
pm_toks AS (
  SELECT d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
  FROM pm_docs d JOIN pm_keeper k USING (doc_id)
),
pm_off AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM pm_toks
)
SELECT doc_id, n_tokens, start_offset,
  start_offset // {PACK_SEQ_LEN} AS first_seq,
  (start_offset + n_tokens - 1) // {PACK_SEQ_LEN} AS last_seq,
  (start_offset + n_tokens - 1) // {PACK_SEQ_LEN}
    - start_offset // {PACK_SEQ_LEN} + 1 AS n_seqs
FROM pm_off
"""


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle (seeded permutation rank) + shuffled packing
# ---------------------------------------------------------------------------

# Power permutation: x -> x^5 mod (2^31 - 1) is a bijection of
# [0, 2^31-1) because gcd(5, p-1) = 1 (p-1 = 2*3^2*7*11*31*151*331 has
# no factor 5), so shuffle keys are collision-free whenever doc_id <
# 2^31-1; beyond that the pre-fold introduces rare collisions,
# deterministically tie-broken by doc_id. A nonlinear map is REQUIRED
# here: any affine key a*x+b mod p is order-preserving on contiguous
# id blocks smaller than p/a (the first draft's MINSTD multiplier left
# 0..44487 in identity order) and an arithmetic-progression lattice
# beyond them; x^5 decorrelates adjacent ids everywhere. Every
# intermediate ((p-1)^2 < 2^62) fits int64 on both engines.
SHUFFLE_SEED = 12345  # pre-offset so doc 0 doesn't pin rank via key 0
SHUFFLE_MOD = 2_147_483_647
SHUFFLE_BLOCKS = 64  # key-range blocks for the two-phase global rank
_SHUFFLE_SPAN = SHUFFLE_MOD // SHUFFLE_BLOCKS + 1


def _shuffle_key_sql(doc_id_expr: str) -> str:
    """x^5 mod p over the seeded fold — IDENTICAL text on both engines
    (integer %, * only)."""
    m = SHUFFLE_MOD
    x = f"(({doc_id_expr} + {SHUFFLE_SEED}) % {m})"
    x2 = f"({x} * {x} % {m})"
    x4 = f"({x2} * {x2} % {m})"
    return f"({x4} * {x} % {m})"


def shuffle_rank(docs: DataFrame) -> DataFrame:
    """Seeded deterministic corpus shuffle — the data-ORDER step a
    pretraining pipeline runs before sequence packing (training
    consumes documents in pseudorandom order, but the order must be a
    reproducible pure function of the corpus so a resumed/re-run job
    packs identical sequences). Returns (doc_id, shuffle_key,
    shuffle_rank): rank 0 is the first document of the shuffled epoch.

    Scale shape: no global sort and no unpartitioned window. The
    power-permutation key is uniform, so FIXED key-range blocks are
    balanced by construction; within-block ranks come from a block-partitioned
    window and block offsets from a cumsum over the n_blocks aggregated
    counts (broadcast back) — the pack_sequences two-phase device with
    counts instead of token sums. The oracle is the flat ROW_NUMBER
    spec."""
    keyed = _docs_base(docs).select(
        "doc_id",
        F.expr(_shuffle_key_sql("doc_id")).alias("shuffle_key"),
    ).withColumn("sblock", F.expr(f"shuffle_key DIV {_SHUFFLE_SPAN}"))
    btot = keyed.groupBy("sblock").agg(F.count("*").alias("bn"))
    wb = Window.orderBy("sblock").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "sblock", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("boff")
    )
    ww = Window.partitionBy("sblock").orderBy("shuffle_key", "doc_id")
    within = keyed.withColumn("wrank", F.row_number().over(ww))
    return (
        within.join(F.broadcast(boff), "sblock")
        .select(
            "doc_id",
            "shuffle_key",
            (F.col("boff") + F.col("wrank") - 1).cast("long").alias(
                "shuffle_rank"
            ),
        )
    )


SHUFFLE_RANK_SQL = f"""
WITH shd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
shk AS (
  SELECT doc_id, {_shuffle_key_sql("doc_id")} AS shuffle_key
  FROM shd
)
SELECT doc_id, shuffle_key,
       ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS shuffle_rank
FROM shk
"""


def shuffled_pack(docs: DataFrame, seq_len: int = PACK_SEQ_LEN) -> DataFrame:
    """Sequence packing in SHUFFLED order — the composed data product:
    documents are concatenated in shuffle_rank order (not doc_id order)
    and chopped into fixed seq_len sequences. Same columns as
    pack_sequences plus shuffle_rank; offsets/sequence ids now follow
    the epoch order a trainer actually reads.

    Composition stays one lazy plan: the rank relation joins the
    per-doc token counts (both doc_id-keyed — co-partitioned after one
    exchange), then _pack_over runs its two-phase prefix sum with
    shuffle_rank as the ordering key."""
    toks = _docs_base(docs).select(
        F.col("doc_id").alias("real_doc_id"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    ranked = shuffle_rank(docs).select(
        F.col("doc_id").alias("real_doc_id"), "shuffle_rank"
    )
    packed = _pack_over(
        toks.join(ranked, "real_doc_id").select(
            F.col("shuffle_rank").alias("doc_id"), "n_tokens"
        ),
        seq_len,
    )
    return packed.join(
        toks.join(ranked, "real_doc_id").select(
            F.col("shuffle_rank").alias("doc_id"), "real_doc_id"
        ),
        "doc_id",
    ).select(
        F.col("real_doc_id").alias("doc_id"),
        F.col("doc_id").alias("shuffle_rank"),
        "n_tokens",
        "start_offset",
        "first_seq",
        "last_seq",
        "n_seqs",
    )


SHUFFLED_PACK_SQL = f"""
WITH spd AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
spk AS (
  SELECT doc_id, n_tokens, {_shuffle_key_sql("doc_id")} AS shuffle_key
  FROM spd
),
spr AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1
           AS shuffle_rank
  FROM spk
),
spo AS (
  SELECT doc_id, shuffle_rank, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_rank
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM spr
)
SELECT doc_id, shuffle_rank, n_tokens, start_offset,
  start_offset // {PACK_SEQ_LEN} AS first_seq,
  (start_offset + n_tokens - 1) // {PACK_SEQ_LEN} AS last_seq,
  (start_offset + n_tokens - 1) // {PACK_SEQ_LEN}
    - start_offset // {PACK_SEQ_LEN} + 1 AS n_seqs
FROM spo
"""


# ---------------------------------------------------------------------------
# 18. Mojibake / encoding repair (ftfy-lite, the CCNet "fix encoding" step)
# ---------------------------------------------------------------------------

# Clean snippet of Latin-1-supplement letters and its mojibake form —
# the UTF-8 bytes of the clean text re-decoded as Latin-1 (the classic
# double-decode corruption web crawls carry). Computed once at import
# from the codec tables, so the constant can never drift from the codec.
MOJI_SNIPPET_CLEAN = " café naïve señor über façade très"
MOJI_SNIPPET_BROKEN = MOJI_SNIPPET_CLEAN.encode("utf-8").decode("latin-1")
# A row that mixes mojibake with a LEGITIMATE non-Latin-1 char (em dash
# U+2014): Latin-1 re-encode would destroy the dash, so the repair guard
# must refuse to touch it.
MOJI_MIXED_BROKEN = " rules — but cafÃ© stays"
# One mojibake lead byte followed by a Latin-1 continuation char: the
# shape every UTF-8-as-Latin-1 two-byte sequence takes.
MOJI_DETECT_RE = "\u00c3[\u0080-\u00bf]"


def seed_mojibake(docs: DataFrame) -> DataFrame:
    """Deterministic mojibake-seeded view for the repair gate (the
    synthetic corpus is pure ASCII, where repair is a no-op). doc_id %
    3 == 0 appends the BROKEN snippet (repair must recover the clean
    form exactly); doc_id % 3 == 1 appends mojibake mixed with a real
    em dash (the guard must refuse — re-encoding would corrupt the
    dash); doc_id % 3 == 2 stays untouched (was_fixed must be 0)."""
    did = F.col("doc_id").cast("long")
    return docs.filter(F.col("text").isNotNull()).select(
        did.alias("doc_id"),
        F.when(
            did % 3 == 0, F.concat(F.col("text"), F.lit(MOJI_SNIPPET_BROKEN))
        )
        .when(
            did % 3 == 1, F.concat(F.col("text"), F.lit(MOJI_MIXED_BROKEN))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


# Chars the Latin-1 re-encode can represent (code points <= U+00FF).
# Spark 4's strict charset `encode` THROWS (MALFORMED_CHARACTER_CODING)
# on anything above instead of substituting '?', so this guard must
# hold BEFORE the transcode runs (it sits inside the CASE WHEN).
MOJI_LATIN1_SAFE_RE = "^[\\x00-\\xff]*$"
# Full valid-UTF-8 grammar (RFC 3629) over the byte-mirrored chars: a
# match guarantees the UTF-8 decode of the Latin-1 re-encode neither
# errors under Spark 4's strict decode nor emits U+FFFD.
MOJI_UTF8_VALID_RE = (
    "^(?:[\\x00-\\x7f]"
    "|[\\xc2-\\xdf][\\x80-\\xbf]"
    "|\\xe0[\\xa0-\\xbf][\\x80-\\xbf]"
    "|[\\xe1-\\xec][\\x80-\\xbf]{2}"
    "|\\xed[\\x80-\\x9f][\\x80-\\xbf]"
    "|[\\xee-\\xef][\\x80-\\xbf]{2}"
    "|\\xf0[\\x90-\\xbf][\\x80-\\xbf]{2}"
    "|[\\xf1-\\xf3][\\x80-\\xbf]{3}"
    "|\\xf4[\\x80-\\x8f][\\x80-\\xbf]{2})*$"
)


def fix_mojibake(docs: DataFrame) -> DataFrame:
    """ftfy-style encoding repair: detect UTF-8-read-as-Latin-1 mojibake
    and invert it with a REAL transcode — ``decode(encode(text,
    'ISO-8859-1'), 'UTF-8')``, both JVM built-ins — guarded so only
    provably-lossless repairs apply. Spark 4's charset functions are
    STRICT — they throw on unmappable input rather than substituting —
    so both guards are regex PROOFS evaluated before the transcode,
    which runs lazily inside the CASE WHEN branch:

    - detect: text matches the mojibake lead-byte pattern (Ã followed
      by a continuation-range char);
    - lossless-encode guard: every char is <= U+00FF
      (MOJI_LATIN1_SAFE_RE), so the Latin-1 re-encode is exact — a row
      mixing real Unicode (em dash) with mojibake fails it and is
      refused (ftfy's fix-only-if-certain stance);
    - valid-decode guard: the byte-mirrored chars match the full RFC
      3629 UTF-8 grammar (MOJI_UTF8_VALID_RE), so the decode can
      neither error nor emit U+FFFD — a stray lead/continuation byte
      is refused.

    Returns (doc_id, fixed, was_fixed, n_chars_before, n_chars_after).
    Scale shape: a pure JVM projection (regexp test + charset
    round-trip), zero shuffles, composes into the curation scan next to
    normalize_text/pii_redact. One pass (double-encoded mojibake needs
    iteration-to-fixpoint; run the operator twice for that)."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    text = F.col("text")
    was_fixed = (
        text.rlike(MOJI_DETECT_RE)
        & text.rlike(MOJI_LATIN1_SAFE_RE)
        & text.rlike(MOJI_UTF8_VALID_RE)
    )
    fixed = F.when(
        was_fixed, F.decode(F.encode(text, "ISO-8859-1"), "UTF-8")
    ).otherwise(text)
    return base.select(
        "doc_id",
        fixed.alias("fixed"),
        was_fixed.cast("long").alias("was_fixed"),
        F.length(text).cast("long").alias("n_chars_before"),
        F.length(fixed).cast("long").alias("n_chars_after"),
    )


def seed_mojibake_cte(src: str = "documents", out: str = "mjdocs") -> str:
    """SQL twin of seed_mojibake, carrying the clean ground truth."""
    return f"""{out} AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || '{MOJI_SNIPPET_BROKEN}'
              WHEN doc_id % 3 = 1 THEN text || '{MOJI_MIXED_BROKEN}'
              ELSE text END AS text,
         CASE WHEN doc_id % 3 = 0 THEN text || '{MOJI_SNIPPET_CLEAN}'
              WHEN doc_id % 3 = 1 THEN text || '{MOJI_MIXED_BROKEN}'
              ELSE text END AS expected
  FROM {src} WHERE text IS NOT NULL
)"""


# The oracle states the REPAIR CONTRACT over the seeded view: seeded
# mojibake rows come back exactly clean (the snippet constants were
# derived through Python's codec tables; the engine runs the JVM
# charset round-trip — two independent implementations must agree),
# mixed rows and untouched rows pass through byte-identical.
FIX_MOJIBAKE_SQL = f"""
WITH {seed_mojibake_cte()}
SELECT doc_id, expected AS fixed,
       CAST(doc_id % 3 = 0 AS BIGINT) AS was_fixed,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length(expected) AS BIGINT) AS n_chars_after
FROM mjdocs
"""


# ---------------------------------------------------------------------------
# 19. URL filtering (RefinedWeb stage 1: blocklist / score / canonical dedup)
# ---------------------------------------------------------------------------

URL_BLOCKLIST = ["spam-mirror.biz", "link-farm.net"]
URL_BANNED_EXT_RE = r"\.(exe|zip|rar|apk|dmg|iso)$"
URL_BADWORDS = ["casino", "gambling", "bonus-codes"]


def seed_urls(docs: DataFrame) -> DataFrame:
    """Deterministic (doc_id, url) view for the URL-filter gate (the
    corpus has a `source` but no URL column). Five classes by doc_id %
    5: 0 = clean article URL on the source's host; 1 = blocklisted
    domain; 2 = banned binary extension; 3 = badword path tokens; 4 =
    clean content behind tracking params + mixed-case host + fragment —
    and within class 4, doc_id % 10 == 9 repeats the path of doc_id-5,
    so canonicalization must expose the pair as URL duplicates."""
    did = F.col("doc_id").cast("long")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    m5 = did % 5
    path_id = F.when(did % 10 == 9, did - 5).otherwise(did)
    return docs.select(
        did.alias("doc_id"),
        F.when(
            m5 == 0,
            F.concat(F.lit("https://"), host, F.lit("/articles/"), did),
        )
        .when(
            m5 == 1,
            F.concat(
                F.lit("https://spam-mirror.biz/mirror/"), did
            ),
        )
        .when(
            m5 == 2,
            F.concat(F.lit("https://"), host, F.lit("/files/"), did,
                     F.lit(".exe")),
        )
        .when(
            m5 == 3,
            F.concat(F.lit("https://"), host,
                     F.lit("/casino-gambling/"), did),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://Dup.Example.COM/posts/"), path_id,
                F.lit("?utm_source=feed&utm_medium=rss#frag"),
            )
        )
        .alias("url"),
    )


def url_filter(urls: DataFrame) -> DataFrame:
    """RefinedWeb-style URL-level curation (Penedo et al. 2023 §3.1),
    the cheapest filter in the pipeline because it runs BEFORE any
    fetch/extract work:

    - parse host/path with Spark's JVM ``parse_url`` (the DuckDB oracle
      re-derives them with regexes — two independent URL parsers must
      agree on the seeded corpus);
    - reject by blocklisted domain (tiny broadcast join — the real
      artifact is ~5M domains, still broadcast-sized), banned binary
      extension, or badword hits scored over the full URL;
    - canonicalize (lowercased host, path only — query/fragment
      dropped) and dedup by canonical URL, keeping the smallest doc_id.

    Returns (doc_id, url, host, norm_url, n_badwords, reject_reason,
    is_dup, keep). Scale shape: one projection + a broadcast blocklist
    join + ONE exchange on norm_url (partitioned window min — group
    sizes are per-URL, bounded); composes before the extraction scan so
    rejected URLs are never fetched."""
    spark = urls.sparkSession
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    badhits = None
    for w in URL_BADWORDS:
        hit = F.lower(F.col("url")).contains(F.lit(w)).cast("long")
        badhits = hit if badhits is None else badhits + hit
    block = spark.createDataFrame(
        [(d,) for d in URL_BLOCKLIST], "bad_host string"
    )
    base = (
        urls.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "url",
            host.alias("host"),
            F.concat(F.lit("https://"), host, path).alias("norm_url"),
            badhits.alias("n_badwords"),
            path.alias("_path"),
        )
        .join(
            F.broadcast(block),
            F.col("host") == F.col("bad_host"),
            "left",
        )
        .select(
            "doc_id",
            "url",
            "host",
            "norm_url",
            "n_badwords",
            F.when(F.col("bad_host").isNotNull(), F.lit("blocklist"))
            .when(
                F.col("_path").rlike(URL_BANNED_EXT_RE), F.lit("extension")
            )
            .when(F.col("n_badwords") > 0, F.lit("badwords"))
            .alias("reject_reason"),
        )
    )
    w_url = Window.partitionBy("norm_url")
    keeper = F.min("doc_id").over(w_url)
    return base.select(
        "doc_id",
        "url",
        "host",
        "norm_url",
        "n_badwords",
        "reject_reason",
        (F.col("doc_id") != keeper).cast("long").alias("is_dup"),
        (
            F.col("reject_reason").isNull() & (F.col("doc_id") == keeper)
        ).cast("long").alias("keep"),
    )


def seed_urls_cte(src: str = "documents", out: str = "udocs") -> str:
    """SQL twin of seed_urls."""
    return f"""{out} AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN 'https://' || source || '.example.com/articles/' || doc_id
              WHEN doc_id % 5 = 1
              THEN 'https://spam-mirror.biz/mirror/' || doc_id
              WHEN doc_id % 5 = 2
              THEN 'https://' || source || '.example.com/files/' || doc_id
                   || '.exe'
              WHEN doc_id % 5 = 3
              THEN 'https://' || source || '.example.com/casino-gambling/'
                   || doc_id
              ELSE 'HTTPS://Dup.Example.COM/posts/'
                   || CASE WHEN doc_id % 10 = 9 THEN doc_id - 5
                           ELSE doc_id END
                   || '?utm_source=feed&utm_medium=rss#frag' END AS url
  FROM {src}
)"""


URL_FILTER_SQL = f"""
WITH {seed_urls_cte()},
uparse AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
         CAST({" + ".join(
            f"CASE WHEN contains(lower(url), '{w}') THEN 1 ELSE 0 END"
            for w in URL_BADWORDS
         )} AS BIGINT) AS n_badwords
  FROM udocs
),
uflag AS (
  SELECT doc_id, url, host,
         'https://' || host || path AS norm_url,
         n_badwords,
         CASE WHEN host IN ({", ".join(f"'{d}'" for d in URL_BLOCKLIST)})
              THEN 'blocklist'
              WHEN regexp_matches(path, '{URL_BANNED_EXT_RE}')
              THEN 'extension'
              WHEN n_badwords > 0 THEN 'badwords' END AS reject_reason
  FROM uparse
)
SELECT doc_id, url, host, norm_url, n_badwords, reject_reason,
       CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY norm_url) AS BIGINT)
         AS is_dup,
       CAST(reject_reason IS NULL
            AND doc_id = MIN(doc_id) OVER (PARTITION BY norm_url)
            AS BIGINT) AS keep
FROM uflag
"""
