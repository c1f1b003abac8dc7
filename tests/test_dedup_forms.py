"""Dedup operator forms: the SimHash kernels and the MinHash encoder
against their specs, n-gram span/range semantics on hand cases, and the
dedup-cluster arms."""

from __future__ import annotations

from oracle_spec import run_both, write_tables

from gpt4ocontentextraction_spark.operators import dedup

SF = "/root/testdata/sf0.001"


def test_simhash_forms_equal(spark):
    """The 32- and 64-bit SimHash kernels equal their DuckDB oracles
    (SIMHASH_FP_SQL / SIMHASH64_FP_SQL) on the gate corpus, one
    fingerprint per document."""
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    for name in ("simhash_fingerprints", "simhash64_fingerprints"):
        got, want = run_both(spark, name, SF)
        assert got == want
        assert len(got) == n_docs


def test_simhash_empty_text_is_zero(spark, tmp_path):
    import pyarrow as pa

    table = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": ["", "alpha beta"],
        }
    )
    sf = write_tables(tmp_path, {"documents": table})
    got, want = run_both(spark, "simhash_fingerprints", sf)
    assert got == want
    # all vote sums negative -> every bit 0 (columns sorted: doc_id, simhash)
    assert dict(got)[1] == 0


def test_minhash_vectorized_equals_expr_spec(spark):
    """The numpy encoder (production path) must produce exactly the pairs
    of the JVM-lambda spec form (VERDICT r2 finding #5)."""
    from gpt4ocontentextraction_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_expr,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(tuple(r) for r in minhash_lsh_pairs(docs).collect())
    b = sorted(tuple(r) for r in minhash_lsh_pairs_expr(docs).collect())
    assert a and a == b


def test_minhash_null_text_parity_with_expr_spec(spark):
    """NULL document text must flow through the vectorized encoder with
    the expression spec's semantics, not crash the pandas UDF. The spec
    (ANSI): sh = [NULL], minhashes coalesce to the MOD sentinel, so null
    docs pair with EACH OTHER at jaccard 1.0 (array_intersect of [null]
    with [null]) but never with real docs."""
    from gpt4ocontentextraction_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_expr,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "the quick brown fox jumps over the dog"),
            (3, None),
            (4, None),
            (5, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in minhash_lsh_pairs(docs).collect())
    b = sorted(tuple(r) for r in minhash_lsh_pairs_expr(docs).collect())
    assert a == b
    assert (3, 4, 1.0) in a  # null docs are mutual duplicates
    assert not any(  # ...but never pair with real docs
        (3 in p[:2] or 4 in p[:2]) and (1 in p[:2] or 5 in p[:2]) for p in a
    )


def test_simhash64_all_bits_vary(spark):
    """Fingerprint bits 31 and 63 must be real functions of the text:
    both word polyhashes are 31-bit values, so without the mix hash
    (_simhash_kernel_udf) those two positions are constant zero and two
    of the four 16-bit bands silently halve their key space."""
    from gpt4ocontentextraction_spark.operators.dedup import (
        simhash64_fingerprints,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fps = [r["simhash64"] for r in simhash64_fingerprints(docs).collect()]
    for j in (31, 63):
        assert {(fp >> j) & 1 for fp in fps} == {0, 1}, f"bit {j} is dead"


def test_duplicated_ngram_spans_hand_case(spark):
    """Two docs sharing one exact 8-gram: exactly those two positions are
    flagged (cnt=2); every other position's gram is unique. A doc
    shorter than n yields no grams at all; null text drops out."""
    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"x {shared} y"),
            (2, f"{shared} z z z"),
            (3, "too short"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = dedup.duplicated_ngram_spans(docs, n=8, min_count=2).collect()
    got = sorted((r["doc_id"], r["pos"], r["gram"], r["cnt"]) for r in rows)
    assert got == [(1, 1, shared, 2), (2, 0, shared, 2)]


def test_duplicated_ranges_merges_runs(spark):
    """Overlapping flagged grams merge into one maximal range; disjoint
    repeats in the same doc yield separate ranges."""
    shared = "a b c d e f g h i"  # 9 words -> two overlapping 8-grams
    other = "p q r s t u v w"     # 8 words -> one 8-gram
    docs = spark.createDataFrame(
        [
            (1, f"{shared} gap1 gap2 gap3 {other}"),
            (2, f"{shared} tail"),
            (3, other),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"], r["n_grams"])
        for r in dedup.duplicated_ranges(docs, n=8, min_count=2).collect()
    )
    # doc 1: words 0..8 duplicated (grams at pos 0,1 merge), then the
    # `other` block at words 12..19 (one gram at pos 12)
    # doc 2: words 0..8; doc 3: words 0..7
    assert rows == [
        (1, 0, 8, 2),
        (1, 12, 19, 1),
        (2, 0, 8, 2),
        (3, 0, 7, 1),
    ]


def test_duplicated_ranges_gap_tolerant_merge(spark):
    """ADVICE r4 #2: flagged positions p and p+2 (gap < n) cover
    overlapping word intervals and must merge into ONE maximal range —
    not two overlapping 'maximal' ranges a consumer would double-mask.
    doc 1 has grams at pos 0 and pos 2 repeated (pos 1's gram is broken
    in the partner doc), so the old strict-adjacency merge would emit
    [0,7] and [2,9]; the gap-tolerant merge emits [0,9]."""
    w = [f"w{i}" for i in range(10)]
    doc1 = " ".join(w)  # grams at pos 0,1,2
    # partner: contains gram(pos0)=w0..w7 and gram(pos2)=w2..w9 but NOT
    # gram(pos1)=w1..w8 (the X breaks it)
    doc2 = " ".join(w[0:8] + ["X"] + w[2:10])
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    flagged = sorted(
        (r["doc_id"], r["pos"])
        for r in dedup.duplicated_ngram_spans(docs, n=8, min_count=2).collect()
    )
    assert flagged == [(1, 0), (1, 2), (2, 0), (2, 9)]
    rows = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"], r["n_grams"])
        for r in dedup.duplicated_ranges(docs, n=8, min_count=2).collect()
    )
    # doc 1: ONE range [0, 9] from positions {0, 2}; doc 2: pos 0 and
    # pos 9 are 9 > n=8 apart -> two ranges
    assert rows == [(1, 0, 9, 2), (2, 0, 7, 1), (2, 9, 16, 1)]


def test_hashed_gram_arm_matches_string_form_and_narrows_exchange(spark):
    """The hashed arm must be row-identical to the string form, and its
    corpus-wide aggregation exchange must partition on the 64-bit gram
    hash (h), with the hash computed JVM-side (xxhash64) before any
    exchange — the string never rides the big shuffle."""
    from gpt4ocontentextraction_spark.plans.inspect import physical_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(
        tuple(r) for r in dedup.duplicated_ngram_spans(docs).collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.duplicated_ngram_spans_hashed(docs).collect()
    )
    assert a == b and len(a) > 0
    p = physical_plan(dedup.duplicated_ngram_spans_hashed(docs))
    assert "xxhash64" in p
    assert "hashpartitioning(h#" in p


def test_duplicated_ranges_multi_unions_lengths(spark):
    """Multi-n merge: a long duplicated passage caught by n=16 extends
    the interval beyond what n=8 alone flags when the 8-gram count dips
    under min_count in part of the span... constructed simply: the n=8
    and n=16 flagged intervals union and overlapping intervals merge."""
    w = [f"w{i}" for i in range(20)]
    long_shared = " ".join(w)  # 20 words: 16-grams at pos 0..4
    docs = spark.createDataFrame(
        [(1, long_shared + " u1"), (2, long_shared + " u2")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"])
        for r in dedup.duplicated_ranges_multi(
            docs, ns=(8, 16), min_count=2
        ).collect()
    )
    # every 8- and 16-gram inside words 0..19 repeats across the docs ->
    # one maximal interval [0, 19] per doc
    assert rows == [(1, 0, 19), (2, 0, 19)]


def test_dedup_clusters_chain_needs_propagation(spark):
    """A near-dup CHAIN a~b~c (a,c NOT directly similar) must land in
    ONE cluster — transitive closure, which takes multiple label-
    propagation iterations — with exactly one keeper, the min doc_id.
    Parity against the recursive-closure oracle on the same corpus."""
    import duckdb

    w = [f"w{i}" for i in range(19)]
    rows = [
        (0, " ".join(w[1:13])),   # w1..w12
        (1, " ".join(w[3:15])),   # w3..w14: J(0,1)=8/12 >= 0.6
        (2, " ".join(w[5:17])),   # w5..w16: J(1,2)=8/12, J(0,2)=6/14 < 0.6
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in dedup.dedup_clusters(docs).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(con.execute(dedup.DEDUP_CLUSTERS_SQL).fetchall())
    assert got == want
    # transitive closure: every node (3 docs + 3 variants) in ONE
    # cluster rooted at doc 0, exactly one keeper
    assert {c for _, c, _ in got} == {0}
    assert [(d, k) for d, c, k in got if k == 1] == [(0, 1)]


def test_dedup_clusters_driver_arm_equals_distributed(spark):
    """The size-gated driver union-find arm and the iterative
    min-label-propagation loop must produce identical labelings
    (pair_budget=0 forces the distributed loop; the default takes the
    driver arm at test scale)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fast = sorted(
        tuple(r) for r in dedup.dedup_clusters(docs).collect()
    )
    slow = sorted(
        tuple(r)
        for r in dedup.dedup_clusters(docs, pair_budget=0).collect()
    )
    assert fast == slow and len(fast) > 0
    # non-trivial: at least one multi-member cluster exists
    assert any(k == 0 for _, _, k in fast)


def test_dedup_clusters_arms_agree_on_large_ids(spark):
    """Two near-duplicate documents with ids 5e18 and 5e18 + 1: the
    distributed arm's label-sum convergence check must not overflow
    (it sums as DECIMAL(38,0)), and both arms label one cluster per id
    pair (each document and its variant) rooted at the smaller id."""
    big = 5 * 10**18
    w = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(big, " ".join(w)), (big + 1, " ".join(w[:11] + ["x"]))],
        "doc_id long, text string",
    )
    fast = sorted(tuple(r) for r in dedup.dedup_clusters(docs).collect())
    slow = sorted(
        tuple(r)
        for r in dedup.dedup_clusters(docs, pair_budget=0).collect()
    )
    assert fast == slow
    assert {d for d, _, _ in fast} == {
        big, big + 1, big + 1_000_000, big + 1_000_001
    }
    assert [d for d, _, k in fast if k == 1] == [big]


def test_dedup_cut_removes_merged_ranges(spark):
    """Cutting uses the gap-merged ranges: doc 1's whole text lies in
    the single merged interval [0,9] (cleaned -> ''), doc 2 keeps only
    the breaker word at pos 8 between its two ranges [0,7] and [9,16]."""
    w = [f"w{i}" for i in range(10)]
    doc1 = " ".join(w)
    doc2 = " ".join(w[0:8] + ["X"] + w[2:10])
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["cleaned"] for r in dedup.dedup_cut(docs).collect()}
    assert got == {1: "", 2: "X"}
