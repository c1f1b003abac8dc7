"""Unit tests for the C4 heuristic filters (curation.c4_filters,
Raffel et al. 2020 §2.2) on hand corpora — the oracle-parity sweep
covers the seeded sf0.001/sf0.01 gate; these pin each rule's semantics
and the zero-shuffle plan shape."""

from __future__ import annotations

from gpt4ocontentextraction_spark.operators import curation


GOOD = "one two three four five six."  # passes every line rule


def _run(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r for r in curation.c4_filters(docs).collect()}


def test_line_rules_isolated(spark):
    got = _run(
        spark,
        [
            # each doc: 3 GOOD lines + one line violating exactly 1 rule
            (1, "\n".join([GOOD, GOOD, GOOD, "one two three four five"])),
            (2, "\n".join([GOOD, GOOD, GOOD, "too short."])),
            (3, "\n".join([GOOD, GOOD, GOOD,
                           "please enable JavaScript to continue."])),
            (4, "\n".join([GOOD, GOOD, GOOD])),  # all pass
        ],
    )
    for d in (1, 2, 3, 4):
        assert got[d]["keep"] == 1
        assert got[d]["cleaned"] == "\n".join([GOOD] * 3)
    assert (got[1]["n_nopunct"], got[1]["n_short"], got[1]["n_js"]) == (1, 0, 0)
    assert (got[2]["n_nopunct"], got[2]["n_short"], got[2]["n_js"]) == (0, 1, 0)
    assert (got[3]["n_nopunct"], got[3]["n_short"], got[3]["n_js"]) == (0, 0, 1)
    assert got[4]["n_lines"] == got[4]["n_kept"] == 3


def test_terminal_punctuation_variants(spark):
    got = _run(
        spark,
        [
            (1, "does it end in a question mark?"),
            (2, "it ends with a bang one two!"),
            (3, 'he said "quote words one two three"'),
            (4, "trailing whitespace is trimmed first six words.   "),
        ],
    )
    for d in (1, 2, 3, 4):
        assert got[d]["n_nopunct"] == 0, d
        assert got[d]["n_kept"] == 1, d


def test_document_rules(spark):
    three = "\n".join([GOOD, GOOD, GOOD])
    got = _run(
        spark,
        [
            (1, "\n".join([GOOD, GOOD])),  # < 3 kept lines
            (2, three + "\nsome Lorem Ipsum filler text here."),
            (3, three + "\nif (x) { return y; } end of line."),
            (4, three),
        ],
    )
    assert (got[1]["keep"], got[1]["cleaned"]) == (0, "")
    # lorem/brace poison both documents even though the lines pass
    assert (got[2]["keep"], got[2]["cleaned"]) == (0, "")
    assert (got[3]["keep"], got[3]["cleaned"]) == (0, "")
    assert (got[4]["keep"], got[4]["cleaned"]) == (1, three)
    # blank lines count against both punctuation and length rules
    got2 = _run(spark, [(9, GOOD + "\n\n" + GOOD)])
    assert got2[9]["n_nopunct"] == 1 and got2[9]["n_short"] == 1
    assert got2[9]["n_kept"] == 2


def test_null_text_dropped(spark):
    got = _run(spark, [(1, None), (2, GOOD)])
    assert set(got) == {2}


def test_seeded_gate_fires_every_rule(spark):
    """The sf0.001 seeded gate must exercise all rules non-degenerately
    (the embedding_neardup lesson: a gate that only proves emptiness
    proves nothing)."""
    from gpt4ocontentextraction_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    res = curation.c4_filters(
        curation.seed_c4(dedup.reflow_lines(docs))
    ).collect()
    keeps = {r["keep"] for r in res}
    assert keeps == {0, 1}
    assert sum(r["n_nopunct"] for r in res) > 0
    assert sum(r["n_short"] for r in res) > 0
    assert sum(r["n_js"] for r in res) > 0
    assert any(
        r["keep"] == 0 and r["n_kept"] >= curation.C4_MIN_KEPT_LINES
        for r in res
    )  # some docs die on the lorem/brace DOCUMENT rules specifically


def test_plan_zero_exchange(spark):
    """Every rule is doc-local: the operator must stay one codegen'd
    projection — no Exchange, no Python (BatchEvalPython/ArrowEval)."""
    docs = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    plan = (
        curation.c4_filters(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_fused_kernel_equals_oracle(spark, tmp_path):
    """The gate's fused Arrow kernel must equal its DuckDB oracle
    (C4_FILTERS_SQL) row for row — on the seeded sf0.001 gate corpus AND
    on a hand frame hitting every rule edge (empty text, embedded newline
    inside a raw word, poison-doc ids, NULL and negative ids,
    non-ASCII case and trim)."""
    import pyarrow as pa
    from oracle_spec import run_both, write_tables

    got, want = run_both(spark, "c4_filters", "/root/testdata/sf0.001")
    assert got == want and len(got) > 0

    words = " ".join(f"w{i}" for i in range(40))  # four reflowed lines
    hand = [
        (0, ""),  # empty text; also the %37 poison id
        (3, None),  # dropped
        (44, "word with\nnewline inside plus more words here"),
        (85, "x " * 40),  # %41==3 poison id, trailing-space words
        (7, "a"),
        # NULL and negative ids: the JVM's % takes the dividend's
        # sign (-38 % 41 is 3 in Python, -38 on the JVM)
        (None, words),
        (-1, words),
        (-4, words),
        (-38, words),
        # non-ASCII: 'İ' lower-cases to two code points; U+00A0 is
        # neither trimmed nor a word separator (line 0 of id 57 is
        # left unseeded and ends in '.' + U+00A0)
        (50, "İ " + words + " JAVASCRİPT LOREM İPSUM"),
        (57, words.replace("w11", "w11.\xa0").replace("w30 ", "w30\xa0")),
        (52, words + " JAVASCRIPT"),  # upper case is still javascript
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in hand], pa.int64()),
            "text": pa.array([r[1] for r in hand], pa.string()),
        }
    )
    got, want = run_both(
        spark, "c4_filters", write_tables(tmp_path, {"documents": table})
    )
    assert got == want and len(got) == 11
    cols = ("cleaned", "doc_id", "keep", "n_js", "n_kept", "n_lines",
            "n_nopunct", "n_short")  # run_both sorts columns by name
    by_id = {r[1]: dict(zip(cols, r)) for r in got}
    # the JVM semantics both sides follow: 'İ' lower-cases to 'i' +
    # U+0307, so JAVASCRİPT / LOREM İPSUM trip no rule ...
    assert (by_id[50]["keep"], by_id[50]["n_js"]) == (1, 0)
    # ... and trim strips U+0020 only, so line 0 of id 57 ('w11.' +
    # U+00A0) is not punctuation-terminated
    assert by_id[57]["n_nopunct"] == 2


def test_fused_plan_zero_exchange(spark):
    """The fused arm stays shuffle-free: one ArrowEvalPython
    projection, no Exchange, no joins."""
    docs = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    plan = (
        curation.c4_filters_fused(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan
