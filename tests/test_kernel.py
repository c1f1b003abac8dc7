"""Golden tests for the extraction kernel (no Spark): each case runs the
Arrow kernel and checks the DuckDB oracle emits the same spans."""

from __future__ import annotations

from extraction_spec import extract_both, extract_document


def span(kind, text="", media_ref="", offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def out(kind, text="", media_ref="", offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def test_empty():
    assert extract_document([]) == []


def test_offset_sort_and_headings():
    got = extract_document(
        [
            span("text", "body", offset=1),
            span("heading1", "Title", offset=0),
            span("heading2", "Sub", offset=2),
        ]
    )
    assert got == [
        out("heading", "# Title", offset=0),
        out("text", "body", offset=1),
        out("heading", "## Sub", offset=2),
    ]


def test_boilerplate_kinds_dropped():
    got = extract_document(
        [
            span("nav", "menu", offset=0),
            span("text", "keep me please", offset=1),
            span("ad", "BUY", offset=2),
            span("footer", "(c)", offset=3),
            span("script", "var x", offset=4),
        ]
    )
    assert got == [out("text", "keep me please", offset=0)]


def test_link_density_drop():
    dense = "[a](http://x) [b](http://y)"
    sparse = "see [the docs](http://d) for much much more detail here"
    got = extract_document(
        [span("text", dense, offset=0), span("text", sparse, offset=1)]
    )
    assert got == [out("text", sparse, offset=0)]


def test_blank_text_dropped():
    got = extract_document([span("text", "  ", offset=0), span("text", "x y z", offset=1)])
    assert got == [out("text", "x y z", offset=0)]


def test_two_column_reading_order():
    got = extract_document(
        [
            span("heading1", "T", offset=0),
            span("column_left", "L1", offset=1),
            span("column_right", "R1", offset=2),
            span("column_left", "L2", offset=3),
            span("column_right", "R2", offset=4),
            span("page_break", "||1||", offset=5),
            span("column_left", "P2L", offset=6),
            span("column_right", "P2R", offset=7),
        ]
    )
    assert [s["text"] for s in got] == [
        "# T", "L1", "L2", "R1", "R2", "||1||", "P2L", "P2R",
    ]
    assert [s["offset"] for s in got] == list(range(8))


def test_table_run_collapse():
    got = extract_document(
        [
            span("table_row", "h1\th2", offset=0),
            span("table_row", "a\tb", offset=1),
            span("text", "between", offset=2),
            span("table_row", "x\ty\tz", offset=3),
        ]
    )
    assert got == [
        out("table", "| h1 | h2 |\n| --- | --- |\n| a | b |", offset=0),
        out("text", "between", offset=1),
        out("table", "| x | y | z |\n| --- | --- | --- |", offset=2),
    ]


def test_table_merges_across_dropped_boilerplate():
    got = extract_document(
        [
            span("table_row", "h", offset=0),
            span("nav", "menu", offset=1),
            span("table_row", "v", offset=2),
        ]
    )
    assert got == [out("table", "| h |\n| --- |\n| v |", offset=0)]


def test_media_spans():
    got = extract_document(
        [
            span("chart", "Revenue", "media://d/0", offset=0),
            span("figure", "", "media://d/1", offset=1),
        ]
    )
    assert got == [
        out("media", "Revenue", "media://d/0", offset=0),
        out("media", "", "media://d/1", offset=1),
    ]


def test_multi_doc_batch_independence():
    got, oracle = extract_both(
        [
            {"doc_id": "a", "spans": [span("table_row", "a")]},
            {"doc_id": "b", "spans": [span("table_row", "b")]},
        ]
    )
    assert got == oracle
    # table runs must NOT merge across documents
    assert [[s["kind"] for s in d["spans"]] for d in got] == [
        ["table"], ["table"]
    ]


# --- step 4c: per-page text-density strip ----------------------------------


def _words(n, tag="w"):
    return " ".join(f"{tag}{i}" for i in range(n))


def test_density_drops_short_chrome_block():
    # page mean = (8+8+8+1)/4 = 6.25; the 1-word crumb (2*1*4=8 < 25) drops
    got = extract_document(
        [
            span("text", _words(8, "a"), offset=0),
            span("text", _words(8, "b"), offset=1),
            span("text", "Home", offset=2),
            span("text", _words(8, "c"), offset=3),
        ]
    )
    assert [g["text"] for g in got] == [
        _words(8, "a"), _words(8, "b"), _words(8, "c")
    ]


def test_density_uniform_page_untouched():
    # all blocks equal => 2*wc*m == 2*W > W, nothing drops
    got = extract_document(
        [span("text", _words(3, f"t{i}"), offset=i) for i in range(4)]
    )
    assert len(got) == 4


def test_density_single_block_page_untouched():
    got = extract_document([span("text", "hi", offset=0)])
    assert [g["text"] for g in got] == ["hi"]


def test_density_is_per_page_not_per_document():
    # 'Home' sits alone with one long block on page 2: mean=(1+9)/2=5,
    # 2*1*2=4 < 10 => drops there; but as the only text block on page 1
    # (heading is not a text kind) it survives.
    kept = extract_document(
        [
            span("heading1", "T", offset=0),
            span("text", "Home", offset=1),
            span("page_break", "||1||", offset=2),
            span("text", _words(9), offset=3),
        ]
    )
    assert [g["text"] for g in kept] == ["# T", "Home", "||1||", _words(9)]
    dropped = extract_document(
        [
            span("text", "Home", offset=0),
            span("text", _words(9), offset=1),
        ]
    )
    assert [g["text"] for g in dropped] == [_words(9)]


def test_density_ignores_non_text_kinds():
    # a short table row next to long text blocks is NOT density-dropped
    got = extract_document(
        [
            span("text", _words(9, "a"), offset=0),
            span("table_row", "x\ty", offset=1),
            span("text", _words(9, "b"), offset=2),
        ]
    )
    assert [g["kind"] for g in got] == ["text", "table", "text"]


def test_density_stats_exclude_link_dense_and_blank_blocks():
    # the blank and link-dense blocks are dropped in 4a/4b and must not
    # depress the page mean: remaining blocks are 4,4 words => uniform
    got = extract_document(
        [
            span("text", _words(4, "a"), offset=0),
            span("text", "   ", offset=1),
            span("text", "[x](http://y) [z](http://w)", offset=2),
            span("text", _words(4, "b"), offset=3),
        ]
    )
    assert [g["text"] for g in got] == [_words(4, "a"), _words(4, "b")]


def test_null_text_normalizes_like_arrow_wrapper():
    """NULL text/media_ref read as "" (the contract extract.py::_flatten
    enforces via fill_null), not a crash in the density stats. A NULL kind
    drops its span in both the kernel and the oracle (the oracle's
    ``kind NOT IN (...)`` is NULL for it)."""
    spans = [
        span("text", "real words here now", None, offset=0),
        span("text", None, offset=1),
        span(None, "more words arrive", offset=2),
    ]
    blanked = [
        {k: "" if v is None else v for k, v in s.items()} for s in spans[:2]
    ]
    assert extract_document(spans) == extract_document(blanked)
