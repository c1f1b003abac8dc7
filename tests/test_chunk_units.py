"""Focused unit checks on the chunkers' 8192/820 window math and title
carry (C3 contract, docker/main.py:50-51,502-539 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gpt4ocontentextraction_spark.fixtures import corpus_to_spark, make_corpus
from gpt4ocontentextraction_spark.operators.chunk import (
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    markdown_chunks,
    page_chunks,
)
from gpt4ocontentextraction_spark.operators.extract import extract


def _chunks(spark, classes):
    pdf, _ = make_corpus(seed=99, docs_per_class=3, classes=classes)
    return markdown_chunks(extract(corpus_to_spark(spark, pdf))).collect()


def _raw(c):
    """Window text after the reference's '||pg-1||\\n{last_heading}\\n'
    prefix (docker/main.py:521)."""
    return c["content"].split("\n", 2)[2]


def test_markdown_chunk_window_math(spark):
    rows = _chunks(spark, ("docx_headings",))
    assert rows
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r["file_name"], []).append(r)
    saw_split = False
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        # ids dense from 0
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            prefix = f"||{c['pg_number'] - 1}||\n{c['title']}\n"
            assert c["content"].startswith(prefix)
            assert len(_raw(c)) <= CHUNK_SIZE
            assert c["chunk_doc_id"] == f"{doc}-{c['chunk_id']}"
        # at least one full window whose successor repeats the 820-char
        # overlap (consecutive windows of one section)
        for a, b in zip(chunks, chunks[1:]):
            ra, rb = _raw(a), _raw(b)
            if len(ra) == CHUNK_SIZE and rb[:CHUNK_OVERLAP] == ra[-CHUNK_OVERLAP:]:
                saw_split = True
    assert saw_split, "fixture should force at least one 8192/820 split"


def test_title_lags_one_chunk(spark):
    """Reference semantics: title/prefix use last_heading BEFORE the
    current chunk updates it (docker/main.py:521,535-537)."""
    rows = _chunks(spark, ("docx_headings",))
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r["file_name"], []).append(r)
    saw_heading = False
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert chunks[0]["title"] == ""  # nothing carried yet
        for a, b in zip(chunks, chunks[1:]):
            h1s = [ln for ln in _raw(a).split("\n") if ln.startswith("# ")]
            expected = h1s[-1] if h1s else a["title"]
            assert b["title"] == expected
            if h1s:
                saw_heading = True
        for c in chunks:
            assert c["title"] == "" or c["title"].startswith("# ")
    assert saw_heading, "fixture should contain level-1 headings"


def test_separator_mode_cuts_on_separators(spark):
    """Separator mode: non-final windows end at a newline/space inside the
    overlap tail when one exists, overlap is exactly CHUNK_OVERLAP, and
    window sizes stay in (STRIDE, CHUNK_SIZE]."""
    from gpt4ocontentextraction_spark.operators.chunk import (
        markdown_chunks_separator,
    )

    pdf, _ = make_corpus(seed=99, docs_per_class=3, classes=("docx_headings",))
    rows = markdown_chunks_separator(
        extract(corpus_to_spark(spark, pdf))
    ).collect()
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r["file_name"], []).append(r)
    saw_cut = False
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r["chunk_id"])
        for a, b in zip(chunks, chunks[1:]):
            ra, rb = _raw(a), _raw(b)
            if len(ra) <= CHUNK_SIZE - CHUNK_OVERLAP:
                continue  # a ended its section; b starts a new one
            if rb[:CHUNK_OVERLAP] == ra[-CHUNK_OVERLAP:]:
                # same-section consecutive windows: exact 820 overlap and
                # a separator-aligned cut (fixture text contains spaces)
                saw_cut = True
                assert CHUNK_SIZE - CHUNK_OVERLAP < len(ra) <= CHUNK_SIZE
                assert ra[-1] in ("\n", " ")
    assert saw_cut, "fixture should force at least one separator cut"


def test_page_chunks_marker_prefix(spark):
    pdf, _ = make_corpus(seed=17, docs_per_class=3, classes=("pptx_slides",))
    rows = page_chunks(extract(corpus_to_spark(spark, pdf))).collect()
    assert rows
    for r in rows:
        assert r["content"].startswith(f"||{r['pg_number']}||\n")
        assert r["title"] is None
        assert r["chunk_id"] == r["pg_number"]


def _py_sep_cuts(content: str) -> list[str]:
    """Python reference of the separator-mode cut recurrence (the same
    hierarchy as operators/chunk.py markdown_chunks_separator)."""
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    out, start = [], 1
    while True:
        if len(content) - start + 1 <= CHUNK_SIZE:
            out.append(content[start - 1:])
            return out
        tail = content[start - 1 + stride: start - 1 + CHUNK_SIZE]
        p2 = tail.rfind("\n\n")
        if p2 >= 0:
            pos = p2 + 1
        else:
            pos = tail.rfind("\n")
            if pos < 0:
                pos = tail.rfind(" ")
            if pos < 0:
                pos = CHUNK_OVERLAP - 1
        cut = start + stride + pos
        out.append(content[start - 1: cut])
        start = cut - CHUNK_OVERLAP + 1


def _paragraphs(word) -> str:
    """140 paragraphs of varying width separated by \\n\\n; the text
    after the last pair in each tail holds lone newlines and spaces, so a
    single-separator implementation would cut elsewhere."""
    paras = []
    for i in range(140):
        words = " ".join(word(i, j) for j in range(40 + (i * 7) % 23))
        paras.append(words + ("\nline2 of para" if i % 3 == 0 else ""))
    return "\n\n".join(paras)


_EXTRACTED_DDL = (
    "doc_id string, spans array<struct<kind string, text string,"
    " media_ref string, offset int>>"
)


def test_separator_mode_prefers_paragraph_breaks(spark):
    """Full hierarchy: a tail containing '\\n\\n' must cut at the LAST
    paragraph break (ending at its second newline), not at a later lone
    newline or space — pinned against a Python reference AND the DuckDB
    recursive-CTE oracle fragment on the same content. Positions count
    code points: the second input puts 'İ', U+00A0 (not a separator) and
    a non-BMP emoji in every cut window."""
    import duckdb

    from gpt4ocontentextraction_spark.oracles import _duck_cut
    from gpt4ocontentextraction_spark.operators.chunk import (
        markdown_chunks_separator,
    )

    ascii_text = _paragraphs(lambda i, j: f"p{i}w{j}")
    assert "\n\n" in ascii_text[7372:8192]
    non_ascii = _paragraphs(
        lambda i, j: f"İ{i}\xa0w{j}\U0001F600" if j % 5 == 0 else f"p{i}w{j}"
    )
    for c in ("İ", "\xa0", "\U0001F600"):
        assert c in non_ascii[CHUNK_SIZE:]
    for content in (ascii_text, non_ascii):
        assert len(content) > 3 * CHUNK_SIZE
        expected = _py_sep_cuts(content)
        assert any(t.endswith("\n\n") for t in expected[:-1])

        # Spark path: wrap the content as one extracted text span
        extracted = spark.createDataFrame(
            [("0", [("text", content, "", 0)])], _EXTRACTED_DDL
        )
        rows = markdown_chunks_separator(extracted).collect()
        got = [_raw(r) for r in sorted(rows, key=lambda r: r["chunk_id"])]
        assert got == expected

        # DuckDB recursive-CTE recurrence on the same content
        con = duckdb.connect()
        con.execute("CREATE TABLE sections AS SELECT ? AS content", [content])
        cut = _duck_cut("content", "start_pos")
        duck = con.execute(f"""
            WITH RECURSIVE cuts AS (
              SELECT content, CAST(1 AS BIGINT) AS start_pos, 0 AS k
              FROM sections
              UNION ALL
              SELECT content, {cut} - 819 AS start_pos, k + 1 AS k
              FROM cuts WHERE length(content) - start_pos + 1 > 8192
            )
            SELECT substr(content, start_pos, {cut} - start_pos + 1) AS t
            FROM cuts ORDER BY k
        """).fetchall()
        assert [r[0] for r in duck] == expected


def test_out_of_offset_order_spans_chunk_like_sorted(spark):
    """The chunk kernel reads a document's spans in offset order, as the
    relational form and the oracles do: spans stored out of order chunk
    exactly like their sorted copy, in every mode."""
    from gpt4ocontentextraction_spark.operators.chunk import (
        markdown_chunks_separator,
    )

    spans = [
        ("heading", "# Title", "", 0),
        ("text", "alpha beta", "", 1),
        ("page_break", "||1||", "", 2),
        ("heading", "## Sub", "", 3),
        ("text", "gamma delta\n" * 1500, "", 4),
        ("page_break", "||2||", "", 5),
        ("text", "epsilon", "", 6),
    ]
    shuffled = [spans[i] for i in (4, 0, 6, 2, 5, 1, 3)]

    def chunks(op, doc_spans):
        # one batch: the document under test next to a sorted one
        df = spark.createDataFrame(
            [("7", doc_spans), ("8", spans)], _EXTRACTED_DDL
        )
        return sorted(map(tuple, op(df).collect()))

    for op in (page_chunks, markdown_chunks, markdown_chunks_separator):
        got = chunks(op, shuffled)
        assert got == chunks(op, spans), op.__name__
        assert len(got) > 4


def test_window_chunks_overlap_and_coverage(spark):
    from gpt4ocontentextraction_spark.operators.chunk import window_chunks

    words = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b")], "doc_id long, text string"
    )
    rows = window_chunks(docs, window=4, stride=2).collect()
    got = sorted((r.doc_id, r.chunk_id, r.content, r.n_words) for r in rows)
    # doc 1: starts 0,2,4,6 — last window [6..9] reaches the end
    assert got == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w2 w3 w4 w5", 4),
        (1, 2, "w4 w5 w6 w7", 4),
        (1, 3, "w6 w7 w8 w9", 4),
        (2, 0, "a b", 2),
    ]


def test_window_chunks_exact_multiple_boundary(spark):
    from gpt4ocontentextraction_spark.operators.chunk import window_chunks

    # 6 words, window 4, stride 2: starts 0 and 2 — start 4 would add
    # nothing new past the end-covering window
    docs = spark.createDataFrame(
        [(3, "a b c d e f")], "doc_id long, text string"
    )
    rows = window_chunks(docs, window=4, stride=2).collect()
    assert sorted((r.chunk_id, r.content) for r in rows) == [
        (0, "a b c d"),
        (1, "c d e f"),
    ]


def test_page_marker_past_int64_is_no_update():
    """A ||N|| marker whose N does not fit int64 leaves pg_number where it
    was, as the oracles' TRY_CAST(... AS BIGINT) does (NULL, so no
    update), instead of raising. Spark-free: the chunk kernel on one Arrow
    batch against DuckDB's expression, in both markdown modes."""
    import duckdb
    import pyarrow as pa

    from gpt4ocontentextraction_spark.operators.chunk import chunk_batches

    markers = (
        "99999999999999999999",
        "9223372036854775807",  # int64 max: fits
        "9223372036854775808",  # one past int64 max
        "000000000000000000000000042",  # 27 digits, TRY_CAST parses it
    )

    def try_cast(text):
        return duckdb.execute(
            "SELECT TRY_CAST(NULLIF(regexp_extract("
            "$1, '\\|\\|(\\d+)\\|\\|', 1), '') AS BIGINT)",
            [text],
        ).fetchone()[0]

    ids, spans = [], []
    for i, m in enumerate(markers):
        ids += [f"{i}", f"{i}-carry"]
        spans += [
            [("text", f"a ||{m}|| b", "", 0)],
            # a fitting marker, then a '# ' section holding marker m
            [
                ("text", "a ||5|| b", "", 0),
                ("heading", "# H", "", 1),
                ("text", f"c ||{m}|| d", "", 2),
            ],
        ]
    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(spans, span_type)], ["doc_id", "spans"]
    )
    wanted = [try_cast(f"a ||{m}|| b") for m in markers]
    assert wanted == [None, 9223372036854775807, None, 42]
    for mode in ("markdown", "separator"):
        got = {
            (r["file_name"], r["chunk_id"]): r["pg_number"]
            for out in chunk_batches(iter([batch]), mode)
            for r in out.to_pylist()
        }
        for i, upd in enumerate(wanted):
            assert got[(f"{i}", 0)] == (1 if upd is None else upd), mode
            assert got[(f"{i}-carry", 0)] == 5
            assert got[(f"{i}-carry", 1)] == (5 if upd is None else upd)
