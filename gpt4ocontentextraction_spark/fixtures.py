"""Deterministic fixture corpus generator (FIXTURES.md classes).

The reference's correctness strategy is fixture documents with known
content (Transforming-Content-with-GPT4o.pptx — 9 pages;
MicrosoftSlidesFY24Q3.pptx — financial charts; see SURVEY.md §5). This
module is the rebuilt analog: a seeded generator that produces synthetic
interleaved text+media documents AND their expected extraction output,
constructed from a ground-truth reading-order plan — independently of the
kernel — then scrambled into the input representation. Golden tests assert
exact span-sequence equality (kind, text, media_ref, order).

No external data; everything derives from the seed.
"""

from __future__ import annotations

import random

import pandas as pd

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu revenue cloud quarter growth margin segment"
).split()

BOILERPLATE_KINDS = ("nav", "footer", "ad", "script")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _pipe_table(rows: list[str]) -> str:
    """Independent re-implementation of the table->pipes spec (test oracle)."""
    lines = []
    for i, row in enumerate(rows):
        cells = row.split("\t")
        lines.append("| " + " | ".join(cells) + " |")
        if i == 0:
            lines.append("| " + " | ".join(["---"] * len(cells)) + " |")
    return "\n".join(lines)


class _DocBuilder:
    """Accumulates (input spans in physical-offset order, expected output)."""

    def __init__(self, doc_id: str):
        self.doc_id = doc_id
        self.inputs: list[dict] = []  # offset assigned at finish
        self.expected: list[dict] = []

    def inp(self, kind: str, text: str = "", media_ref: str = "") -> None:
        self.inputs.append(
            {"kind": kind, "text": text, "media_ref": media_ref}
        )

    def exp(self, kind: str, text: str = "", media_ref: str = "") -> None:
        self.expected.append(
            {"kind": kind, "text": text, "media_ref": media_ref}
        )

    def finish(self, rng: random.Random) -> tuple[dict, dict]:
        for i, s in enumerate(self.inputs):
            s["offset"] = i
        for i, s in enumerate(self.expected):
            s["offset"] = i
        scrambled = list(self.inputs)
        rng.shuffle(scrambled)  # input arrays are NOT presorted (FIXTURES.md)
        return (
            {"doc_id": self.doc_id, "spans": scrambled},
            {"doc_id": self.doc_id, "spans": self.expected},
        )


def _html_boilerplate(b: _DocBuilder, rng: random.Random) -> None:
    b.inp("nav", "home | products | about")
    b.inp("heading1", "Welcome Page")
    b.exp("heading", "# Welcome Page")
    for _ in range(rng.randint(2, 5)):
        t = _words(rng, rng.randint(6, 20))
        b.inp("text", t)
        b.exp("text", t)
        if rng.random() < 0.5:
            # link-dense block: dropped by the density scorer, not by kind.
            b.inp("text", "[click here](http://x) [more](http://y) ok")
        if rng.random() < 0.3:
            b.inp("ad", "BUY NOW " + _words(rng, 3))
    b.inp("script", "var x = 1;")
    b.inp("footer", "(c) 2026 example.com")


def _pdf_two_column(b: _DocBuilder, rng: random.Random) -> None:
    for pg in range(rng.randint(1, 3)):
        title = _words(rng, 4)
        left = [_words(rng, rng.randint(8, 15)) for _ in range(rng.randint(2, 4))]
        right = [_words(rng, rng.randint(8, 15)) for _ in range(rng.randint(2, 4))]
        # ground truth reading order: title, left column fully, then right.
        b.exp("heading", "# " + title)
        for t in left:
            b.exp("text", t)
        for t in right:
            b.exp("text", t)
        b.exp("page_break", f"||{pg + 1}||")
        # physical (offset) order interleaves the columns row-by-row, the
        # way a naive y-sorted PDF text extraction would see them.
        b.inp("heading1", title)
        for i in range(max(len(left), len(right))):
            if i < len(left):
                b.inp("column_left", left[i])
            if i < len(right):
                b.inp("column_right", right[i])
        b.inp("page_break", f"||{pg + 1}||")


def _pdf_table_chart(b: _DocBuilder, rng: random.Random) -> None:
    b.inp("heading1", "Financial Results")
    b.exp("heading", "# Financial Results")
    ncols = rng.randint(2, 4)
    header = "\t".join(f"col{i}" for i in range(ncols))
    rows = [header] + [
        "\t".join(str(rng.randint(0, 999)) for _ in range(ncols))
        for _ in range(rng.randint(2, 5))
    ]
    for r in rows:
        b.inp("table_row", r)
    b.exp("table", _pipe_table(rows))
    caption = "Revenue by segment (" + _words(rng, 2) + ")"
    ref = f"media://{b.doc_id}/chart0"
    b.inp("chart", caption, ref)
    b.exp("media", caption, ref)
    t = _words(rng, 12)
    b.inp("text", t)
    b.exp("text", t)
    fig_ref = f"media://{b.doc_id}/fig1"
    b.inp("figure", "Figure 1", fig_ref)
    b.exp("media", "Figure 1", fig_ref)


def _docx_headings(b: _DocBuilder, rng: random.Random) -> None:
    for sec in range(rng.randint(2, 3)):
        title = f"Section {sec} " + _words(rng, 2)
        b.inp("heading1", title)
        b.exp("heading", "# " + title)
        sub = _words(rng, 3)
        b.inp("heading2", sub)
        b.exp("heading", "## " + sub)
        # long paragraphs so downstream markdown chunking must split
        for _ in range(rng.randint(4, 8)):
            t = _words(rng, rng.randint(120, 260))
            b.inp("text", t)
            b.exp("text", t)


def _pptx_slides(b: _DocBuilder, rng: random.Random) -> None:
    for pg in range(rng.randint(3, 6)):
        title = f"Slide {pg + 1}"
        b.inp("heading1", title)
        b.exp("heading", "# " + title)
        t = _words(rng, rng.randint(5, 12))
        b.inp("text", t)
        b.exp("text", t)
        b.inp("page_break", f"||{pg + 1}||")
        b.exp("page_break", f"||{pg + 1}||")


def _giant_doc(b: _DocBuilder, rng: random.Random) -> None:
    # ~1000x the median span count: skew-defusal fixture (north_rule).
    for pg in range(400):
        b.inp("heading1", f"Giant page {pg + 1}")
        b.exp("heading", f"# Giant page {pg + 1}")
        for _ in range(10):
            t = _words(rng, 10)
            b.inp("text", t)
            b.exp("text", t)
        b.inp("page_break", f"||{pg + 1}||")
        b.exp("page_break", f"||{pg + 1}||")


def _empty_and_edge(b: _DocBuilder, rng: random.Random) -> None:
    which = b.doc_id.rsplit("-", 1)[-1]
    mode = int(which) % 3
    if mode == 0:
        pass  # zero spans
    elif mode == 1:
        ref = f"media://{b.doc_id}/only"
        b.inp("figure", "", ref)
        b.exp("media", "", ref)
    else:
        b.inp("text", "tiny")  # < 10 chars (embedding-skip threshold)
        b.exp("text", "tiny")
        b.inp("text", "   ")  # blank: dropped


def _mixed(b: _DocBuilder, rng: random.Random) -> None:
    """Cross-feature pages: boilerplate + two columns + a table whose rows
    are PHYSICALLY interleaved with column spans (y-sorted extraction
    order) but reunite into one pipe table in reading order, plus media."""
    for pg in range(rng.randint(2, 3)):
        title = f"Mixed {pg + 1} " + _words(rng, 2)
        lead = _words(rng, 10)
        rows = ["h1\th2"] + [
            f"{rng.randint(0, 99)}\t{rng.randint(0, 99)}"
            for _ in range(rng.randint(1, 3))
        ]
        caption = "chart " + _words(rng, 2)
        ref = f"media://{b.doc_id}/p{pg}"
        left = [_words(rng, 8) for _ in range(2)]
        right = [_words(rng, 8) for _ in range(2)]

        # expected reading order: all full-width content (in offset order),
        # then left column, then right, then the page break
        b.exp("heading", "# " + title)
        b.exp("text", lead)
        b.exp("table", _pipe_table(rows))
        b.exp("media", caption, ref)
        for t in left:
            b.exp("text", t)
        for t in right:
            b.exp("text", t)
        b.exp("page_break", f"||{pg + 1}||")

        # physical emission interleaves columns between the table rows and
        # sprinkles boilerplate that must vanish
        b.inp("nav", "home | about")
        b.inp("heading1", title)
        b.inp("text", lead)
        b.inp("table_row", rows[0])
        b.inp("column_left", left[0])
        for r in rows[1:]:
            b.inp("table_row", r)
        b.inp("column_right", right[0])
        b.inp("chart", caption, ref)
        b.inp("column_left", left[1])
        b.inp("text", "[ad](http://x) [ad2](http://y)")  # link-dense: dropped
        b.inp("column_right", right[1])
        b.inp("footer", "(c) corp")
        b.inp("page_break", f"||{pg + 1}||")


FIXTURE_CLASSES = {
    "mixed": _mixed,
    "html_boilerplate": _html_boilerplate,
    "pdf_two_column": _pdf_two_column,
    "pdf_table_chart": _pdf_table_chart,
    "docx_headings": _docx_headings,
    "pptx_slides": _pptx_slides,
    "giant_doc": _giant_doc,
    "empty_and_edge": _empty_and_edge,
}


def make_corpus(
    seed: int = 42,
    docs_per_class: int = 4,
    classes: tuple[str, ...] | None = None,
    include_giant: bool = True,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (documents, expected_spans) as pandas frames with columns
    (doc_id, spans=list[dict]). Deterministic in (seed, docs_per_class)."""
    names = list(classes or FIXTURE_CLASSES)
    if not include_giant and "giant_doc" in names:
        names.remove("giant_doc")
    docs, exps = [], []
    for cls in names:
        n = 1 if cls == "giant_doc" else docs_per_class
        for i in range(n):
            rng = random.Random(f"{seed}/{cls}/{i}")
            b = _DocBuilder(f"{cls}-{i:06d}")
            FIXTURE_CLASSES[cls](b, rng)
            d, e = b.finish(rng)
            docs.append(d)
            exps.append(e)
    return pd.DataFrame(docs), pd.DataFrame(exps)


def corpus_to_spark(spark, pdf: pd.DataFrame):
    from .schema import DOCUMENTS_SCHEMA

    rows = [
        (
            r["doc_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
        )
        for _, r in pdf.iterrows()
    ]
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


# ---------------------------------------------------------------------------
# Edge frames: the input domain every kernelised operator must share with
# its DuckDB oracle (tests/test_kernel_oracle_edges.py)
# ---------------------------------------------------------------------------

_EDGE_WORDS = " ".join(f"w{i}" for i in range(40))  # four 12-word lines


def edge_documents():
    """(doc_id, text) rows at the edges of the documents domain: NULL, 0
    and negative ids; NULL, empty and blank text; double and trailing
    spaces; a newline inside text; U+00A0; 'İ' (which lower-cases to two
    code points); one ~20k-word document. As a pyarrow Table."""
    import pyarrow as pa

    w = _EDGE_WORDS
    rng = random.Random("edge/long")
    long_doc = " ".join(
        rng.choice(_WORDS) + ("." if i % 9 == 8 else "")
        for i in range(20_000)
    )
    rows = [
        (0, ""),  # empty text; also the c4 %37 poison id
        (3, None),
        (6, None),
        (1, " "),
        (2, "\n"),
        (44, "word with\nnewline inside plus more words here"),
        (85, "x " * 40),  # c4 %41==3 poison id, trailing space
        (9, "double  spaces  between  words  and  a  trailing  one. "),
        (7, "a"),
        # NULL and negative ids: the JVM's % takes the dividend's sign
        (None, w),
        (-1, w),
        (-4, w),
        (-38, w),
        (50, "İ " + w + " JAVASCRİPT LOREM İPSUM"),
        # U+00A0 is neither trimmed nor a word separator
        (57, w.replace("w11", "w11.\xa0").replace("w30 ", "w30\xa0")),
        (52, w + " JAVASCRIPT"),
        (1000, long_doc),
    ]
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )


def edge_embeddings(base):
    """``base`` (vec_id int64, embedding list<float>, label int32) plus
    edge rows: a NULL vec_id, ids -5 and -500, a NULL label, an all-zero
    vector, an exact duplicate of vec 0 and a singleton label. As a
    pyarrow Table with base's schema."""
    import pyarrow as pa

    base = base.select(["vec_id", "embedding", "label"])
    dim = len(base.column("embedding")[0].as_py())
    rng = random.Random("edge/embeddings")

    def vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(dim)]

    first = base.slice(0, 1).to_pylist()[0]
    label = first["label"]
    rows = [
        (None, vec(), label),
        (-5, vec(), label),
        (-500, vec(), label),
        (100_000, vec(), None),
        (100_001, [0.0] * dim, label),
        (100_002, first["embedding"], label),  # duplicate of the first row
        (100_003, vec(), 1_000),  # the only member of label 1000
    ]
    edge = pa.table(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        },
        schema=base.schema,
    )
    return pa.concat_tables([base, edge])
