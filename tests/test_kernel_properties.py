"""Property-based kernel invariants (hypothesis): for ANY span soup the
Arrow kernel must emit dense offsets, no boilerplate kinds, well-formed
pipe tables, reading-order-sorted pages — and equal the DuckDB oracle
exactly."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from extraction_spec import extract_both, extract_document
from gpt4ocontentextraction_spark.schema import INPUT_KINDS, OUTPUT_KINDS

_texts = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\x00"
    ),
    max_size=24,
)


def _spans(draw_kinds):
    return st.lists(
        st.builds(
            dict,
            kind=draw_kinds,
            text=_texts,
            media_ref=st.sampled_from(["", "media://x/1", "media://y/2"]),
        ),
        max_size=30,
    )


@st.composite
def documents(draw):
    # include out-of-vocabulary kinds: spec says unknown == text
    spans = draw(_spans(st.sampled_from(INPUT_KINDS + ("mystery", "x"))))
    # offsets: unique, shuffled
    offsets = draw(
        st.permutations(range(len(spans)))
    )
    for s, o in zip(spans, offsets):
        s["offset"] = o
    return spans


@settings(max_examples=120, deadline=None, derandomize=True)
@given(documents())
def test_kernel_invariants(spans):
    out = extract_document(spans)

    # dense offsets
    assert [s["offset"] for s in out] == list(range(len(out)))
    for s in out:
        # closed output vocabulary, no boilerplate leaks
        assert s["kind"] in OUTPUT_KINDS
        # media_ref only on media spans
        if s["kind"] != "media":
            assert s["media_ref"] == ""
        if s["kind"] == "table":
            lines = s["text"].split("\n")
            assert len(lines) >= 2
            assert all(
                ln.startswith("| ") and ln.endswith(" |") for ln in lines
            )
            assert set(lines[1].replace("|", "").split()) <= {"---"}
        if s["kind"] == "text":
            assert s["text"].strip() != ""

    # determinism
    assert extract_document(spans) == out


def _one(kind, text):
    return [{"kind": kind, "text": text, "media_ref": "", "offset": 0}]


@settings(max_examples=60, deadline=None, derandomize=True)
@given(documents(), documents())
# unknown kinds are text: blank and link-dense ones are dropped
@example(_one("mystery", "  "), [])
@example(_one("weird", "[x](http://y)"), [])
# blank is str.isspace() blank, beyond the Unicode space separators
@example(_one("text", "\x0b"), [])
@example(_one("text", "\x85"), [])
@example(_one("text", "\u2028"), [])
def test_arrow_oracle_agree_on_arbitrary_input(a, b):
    arrow, oracle = extract_both(
        [{"doc_id": "a", "spans": a}, {"doc_id": "b", "spans": b}]
    )
    assert arrow == oracle
