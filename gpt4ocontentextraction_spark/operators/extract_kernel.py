"""The extraction kernel: deterministic page->markdown span extraction.

This is the rebuilt analog of the reference's core operator — sending a page
image to GPT-4o vision with the prompt "Extract everything you see in this
image to markdown. Convert all charts ... to markdown tables ..."
(reference: docker/main.py:566-611 `extract_markdown_from_image`,
doc2md_utils.py:180-205). The semantics preserved: *everything visible, in
reading order, tables as Markdown pipes, charts referenced* — rebuilt as a
fully deterministic, vectorized pandas/numpy kernel with NO model call and
NO per-row Python in the hot path.

The kernel operates on an EXPLODED span representation — one row per span,
columns ``(doc_idx, kind, text, media_ref, offset)`` where ``doc_idx`` is a
dense integer document index with all of a document's spans contiguous.
The Spark wrapper (operators/extract.py) flattens the nested
``array<struct>`` column to this shape Arrow-natively and rebuilds it after.

Deterministic extraction semantics (total order, no ties — SURVEY.md §7
"exact span-sequence equality forces ... total orders"):

1. **Offset sort.** Spans are sorted by ``offset`` within each document
   (input arrays are not guaranteed presorted — FIXTURES.md).
2. **Page segmentation.** ``page_break`` spans split a document into pages;
   a page_break belongs to (terminates) the page before it. Mirrors the
   reference's per-page processing and ``||N||`` marker protocol
   (docker/main.py:428-445).
3. **Reading order.** Within a page, spans are stably re-ordered by
   ``(column_rank, offset)`` with column_rank: other=0, column_left=1,
   column_right=2 — i.e. full-width content first, then the left column in
   full, then the right (FIXTURES.md `pdf_two_column`; x-coordinate column
   clustering reduced to its decision: left column precedes right).
4. **Boilerplate strip.** Spans with kind in {nav, footer, ad, script} are
   dropped (tagged HTML chrome). Additionally, textual spans (`text`,
   `column_left`, `column_right` — everything that maps to a `text` output
   span) are dropped when
   (a) the text is blank after trimming, or (b) their *link density* — the
   fraction of characters inside markdown links ``[label](url)`` — exceeds
   0.5, or (c) their *text density* marks them as short chrome: among a
   PAGE's textual spans that survived (a)/(b), with ``wc(s)`` = the
   space-delimited token count (1 + number of ``' '`` chars), ``m`` the
   number of such spans on the page and ``W`` their total token count, a
   span is dropped iff ``2 * wc * m < W`` — i.e. it carries fewer than
   half the page's mean words-per-block. Exact integer arithmetic, so the
   DuckDB oracle reproduces it bit-for-bit; per-PAGE (not per-document)
   stats keep the rule invariant under page-range skew sharding
   (operators/skew.py). Together (b)+(c) are the Boilerpipe/Readability
   densitometric pair — link density and number-of-words block scoring
   (Kohlschütter et al., WSDM'10; see PAPERS.md): a nav crumb with no
   links is still dropped because it is a short outlier block on its page,
   while uniform pages (all blocks similar) and single-block pages are
   untouched. The reference's analog is the vision prompt's implicit
   "everything visible" main-content filter (docker/main.py:574-576).
5. **Kind mapping.**
   - heading1 -> ``heading`` with text prefixed ``"# "``;
     heading2 -> ``heading`` with ``"## "`` (markdown headings, as the
     vision model emits; consumed downstream by heading chunking —
     docker/main.py:502-539).
   - text / column_left / column_right -> ``text`` (column kinds are
     layout, not content, once reading order is resolved).
   - A maximal run of consecutive ``table_row`` spans (after steps 1-4)
     becomes ONE ``table`` span: each row's cells (tab-separated in the
     input text; embedded newlines sanitized to spaces so a cell cannot
     break the table) render as ``| a | b |``; after the first (header) row a
     ``| --- | --- |`` separator with the header's column count is
     inserted. Mirrors chart/table -> pipe-table (docker/main.py:574-576).
   - chart / figure -> ``media`` span: text preserved (caption),
     ``media_ref`` carried through. This replaces the reference's
     "numbers are approximate" chart transcription with an explicit,
     lossless media reference.
   - page_break -> ``page_break`` (text preserved).
6. **Reindex.** Output offsets are 0..n-1 per document.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .extract_arrow import LINK_DENSITY_MAX, LINK_RE

BOILERPLATE_KINDS = ("nav", "footer", "ad", "script")
KNOWN_KINDS = (
    "text", "heading1", "heading2", "table_row", "chart", "figure",
    "nav", "footer", "ad", "script", "column_left", "column_right",
    "page_break",
)

KERNEL_COLUMNS = ["doc_idx", "kind", "text", "media_ref", "offset"]


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_idx": pd.Series([], dtype="int64"),
            "kind": pd.Series([], dtype="object"),
            "text": pd.Series([], dtype="object"),
            "media_ref": pd.Series([], dtype="object"),
            "offset": pd.Series([], dtype="int32"),
        }
    )


def link_density(texts: pd.Series) -> pd.Series:
    """Fraction of characters inside markdown links, vectorized.

    The regex only runs on spans that contain '[' at all — markdown links
    are rare in real content blocks, so this removes the dominant per-span
    regex cost from the hot path."""
    out = pd.Series(0.0, index=texts.index)
    has_bracket = texts.str.contains("[", regex=False)
    if has_bracket.any():
        sub = texts[has_bracket]
        total = sub.str.len().astype("int64")
        stripped = sub.str.replace(LINK_RE, "", regex=True).str.len().astype("int64")
        out.loc[has_bracket] = (total - stripped) / total.clip(lower=1)
    return out


def extract_exploded(flat: pd.DataFrame) -> pd.DataFrame:
    """Run the extraction kernel over exploded span rows.

    ``flat`` columns: doc_idx (int, contiguous per doc), kind, text,
    media_ref, offset. Returns the same columns with output spans and
    reindexed offsets. Documents with zero surviving spans simply emit no
    rows (the wrapper restores empty arrays for them).
    """
    if len(flat) == 0:
        return _empty_out()

    # Null string fields normalize to "" at ingress — the same contract
    # the Arrow wrapper enforces via fill_null (extract.py::_flatten), so
    # a directly-invoked kernel can't crash on NaN in the density stats
    # (str.count on NaN -> NaN -> astype(int64) raises) or diverge from
    # the Spark path.
    for col in ("kind", "text", "media_ref"):
        if flat[col].isna().any():
            flat = flat.assign(**{col: flat[col].fillna("")})

    doc_idx = flat["doc_idx"].to_numpy()
    offset = flat["offset"].to_numpy()
    kind = flat["kind"].to_numpy()

    # -- steps 1-3: one stable lexsort gives offset order, page segmentation
    #    and reading order in a single pass.
    order0 = np.lexsort((offset, doc_idx))  # offset within doc
    doc_s = doc_idx[order0]
    off_s = offset[order0]
    kind_s = kind[order0]

    is_pb = kind_s == "page_break"
    # exclusive running count of page_breaks, reset per doc: the page index.
    cs = np.cumsum(is_pb) - is_pb  # exclusive cumsum
    doc_start = np.r_[True, doc_s[1:] != doc_s[:-1]]
    base = np.maximum.accumulate(np.where(doc_start, cs, 0))
    seg = cs - base
    # a page_break terminates its page: it shares the seg of the spans
    # before it (exclusive cumsum already gives that).

    rank = np.zeros(len(kind_s), dtype=np.int8)
    rank[kind_s == "column_left"] = 1
    rank[kind_s == "column_right"] = 2
    rank[is_pb] = 3  # page_break closes the page: after both columns

    order1 = np.lexsort((off_s, rank, seg, doc_s))
    df = pd.DataFrame(
        {
            "doc_idx": doc_s[order1],
            "kind": kind_s[order1],
            "text": flat["text"].to_numpy()[order0][order1],
            "media_ref": flat["media_ref"].to_numpy()[order0][order1],
            "page": seg[order1],
        }
    )
    # unknown kinds are treated as plain text (robust default; the arrow
    # kernel does the same via its dictionary lookup)
    known = df["kind"].isin(KNOWN_KINDS)
    if not known.all():
        df.loc[~known, "kind"] = "text"

    # -- step 4: boilerplate strip (tagged kinds + link-density on text).
    k = df["kind"]
    drop = k.isin(BOILERPLATE_KINDS)
    is_text = k.isin(("text", "column_left", "column_right"))
    if is_text.any():
        txt = df.loc[is_text, "text"]
        blank = txt.str.strip() == ""
        dense = link_density(txt) > LINK_DENSITY_MAX
        drop.loc[is_text] = (blank | dense).to_numpy()
    # -- step 4c: per-page text-density strip (short-block chrome). Stats
    #    over textual spans surviving (a)/(b): drop wc < half the page mean.
    alive = is_text.to_numpy() & ~drop.to_numpy()
    if alive.any():
        dd = df["doc_idx"].to_numpy()
        pp = df["page"].to_numpy()
        gid = np.cumsum(
            np.r_[True, (dd[1:] != dd[:-1]) | (pp[1:] != pp[:-1])]
        ) - 1
        wc = (
            df.loc[alive, "text"].str.count(" ") + 1
        ).to_numpy().astype(np.int64)
        g_alive = gid[alive]
        n_g = gid[-1] + 1
        total = np.bincount(g_alive, weights=wc, minlength=n_g).astype(
            np.int64
        )
        m = np.bincount(g_alive, minlength=n_g).astype(np.int64)
        low = 2 * wc * m[g_alive] < total[g_alive]
        drop_np = drop.to_numpy()
        drop_np[np.flatnonzero(alive)[low]] = True
        drop = pd.Series(drop_np, index=drop.index)
    df = df[~drop.to_numpy()]
    if len(df) == 0:
        return _empty_out()

    # -- step 5: kind mapping + table run collapse.
    k = df["kind"].to_numpy()
    d = df["doc_idx"].to_numpy()
    is_tr = k == "table_row"
    prev_tr = np.r_[False, is_tr[:-1]]
    same_doc = np.r_[False, d[1:] == d[:-1]]
    run_start = is_tr & ~(prev_tr & same_doc)
    # island id: each non-table_row span is its own island; a table_row run
    # shares the island of its first row.
    island = np.cumsum(run_start | ~is_tr) - 1
    df = df.assign(_island=island, _is_tr=is_tr)

    out_kind = np.select(
        [
            k == "heading1",
            k == "heading2",
            is_tr,
            (k == "chart") | (k == "figure"),
            k == "page_break",
        ],
        ["heading", "heading", "table", "media", "page_break"],
        default="text",
    )
    out_text = df["text"].copy()
    h1 = k == "heading1"
    h2 = k == "heading2"
    if h1.any():
        out_text.loc[h1] = "# " + out_text.loc[h1]
    if h2.any():
        out_text.loc[h2] = "## " + out_text.loc[h2]
    if is_tr.any():
        rows = df.loc[is_tr, "text"].str.replace("\n", " ", regex=False)
        out_text.loc[is_tr] = "| " + rows.str.replace("\t", " | ", regex=False) + " |"
    out_media = np.where(out_kind == "media", df["media_ref"].to_numpy(), "")

    # islands are contiguous runs in the resolved order, so collapsing is
    # first-occurrence masking + slice-joins — no pandas groupby (which costs
    # ~1s/360k spans in per-group Python overhead).
    isl = df["_island"].to_numpy()
    first_mask = np.r_[True, isl[1:] != isl[:-1]]

    if is_tr.any():
        tr_mask = is_tr
        tr_lines = out_text.to_numpy()[tr_mask]
        tr_isl = isl[tr_mask]
        tr_first = np.r_[True, tr_isl[1:] != tr_isl[:-1]]
        # header separator under the first row of each island
        ncols = (
            pd.Series(df["text"].to_numpy()[tr_mask]).str.count("\t").to_numpy()
            + 1
        )
        starts = np.flatnonzero(tr_first)
        seps = [
            "| " + " | ".join(["---"] * int(n)) + " |" for n in ncols[starts]
        ]
        tr_lines = tr_lines.astype(object)
        tr_lines[starts] = [
            a + "\n" + b for a, b in zip(tr_lines[starts], seps)
        ]
        bounds = np.r_[starts, len(tr_lines)]
        joined = [
            "\n".join(tr_lines[a:b]) for a, b in zip(bounds[:-1], bounds[1:])
        ]
        # place joined table text on the first row of each table island
        otext = out_text.to_numpy().astype(object)
        tbl_first_pos = np.flatnonzero(tr_mask)[starts]
        otext[tbl_first_pos] = joined
        out = pd.DataFrame(
            {
                "doc_idx": df["doc_idx"].to_numpy()[first_mask],
                "_okind": out_kind[first_mask],
                "_otext": otext[first_mask],
                "_omedia": out_media[first_mask],
            }
        )
    else:
        out = pd.DataFrame(
            {
                "doc_idx": df["doc_idx"].to_numpy()[first_mask],
                "_okind": out_kind[first_mask],
                "_otext": out_text.to_numpy()[first_mask],
                "_omedia": out_media[first_mask],
            }
        )

    # -- step 6: reindex offsets per document.
    d2 = out["doc_idx"].to_numpy()
    new_off = np.arange(len(out), dtype=np.int64)
    starts = np.r_[True, d2[1:] != d2[:-1]]
    new_off = new_off - np.maximum.accumulate(np.where(starts, new_off, 0))

    return pd.DataFrame(
        {
            "doc_idx": d2,
            "kind": out["_okind"].to_numpy(),
            "text": out["_otext"].to_numpy(),
            "media_ref": out["_omedia"].to_numpy(),
            "offset": new_off.astype("int32"),
        }
    )


def extract_document(spans: list[dict]) -> list[dict]:
    """Convenience single-document wrapper (tests / documentation).

    ``spans``: list of {kind, text, media_ref, offset}. Returns the output
    span dicts in order.
    """
    if not spans:
        return []
    flat = pd.DataFrame(spans)
    flat["doc_idx"] = 0
    out = extract_exploded(flat[KERNEL_COLUMNS])
    return [
        {
            "kind": r.kind,
            "text": r.text,
            "media_ref": r.media_ref,
            "offset": int(r.offset),
        }
        for r in out.itertuples()
    ]
