"""The extraction kernel: deterministic page->markdown span extraction.

The rebuilt analog of the reference's core operator, GPT-4o vision asked to
"Extract everything you see in this image to markdown" (docker/main.py:
566-611, doc2md_utils.py:180-205): everything visible, in reading order,
tables as Markdown pipes, charts referenced — with no model call and no
per-row Python. Its executable spec is the DuckDB oracle
(oracles.extract_sql_over, same numbered steps); tests pin the two equal on
arbitrary span soup.

Input is one row per span, ``(doc_idx, kind, text, media_ref, offset)``,
each document's spans contiguous; operators/extract.py flattens the nested
``array<struct>`` column to it (NULL text and media_ref as ``''``, NULL
offset as 0) and rebuilds it after. A span with a NULL kind is dropped,
as the oracle's step-4 ``kind NOT IN (...)`` filter drops it. Total
order, no ties (SURVEY.md §7):

1. **Offset sort** within each document.
2. **Page segmentation.** A ``page_break`` ends the page before it
   (the reference's ``||N||`` pages, docker/main.py:428-445).
3. **Reading order.** Within a page, by ``(rank, offset)`` with rank
   other=0, column_left=1, column_right=2, page_break=3: full-width
   content, then the left column, then the right (FIXTURES.md
   `pdf_two_column`).
4. **Boilerplate strip.** Kinds nav/footer/ad/script are dropped. Textual
   spans (text, column_left, column_right and unknown kinds) are dropped
   when (a) blank after trimming the code points ``str.isspace()``
   accepts, (b) more than half their characters sit inside markdown links
   ``[label](url)``, or (c) among the page's textual spans that survived
   (a)/(b), with ``wc`` = 1 + the number of ``' '``, ``m`` their count and
   ``W`` their total ``wc``, ``2 * wc * m < W`` — fewer than half the
   page's mean words per block. (b)+(c) are the Boilerpipe link-density /
   number-of-words pair (Kohlschütter et al., WSDM'10; PAPERS.md); exact
   integers, and per PAGE so page-range skew sharding (operators/skew.py)
   cannot change the result.
5. **Kind mapping.** heading1/heading2 -> ``heading`` prefixed ``"# "`` /
   ``"## "``; textual kinds -> ``text``; chart/figure -> ``media`` with
   ``media_ref`` (caption text kept); page_break -> ``page_break``. A
   maximal run of ``table_row`` spans (after 1-4) becomes ONE ``table``
   span: tab-separated cells render as ``| a | b |`` (newlines in a cell
   become spaces), with a ``| --- | --- |`` separator of the header's
   column count after the first row. Every other output keeps
   ``media_ref = ''``.
6. **Reindex.** Output offsets are 0..n-1 per document.

Strings stay in Arrow except in table-run assembly: kinds are
dictionary-encoded to small-int numpy; trims, lengths, the link regex
(RE2) and pipe framing are pyarrow.compute kernels; the output text is one
C-side take over a pool of variants (heading-prefixed, table-joined).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# link-density rule (spec step 4b): a text span whose markdown-link
# characters exceed this share of its length is boilerplate
LINK_RE = re.compile(r"\[[^\]]*\]\([^)]*\)")
LINK_DENSITY_MAX = 0.5

# canonical input-kind ids
_IN_KINDS = (
    "text", "heading1", "heading2", "table_row", "chart", "figure",
    "nav", "footer", "ad", "script", "column_left", "column_right",
    "page_break",
)
_KID = {k: i for i, k in enumerate(_IN_KINDS)}
KID_TEXT, KID_H1, KID_H2, KID_TR = 0, 1, 2, 3
KID_CHART, KID_FIGURE = 4, 5
KID_COL_L, KID_COL_R, KID_PB = 10, 11, 12

# output kinds: 0 text, 1 heading, 2 table, 3 media, 4 page_break
_OUT_KIND_POOL = pa.array(["text", "heading", "table", "media", "page_break"])
_OUT_OF_IN = np.array(
    [0, 1, 1, 2, 3, 3, 0, 0, 0, 0, 0, 0, 4], dtype=np.int8
)
_BOILER = np.zeros(len(_IN_KINDS), dtype=bool)
for _k in ("nav", "footer", "ad", "script"):
    _BOILER[_KID[_k]] = True
_RANK = np.zeros(len(_IN_KINDS), dtype=np.int8)
_RANK[KID_COL_L] = 1
_RANK[KID_COL_R] = 2
_RANK[KID_PB] = 3


def _doc_starts(doc_idx: np.ndarray) -> np.ndarray:
    return np.r_[True, doc_idx[1:] != doc_idx[:-1]]


def extract_values_arrow(
    doc_idx: np.ndarray,
    kind: pa.Array,
    text: pa.Array,
    media_ref: pa.Array,
    offset: np.ndarray,
) -> tuple[np.ndarray, pa.Array, pa.Array, pa.Array, np.ndarray]:
    """Flat span columns in -> (doc_idx, kind, text, media_ref, offset) out."""
    n = len(doc_idx)
    if n == 0:
        empty_s = pa.array([], type=pa.string())
        return (
            np.empty(0, dtype=np.int64), empty_s, empty_s, empty_s,
            np.empty(0, dtype=np.int32),
        )

    # kind -> small-int ids via dictionary encoding (unknown kinds -> text;
    # NULL -> nav: never a page break, rank 0, dropped in step 4)
    dk = pc.dictionary_encode(kind)
    dict_vals = dk.dictionary.to_pylist()
    lut = np.array(
        [_KID.get(v, KID_TEXT) for v in dict_vals] + [_KID["nav"]],
        dtype=np.int8,
    )
    kid = lut[dk.indices.fill_null(len(dict_vals)).to_numpy()]

    # steps 1-3: one permutation for offset order + page seg + reading
    # order. Inputs written by this engine (and any sorted table) already
    # arrive in (doc, offset) order — detect that in O(n) and skip the
    # O(n log n) lexsorts AND the large string take.
    def _is_sorted(*keys: np.ndarray) -> bool:
        if len(keys[0]) < 2:
            return True
        strict = np.zeros(len(keys[0]) - 1, dtype=bool)
        for k in keys:
            d = np.diff(k)
            bad = (d < 0) & ~strict
            if bad.any():
                return False
            strict |= d > 0
        return True

    if _is_sorted(doc_idx, offset):
        order0 = None
        doc_s, off_s, kid_s = doc_idx, offset, kid
    else:
        order0 = np.lexsort((offset, doc_idx))
        doc_s = doc_idx[order0]
        off_s = offset[order0]
        kid_s = kid[order0]
    is_pb = kid_s == KID_PB
    cs = np.cumsum(is_pb) - is_pb
    base = np.maximum.accumulate(np.where(_doc_starts(doc_s), cs, 0))
    seg = cs - base
    rank_s = _RANK[kid_s]
    if _is_sorted(doc_s, seg, rank_s, off_s):
        perm = order0  # may be None (fully identity)
        kid_p, doc_p, seg_p = kid_s, doc_s, seg
    else:
        order1 = np.lexsort((off_s, rank_s, seg, doc_s))
        perm = order0[order1] if order0 is not None else order1
        kid_p = kid[perm]
        doc_p = doc_idx[perm]
        seg_p = seg[order1]
    text_p = text if perm is None else pc.take(text, pa.array(perm))

    # step 4: boilerplate strip
    drop = _BOILER[kid_p]
    is_text = (
        (kid_p == KID_TEXT) | (kid_p == KID_COL_L) | (kid_p == KID_COL_R)
    )
    if is_text.any():
        trimmed = pc.utf8_trim_whitespace(text_p)
        blank = pc.equal(trimmed, "").to_numpy(zero_copy_only=False)
        drop = drop | (is_text & blank)
        # the RE2 replace is the most expensive kernel here — gate it on a
        # cheap substring probe (markdown links are rare in real blocks)
        has_bracket = pc.match_substring(text_p, "[").to_numpy(
            zero_copy_only=False
        )
        cand = is_text & has_bracket & ~drop
        if cand.any():
            sub = pc.take(text_p, pa.array(np.flatnonzero(cand)))
            total = pc.utf8_length(sub).to_numpy(zero_copy_only=False).astype(np.int64)
            stripped = pc.utf8_length(
                pc.replace_substring_regex(
                    sub, pattern=LINK_RE.pattern, replacement=""
                )
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            dense = (total - stripped) > LINK_DENSITY_MAX * np.maximum(total, 1)
            drop[np.flatnonzero(cand)[dense]] = True

        # step 4c: per-page text-density strip (short-block chrome)
        alive = is_text & ~drop
        if alive.any():
            gid = np.cumsum(
                np.r_[True, (doc_p[1:] != doc_p[:-1]) | (seg_p[1:] != seg_p[:-1])]
            ) - 1
            sub = pc.take(text_p, pa.array(np.flatnonzero(alive)))
            wc = (
                pc.count_substring(sub, " ")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                + 1
            )
            g_alive = gid[alive]
            n_g = gid[-1] + 1
            total_w = np.bincount(
                g_alive, weights=wc, minlength=n_g
            ).astype(np.int64)
            m = np.bincount(g_alive, minlength=n_g).astype(np.int64)
            low = 2 * wc * m[g_alive] < total_w[g_alive]
            drop[np.flatnonzero(alive)[low]] = True

    keep = ~drop
    kid_k = kid_p[keep]
    doc_k = doc_p[keep]
    # indices into the ORIGINAL arrays
    sel = np.flatnonzero(keep) if perm is None else perm[keep]
    if len(sel) == 0:
        empty_s = pa.array([], type=pa.string())
        return (
            np.empty(0, dtype=np.int64), empty_s, empty_s, empty_s,
            np.empty(0, dtype=np.int32),
        )

    # step 5: table islands over the kept, resolved order
    is_tr = kid_k == KID_TR
    same_doc = np.r_[False, doc_k[1:] == doc_k[:-1]]
    run_start = is_tr & ~(np.r_[False, is_tr[:-1]] & same_doc)
    island = np.cumsum(run_start | ~is_tr) - 1
    first_mask = np.r_[True, island[1:] != island[:-1]]

    # table assembly — C-side: frame cells, append header separators to the
    # first line of each island (pool+take), join islands via ListArray
    tbl_joined = pa.array([], type=pa.string())
    if is_tr.any():
        tr_text = pc.take(text, pa.array(sel[is_tr]))
        tr_text = pc.replace_substring(tr_text, pattern="\n", replacement=" ")
        cells = pc.replace_substring(tr_text, pattern="\t", replacement=" | ")
        lines_arr = pc.binary_join_element_wise("| ", cells, " |", "")
        tr_isl = island[is_tr]
        starts = np.flatnonzero(np.r_[True, tr_isl[1:] != tr_isl[:-1]])
        bounds = np.r_[starts, len(tr_isl)].astype(np.int32)
        ncols = (
            pc.count_substring(pc.take(tr_text, pa.array(starts)), "\t")
            .to_numpy(zero_copy_only=False) + 1
        )
        sep_cache = {
            int(c): "| " + " | ".join(["---"] * int(c)) + " |"
            for c in np.unique(ncols)
        }
        first_with_sep = pc.binary_join_element_wise(
            pc.take(lines_arr, pa.array(starts)),
            pa.array([sep_cache[int(c)] for c in ncols]),
            "\n",
        )
        n_tr = len(tr_isl)
        line_idx = np.arange(n_tr, dtype=np.int64)
        line_idx[starts] = n_tr + np.arange(len(starts))
        lines_final = pc.take(
            pa.concat_arrays([lines_arr, first_with_sep]), pa.array(line_idx)
        )
        tbl_joined = pc.binary_join(
            pa.ListArray.from_arrays(pa.array(bounds), lines_final),
            "\n",
        )

    # collapse to island heads
    sel_f = sel[first_mask]
    kid_f = kid_k[first_mask]
    doc_f = doc_k[first_mask]
    n_out = len(sel_f)

    # final text via pool + take (C-side composition)
    default_text = pc.take(text, pa.array(sel_f))
    pool = [default_text]
    idx = np.arange(n_out, dtype=np.int64)
    cursor = n_out
    h1 = np.flatnonzero(kid_f == KID_H1)
    if len(h1):
        arr = pc.binary_join_element_wise(
            "# ", pc.take(text, pa.array(sel_f[h1])), ""
        )
        pool.append(arr)
        idx[h1] = cursor + np.arange(len(h1))
        cursor += len(h1)
    h2 = np.flatnonzero(kid_f == KID_H2)
    if len(h2):
        arr = pc.binary_join_element_wise(
            "## ", pc.take(text, pa.array(sel_f[h2])), ""
        )
        pool.append(arr)
        idx[h2] = cursor + np.arange(len(h2))
        cursor += len(h2)
    tbl = np.flatnonzero(kid_f == KID_TR)
    if len(tbl):
        pool.append(tbl_joined)
        idx[tbl] = cursor + np.arange(len(tbl))
        cursor += len(tbl)
    out_text = pc.take(pa.concat_arrays(pool), pa.array(idx))

    out_kid = _OUT_OF_IN[kid_f]
    out_kind = pc.take(_OUT_KIND_POOL, pa.array(out_kid.astype(np.int64)))
    is_media = (kid_f == KID_CHART) | (kid_f == KID_FIGURE)
    out_media = pc.if_else(
        pa.array(is_media), pc.take(media_ref, pa.array(sel_f)), ""
    )

    new_off = np.arange(n_out, dtype=np.int64)
    new_off = new_off - np.maximum.accumulate(
        np.where(_doc_starts(doc_f), new_off, 0)
    )
    return doc_f, out_kind, out_text, out_media, new_off.astype(np.int32)
