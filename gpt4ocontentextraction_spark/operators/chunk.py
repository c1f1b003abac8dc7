"""C1-C4: chunking strategies (reference: docker/main.py:450-539).

Two strategies, as in the reference's `vectorize_markdown` dispatch
(page for PPT/XLS/images, markdown for PDF/DOCX/HTML — docker/main.py:457-463):

- :func:`page_chunks` — one chunk per page, content prefixed ``||pg||``
  (`vectorize_by_page`, docker/main.py:479-500);
- :func:`markdown_chunks` — reference-faithful heading chunking
  (`vectorize_by_markdown`, docker/main.py:502-539): sections split on
  BOTH '# ' and '## ' headings (headers_to_split_on, main.py:53-58,
  strip_headers=False so the heading stays in content), oversized
  sections split into CHUNK_SIZE windows advancing by CHUNK_SIZE -
  CHUNK_OVERLAP chars, then a per-doc sequential carry over chunks:
  pg_number updates from the chunk's first ``||N||`` marker only when the
  chunk doesn't start with ``||`` (main.py:516-518); ``last_heading``
  lags one chunk (title and prefix use the pre-update value,
  main.py:521,535-537); content is prefixed
  ``||{pg-1}||\\n{last_heading}\\n`` (main.py:521). The reference's
  recursive splitter prefers separator boundaries; this mode uses a
  deterministic fixed-stride window with the same size/overlap contract,
  and :func:`markdown_chunks_separator` the separator-aligned one.

One kernel runs all of them: :func:`chunk_batches`, over Arrow batches of
*extracted* ``(doc_id, spans)`` rows. Precondition: one row per document
(``extract()`` and the snapshot tables guarantee it), so a document's
chunks are assembled inside one batch and the operators are a single
mapInArrow with no shuffle. A document's spans are read in offset order.
The fused forms (``*_fused``) run the extraction kernel and then this
one in the same Python stage. The spec is
the DuckDB oracles (oracles.PAGE_CHUNKS_SQL, MD_CHUNKS_SQL,
MD_SEP_CHUNKS_SQL), including NULL ``chunk_doc_id``/``file_name`` for a
NULL ``doc_id``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import _bounded, _extract_iter, _flatten

CHUNK_SIZE = 8192  # docker/main.py:50
CHUNK_OVERLAP = 820  # docker/main.py:51
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP

CHUNKS_DDL = (
    "chunk_doc_id string, chunk_id long, pg_number long, file_name string,"
    " title string, content string"
)
_CHUNK_COLUMNS = [
    "chunk_doc_id", "chunk_id", "pg_number", "file_name", "title", "content",
]


def _doc_starts(a: np.ndarray) -> np.ndarray:
    return np.r_[True, a[1:] != a[:-1]]


def _excl_cumsum_per_doc(flag: np.ndarray, doc: np.ndarray) -> np.ndarray:
    cs = np.cumsum(flag) - flag
    return cs - np.maximum.accumulate(np.where(_doc_starts(doc), cs, 0))


def _seg_cummax_idx(idx: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Running max of `idx` (candidate positions, -1 = none) resetting at
    each True in `seg_starts`: the vectorized forward-fill behind the
    reference's sequential last_heading / pg_number carries."""
    seg = np.cumsum(seg_starts) - 1
    base = (len(idx) + 1) * seg
    return np.maximum.accumulate(idx + base) - base


def _group_join(
    text: pa.Array, group_key: np.ndarray
) -> tuple[np.ndarray, pa.Array]:
    """Join contiguous groups' texts with newlines (C-side). Returns
    (start positions, joined array)."""
    starts = np.flatnonzero(_doc_starts(group_key))
    bounds = np.r_[starts, len(group_key)].astype(np.int32)
    joined = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(bounds), text), "\n"
    )
    return starts, joined


def _spans(batch: pa.RecordBatch):
    """(doc_id, doc index, kind, text) of every span, each document's
    spans in offset order. Ascending offsets (everything ``extract()``
    writes) skip the sort; otherwise a stable sort, so ties keep array
    order."""
    doc_id, _n, d, kind, text, _media, off = _flatten(batch)
    if ((d[1:] == d[:-1]) & (off[1:] < off[:-1])).any():
        order = np.lexsort((off, d))
        d = d[order]
        kind, text = pc.take(kind, order), pc.take(text, order)
    return doc_id, d, kind, text


def _page_chunks(doc_id, d, kind, text) -> list[pa.Array] | None:
    """C2: one chunk per page; a page_break ends the page before it."""
    is_pb = pc.fill_null(pc.equal(kind, "page_break"), False).to_numpy(
        zero_copy_only=False
    )
    page = _excl_cumsum_per_doc(is_pb, d)
    # a NULL kind is neither a break nor content (kind <> 'page_break')
    keep = np.flatnonzero(
        ~is_pb & kind.is_valid().to_numpy(zero_copy_only=False)
    )
    if not len(keep):
        return None
    d, page = d[keep], page[keep]
    starts, body = _group_join(
        pc.take(text, keep), d * (page.max() + 1) + page
    )
    pg = pa.array(page[starts] + 1)
    pg_str = pc.cast(pg, pa.string())
    doc = pc.take(doc_id, d[starts])
    return [
        pc.binary_join_element_wise(doc, pg_str, "-"),
        pg,
        pg,
        doc,
        pa.nulls(len(starts), pa.string()),
        pc.binary_join_element_wise("||", pg_str, "||\n", body, ""),
    ]


def _stride_split(content: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """Fixed windows: piece k of a section is its code points
    [k * STRIDE, k * STRIDE + CHUNK_SIZE). Returns (section, piece) in
    (section, k) order."""
    lens = pc.utf8_length(content).to_numpy(zero_copy_only=False)
    n = np.maximum(1, np.ceil((lens - CHUNK_OVERLAP) / _STRIDE)).astype(
        np.int64
    )
    sec = np.repeat(np.arange(len(n)), n)
    k = np.arange(len(sec)) - np.repeat(np.cumsum(n) - n, n)
    # one C-side slice per distinct k, over only the pieces with that k
    parts, rows = [], []
    for kv in np.unique(k):
        r = np.flatnonzero(k == kv)
        lo = int(kv) * _STRIDE
        parts.append(
            pc.utf8_slice_codeunits(
                pc.take(content, sec[r]), lo, lo + CHUNK_SIZE
            )
        )
        rows.append(r)
    return sec, pc.take(
        pa.concat_arrays(parts), np.argsort(np.concatenate(rows))
    )


def _separator_split(content: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """Separator windows (see :func:`markdown_chunks_separator`). The next
    start depends on the previous cut, so this is a per-section Python
    loop of a handful of iterations; 1-based positions mirror the SQL
    oracle's recursive CTE."""
    sec, pieces = [], []
    for s, text in enumerate(content.to_pylist()):
        start, length = 1, len(text)
        while True:
            if length - start + 1 <= CHUNK_SIZE:
                t = text[start - 1:]
                cut = length
            else:
                tail = text[start - 1 + _STRIDE: start - 1 + CHUNK_SIZE]
                p2 = tail.rfind("\n\n")
                if p2 >= 0:
                    pos = p2 + 1  # end at the pair's 2nd newline
                else:
                    pos = tail.rfind("\n")
                    if pos < 0:
                        pos = tail.rfind(" ")
                    if pos < 0:
                        pos = CHUNK_OVERLAP - 1
                cut = start + _STRIDE + pos
                t = text[start - 1: cut]
            sec.append(s)
            pieces.append(t)
            if cut >= length:
                break
            start = cut - CHUNK_OVERLAP + 1
    return np.array(sec, dtype=np.int64), pa.array(pieces, pa.string())


def _markdown_chunks(
    doc_id, d, kind, text, split: Callable
) -> list[pa.Array]:
    """C3: '# '/'## ' sections, windows from `split`, then the reference's
    sequential carries over each document's chunks (module docstring)."""
    is_sec = pc.fill_null(
        pc.and_(
            pc.equal(kind, "heading"),
            pc.or_(pc.starts_with(text, "# "), pc.starts_with(text, "## ")),
        ),
        False,
    ).to_numpy(zero_copy_only=False)
    sec = _excl_cumsum_per_doc(is_sec, d) + is_sec
    starts, content = _group_join(text, d * (sec.max() + 1) + sec)
    piece_sec, t = split(content)
    chunk_doc = d[starts][piece_sec]
    nc = len(chunk_doc)
    chunk_starts = _doc_starts(chunk_doc)

    # h1: flat index of the chunk's last line starting with '# '
    lines = pc.split_pattern(t, "\n")
    line_vals = lines.values
    line_offs = lines.offsets.to_numpy()
    line_starts = np.zeros(len(line_vals), dtype=bool)
    line_starts[line_offs[:-1]] = True
    is_h1 = pc.starts_with(line_vals, "# ").to_numpy(zero_copy_only=False)
    h1_idx = _seg_cummax_idx(
        np.where(is_h1, np.arange(len(line_vals)), -1), line_starts
    )[line_offs[1:] - 1]
    # upd: the first ||N|| marker, ignored when the chunk starts with '||'
    # or when N does not fit int64 (the oracles' TRY_CAST gives NULL)
    n = pc.struct_field(pc.extract_regex(t, r"\|\|(?P<n>\d+)\|\|"), "n")
    digits = pc.utf8_ltrim(n, "0")
    width = pc.utf8_length(digits)
    fits = pc.fill_null(
        pc.or_(
            pc.less(width, 19),
            pc.and_(
                pc.equal(width, 19),
                pc.less_equal(digits, "9223372036854775807"),
            ),
        ),
        False,
    )
    upd_valid = fits.to_numpy(zero_copy_only=False) & ~pc.starts_with(
        t, "||"
    ).to_numpy(zero_copy_only=False)
    upd = pc.cast(pc.if_else(fits, n, "0"), pa.int64()).to_numpy(
        zero_copy_only=False
    )

    # carries: last_heading lags one chunk (the pre-update value)
    pos = np.arange(nc)
    run_lh = _seg_cummax_idx(np.where(h1_idx >= 0, pos, -1), chunk_starts)
    prev_lh = np.r_[-1, run_lh[:-1]]
    prev_lh[chunk_starts] = -1
    run_pg = _seg_cummax_idx(np.where(upd_valid, pos, -1), chunk_starts)
    pg = np.where(run_pg >= 0, upd[np.maximum(run_pg, 0)], 1)
    lh = pc.fill_null(
        pc.take(
            line_vals,
            pa.array(h1_idx[np.maximum(prev_lh, 0)], mask=prev_lh < 0),
        ),
        "",
    )

    chunk_id = pa.array(
        pos - np.maximum.accumulate(np.where(chunk_starts, pos, 0))
    )
    doc = pc.take(doc_id, chunk_doc)
    return [
        pc.binary_join_element_wise(doc, pc.cast(chunk_id, pa.string()), "-"),
        chunk_id,
        pa.array(pg),
        doc,
        lh,
        pc.binary_join_element_wise(
            "||", pc.cast(pa.array(pg - 1), pa.string()), "||\n", lh, "\n",
            t, "",
        ),
    ]


_SPLITS = {"markdown": _stride_split, "separator": _separator_split}


def chunk_batches(
    batches: Iterator[pa.RecordBatch], mode: str
) -> Iterator[pa.RecordBatch]:
    """The chunk kernel: extracted (doc_id, spans) Arrow batches, one row
    per document, to chunk rows (CHUNKS_DDL). ``mode`` is ``page``,
    ``markdown`` (fixed stride) or ``separator``."""
    for batch in _bounded(batches):
        doc_id, d, kind, text = _spans(batch)
        if not len(d):
            continue
        if mode == "page":
            cols = _page_chunks(doc_id, d, kind, text)
        else:
            cols = _markdown_chunks(doc_id, d, kind, text, _SPLITS[mode])
        if cols is not None:
            yield pa.RecordBatch.from_arrays(cols, names=_CHUNK_COLUMNS)


def _chunked(frame: DataFrame, mode: str, fused: bool = False) -> DataFrame:
    def chunks(batches):
        if fused:
            batches = _extract_iter(batches)
        return chunk_batches(batches, mode)

    return frame.select("doc_id", "spans").mapInArrow(chunks, CHUNKS_DDL)


def page_chunks(extracted: DataFrame) -> DataFrame:
    """One chunk per page: (chunk_doc_id, chunk_id, pg_number, file_name,
    title=NULL, content='||pg||\\n' + page markdown)."""
    return _chunked(extracted, "page")


def markdown_chunks(extracted: DataFrame) -> DataFrame:
    """Reference-faithful heading-section chunks (see module docstring)."""
    return _chunked(extracted, "markdown")


def markdown_chunks_separator(extracted: DataFrame) -> DataFrame:
    """C3 separator mode: windows END at the last paragraph break
    ``\\n\\n`` (else last newline, else last space, else hard cut) found
    in the window's CHUNK_OVERLAP tail — the full separator hierarchy of
    RecursiveCharacterTextSplitter (docker/main.py:63-65: separators
    ``["\\n\\n", "\\n", " "]``), made deterministic and oracle-checkable.
    Overlap stays exactly CHUNK_OVERLAP; non-final chunks span
    (STRIDE, CHUNK_SIZE] chars; a paragraph-break cut ends at the pair's
    SECOND newline so the next chunk starts at a paragraph head. Sections
    and carries are shared with the default mode."""
    return _chunked(extracted, "separator")


def page_chunks_fused(documents: DataFrame) -> DataFrame:
    """Raw documents(doc_id, spans) -> page chunks: the extraction kernel,
    then the chunk kernel, in one Python stage."""
    return _chunked(documents, "page", fused=True)


def markdown_chunks_fused(documents: DataFrame) -> DataFrame:
    """Raw documents(doc_id, spans) -> markdown chunks in one Python
    stage (extraction kernel, then the chunk kernel)."""
    return _chunked(documents, "markdown", fused=True)


PAGE_CHUNK_TYPES = ("pptx", "ppt", "xlsx", "xls", "png", "jpg")


def chunk_dispatch(extracted: DataFrame, file_type_col: str = "file_type") -> DataFrame:
    """C1: strategy dispatch — `page` chunking for slide/sheet/image types,
    `markdown` for document types (docker/main.py:457-463). The input must
    carry a file_type column; rows route to the matching chunker and the
    results union (each branch prunes to its docs before chunking)."""
    is_page = F.col(file_type_col).isin(*PAGE_CHUNK_TYPES)
    page_part = page_chunks(
        extracted.filter(is_page).drop(file_type_col)
    ).withColumn("chunk_type", F.lit("page"))
    md_part = markdown_chunks(
        extracted.filter(~is_page).drop(file_type_col)
    ).withColumn("chunk_type", F.lit("markdown"))
    return page_part.unionByName(md_part)


# ---------------------------------------------------------------------------
# Sliding-window chunking (RAG / embedding-input shape): fixed word window
# with stride overlap. The reference chunks by page or heading+size
# (doc2md_utils.py:207-260); overlapping windows are the standard third
# strategy for dense retrieval, so the dispatcher family carries it too.
# Zero shuffle: one transform(sequence(...)) projection per document.
# ---------------------------------------------------------------------------

WINDOW_WORDS = 64
WINDOW_STRIDE = 32


def window_chunks(
    docs: DataFrame,
    window: int = WINDOW_WORDS,
    stride: int = WINDOW_STRIDE,
) -> DataFrame:
    """documents(doc_id, text) -> overlapping word windows. Window k
    covers words[k*stride .. k*stride+window-1]; the last window starts
    at the smallest multiple of stride reaching the end, so every word
    is covered and short docs yield exactly one window."""
    n_w = (
        f"CASE WHEN size(ws) <= {window} THEN 1 "
        f"ELSE int((size(ws) - {window} + {stride} - 1) div {stride}) + 1 END"
    )
    expr = f"""
    element_at(transform(array(split(text, ' ')), ws ->
      transform(sequence(0, ({n_w}) - 1), k -> named_struct(
        'chunk_id', bigint(k),
        'content', array_join(slice(ws, k * {stride} + 1, {window}), ' '),
        'n_words', bigint(size(slice(ws, k * {stride} + 1, {window})))
      ))
    ), 1)
    """
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.expr(expr)).alias("c"),
        )
        .select("doc_id", "c.*")
    )


WINDOW_CHUNKS_SQL = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(text, ' ') AS ws
  FROM documents
),
idx AS (
  SELECT doc_id, ws,
    UNNEST(range(CASE WHEN len(ws) <= {WINDOW_WORDS} THEN 1
      ELSE (len(ws) - {WINDOW_WORDS} + {WINDOW_STRIDE} - 1)
           // {WINDOW_STRIDE} + 1 END)) AS k
  FROM w
)
SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
  array_to_string(
    ws[k * {WINDOW_STRIDE} + 1 : k * {WINDOW_STRIDE} + {WINDOW_WORDS}], ' ')
    AS content,
  CAST(len(ws[k * {WINDOW_STRIDE} + 1 : k * {WINDOW_STRIDE} + {WINDOW_WORDS}])
    AS BIGINT) AS n_words
FROM idx
"""
