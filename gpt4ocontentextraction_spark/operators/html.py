"""Raw-HTML front end: spans -> HTML rendering and HTML -> spans parsing.

The north star names "HTML boilerplate stripping via DOM text-density /
link-density heuristics" as part of the extraction pipeline, and the
reference converts HTML documents to PDF pages before extraction
(reference: doc2md_utils.py:120-151 `convert_html_to_pdf`, the
html->pdf->png->GPT-4o leg). This module closes the raw-markup mile the
span-table input shape leaves implicit: real web-scale corpora arrive as
HTML strings, not pre-tagged span tables, so the engine needs a parser
from markup to its canonical ``(kind, text, media_ref, offset)`` block
representation — after which the existing densitometric kernel
(operators/extract_arrow.py steps 3-5: link density, per-page
number-of-words block scoring, boilerplate-kind drop) does the actual
main-content extraction. Rebuilt Spark-first:

- :func:`spans_to_html` — deterministic canonical renderer, one HTML
  block element per span, document order by ``offset``. Exists so the
  parser has a measurable inverse (round-trip gate) and so fixtures can
  manufacture real markup from the spanify corpus at any scale.
- :func:`html_to_spans` — the parser: one block-level element per line,
  tag -> kind classification, attribute extraction (``src``/``alt``/
  ``class``/``data-label``), entity decoding, ``<td>`` cell splitting to
  the kernel's tab-separated ``table_row`` text.

Both directions are PURE JVM expressions — ``transform`` / ``filter``
array lambdas plus ``regexp_extract`` / ``replace`` chains inside a
single projection. No Python worker, no explode, no shuffle: parsing N
documents is one narrow whole-stage-codegen'd map stage, exactly the
plan shape the 100-TB extraction job wants (plan pinned in
tests/test_html.py). The DuckDB oracle (HTML_RENDER_SQL) reproduces the
renderer bit-for-bit; the parser is gated by round-trip equality against
the spanify relation (gate ``html_roundtrip``) and by feeding the full
extraction kernel (the ``html`` arm of ``extract_spans_variants``), and
its tolerance beyond the canonical subset (attribute order, extra
attributes, whitespace, unknown tags, bare text lines) is pinned by unit
tests.

Kind <-> element mapping (canonical form the renderer emits; the parser
accepts a superset):

====================  =================================================
kind                  element
====================  =================================================
heading1 / heading2   ``<h1>text</h1>`` / ``<h2>text</h2>``
text                  ``<p>text</p>``
table_row             ``<tr><td>c1</td><td>c2</td>...</tr>``
chart / figure        ``<img class="chart|figure" src="ref" alt="text">``
nav / footer / script ``<nav>`` / ``<footer>`` / ``<script>``
ad                    ``<div class="ad">text</div>``
column_left / _right  ``<div class="col left|right">text</div>``
page_break            ``<hr data-label="||N||">``
====================  =================================================

Escaping is the minimal bijection the line protocol needs: ``&``, ``<``,
``>``, ``"`` to entities plus newline to ``&#10;`` (so a span can never
break the one-element-per-line framing); the parser decodes in exact
reverse order. ``media_ref`` is carried only on ``<img>`` (the span
vocabulary guarantees it is empty elsewhere — schema.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["spans_to_html", "html_to_spans", "HTML_RENDER_SQL"]


def _esc(x: str) -> str:
    """SQL expr: minimal HTML entity escape (order: & first)."""
    e = f"replace({x}, '&', '&amp;')"
    e = f"replace({e}, '<', '&lt;')"
    e = f"replace({e}, '>', '&gt;')"
    e = f"replace({e}, '\"', '&quot;')"
    e = f"replace({e}, chr(10), '&#10;')"
    return e


def _unesc(x: str) -> str:
    """SQL expr: exact inverse of :func:`_esc` (reverse order, & last)."""
    e = f"replace({x}, '&#10;', chr(10))"
    e = f"replace({e}, '&quot;', '\"')"
    e = f"replace({e}, '&gt;', '>')"
    e = f"replace({e}, '&lt;', '<')"
    e = f"replace({e}, '&amp;', '&')"
    return e


_RENDER_LINE = f"""
CASE s.kind
  WHEN 'heading1' THEN concat('<h1>', {_esc("s.text")}, '</h1>')
  WHEN 'heading2' THEN concat('<h2>', {_esc("s.text")}, '</h2>')
  WHEN 'table_row' THEN concat(
    '<tr><td>', replace({_esc("s.text")}, chr(9), '</td><td>'), '</td></tr>')
  WHEN 'chart' THEN concat(
    '<img class="chart" src="', {_esc("s.media_ref")},
    '" alt="', {_esc("s.text")}, '">')
  WHEN 'figure' THEN concat(
    '<img class="figure" src="', {_esc("s.media_ref")},
    '" alt="', {_esc("s.text")}, '">')
  WHEN 'nav' THEN concat('<nav>', {_esc("s.text")}, '</nav>')
  WHEN 'footer' THEN concat('<footer>', {_esc("s.text")}, '</footer>')
  WHEN 'ad' THEN concat('<div class="ad">', {_esc("s.text")}, '</div>')
  WHEN 'script' THEN concat('<script>', {_esc("s.text")}, '</script>')
  WHEN 'column_left' THEN concat(
    '<div class="col left">', {_esc("s.text")}, '</div>')
  WHEN 'column_right' THEN concat(
    '<div class="col right">', {_esc("s.text")}, '</div>')
  WHEN 'page_break' THEN concat('<hr data-label="', {_esc("s.text")}, '">')
  ELSE concat('<p>', {_esc("s.text")}, '</p>')
END
"""

_RENDER_EXPR = f"""
concat_ws(chr(10), transform(
  array_sort(spans, (l, r) -> CASE WHEN l.offset < r.offset THEN -1
                                   WHEN l.offset > r.offset THEN 1
                                   ELSE 0 END),
  s -> {_RENDER_LINE}
))
"""


def spans_to_html(df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, html): one block element per span,
    document order by offset, one line per element. Single JVM
    projection — no shuffle, no Python."""
    return df.select("doc_id", F.expr(_RENDER_EXPR).alias("html"))


# Parse pass 1: per line, pull the lexical pieces once (tag, class attr,
# full line, container inner text) so pass 2's kind/text CASEs don't
# re-run the regexes per branch.
_PARSE_LEX = """
named_struct(
  'ln', ln,
  'tag', lower(regexp_extract(ln, '^ *<([a-zA-Z0-9]+)', 1)),
  'clazz', regexp_extract(ln, 'class *= *"([^"]*)"', 1),
  'inner', regexp_extract(ln, '^ *<[^>]*>(.*)</[a-zA-Z0-9]+> *$', 1)
)
"""

_PARSE_KIND = """
CASE p.tag
  WHEN 'h1' THEN 'heading1'
  WHEN 'h2' THEN 'heading2'
  WHEN 'p' THEN 'text'
  WHEN 'tr' THEN 'table_row'
  WHEN 'nav' THEN 'nav'
  WHEN 'footer' THEN 'footer'
  WHEN 'script' THEN 'script'
  WHEN 'hr' THEN 'page_break'
  WHEN 'img' THEN CASE WHEN p.clazz RLIKE 'chart' THEN 'chart'
                       ELSE 'figure' END
  WHEN 'div' THEN CASE WHEN p.clazz RLIKE '(^| )ad( |$)' THEN 'ad'
                       WHEN p.clazz RLIKE 'left' THEN 'column_left'
                       WHEN p.clazz RLIKE 'right' THEN 'column_right'
                       ELSE 'text' END
  ELSE 'text'
END
"""

_TR_CELLS = (
    "regexp_replace(regexp_replace(p.inner,"
    " '</td> *<td[^>]*>', chr(9)), '^<td[^>]*>|</td> *$', '')"
)

# Attribute pulls (single-quoted SQL literals may contain raw `"`).
_ALT_ATTR = 'regexp_extract(p.ln, \'alt *= *"([^"]*)"\', 1)'
_LABEL_ATTR = 'regexp_extract(p.ln, \'data-label *= *"([^"]*)"\', 1)'
_SRC_ATTR = 'regexp_extract(p.ln, \'src *= *"([^"]*)"\', 1)'
_U_ALT = _unesc(_ALT_ATTR)
_U_LABEL = _unesc(_LABEL_ATTR)
_U_SRC = _unesc(_SRC_ATTR)
_U_CELLS = _unesc(_TR_CELLS)
_U_INNER = _unesc("p.inner")
_U_BARE = _unesc("trim(p.ln)")

_PARSE_TEXT = f"""
CASE
  WHEN p.tag = 'img' THEN {_U_ALT}
  WHEN p.tag = 'hr' THEN {_U_LABEL}
  WHEN p.tag = 'tr' THEN {_U_CELLS}
  WHEN p.tag IN ('h1','h2','p','nav','footer','script','div')
    THEN {_U_INNER}
  WHEN p.inner != '' THEN {_U_INNER}
  ELSE {_U_BARE}
END
"""

_PARSE_MEDIA = f"""
CASE WHEN p.tag = 'img' THEN {_U_SRC} ELSE '' END
"""

_PARSE_EXPR = f"""
transform(
  transform(
    filter(split(html, chr(10)), ln -> length(trim(ln)) > 0),
    ln -> {_PARSE_LEX}
  ),
  (p, i) -> named_struct(
    'kind', {_PARSE_KIND},
    'text', {_PARSE_TEXT},
    'media_ref', {_PARSE_MEDIA},
    'offset', int(i)
  )
)
"""


def html_to_spans(df: DataFrame) -> DataFrame:
    """(doc_id, html) -> (doc_id, spans): one span per non-blank line,
    kinds from tag/class, entities decoded, ``<td>`` cells re-joined by
    tab, offsets 0..n-1 in document order. Single JVM projection (two
    nested ``transform`` passes: lex, then classify) — no shuffle, no
    Python; output shape feeds operators/extract.py directly."""
    return df.select("doc_id", F.expr(_PARSE_EXPR).alias("spans"))


# ---------------------------------------------------------------------------
# DuckDB oracle: the renderer, reproduced bit-for-bit over the spanify
# relation. Consumes the `spanified` CTE (spanify.SPANIFY_SQL); exposes
# `html_rendered(doc_id, html)`.
# ---------------------------------------------------------------------------


def _esc_duck(x: str) -> str:
    e = f"replace({x}, '&', '&amp;')"
    e = f"replace({e}, '<', '&lt;')"
    e = f"replace({e}, '>', '&gt;')"
    e = f"replace({e}, '\"', '&quot;')"
    e = f"replace({e}, chr(10), '&#10;')"
    return e


HTML_RENDER_SQL = f"""
html_lines AS (
  SELECT
    doc_id,
    "offset",
    CASE kind
      WHEN 'heading1' THEN '<h1>' || {_esc_duck("text")} || '</h1>'
      WHEN 'heading2' THEN '<h2>' || {_esc_duck("text")} || '</h2>'
      WHEN 'table_row' THEN '<tr><td>'
        || replace({_esc_duck("text")}, chr(9), '</td><td>') || '</td></tr>'
      WHEN 'chart' THEN '<img class="chart" src="' || {_esc_duck("media_ref")}
        || '" alt="' || {_esc_duck("text")} || '">'
      WHEN 'figure' THEN '<img class="figure" src="' || {_esc_duck("media_ref")}
        || '" alt="' || {_esc_duck("text")} || '">'
      WHEN 'nav' THEN '<nav>' || {_esc_duck("text")} || '</nav>'
      WHEN 'footer' THEN '<footer>' || {_esc_duck("text")} || '</footer>'
      WHEN 'ad' THEN '<div class="ad">' || {_esc_duck("text")} || '</div>'
      WHEN 'script' THEN '<script>' || {_esc_duck("text")} || '</script>'
      WHEN 'column_left' THEN '<div class="col left">'
        || {_esc_duck("text")} || '</div>'
      WHEN 'column_right' THEN '<div class="col right">'
        || {_esc_duck("text")} || '</div>'
      WHEN 'page_break' THEN '<hr data-label="' || {_esc_duck("text")} || '">'
      ELSE '<p>' || {_esc_duck("text")} || '</p>'
    END AS line
  FROM spanified
),
html_rendered AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY "offset") AS html
  FROM html_lines
  GROUP BY doc_id
)
"""
