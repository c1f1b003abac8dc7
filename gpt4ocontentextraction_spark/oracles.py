"""DuckDB oracle SQL for the extraction pipeline.

Each constant here is the RELATIONAL SPEC of an engine operator, written
for DuckDB over the driver's pre-registered parquet views. The driver runs
the engine's Spark query and this SQL side-by-side and compares row
multisets — so these strings are the executable definition of the kernel
semantics documented in operators/extract_arrow.py (same numbered steps).
"""

from __future__ import annotations

from .spanify import SPANIFY_SQL

# Steps 1-3 of the kernel: offset sort, page segmentation (exclusive running
# count of page_breaks), reading-order rank (other=0, left=1, right=2,
# page_break=3), one resolved sequence number per span. The chain is
# parameterized over the input CTE block (anything exposing
# `spanified(doc_id, kind, text, media_ref, "offset")`), so alternate front
# ends (e.g. the coordinate-layout pipeline, operators/layout.py) reuse the
# same kernel spec; the default instantiation is the spanify corpus.
def resolved_sql_over(input_cte: str) -> str:
    return f"""
{input_cte},
paged AS (
  SELECT *,
    COALESCE(SUM(CASE WHEN kind = 'page_break' THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY "offset"
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS page,
    CASE kind WHEN 'column_left' THEN 1 WHEN 'column_right' THEN 2
              WHEN 'page_break' THEN 3 ELSE 0 END AS crank
  FROM spanified
),
resolved AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY page, crank, "offset") AS rn
  FROM paged
)
"""

# Step 4: boilerplate strip — tagged kinds, blank text, link density > 0.5,
# then the per-page text-density rule (step 4c): among a page's surviving
# textual spans, drop those with token count below half the page mean
# (2 * wc * m < W, exact integers).
#
# A span is textual unless its kind is one of the known non-textual kinds,
# so an unknown kind is plain text (step 5 maps it to `text`). Blank means
# empty after trimming the 29 code points Python's str.isspace() accepts,
# the set Arrow's utf8_trim_whitespace trims; DuckDB's one-argument trim
# strips only the Unicode space separators and keeps e.g. tab and newline.
_TEXTUAL = (
    "kind NOT IN ('heading1', 'heading2', 'table_row', 'chart', 'figure',"
    " 'nav', 'footer', 'ad', 'script', 'page_break')"
)
_WHITESPACE = (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20, 0x85, 0xA0,
    0x1680, *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
)
_BLANK = "trim(text, {}) = ''".format(
    " || ".join(f"chr({c})" for c in _WHITESPACE)
)
_KEPT_SUFFIX = f""",
kept0 AS (
  SELECT * FROM resolved
  WHERE kind NOT IN ('nav', 'footer', 'ad', 'script')
    AND NOT ({_TEXTUAL} AND (
      {_BLANK}
      OR (length(text)
          - length(regexp_replace(text, '\\[[^\\]]*\\]\\([^)]*\\)', '', 'g')))
         > 0.5 * greatest(length(text), 1)))
),
kept AS (
  SELECT doc_id, kind, text, media_ref, "offset", page, crank, rn FROM (
    SELECT *,
      CASE WHEN {_TEXTUAL}
           THEN length(text) - length(replace(text, ' ', '')) + 1
      END AS td_wc,
      SUM(CASE WHEN {_TEXTUAL}
               THEN length(text) - length(replace(text, ' ', '')) + 1
          END) OVER (PARTITION BY doc_id, page) AS td_w,
      SUM(CASE WHEN {_TEXTUAL}
               THEN 1 END) OVER (PARTITION BY doc_id, page) AS td_m
    FROM kept0
  )
  WHERE td_wc IS NULL OR NOT (2 * td_wc * td_m < td_w)
)
"""


def kept_sql_over(input_cte: str) -> str:
    return resolved_sql_over(input_cte) + _KEPT_SUFFIX


# Steps 5-6: table-run islands (gaps-and-islands over the resolved order),
# pipe-table rendering with header separator, kind mapping, offset reindex.
_EXTRACT_SUFFIX = """,
lagged AS (
  SELECT *,
    CASE WHEN kind <> 'table_row'
          OR COALESCE(LAG(kind) OVER (PARTITION BY doc_id ORDER BY rn), '?')
             <> 'table_row'
     THEN 1 ELSE 0 END AS new_island
  FROM kept
),
islanded AS (
  SELECT *,
    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY rn) AS island
  FROM lagged
),
pieces AS (
  SELECT *,
    CASE WHEN kind = 'table_row' THEN
      '| ' || replace(replace(text, chr(10), ' '), chr(9), ' | ') || ' |'
      || CASE WHEN ROW_NUMBER() OVER (PARTITION BY doc_id, island ORDER BY rn) = 1
         THEN chr(10) || '| ' ||
              array_to_string(list_transform(range(len(string_split(text, chr(9)))),
                                             x -> '---'), ' | ')
              || ' |'
         ELSE '' END
    ELSE text END AS piece
  FROM islanded
),
collapsed AS (
  SELECT doc_id, island,
    MIN(rn) AS rn0,
    arg_min(kind, rn) AS kind0,
    arg_min(text, rn) AS text0,
    arg_min(media_ref, rn) AS media0,
    string_agg(piece, chr(10) ORDER BY rn) AS agg_text
  FROM pieces
  GROUP BY doc_id, island
),
extracted AS (
  SELECT
    doc_id,
    CASE WHEN kind0 IN ('heading1', 'heading2') THEN 'heading'
         WHEN kind0 = 'table_row' THEN 'table'
         WHEN kind0 IN ('chart', 'figure') THEN 'media'
         WHEN kind0 = 'page_break' THEN 'page_break'
         ELSE 'text' END AS kind,
    CASE WHEN kind0 = 'heading1' THEN '# ' || text0
         WHEN kind0 = 'heading2' THEN '## ' || text0
         WHEN kind0 = 'table_row' THEN agg_text
         ELSE text0 END AS text,
    CASE WHEN kind0 IN ('chart', 'figure') THEN media0 ELSE '' END AS media_ref,
    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rn0) - 1 AS INTEGER)
      AS "offset"
  FROM collapsed
)
"""


def extract_sql_over(input_cte: str) -> str:
    """Full kernel spec (steps 1-6) over any CTE block exposing
    `spanified(doc_id, kind, text, media_ref, "offset")`; exposes
    `extracted`."""
    return kept_sql_over(input_cte) + _EXTRACT_SUFFIX


EXTRACT_SQL = extract_sql_over(SPANIFY_SQL)


# A2: ordered merge — spans joined by newline in offset order.
MERGE_SQL = f"""
{EXTRACT_SQL},
merged AS (
  SELECT doc_id, string_agg(text, chr(10) ORDER BY "offset") AS merged_md
  FROM extracted GROUP BY doc_id
)
"""

# C2: page chunking (vectorize_by_page, docker/main.py:479-500).
_PAGE_CHUNKS_SUFFIX = """,
pc_paged AS (
  SELECT *,
    COALESCE(SUM(CASE WHEN kind = 'page_break' THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY "offset"
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS page
  FROM extracted
),
page_chunks AS (
  SELECT
    doc_id || '-' || CAST(page + 1 AS VARCHAR) AS chunk_doc_id,
    CAST(page + 1 AS BIGINT)                   AS chunk_id,
    CAST(page + 1 AS BIGINT)                   AS pg_number,
    doc_id                                     AS file_name,
    CAST(NULL AS VARCHAR)                      AS title,
    '||' || CAST(page + 1 AS VARCHAR) || '||' || chr(10)
      || string_agg(text, chr(10) ORDER BY "offset") AS content
  FROM pc_paged
  WHERE kind <> 'page_break'
  GROUP BY doc_id, page
)
"""
PAGE_CHUNKS_SQL = EXTRACT_SQL + _PAGE_CHUNKS_SUFFIX

# C3: markdown-heading chunking, reference-faithful (vectorize_by_markdown,
# docker/main.py:502-539 with headers_to_split_on at 53-58):
#  - sections split on BOTH '# ' and '## ' headings (header kept in content);
#  - fixed 8192/820 windows per section (deterministic stand-in for the
#    recursive splitter's boundary preference — same size contract);
#  - a per-doc sequential carry over chunks in (sec, k) order replicating
#    the reference loop: pg_number updates from the chunk's first ||N||
#    marker ONLY when the chunk doesn't start with '||' (main.py:516-518);
#    last_heading lags one chunk behind (title + content prefix use the
#    PRE-update value, main.py:521,535-537); every chunk's content is
#    prefixed '||{pg-1}||\n{last_heading}\n' (main.py:521).
_MD_SECTIONS = """,
mc_secs AS (
  SELECT *,
    SUM(CASE WHEN kind = 'heading'
              AND (text LIKE '# %' OR text LIKE '## %') THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY "offset"
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sec
  FROM extracted
),
sections AS (
  SELECT doc_id, sec,
    string_agg(text, chr(10) ORDER BY "offset") AS content
  FROM mc_secs GROUP BY doc_id, sec
)
"""


def _md_carry_suffix(pieces_cte: str) -> str:
    """The reference's sequential carry loop over chunks (doc_id, sec, k,
    t) from `pieces_cte`, as windowed forward-fills (shared by the stride
    and separator splitting modes)."""
    return f""",
md_marked AS (
  SELECT doc_id, sec, k, t,
    list_filter(string_split(t, chr(10)), x -> x LIKE '# %')[-1] AS h1,
    CASE WHEN substr(t, 1, 2) <> '||' THEN
      TRY_CAST(NULLIF(regexp_extract(t, '\\|\\|(\\d+)\\|\\|', 1), '')
               AS BIGINT)
    END AS upd
  FROM {pieces_cte}
),
md_carried AS (
  SELECT doc_id, sec, k, t,
    COALESCE(LAST_VALUE(h1 IGNORE NULLS) OVER
      (PARTITION BY doc_id ORDER BY sec, k
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '') AS lh,
    COALESCE(LAST_VALUE(upd IGNORE NULLS) OVER
      (PARTITION BY doc_id ORDER BY sec, k
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1) AS pg
  FROM md_marked
),
md_chunks AS (
  SELECT
    doc_id || '-' || CAST(ROW_NUMBER() OVER
      (PARTITION BY doc_id ORDER BY sec, k) - 1 AS VARCHAR) AS chunk_doc_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sec, k) - 1 AS BIGINT)
      AS chunk_id,
    CAST(pg AS BIGINT) AS pg_number,
    doc_id AS file_name,
    lh AS title,
    '||' || CAST(pg - 1 AS VARCHAR) || '||' || chr(10) || lh || chr(10) || t
      AS content
  FROM md_carried
)
"""


_MD_CHUNKS_SUFFIX = (
    _MD_SECTIONS
    + """,
md_ranges AS (
  SELECT doc_id, sec,
    UNNEST(range(greatest(1,
      CAST(ceil((length(content) - 820) / 7372.0) AS BIGINT)))) AS k,
    content AS full_content
  FROM sections
),
md_pieces AS (
  SELECT doc_id, sec, k,
    substr(full_content, CAST(k * 7372 + 1 AS BIGINT), 8192) AS t
  FROM md_ranges
)
"""
    + _md_carry_suffix("md_pieces")
)
MD_CHUNKS_SQL = EXTRACT_SQL + _MD_CHUNKS_SUFFIX


# C3 separator mode: size windows that END at the last newline (else space,
# else hard cut) inside the window's overlap tail — the deterministic,
# oracle-checkable approximation of RecursiveCharacterTextSplitter's
# boundary preference (docker/main.py:63-65); overlap stays exactly 820.
# The cut recurrence is sequential, so the oracle is a recursive CTE
# (register with WITH RECURSIVE).


def _duck_cut(content: str, start: str) -> str:
    """1-based absolute cut position for the chunk starting at `start`.

    Separator hierarchy (RecursiveCharacterTextSplitter's ["\\n\\n",
    "\\n", " "]): last paragraph break in the tail wins (cut ends at the
    pair's SECOND newline, position 820 - nl2 + 1 via reverse-strpos),
    else last newline, else last space, else a hard cut at 820."""
    tail = f"substr({content}, {start} + 7372, 820)"
    nl2 = f"strpos(reverse({tail}), chr(10) || chr(10))"
    nl = f"strpos(reverse({tail}), chr(10))"
    sp = f"strpos(reverse({tail}), ' ')"
    pos = (
        f"(CASE WHEN {nl2} > 0 THEN 820 - {nl2} + 1"
        f" WHEN {nl} > 0 THEN 820 - {nl} + 1"
        f" WHEN {sp} > 0 THEN 820 - {sp} + 1 ELSE 820 END)"
    )
    return (
        f"(CASE WHEN length({content}) - {start} + 1 <= 8192"
        f" THEN length({content})"
        f" ELSE {start} + 7371 + {pos} END)"
    )


_MD_SEP_SUFFIX = (
    _MD_SECTIONS
    + f""",
md_sep_cuts AS (
  SELECT doc_id, sec, content,
         CAST(1 AS BIGINT) AS start_pos, CAST(0 AS BIGINT) AS k
  FROM sections
  UNION ALL
  SELECT doc_id, sec, content,
         {_duck_cut('content', 'start_pos')} - 819 AS start_pos,
         k + 1 AS k
  FROM md_sep_cuts
  WHERE length(content) - start_pos + 1 > 8192
),
md_sep_pieces AS (
  SELECT doc_id, sec, k,
    substr(content, start_pos,
           {_duck_cut('content', 'start_pos')} - start_pos + 1) AS t
  FROM md_sep_cuts
)
"""
    + _md_carry_suffix("md_sep_pieces")
)

# NOTE: register with a "WITH RECURSIVE" prefix (md_sep_cuts recurses).
MD_SEP_CHUNKS_SQL = EXTRACT_SQL + _MD_SEP_SUFFIX

# C1: chunk-strategy dispatch — page chunking for even doc_ids (the
# deterministic stand-in for pptx/xlsx/png file types), markdown for odd
# (pdf/docx/html). Reference rules: docker/main.py:457-463.
CHUNK_DISPATCH_SQL = (
    EXTRACT_SQL
    + _PAGE_CHUNKS_SUFFIX
    + _MD_CHUNKS_SUFFIX
    + """
SELECT chunk_doc_id, chunk_id, pg_number, file_name, title, content,
       'page' AS chunk_type
FROM page_chunks WHERE CAST(file_name AS BIGINT) % 2 = 0
UNION ALL
SELECT chunk_doc_id, chunk_id, pg_number, file_name, title, content,
       'markdown' AS chunk_type
FROM md_chunks WHERE CAST(file_name AS BIGINT) % 2 = 1
"""
)

# F1-F5 page-marker functions over the merged markdown.
MARKERS_SQL = f"""
{MERGE_SQL},
markers AS (
  SELECT doc_id,
    COALESCE(TRY_CAST(NULLIF(regexp_extract(merged_md, '\\|\\|(\\d+)\\|\\|', 1), '')
             AS BIGINT), 0) AS first_pg,
    COALESCE(TRY_CAST(
      (regexp_extract_all(merged_md, '\\|\\|(\\d+)\\|\\|', 1))[-1] AS BIGINT), 0)
      AS last_pg,
    CAST(len(list_distinct(regexp_extract_all(merged_md, '\\|\\|(\\d+)\\|\\|', 1)))
      AS BIGINT) AS n_distinct_pgs,
    COALESCE(list_filter(string_split(merged_md, chr(10)),
                         x -> x LIKE '# %')[-1], '') AS last_h1,
    COALESCE(array_to_string(list_filter(string_split(merged_md, chr(10)),
                                         x -> NOT x LIKE '||%'), chr(10)), '')
      AS without_pipes
  FROM merged
)
"""

