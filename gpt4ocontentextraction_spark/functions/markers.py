"""Scalar string/regex functions F1-F10 (SURVEY.md §2.5), as Column helpers.

Each mirrors a reference function, rebuilt as JVM-side Spark expressions
(no Python UDFs):

- F1 ``find_first_page_number``  (docker/main.py:132-138)
- F2 ``find_page_number`` (last) (docker/main.py:150-156)
- F3 ``find_all_page_numbers``   (docker/main.py:158-164 — dedup'd)
- F4 ``find_last_heading_level_1`` (docker/main.py:140-148)
- F5 ``remove_between_pipes``    (docker/main.py:685-692)
- F6 ``extract_citations``       (docker/main.py:775-779)
- F7 ``parse_doc_id``            (docker/main.py:960-974 — rsplit('-', 2))
- F8 ``encode_base64``           (docker/main.py:117-127)
- F10 token counting             (docker/main.py:32 — here: whitespace and
  BPE-ish regex token counts, see operators/textstats.py)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PAGE_MARKER_RE = r"\|\|(\d+)\|\|"


def find_first_page_number(c: Column) -> Column:
    """First ||N|| marker as int; 0 when absent."""
    return F.coalesce(
        F.nullif(F.regexp_extract(c, PAGE_MARKER_RE, 1), F.lit("")).cast("long"),
        F.lit(0).cast("long"),
    )


def find_page_number(c: Column) -> Column:
    """Last ||N|| marker as int; 0 when absent."""
    return F.coalesce(
        F.try_element_at(F.regexp_extract_all(c, F.lit(PAGE_MARKER_RE), F.lit(1)), F.lit(-1))
        .cast("long"),
        F.lit(0).cast("long"),
    )


def find_all_page_numbers(c: Column) -> Column:
    """All distinct ||N|| markers, first-occurrence order (reference returns
    an unordered dedup'd set — docker/main.py:164 list(set(...)); we keep
    first-occurrence order to stay deterministic)."""
    return F.array_distinct(
        F.regexp_extract_all(c, F.lit(PAGE_MARKER_RE), F.lit(1))
    )


def find_last_heading_level_1(c: Column) -> Column:
    """Text of the last line starting with '# '; NULL when none."""
    return F.try_element_at(
        F.filter(F.split(c, "\n"), lambda x: x.startswith("# ")), F.lit(-1)
    )


def remove_between_pipes(c: Column) -> Column:
    """Drop lines starting with '||' (the answer post-processing in /chat,
    docker/main.py:685-692)."""
    return F.array_join(
        F.filter(F.split(c, "\n"), lambda x: ~x.startswith("||")), "\n"
    )


def extract_citations(c: Column) -> Column:
    """All [citation] bodies."""
    return F.regexp_extract_all(c, F.lit(r"\[([^\]]+)\]"), F.lit(1))


def parse_doc_id(c: Column) -> list[Column]:
    """'{base}-{chunk_id}-{pg}' -> (base, chunk_id, pg); base may contain
    dashes (rsplit semantics, docker/main.py:960-974)."""
    n = F.size(F.split(c, "-"))
    base = F.array_join(F.slice(F.split(c, "-"), 1, n - 2), "-")
    chunk_id = F.try_element_at(F.split(c, "-"), F.lit(-2))
    pg = F.try_element_at(F.split(c, "-"), F.lit(-1))
    return [base.alias("base_id"), chunk_id.alias("chunk_id"), pg.alias("pg")]


def encode_base64(c: Column) -> Column:
    return F.base64(c.cast("binary"))
