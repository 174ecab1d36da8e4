"""Column-expression re-implementations of the reference's relational
surface (SURVEY.md §2.2, §2.6-2.8) — pure Catalyst, no Python in the
hot path, so predicate pushdown / codegen stay intact.

Each function returns a Column usable in filters/projections; the
matching ANSI-SQL form lives next to it in __spark_entry__.oracle_sql.
"""
from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- constants from the reference ------------------------------------------
MIN_WORD_COUNT = 300  # configuration.py:29
MIN_SENT_COUNT = 7  # configuration.py:30
MAX_TITLE = 200
MAX_TEXT = 100000

_MEDIA_PATHS = [
    "/video", "/slide", "/gallery", "/powerpoint", "/fashion", "/glamour",
    "/cloth",
]  # article.py:365-366

_PUNCT = string.punctuation


def inner_trim_col(c: Column) -> Column:
    """text.py:19-25: collapse whitespace runs, drop line breaks, trim."""
    collapsed = F.regexp_replace(c, r"[\s\t]+", " ")
    return F.trim(collapsed)


def strip_punctuation_col(c: Column) -> Column:
    """text.py:71-80: delete ASCII punctuation (translate-delete)."""
    return F.translate(c, _PUNCT, "")


def word_count_col(c: Column) -> Column:
    """Whitespace token count after punctuation strip (text.py:82-98)."""
    stripped = strip_punctuation_col(c)
    return F.size(F.split(stripped, " "))


def stopword_count_col(c: Column, stopwords: list) -> Column:
    """[B] analog of StopWords.get_stopword_count: tokens ∈ list.
    Uses filter+array_contains to preserve duplicate counting (an
    array_intersect would dedupe)."""
    toks = F.split(F.lower(strip_punctuation_col(c)), " ")
    lit_stops = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(lit_stops, t)))


def is_valid_body_col(
    text: Column, title: Column, meta_type: Column, html: Column
) -> Column:
    """article.py:322-359 as one Column predicate."""
    wordcount = F.size(F.split(text, " "))
    sentcount = F.size(F.split(text, r"\."))
    title_words = F.size(F.split(title, " "))
    meta_ok = (meta_type == "article") & (wordcount > MIN_WORD_COUNT)
    body_ok = (
        (title_words >= 2)
        & (wordcount >= MIN_WORD_COUNT)
        & (sentcount >= MIN_SENT_COUNT)
        & (html.isNotNull() & (html != ""))
    )
    return meta_ok | body_ok


def is_media_news_col(url: Column) -> Column:
    """article.py:361-370: media-section URL whitelist."""
    expr = F.lit(False)
    for p in _MEDIA_PATHS:
        expr = expr | url.contains(p)
    return expr


def is_pdf_payload(text: Column) -> Column:
    """network content-type skip analog (network.py:75-76)."""
    return text.startswith("%PDF-")


def url_filetype_col(url: Column) -> Column:
    """urls.py:242-261 essence: trailing extension of the path."""
    path = F.parse_url(url, F.lit("PATH"))
    trimmed = F.regexp_replace(path, r"/$", "")
    return F.lower(F.regexp_extract(trimmed, r"\.([A-Za-z0-9]{1,5})$", 1))


def truncate_title(c: Column) -> Column:
    return F.substring(c, 1, MAX_TITLE)


def truncate_text(c: Column) -> Column:
    return F.substring(c, 1, MAX_TEXT)


def link_hash_col(url: Column) -> Column:
    """Deterministic md5 link hash (utils.py:57-73 minus time.time())."""
    return F.md5(url)
