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

from ..kernel.article import MAX_TEXT, MAX_TITLE

# --- constants from the reference ------------------------------------------
MIN_WORD_COUNT = 300  # configuration.py:29
MIN_SENT_COUNT = 7  # configuration.py:30

_MEDIA_PATHS = [
    "/video", "/slide", "/gallery", "/powerpoint", "/fashion", "/glamour",
    "/cloth",
]  # article.py:365-366

_PUNCT = string.punctuation

# Explicit ASCII whitespace class — byte-identical to Java regex \s
# ([ \t\n\x0B\f\r]) but, unlike \s, read the SAME way by DuckDB's RE2
# (whose \s lacks \x0B). Every cross-engine pattern must use this, never
# bare \s, so Spark and the SQL oracle can't silently diverge.
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"


def normalized_text(c: Column) -> Column:
    """Lowercase, collapse WS_CLASS runs to one space, trim: the
    canonical text form every token, hash and n-gram operator reads.
    Oracle: ``trim(regexp_replace(lower(x), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))``."""
    return F.trim(F.regexp_replace(F.lower(c), WS_CLASS + "+", " "))


def ws_tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text (an empty text is one
    '' token). Oracle: ``string_split(<normalized_text>, ' ')``."""
    return F.split(normalized_text(c), " ")


def ws_bigrams(norm: Column) -> Column:
    """Adjacent token pairs ``'w1 w2'`` of an already-normalized text
    (a :func:`normalized_text` column): the pairs of :func:`ws_tokens`,
    in order, overlapping. The consumed ``(?:^| )`` anchors each match
    at a token start (a bare lookahead would match at every character)
    and the zero-width lookahead captures the pair without consuming
    it, so consecutive pairs share their middle token — no per-document
    ``lead`` window (a shuffle and sort of the tokenized corpus) and no
    higher-order lambda (interpreted per element). Only valid over
    single-spaced text. Oracle, over ``t = string_split(norm, ' ')``:
    ``list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])``."""
    return F.regexp_extract_all(norm, F.lit(r"(?:^| )(?=(\S+ \S+))"), 1)


def md5_long(c: Column) -> Column:
    """First 60 bits of md5(c) as a non-negative BIGINT.
    Oracle: ``('0x' || substring(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def round6(c: Column) -> Column:
    """Portable HALF_UP at 6 decimals.
    Oracle: ``floor(x * 1000000.0 + 0.5) / 1000000.0``."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


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
