"""PII scrubbing for training-data pipelines: redact emails, IPv4
addresses and phone-like numbers from a text column, with per-pattern
match counts.

All patterns are pure Column ``regexp_replace`` / ``regexp_extract_all``
expressions — JVM-side, whole-stage-codegen, no UDFs — and are written
in the cross-engine-safe dialect this repo standardizes on (see
functions.columns.WS_CLASS): explicit character classes only, no ``\\s``/``\\d``
/``\\w``/``\\b``, no lookarounds, so Spark's Java regex and DuckDB's RE2
read every pattern identically and the SQL oracle can reproduce the
output byte-for-byte.

Scrub order is fixed (email → IPv4 → phone) because the patterns can
overlap (an IPv4 can appear inside an email's domain); counts are taken
independently on the ORIGINAL text so they are order-free.

The reference engine has no PII pass (newspaper3k extracts, it doesn't
redact); this is one of the beyond-reference LLM-pipeline operators,
alongside dedup/decontamination in operators/dedup.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: local@domain.tld — alnum/._%+- local part, alnum/.- domain, ≥2-letter TLD
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

#: dotted quad (no octet-range check — scrubbing favors recall)
IPV4_RX = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

#: optional +, then ≥9 chars of digits/space/()- starting and ending on
#: a digit (1 + {7,} + 1) — long enough to skip years, 8-digit dates
#: (YYYYMMDD) and short counts
PHONE_RX = r"\+?[0-9][0-9 ()-]{7,}[0-9]"

EMAIL_TOKEN = "<EMAIL>"
IP_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"


def _count(text_col, pattern: str):
    return F.size(F.regexp_extract_all(text_col, F.lit(pattern), F.lit(0)))


def scrubbed_text_col(text_col):
    """Text with all three PII classes replaced by placeholder tokens,
    in the fixed email → IPv4 → phone order."""
    out = F.regexp_replace(text_col, EMAIL_RX, EMAIL_TOKEN)
    out = F.regexp_replace(out, IPV4_RX, IP_TOKEN)
    return F.regexp_replace(out, PHONE_RX, PHONE_TOKEN)


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """id, scrubbed text, and per-pattern counts (on the original text).

    Map-only: no shuffle, no UDF — at 100 TB this runs entirely inside
    whole-stage codegen at scan speed. Null text behaves like empty
    text (repo-wide convention — see dedup.simhash_table): counts 0,
    scrubbed '' — never null outputs or dropped rows.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(id_col),
        scrubbed_text_col(c).alias("scrubbed_text"),
        _count(c, EMAIL_RX).alias("n_emails"),
        _count(c, IPV4_RX).alias("n_ips"),
        _count(c, PHONE_RX).alias("n_phones"),
    )
