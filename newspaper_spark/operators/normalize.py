"""Unicode text normalization for training-data pipelines: NFC
canonical composition (so visually-identical strings hash/dedup
identically — decomposed "café" vs composed "café" is the classic
near-miss that defeats exact dedup) plus control-character stripping.

NFC runs as a per-row pandas UDF over ``unicodedata`` —
Spark has no built-in Unicode normalizer — and the oracle reproduces
it with DuckDB's ``nfc_normalize`` (both sides implement UAX #15;
verified identical on composition exclusions, Hangul jamo, combining
reordering and ligatures). The control strip is a pure-Column regexp
with explicit codepoint ranges (C0 except tab/newline/CR, DEL, C1),
read identically by Java regex and RE2.

Map-only: no shuffle; the UDF is the only non-codegen stage and
processes whole Arrow batches (``batch.row_udf``).
"""
from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .batch import row_udf

#: C0 minus \t\n\r, plus DEL and C1 — stripped after composition
CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"


def _nfc(s):
    return unicodedata.normalize("NFC", s) if s is not None else None


nfc_udf = row_udf(_nfc, T.StringType(), str)


def normalize_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, norm_text, changed, n_controls_removed) — NFC composition
    followed by control-char removal (composition never produces
    controls, so the order is canonical)."""
    # null text behaves like empty text (never null outputs)
    c = F.coalesce(F.col(text_col), F.lit(""))
    composed = nfc_udf(c)
    stripped = F.regexp_replace(composed, CONTROL_CLASS, "")
    return df.select(
        F.col(id_col),
        stripped.alias("norm_text"),
        (stripped != c).alias("changed"),
        (F.length(composed) - F.length(stripped)).cast("long").alias(
            "n_controls_removed"
        ),
    )
