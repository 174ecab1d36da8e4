"""Deterministic Bloom-filter membership gate — the 100 TB-scale
alternative to the exact seen-URL anti-join.

The reference memoizes crawled URLs in a flat file and set-subtracts
in memory (/root/reference/newspaper/utils.py:114-132 cache_disk /
memoize_articles); our exact analog is the broadcast LeftAnti join in
``operators/source_build.py``. That plan needs the full seen-URL
relation on every executor (or a shuffle keyed by URL). At 10^11 seen
URLs neither is attractive; every production crawler gates with a
Bloom filter instead: false positives drop a tiny fraction of NEW
urls (re-crawl loss, tunable), false negatives never happen, and the
broadcast is m/8 BYTES instead of the full URL set.

Everything here is md5-derived and integer-exact so the DuckDB oracle
reconstructs the filter bit-for-bit (CLAUDE.md hashing convention):

* probe ``i`` of value ``v`` sets bit
  ``conv(substr(md5(i || ':' || v), 1, 15), 16, 10) % m``
  (15 hex digits = 60 bits, always positive before the modulo);
* the filter is a relation ``(word_idx, word)`` of **32-bit words
  stored in BIGINTs** — bit j of word w is ``1 << (pos % 32)`` with
  ``word_idx = pos >> 5``. 32-bit words keep every shift ≤ 31 so no
  engine hits signed-overflow checks (DuckDB raises on
  ``1::BIGINT << 63``), and every word value stays positive.

Scale shape: the build is one explode(k) + map-side ``bit_or``
groupBy onto at most m/32 rows (the ONLY state that ever moves); the
probe is one plan for batch and streaming frames: those rows packed
into one dense row of ceil(m/32) BIGINT words (m/4 bytes, 8 MB for
m = 2^25), broadcast ONCE and cross-joined, then k Column bit tests
per row — no aggregate, no shuffle and no state on the probed side,
and rows need no unique id. Probe cost is independent of the seen-set
size; raw URLs never shuffle. Sizing: m ≈ 1.44 · k/ln2 · n_keys bits
for the standard (2^-k)-ish false-positive rate at k hashes — callers
pick m per epoch from the expected key count.
"""
from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark.functions.columns import md5_long

__all__ = [
    "bloom_build",
    "bloom_probe",
    "bloom_seen_filter",
]


def _mask(pos: str):
    """Bit mask of position column ``pos`` within its 32-bit word
    (pyspark's shiftleft wrapper only takes a literal bit count, so the
    column form goes through expr)."""
    return F.expr(f"shiftleft(cast(1 as bigint), cast({pos} % 32 as int))")


def _bit_pos(col, i: int, m: int):
    """Probe i's bit position for value ``col`` — md5-derived, exact."""
    return md5_long(F.concat(F.lit(f"{i}:"), col)) % m


def bloom_build(df: DataFrame, col: str, m: int = 1 << 20, k: int = 4) -> DataFrame:
    """Build the filter relation ``(word_idx:long, word:long)`` from
    ``df[col]`` (nulls ignored). At most ``m/32`` rows; words are
    32-bit values in BIGINTs. The groupBy is map-side-combining onto
    ``m/32`` distinct keys, so the shuffle is bounded by the filter
    size regardless of input rows."""
    vals = df.select(F.col(col).alias("_v")).where(F.col("_v").isNotNull())
    pos = vals.select(
        F.explode(F.array(*[_bit_pos(F.col("_v"), i, m) for i in range(k)])).alias(
            "pos"
        )
    )
    return (
        pos.select(
            F.shiftright("pos", 5).alias("word_idx"),
            _mask("pos").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    words: DataFrame,
    col: str,
    m: int = 1 << 20,
    k: int = 4,
    out_col: str = "possibly_seen",
) -> DataFrame:
    """Attach ``out_col`` (boolean) to ``df``: True iff ALL k probe
    bits of ``df[col]`` are set in the ``words`` relation from
    :func:`bloom_build` (built with the SAME m and k — mismatched
    parameters silently probe the wrong bits). No false negatives by
    construction; null values probe as not-seen. Output: ``df``'s
    columns in their order, then ``out_col``.

    Map-only (module docstring): ``df`` may be a streaming DataFrame
    (``words`` is batch-built filter state), and its rows need no
    unique id."""
    n_words = -(-m // 32)
    dense = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "word"))).alias(
            "_by_idx"
        )
    ).select(
        # dense: a missing word is 0. The lambda runs over the one
        # packed row, not per probed row
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
            lambda i: F.coalesce(F.col("_by_idx")[i], F.lit(0).cast("long")),
        ).alias("_words")
    )
    pos = [f"_pos{i}" for i in range(k)]
    probed = df.select(
        "*", *[_bit_pos(F.col(col), i, m).alias(p) for i, p in enumerate(pos)]
    )
    seen = functools.reduce(
        operator.and_,
        [
            F.get(F.col("_words"), F.shiftright(p, 5)).bitwiseAND(_mask(p)) != 0
            for p in pos
        ],
    )
    # a null value has null positions -> null verdict -> not seen
    return probed.crossJoin(F.broadcast(dense)).select(
        *df.columns, F.coalesce(seen, F.lit(False)).alias(out_col)
    )


def bloom_seen_filter(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    m: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """One-call seen-URL gate: build a Bloom filter over
    ``seen[url_col]`` and probe every candidate. Returns the candidate
    columns plus ``possibly_seen``; keep rows where ``NOT
    possibly_seen`` (a false positive loses a new URL at the sized
    rate; a true duplicate is never re-emitted). The exact anti-join
    in source_build.py remains the right plan while the seen set
    broadcasts comfortably; this is the bounded-state replacement
    beyond that."""
    words = bloom_build(seen, url_col, m=m, k=k)
    return bloom_probe(candidates, words, url_col, m=m, k=k)
