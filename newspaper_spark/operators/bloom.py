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
groupBy onto at most m/32 rows (a few thousand for a billion-key
filter — the ONLY state that ever moves); the probe is explode(k) +
broadcast join against those rows + a k-row-per-key min aggregate.
Probe cost is independent of the seen-set size; raw URLs never
shuffle. Sizing: m ≈ 1.44 · k/ln2 · n_keys bits for the standard
(2^-k)-ish false-positive rate at k hashes — callers pick m per
epoch from the expected key count.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark.functions.columns import md5_long

__all__ = [
    "bloom_build",
    "bloom_probe",
    "bloom_probe_stream",
    "bloom_seen_filter",
]

#: bit mask for the in-scope ``pos`` column (pyspark's shiftleft wrapper
#: only takes a literal bit count, so the column form goes through expr)
_MASK = "shiftleft(cast(1 as bigint), cast(pos % 32 as int))"


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
            F.expr(_MASK).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    words: DataFrame,
    col: str,
    id_col: str,
    m: int = 1 << 20,
    k: int = 4,
    out_col: str = "possibly_seen",
) -> DataFrame:
    """Attach ``out_col`` (boolean) to ``df``: True iff ALL k probe
    bits of ``df[col]`` are set in the ``words`` relation from
    :func:`bloom_build` (built with the SAME m and k — mismatched
    parameters silently probe the wrong bits). No false negatives by
    construction; null values probe as not-seen. ``id_col`` must be
    unique per row (it keys the probe aggregate and the join back)."""
    probes = df.select(
        F.col(id_col),
        F.explode(
            F.array(*[_bit_pos(F.col(col), i, m) for i in range(k)])
        ).alias("pos"),
    )
    hit = F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.expr(_MASK)) != 0
    verdict = (
        probes.withColumn("word_idx", F.shiftright("pos", 5))
        .join(F.broadcast(words), "word_idx", "left")
        .select(id_col, F.when(hit, 1).otherwise(0).alias("hit"))
        .groupBy(id_col)
        # null col -> explode of null positions still yields k rows of
        # null pos -> hit 0 -> not seen; min==1 demands every probe hit
        .agg((F.min("hit") == 1).alias(out_col))
    )
    return df.join(verdict, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(False))
    )


def bloom_probe_stream(
    df: DataFrame,
    words: DataFrame,
    col: str,
    id_col: str,
    m: int = 1 << 20,
    k: int = 4,
    out_col: str = "possibly_seen",
) -> DataFrame:
    """Map-only twin of :func:`bloom_probe` for Structured Streaming:
    the batch probe's explode + groupBy(id) is a stateful streaming
    aggregation, but membership is just an AND of k bounded bit
    checks — so this variant computes each probe position as a column
    and resolves it with its own stream-static BROADCAST join against
    the (≤ m/32 row) words relation. k joins, zero aggregations, zero
    state: legal in append mode with no watermark, exactly what a
    streaming crawl loop needs (``df`` may be a streaming DataFrame;
    ``words`` is the batch-built filter state).

    Bit-for-bit the same verdicts as bloom_probe (same positions, same
    words) — proven by the batch-equivalence test. Works on batch
    DataFrames too; the batch probe stays preferable there only when k
    joins cost more than one shuffle-free explode+agg (they rarely do
    — both are broadcast — so this is also a fine batch plan).
    """
    out = df
    hit_cols = []
    for i in range(k):
        wi, w, p, h = f"_wi{i}", f"_w{i}", f"_pos{i}", f"_hit{i}"
        side = words.select(
            F.col("word_idx").alias(wi), F.col("word").alias(w)
        )
        out = out.withColumn(p, _bit_pos(F.col(col), i, m)).withColumn(
            wi, F.shiftright(p, 5)
        )
        out = out.join(F.broadcast(side), wi, "left")
        mask = F.expr(
            f"shiftleft(cast(1 as bigint), cast({p} % 32 as int))"
        )
        # null col -> null pos -> null mask -> hit false (not seen),
        # matching the batch probe's min(hit)==1 over k null probes
        out = out.withColumn(
            h,
            F.coalesce(
                F.coalesce(F.col(w), F.lit(0)).bitwiseAND(mask) != 0,
                F.lit(False),
            ),
        ).drop(p, wi, w)
        hit_cols.append(h)
    verdict = F.col(hit_cols[0])
    for h in hit_cols[1:]:
        verdict = verdict & F.col(h)
    return out.withColumn(out_col, verdict).drop(*hit_cols)


def bloom_seen_filter(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    m: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """One-call seen-URL gate: build a Bloom filter over
    ``seen[url_col]`` and probe every candidate. Returns the candidate
    columns plus ``possibly_seen``; keep rows where ``NOT
    possibly_seen`` (a false positive loses a new URL at the sized
    rate; a true duplicate is never re-emitted). The exact-anti-join
    twin in source_build.py remains the right plan while the seen set
    broadcasts comfortably; this is the bounded-state replacement
    beyond that."""
    words = bloom_build(seen, url_col, m=m, k=k)
    return bloom_probe(candidates, words, url_col, id_col, m=m, k=k)
