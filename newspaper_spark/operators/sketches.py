"""Streaming-style frequency and cardinality sketches — Count-Min and
HyperLogLog — completing the repo's sketch family (Bloom membership in
``bloom.py``, KMV cardinality in ``dedup.kmv_distinct``).

The reference engine has no sketch surface at all (its scale story is
a single process); these are the operators a 100 TB corpus plan runs
BEFORE committing to exact passes: "which tokens are frequent enough
to blocklist / stopword?" (Count-Min heavy hitters) and "how many
distinct keys per group will the dedup shuffle carry?" (HyperLogLog,
the constant-memory complement to KMV).

Everything is md5-derived and integer-exact so the DuckDB oracle
reconstructs both sketches bit-for-bit (CLAUDE.md hashing convention):

* Count-Min row ``r`` hashes value ``v`` to column
  ``conv(substr(md5('cms' || r || ':' || v), 1, 15), 16, 10) % width``;
  the sketch is the relation ``(row, col, cnt)`` — at most
  ``depth x width`` rows regardless of input cardinality, built by ONE
  map-side-combined groupBy (the relational form of the streaming
  +=1). Estimates are min over the ``depth`` probes; CMS never
  underestimates, so a threshold scan over estimates has zero false
  negatives — the exact-verify join that follows only ever shrinks
  the candidate set.
* HyperLogLog (Flajolet et al. 2007) buckets ``h = md5_60(v)`` by its
  top ``p`` bits and keeps per-bucket ``max(rho)`` where ``rho`` is
  1 + the number of leading zeros in the remaining ``60-p`` bits
  (computed exactly from ``length(bin(rem))`` — identical semantics
  in Spark and DuckDB, including ``bin(0) = '0'``). The harmonic-mean
  denominator ``sum(2^-M[j])`` is kept as the SCALED INTEGER
  ``sum(2^(Rmax - M[j]))`` (Rmax = 61 - p, so every term and the
  <= m * 2^Rmax <= 2^61 total fit a BIGINT exactly) — order-free and
  bit-deterministic. The only float op is the single final
  correctly-rounded double division inside ``floor(alpha * m^2 *
  2^Rmax / S)`` — same one-division regime as ``kmv_distinct``.

Scale shape: both sketches shuffle ONLY bounded state (depth x width
counters; m rows per group), never the raw stream. The heavy-hitter
probe broadcasts the counter table (a few KB) against the candidate
relation; candidates themselves arrive pre-distinct from a map-side
combine. The small-range regime HLL is famous for (raw estimate
biased low when most buckets are empty) is REPORTED, not silently
corrected: the standard linear-counting correction needs ln(), a
transcendental with no cross-engine determinism guarantee, so the
operator emits the raw estimate plus ``n_zero_buckets`` and a
``small_range`` flag and leaves the correction to the (driver-side,
O(groups)) consumer.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark.operators.dedup import md5_long

__all__ = [
    "cms_counters",
    "cms_estimate",
    "cms_heavy_hitters",
    "hll_distinct",
]


def _cms_cells(value, depth: int, width: int):
    """One row per Count-Min row for ``value``: struct ``p(row, col)``,
    ``col`` md5-derived and exact (DuckDB:
    ``('0x'||substring(md5('cms'||r||':'||v),1,15))::BIGINT % width``)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("row"),
                    (md5_long(F.concat(F.lit(f"cms{r}:"), value)) % width)
                    .cast("long")
                    .alias("col"),
                )
                for r in range(depth)
            ]
        )
    ).alias("p")


def cms_counters(
    df: DataFrame,
    value_col: str,
    depth: int = 3,
    width: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the Count-Min counter relation ``(row, col, cnt)``.

    One explode(depth) over the stream, then a map-side-combined
    groupBy onto at most ``depth * width`` keys — the only state that
    ever shuffles, independent of the stream's cardinality (the
    relational form of the streaming CMS +=1). ``weight_col`` turns
    the sketch into a weighted frequency sketch (defaults to count).
    """
    w = F.coalesce(F.col(weight_col), F.lit(0)).cast("long") if weight_col else F.lit(1).cast("long")
    probes = df.select(_cms_cells(F.col(value_col), depth, width), w.alias("w"))
    return probes.groupBy(
        F.col("p.row").alias("row"), F.col("p.col").alias("col")
    ).agg(F.sum("w").alias("cnt"))


def cms_estimate(
    counters: DataFrame,
    probes: DataFrame,
    value_col: str,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Point-query the sketch for every row of ``probes``: adds an
    ``est`` column = min over the ``depth`` counter cells (0 when a
    cell was never touched — only possible for values absent from the
    build stream).

    The counter table is bounded (depth x width rows), so the join is
    a broadcast; probe cost is independent of the build stream size.
    """
    exploded = probes.select(
        "*", _cms_cells(F.col(value_col), depth, width)
    ).select("*", F.col("p.row").alias("row"), F.col("p.col").alias("col")).drop("p")
    joined = exploded.join(F.broadcast(counters), ["row", "col"], "left")
    keys = [c for c in probes.columns]
    return (
        joined.groupBy(*keys)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    threshold: "int | DataFrame | None" = None,
    depth: int = 3,
    width: int = 64,
    *,
    total_div: "int | None" = None,
) -> DataFrame:
    """Heavy hitters with exact verification: every value whose
    Count-Min estimate reaches ``threshold`` (zero false negatives by
    the CMS overestimate guarantee), with its exact stream count.

    ``threshold`` is an int, or a SINGLE-ROW DataFrame with a
    ``threshold`` column broadcast-joined in — the relational form of
    a data-relative cutoff, so no driver collect sits in the plan.
    ``total_div`` is the cheaper spelling of the common relative form
    ``total_stream_count div k``: it derives the cutoff from the
    already-persisted per-value count relation instead of a caller-
    side second pass over the raw stream.

    Returns ``(value, est_count, exact_count)``. Scale shape: ONE
    map-side-combined ``groupBy(value).count()`` is the only pass over
    the raw stream, and its distinct-key shuffle is the same volume
    (±8 bytes/key) a candidate ``distinct`` would cost — so the exact
    counts, the sketch build (weighted: ``sum(w)`` per cell equals the
    streaming +=1 by associativity), the probe relation, and the
    relative threshold are all derived from that one persisted
    relation (cache-tracked; released by the caller's
    ``cache.tracking_scope()``). Leaves a Spark job behind for the
    persist. When even the distinct-key shuffle is too much — a
    candidate universe that must stay bounded — build the counters
    with :func:`cms_counters` and probe an externally-bounded
    candidate set with :func:`cms_estimate` directly; this composition
    is the exact-verify shape, not the bounded-candidate shape.
    """
    from newspaper_spark import cache

    if (threshold is None) == (total_div is None):
        raise ValueError("pass exactly one of threshold / total_div")
    wc = cache.track(
        df.groupBy(value_col)
        .agg(F.count("*").cast("long").alias("exact_count"))
        .persist()
    )
    counters = cms_counters(wc, value_col, depth, width, weight_col="exact_count")
    est = cms_estimate(counters, wc, value_col, depth, width)
    if total_div is not None:
        thr = wc.agg(
            F.expr(
                f"cast(sum(exact_count) div {int(total_div)} as bigint)"
            ).alias("threshold")
        )
        est = est.crossJoin(F.broadcast(thr)).filter(
            F.col("est") >= F.col("threshold")
        ).drop("threshold")
    elif isinstance(threshold, DataFrame):
        est = est.crossJoin(F.broadcast(threshold)).filter(
            F.col("est") >= F.col("threshold")
        ).drop("threshold")
    else:
        est = est.filter(F.col("est") >= F.lit(int(threshold)))
    return est.select(
        value_col,
        F.col("est").alias("est_count"),
        "exact_count",
    )


#: alpha_m bias-correction constants from Flajolet et al. 2007 for the
#: small register counts where the closed form doesn't apply
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    p: int = 6,
) -> DataFrame:
    """HyperLogLog distinct-count sketch per group.

    Returns ``(group?, n_zero_buckets, sum_scaled, est_raw,
    small_range)`` where ``sum_scaled = sum_j 2^(Rmax - M[j])`` over
    all ``m = 2^p`` buckets (empty buckets contribute ``2^Rmax``,
    Rmax = 61 - p) and ``est_raw = floor(alpha_m * m^2 * 2^Rmax /
    sum_scaled)`` — the raw HLL estimator, bit-deterministic (one
    correctly-rounded double division). ``small_range`` flags the
    regime (est <= 2.5m with empty buckets) where the paper's
    linear-counting correction ``m * ln(m / n_zero)`` applies; the
    ln() is left to the O(groups) consumer (cross-engine float
    determinism — see module docstring).

    Scale shape: one map-side-combined groupBy onto (group, bucket)
    keys — at most m rows per group ever shuffle — then an m-row
    per-group fold. The constant-memory complement to
    ``dedup.kmv_distinct`` (which keeps k exact hashes and gets the
    small-range regime exact for free).
    """
    if p not in _HLL_ALPHA:
        raise ValueError(f"p must be one of {sorted(_HLL_ALPHA)}, got {p}")
    m = 1 << p
    rmax = 61 - p  # max rho: all 60-p remainder bits zero -> (60-p)+1
    grp = [group_col] if group_col else []
    h = md5_long(F.col(value_col))
    bucket = F.shiftright(h, 60 - p).cast("long")  # top p bits (h >= 0)
    rem = h % (1 << (60 - p))
    rho = (
        F.when(rem == 0, F.lit(rmax))
        .otherwise(F.lit(rmax) - F.length(F.bin(rem)))
        .cast("int")
    )
    regs = (
        df.select(*grp, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*grp, "bucket")
        .agg(F.max("rho").alias("mrho"))
    )
    # term = 2^(rmax - M[j]) exactly, as a BIGINT (shift <= rmax <= 57)
    term = F.expr(f"shiftleft(cast(1 as bigint), {rmax} - mrho)")
    agg = regs.groupBy(*grp).agg(
        F.sum(term).cast("long").alias("sum_present"),
        F.count("*").cast("long").alias("n_buckets"),
    )
    n_zero = (F.lit(m) - F.col("n_buckets")).cast("long")
    s = F.col("sum_present") + n_zero * F.lit(1 << rmax).cast("long")
    alpha = _HLL_ALPHA[p]
    est = F.floor(
        (F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(1 << rmax)))
        / s.cast("double")
    ).cast("long")
    return agg.select(
        *grp,
        n_zero.alias("n_zero_buckets"),
        s.cast("long").alias("sum_scaled"),
        est.alias("est_raw"),
        (
            (est <= F.lit(int(5 * m / 2))) & (n_zero > 0)
        ).alias("small_range"),
    )
