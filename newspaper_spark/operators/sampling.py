"""Deterministic sampling operators for training-data pipelines.

Both samplers decide membership from a hash of the ROW KEY, never from
an RNG: the sample is reproducible run-to-run, stable under
repartitioning, cheap at any scale (pure map, no coordination), and
exactly reconstructable by the DuckDB oracle. This is the standard
web-corpus design (e.g. keep-if hash(url)/2^k < rate) — a
`rand()`-based sample would be nondeterministic across retries and
unverifiable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark.functions.columns import round6

#: hash → uniform [0, 1): first 8 md5 hex chars as a 32-bit integer.
#: DuckDB mirror: ('0x' || substring(md5(key || ':' || salt), 1, 8))::BIGINT
#: / 4294967296.0
#: F.concat (NOT concat_ws): a NULL key must yield a NULL hash so the
#: `< fraction` filter drops the row — exactly what the oracle's
#: NULL-propagating `||` does. concat_ws would silently hash just the
#: salt and KEEP every null-keyed row, diverging from the oracle.
def _hash_unit(key_col, salt: str):
    h = F.conv(
        F.substring(F.md5(F.concat(key_col, F.lit(":" + salt))), 1, 8), 16, 10
    ).cast("long")
    return h / F.lit(float(1 << 32))


def sample_fraction(
    df: DataFrame, fraction: float, key_col: str, salt: str = "sample"
) -> DataFrame:
    """Keep a deterministic ~`fraction` of rows by key hash."""
    return df.filter(_hash_unit(F.col(key_col).cast("string"), salt) < fraction)


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling: row kept iff
    hash(key) / 2^32 < fractions[stratum] (strata absent from the map
    get ``default_fraction``). One map-side filter — no shuffle, no
    per-stratum count job — so rebalancing a 100 TB corpus by language
    or source is a single scan."""
    frac = F.lit(float(default_fraction))
    for stratum, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == stratum, float(f)).otherwise(frac)
    return df.filter(_hash_unit(F.col(key_col).cast("string"), salt) < frac)


def source_mix(
    df: DataFrame,
    source_col: str = "source",
    count_col: str = "n_tokens",
    weight_col: str = "weight",
    budget_num: int = 1,
    budget_den: int = 2,
) -> DataFrame:
    """Data-mixing allocation (The Pile / DoReMi stage): given per-row
    token counts and a per-source target weight, compute each source's
    token budget and the deterministic sampling rate that realizes it.

    budget = total_tokens · budget_num / budget_den (exact integer
    arithmetic — fractions come in as a rational, never a float), then
    target_s = budget · w_s / Σw (integer), rate_s = min(1, target_s /
    tokens_s). Feed ``rate_s`` straight into ``sample_stratified`` for
    the actual scan-time downsample.

    Scale shape: one groupBy on source (source cardinality is tiny),
    a broadcast single-row total — O(sources) driver-free math, the
    corpus is touched exactly once.
    """
    if budget_den <= 0:
        raise ValueError("budget_den must be positive")

    def idiv(a, b):
        # exact integer division for non-negative values, computed in
        # DECIMAL(38,0) space: (a - a%b) is an exact multiple of b that
        # can approach 2^63 (a double round-trip could be off by ±1
        # beyond 2^53, and a pre-division BIGINT product can ANSI-
        # overflow), so the quotient is formed as an integral decimal
        # and the long cast is exact; mirrors // in the oracle
        ad = a.cast("decimal(38,0)")
        return ((ad - ad % b) / b).cast("long")

    per = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.col(count_col), F.lit(0))).cast("long").alias("tokens"),
        F.max(weight_col).cast("long").alias("weight"),
    )
    tot = per.agg(
        F.sum("tokens").alias("tot_tokens"), F.sum("weight").alias("tot_weight")
    )
    j = per.crossJoin(F.broadcast(tot))
    # cast BEFORE the product so tot_tokens·budget_num can't ANSI-
    # overflow BIGINT on its way into idiv
    budget = idiv(
        F.col("tot_tokens").cast("decimal(38,0)") * budget_num, F.lit(budget_den)
    )
    # tot_weight = 0 (all-zero weights) must yield zero targets, not an
    # ANSI REMAINDER_BY_ZERO executor crash
    target = F.when(
        F.col("tot_weight") > 0,
        idiv(budget.cast("decimal(38,0)") * F.col("weight"), F.col("tot_weight")),
    ).otherwise(F.lit(0).cast("long"))
    rate = F.when(F.col("tokens") > 0, F.least(F.lit(1.0), target / F.col("tokens"))).otherwise(F.lit(0.0))
    return j.select(
        "source",
        "n_docs",
        "tokens",
        "weight",
        target.alias("target_tokens"),
        round6(rate).alias("rate"),
        F.least(target, F.col("tokens")).cast("long").alias("expected_tokens"),
    )
