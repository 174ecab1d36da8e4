"""Anchor-text aggregation — the link-text signal pass of a web-scale
index/quality pipeline: for every link target, the top-k most common
normalized anchor strings plus the target's total in-link count.

Search and curation pipelines both run this (anchor text is a
document-expansion field in classic IR, and an off-page quality
signal in webtext curation); the reference stops at per-page link
extraction (``utils.get_urls`` → ``source_build.extract_page_links``
here), so the cross-page aggregation is a beyond-reference operator
that composes with it.

Scale shape: anchors normalize map-side (lower + WS_CLASS collapse —
the repo's shared whitespace convention, byte-identical in DuckDB),
then ONE map-side-combined ``groupBy(target, anchor)`` count is the
only corpus-sized shuffle — raw link rows never move twice. The
per-target top-k is a rank-``<=k`` window over the AGGREGATED
(target, anchor, n) relation, ordered by ``(n DESC, anchor)`` — a
deterministic total order per target — which Spark executes with
WindowGroupLimit pushdown: partial top-k runs map-side before the
window shuffle, so a hot target (every page links the same homepage)
contributes at most k rows per input partition to the final sort, the
same bounded-state argument as ``dedup.kmv_distinct``. The in-link
total is a second small aggregate over the same persisted
(cache-tracked) aggregated relation, not another corpus pass.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from newspaper_spark import cache
from newspaper_spark.functions.columns import normalized_text

__all__ = ["anchor_topk"]


def anchor_topk(
    links: DataFrame,
    target_col: str = "target",
    text_col: str = "anchor",
    k: int = 3,
) -> DataFrame:
    """Top-k normalized anchor strings per link target.

    Returns ``(target, anchor, n_mentions, rank, in_links)`` — one row
    per surviving (target, anchor), ``rank`` 1-based in ``(n_mentions
    DESC, anchor)`` order, ``in_links`` the target's TOTAL mention
    count across all its anchors (not just the surviving k). Null or
    whitespace-only anchor text normalizes to '' and aggregates like
    any other value — dropping it is the caller's filter, not a
    silent default.
    """
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    agg = cache.track(
        links.select(F.col(target_col).alias("target"), norm.alias("anchor"))
        .groupBy("target", "anchor")
        .agg(F.count("*").cast("long").alias("n_mentions"))
        .persist()
    )
    totals = agg.groupBy("target").agg(
        F.sum("n_mentions").cast("long").alias("in_links")
    )
    w = W.partitionBy("target").orderBy(F.col("n_mentions").desc(), "anchor")
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .join(totals, "target")
        .select("target", "anchor", "n_mentions", "rank", "in_links")
    )
