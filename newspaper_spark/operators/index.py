"""Positional inverted-index construction — the IR index-build pass
(term → document postings with delta-encoded token positions plus
document/collection frequencies) that sits downstream of extraction
in a search pipeline, and upstream of BM25 scoring (``bm25.py``
consumes exactly this shape of statistics).

No reference counterpart (newspaper3k has per-article keyword bags
only); this completes the retrieval family: chunking (``chunking.py``)
→ index build (here) → BM25 top-k (``bm25.py``) / ANN
(``similarity.py``).

Scale shape: one posexplode over the corpus feeding ONE
map-side-combined ``groupBy(term, doc)`` — the single corpus-sized
shuffle; position deltas are computed AFTER aggregation by a
``zip_with`` over each posting's sorted position list, whose length
is the within-doc term frequency — the documented bounded-HOF
exception (line_filters precedent). (The first implementation used a
per-(doc, term) lag window instead; that added a second corpus-sized
sort+shuffle over raw token rows and measured 2.4–4x the executor
CPU of this form at sf0.1 — BENCH.md round-6 audit.) The term-level
df/cf aggregate runs over the ALREADY-AGGREGATED postings relation
(persisted, cache-tracked), not a second corpus pass, and joins back
keyed by term (NOT broadcast — a web-scale lexicon isn't; hot
stopword terms are AQE skew-split carrying only two longs).
Delta-gap encoding is the standard postings compression front-end
(Elias/varint byte coding would consume these gaps; emitting them as
a '+'-joined string keeps the oracle exact and the driver
canonicalizer array-free).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from newspaper_spark import cache
from newspaper_spark.functions.columns import ws_tokens
from newspaper_spark.operators.textstats import term_counts

__all__ = ["build_postings", "sparse_dot_pairs"]


def build_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build the positional postings relation.

    Returns one row per (term, doc): ``(term, doc_id, tf, deltas, df,
    cf)`` where ``deltas`` is the '+'-joined delta-gap encoding of the
    term's 0-based token positions in the doc (first gap measured from
    position 0, so positions reconstruct by prefix sum), ``df`` the
    term's document frequency and ``cf`` its collection frequency.
    Tokenization is the shared WS_CLASS convention (empty doc = one
    '' token, consistent with token_count_col across operators).
    """
    tokpos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("pos", "term"),
    )
    # deltas from the sorted per-posting position list: zip each
    # position with its predecessor (0 for the first, so positions
    # reconstruct by plain prefix sum)
    postings = cache.track(
        tokpos.groupBy("term", "id")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("ps"),
        )
        .select(
            "term",
            "id",
            "tf",
            F.array_join(
                F.zip_with(
                    "ps",
                    F.concat(
                        F.array(F.lit(0)),
                        F.expr("slice(ps, 1, size(ps) - 1)"),
                    ),
                    lambda cur, prev: (cur - prev).cast("string"),
                ),
                "+",
            ).alias("deltas"),
        )
        .persist()
    )
    stats = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    return postings.join(stats, "term").select(
        "term",
        F.col("id").alias(id_col),
        "tf",
        "deltas",
        "df",
        "cf",
    )


def sparse_dot_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 100,
    min_dot: int = 1,
) -> DataFrame:
    """Index-based all-pairs document similarity (the inverted-index
    similarity join of Bayardo, Ma & Srikant 2007, "Scaling Up All
    Pairs Similarity Search") — candidate pairs come from sharing an
    index term, scores are exact integer term-frequency dot products
    ``dot(d1, d2) = sum_t tf1(t)*tf2(t)`` over surviving terms.

    ``max_df`` is THE scale lever (exactly the paper's frequency
    cutoff and bm25_topk's max_df stopword cut): a term appearing in
    ``df`` documents generates ``df*(df-1)/2`` candidate pairs, so
    dropping terms with ``df > max_df`` bounds candidate volume by
    ``max_df * sum_t df_t`` and simultaneously caps the hottest join
    key — corpus-frequency terms carry no similarity signal anyway.
    The cut is an explicit, oracle-replayed predicate, not a silent
    truncation.

    Scale shape: one explode + map-side-combined ``groupBy(term,
    doc)`` builds a tf/df-ONLY relation (positions and delta strings
    are :func:`build_postings`' concern — computing them here would
    roughly double the corpus-pass CPU for data the join never
    reads), persisted (cache-tracked) and reused for the df side and
    both join legs; the pair enumeration is ONE self-equi-join on
    ``term`` over the pruned relation followed by a map-side-combined
    ``groupBy(id1, id2)`` — shuffles carry (term, id, tf) and (id,
    id, partial) rows only, never text. Returns every ordered pair
    ``(id1 < id2)`` with ``dot >= min_dot`` — deterministic full set,
    no sampling.
    """
    tf_rel = cache.track(
        term_counts(df, text_col, F.col(id_col).alias("id")).persist()
    )
    wdf = tf_rel.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    p = (
        tf_rel.join(wdf.filter(F.col("df") <= int(max_df)), "term")
        .select("term", F.col("id").alias(id_col), "tf")
    )
    p1 = p.select("term", F.col(id_col).alias("id1"), F.col("tf").alias("tf1"))
    p2 = p.select("term", F.col(id_col).alias("id2"), F.col("tf").alias("tf2"))
    return (
        p1.join(p2, "term")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.sum(F.col("tf1") * F.col("tf2")).cast("long").alias("dot"))
        .filter(F.col("dot") >= int(min_dot))
    )
