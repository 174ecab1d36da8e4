"""C4-style duplicate-span removal (Raffel et al. 2020, §2.2): any
span of ``span`` consecutive sentences that occurs more than once in
the corpus is removed from every document except one canonical
occurrence. This is the classic cross-document boilerplate killer
("Subscribe to our newsletter…" tails), complementing the whole-doc
dedup family in operators/dedup.py.

Fully relational — the corpus-wide span table is the algorithm's core
and its cost: sentences are exploded rows, spans come from two ``lead``
windows over the per-doc sentence order, duplicate detection is a
map-side-combinable ``groupBy(span_hash)`` aggregate (count + minimal
(doc, position) canonical pick) joined back, and removal is an
anti-join. Every
shuffle is keyed by doc id or by the 32-hex span hash (uniform), text
never travels as a join key, so the plan is the scale-out shape C4's
own implementation uses. Canonicality is deterministic: the occurrence
with the smallest (doc_id, position) wins, so output is reproducible
and SQL-reconstructable.

The reference engine has no corpus-level pass (newspaper3k is
per-article); this is a beyond-reference LLM-pipeline operator.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from newspaper_spark import cache


#: unit separator — joins the sentences of a span before hashing, so
#: ("a b", "c") never collides with ("a", "b c")
_US = "\x1f"


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
    sep: str = r"\.",
    joiner: str = ". ",
) -> DataFrame:
    """Returns (id, cleaned_text, n_sentences, n_removed) per document.

    Sentences are period-delimited, trimmed, empties dropped, then
    renumbered consecutively (``seq``) so span membership is contiguous
    even when the raw split produced empty segments. A sentence is
    removed when ANY duplicated span occurrence covering it is not the
    canonical (minimal (doc_id, seq)) occurrence of its span hash —
    exactly C4's "keep one" rule under a deterministic tie-break.
    """
    # coalesce: null/empty text must still yield an output row
    # (0 sentences, '' cleaned) — explode would silently drop the doc
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    )
    raw = base.select(
        "id", F.posexplode(F.split("t", sep)).alias("p", "sent0")
    ).select("id", "p", F.trim("sent0").alias("sent")).filter(F.col("sent") != "")
    wdoc = W.partitionBy("id").orderBy("p")
    # persist is load-bearing (same rationale as the LSH signature
    # tables): `sent` feeds the span builder, the keep anti-join AND
    # the per-doc totals, and runtime broadcasts defeat ReuseExchange —
    # unpersisted, the sentence explode + renumber window executes 3×.
    sent = cache.track(
        raw.select("id", F.row_number().over(wdoc).alias("seq"), "sent").persist()
    )
    # spans of `span` consecutive sentences (same window spec as the
    # renumbering → Catalyst reuses one exchange+sort for all leads)
    wseq = W.partitionBy("id").orderBy("seq")
    parts = [F.col("sent")] + [
        F.lead("sent", k).over(wseq) for k in range(1, span)
    ]
    # h: the md5 digest is UNHEXed to 16 raw bytes before it becomes a
    # shuffle/join key — half the key bytes of the 32-char hex string
    # for the two Exchanges keyed on it (internal only: the output
    # never carries h, so the oracle is unaffected). The span relation
    # is persisted: it feeds the duplicate aggregate AND the join-back,
    # and the two Exchanges have different payloads (partial-agg rows
    # vs raw span rows) so ReuseExchange cannot fire — unpersisted, the
    # k-lead window + md5 execute twice.
    spans = cache.track(
        sent.select(
            "id",
            "seq",
            F.unhex(F.md5(F.concat_ws(_US, *parts))).alias("h"),
            parts[-1].isNotNull().alias("full"),
        )
        .filter("full")
        .drop("full")
        .persist()
    )
    # Duplicate detection + canonical pick via groupBy, NOT a window over
    # the span hash: `W.partitionBy("h")` funnels every occurrence of one
    # span hash into a single task, and the exact spans this operator
    # targets ("Subscribe to our newsletter…") occur millions of times in
    # a web corpus — one hot VALUE is one hot reducer.  count + min(struct)
    # are both map-side partially aggregated, so the hot key arrives at
    # its reducer as a handful of partial rows; the join-back replicates
    # the one aggregate row across however many map tasks hold the hot
    # span (and AQE's skew-join split covers the residual join skew).
    # min(struct(id, seq)) is lexicographic — identical to the previous
    # row_number().over(orderBy("id","seq")) == 1 canonical pick.
    dup_spans = spans.groupBy("h").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct("id", "seq")).alias("canon"),
    ).filter(F.col("n_occ") > 1)
    removed = (
        spans.join(dup_spans, "h")
        .filter(
            (F.col("id") != F.col("canon.id"))
            | (F.col("seq") != F.col("canon.seq"))
        )
        .select(
            "id",
            F.explode(
                F.array(*[F.col("seq") + k for k in range(span)])
            ).alias("seq"),
        )
        .distinct()
    )
    kept = sent.join(removed, ["id", "seq"], "left_anti")
    kept_agg = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "sent"))),
                lambda s: s["sent"],
            ),
            joiner,
        ).alias("cleaned_text"),
        F.count("*").alias("n_kept"),
    )
    # anchor on the INPUT doc set, not on `sent`: a doc with zero
    # non-empty sentences still gets its (id, '', 0, 0) row
    totals = base.select("id").join(
        sent.groupBy("id").agg(F.count("*").alias("n_sentences")), "id", "left"
    )
    return (
        totals.join(kept_agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_sentences", F.lit(0)).cast("long").alias("n_sentences"),
            (
                F.coalesce("n_sentences", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicated-window removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", §4.1):
    any run of ``k`` consecutive whitespace tokens that occurs more
    than once in the corpus (cross-doc OR within-doc) is removed
    everywhere except one canonical (minimal (doc_id, position))
    occurrence; a token is dropped when any covering non-canonical
    duplicated window touches it.  The paper's suffix-array scan is a
    single-node construction; the scale-out analog is the identical
    fixed-``k`` sliding-window formulation every distributed
    reproduction uses — which is exactly span_dedup's rule under
    token (rather than sentence) segmentation, so this reuses that
    de-skewed groupBy(hash)+join-back plan verbatim: k-1 ``lead``s
    over one per-doc sort, map-side-combined duplicate counts, hot
    windows (boilerplate repeated millions of times at web scale)
    never funnel into one reducer.

    Token segmentation uses the explicit cross-engine whitespace
    class (functions.columns.WS_CLASS — never ``\\s``, which differs between
    Java and RE2), so the DuckDB oracle reproduces it exactly.
    """
    from newspaper_spark.functions.columns import WS_CLASS

    return span_dedup(
        df, id_col, text_col, span=k, sep=WS_CLASS + "+", joiner=" "
    ).withColumnsRenamed(
        {"n_sentences": "n_tokens", "n_removed": "n_removed_tokens"}
    )


def paragraph_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MassiveText-style EXACT paragraph deduplication (Rae et al.
    2021, §A1.2): any newline-delimited paragraph occurring more than
    once in the corpus is removed everywhere except its canonical
    (minimal (doc_id, position)) occurrence. The degenerate span=1
    member of the span_dedup family — same de-skewed
    groupBy(hash)+join-back plan, same oracle construction, newline
    segmentation and reassembly instead of sentences."""
    return span_dedup(df, id_col, text_col, span=1, sep=r"\n", joiner="\n")


def dedup_lines_within_doc(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """WITHIN-document duplicate-line removal — the per-page half of
    repetition removal (Gopher's dup-line screens measure it, Dolma's
    dedupers act on it): every exact repeat of a non-empty line after
    its first occurrence in the SAME document is dropped; empty lines
    (paragraph structure) are preserved verbatim. Complements
    span_dedup/paragraph_dedup, which are CROSS-document.

    Shape: lines are posexploded to narrow ``(id, pos, line)`` rows,
    first-occurrence filtering is one ``row_number`` window per
    ``(id, line)`` (both shuffles keyed by doc id — uniform, no hot
    keys possible since a document's line count bounds its partition),
    and reassembly sorts the surviving (pos, line) structs per doc.
    The reassembly ``transform`` lambda is interpreted per element
    (CLAUDE.md HOF note) but bounded by lines-per-doc, not corpus
    size.

    Returns ``(id_col, cleaned_text, n_lines, n_removed)``.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n")
        ).alias("pos", "line"),
    )
    # empty lines bypass the window entirely so the non-empty branch
    # is a pure top-1-per-(id, line) filter — Catalyst then plans
    # WindowGroupLimit (plan-pinned in test_plan_shapes): duplicate
    # lines collapse MAP-SIDE before the shuffle, so a page with a
    # boilerplate line repeated 10⁴× ships O(tasks) rows, not 10⁴
    w = W.partitionBy("id", "line").orderBy("pos")
    kept = (
        lines.filter(F.col("line") != "")
        .select("id", "pos", "line", F.row_number().over(w).alias("occ"))
        .filter(F.col("occ") == 1)
        .drop("occ")
        .unionByName(lines.filter(F.col("line") == ""))
    )
    out = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count("*").cast("long").alias("n_lines"),
    )
    totals = lines.groupBy("id").agg(
        F.count("*").cast("long").alias("n_total")
    )
    return out.join(totals, "id").select(
        F.col("id").alias(id_col),
        "cleaned_text",
        "n_lines",
        (F.col("n_total") - F.col("n_lines")).alias("n_removed"),
    )
