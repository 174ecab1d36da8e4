"""Trained quality classifier — hashed n-gram multinomial Naive Bayes.

Modern pretraining pipelines (DCLM, Llama-family data work, GPT-3's
WebText-vs-CommonCrawl filter) gate documents on a TRAINED quality
classifier, not only on heuristic rules: label a small exemplar set
(high-quality references vs raw crawl), fit a linear bag-of-n-grams
model, score every document, keep the confident tail. DSIR
(operators/dsir.py) covers the importance-RESAMPLING variant of the
same idea; this operator is the classifier variant — per-class counts
with priors instead of target/raw distribution ratios. The reference
engine (per-article newspaper3k) has no corpus-level analog; this is a
beyond-reference LLM-pipeline operator.

Model: multinomial Naive Bayes over unigram+bigram features hashed
into ``n_buckets`` buckets (the same feature map as DSIR — dsir's
``_bucket_counts``), add-one smoothing, class priors from labeled doc
counts. A document's log-odds of being high-quality is

    logodds(x) = log P(pos)/P(neg)
               + Σ_b c_b(x) · [log p(b|pos) − log p(b|neg)]

which is exactly a linear model over bucket counts — the reason NB is
the standard cheap stand-in for the fastText classifier these
pipelines actually ship (same feature map, same linear form).

Spark shape — every stage scale-safe at 100 TB:
  1. per-(doc, bucket) counts for train and score sets: explode +
     codegen md5 hash, map-side-combined groupBy (the shuffle carries
     (id, bucket, k) rows, never text);
  2. labels join onto the TRAIN bucket counts only — id-keyed narrow
     rows (the labeled exemplar set is tiny next to the corpus);
  3. the O(n_buckets) per-class count table + a 1-row constants
     relation (totals, priors, unseen-bucket ratio) BROADCAST back
     onto score-side counts; one groupBy(doc) sum.

Float portability (the DSIR recipe, verified engine-exact there): the
per-bucket ratio is ONE log10 of an exact-integer ratio — each factor
cast to double BEFORE the multiply, products far below 2^53 — and the
per-doc sum lives in the small-sum + 6dp-floor-round regime
unigram_logprob/dsir already proved portable. The prediction is taken
from the ROUNDED log-odds so both engines threshold the same value.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark import cache
from newspaper_spark.functions.columns import round6
from newspaper_spark.operators.dsir import _bucket_counts

__all__ = ["nb_quality_scores"]


def nb_quality_scores(
    docs: DataFrame,
    labeled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "is_pos",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Train on ``labeled`` (must carry boolean ``label_col``; both
    classes must be present — a single-class training set makes the
    prior log10(0) and every verdict degenerate, which is the caller's
    bug, not a recoverable state) and score every row of ``docs``.

    Returns ``(id_col, n_feats, nb_logodds, pred_hq)``:
    ``nb_logodds`` > 0 ⇔ the document looks more like the positive
    exemplars than the negative ones (base-10 logs, 6dp-floor-rounded
    for oracle parity; the threshold cut is monotone-invariant).
    ``n_feats`` = unigram+bigram occurrence mass, ``pred_hq`` the
    thresholded verdict on the rounded score.
    """
    labels = labeled.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("boolean").alias("pos")
    )
    train = _bucket_counts(labeled, id_col, text_col, n_buckets).join(
        labels, "id"
    )
    # per-class bucket counts: ≤ n_buckets rows, map-side combined.
    # persist is load-bearing: cb feeds THREE consumers (tot, consts,
    # lr) and two of them are broadcast, so each would otherwise re-run
    # the full train-side explode+hash+groupBy as its own job — at
    # corpus scale that's 2 extra passes over the labeled set.
    cb = cache.track(
        train.groupBy("b")
        .agg(
            F.sum(F.when(F.col("pos"), F.col("k")).otherwise(0))
            .cast("long")
            .alias("c_p"),
            F.sum(F.when(~F.col("pos"), F.col("k")).otherwise(0))
            .cast("long")
            .alias("c_n"),
        )
        .persist()
    )
    tot = cb.agg(
        F.coalesce(F.sum("c_p"), F.lit(0)).cast("long").alias("n_p"),
        F.coalesce(F.sum("c_n"), F.lit(0)).cast("long").alias("n_n"),
    )
    dc = labels.agg(
        F.count_distinct(F.when(F.col("pos"), F.col("id")))
        .cast("long")
        .alias("d_p"),
        F.count_distinct(F.when(~F.col("pos"), F.col("id")))
        .cast("long")
        .alias("d_n"),
    )
    # 1-row constants: prior log-odds and the unseen-bucket ratio
    # (buckets no training gram hit smooth to (0+1) on both sides, so
    # their ratio collapses to (n_n+B)/(n_p+B) — spelled identically
    # in the oracle)
    consts = tot.crossJoin(dc).select(
        "n_p",
        "n_n",
        F.log10(
            (F.col("n_n") + n_buckets).cast("double")
            / (F.col("n_p") + n_buckets).cast("double")
        ).alias("lr0"),
        F.log10(
            F.col("d_p").cast("double") / F.col("d_n").cast("double")
        ).alias("prior"),
    )
    lr = cb.crossJoin(F.broadcast(tot)).select(
        "b",
        # each factor casts to double BEFORE the multiply (dsir.py's
        # overflow/exactness argument): factors stay < 2^53 while a
        # BIGINT product would ANSI-overflow near 10^18
        F.log10(
            (
                (F.col("c_p") + 1).cast("double")
                * (F.col("n_n") + n_buckets).cast("double")
            )
            / (
                (F.col("c_n") + 1).cast("double")
                * (F.col("n_p") + n_buckets).cast("double")
            )
        ).alias("lr"),
    )
    feats = _bucket_counts(docs, id_col, text_col, n_buckets)
    scored = (
        feats.join(F.broadcast(lr), "b", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy("id", "prior")
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            round6(
                F.col("prior")
                + F.sum(F.col("k") * F.coalesce(F.col("lr"), F.col("lr0")))
            ).alias("nb_logodds"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_feats",
        "nb_logodds",
        (F.col("nb_logodds") > 0).alias("pred_hq"),
    )
