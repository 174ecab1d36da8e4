"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw-corpus document by how much more
likely its hashed n-gram features are under a TARGET distribution
(a high-quality exemplar corpus) than under the raw distribution.
Selecting/resampling by this log-ratio is the standard pretraining
data-selection stage between quality filtering and tokenization; the
reference engine (per-article newspaper3k) has no corpus-level analog —
this is a beyond-reference LLM-pipeline operator.

Model (the paper's, exactly): features are unigrams + bigrams hashed
into ``n_buckets`` buckets; both corpora fit bag-of-buckets categorical
distributions with add-one smoothing; a document's importance weight is

    log w(x) = Σ_b c_b(x) · [log p_target(b) − log p_raw(b)]

Spark shape — every stage scale-safe at 100 TB:
  1. feature rows: explode unigram+bigram hashes (codegen md5 →
     60-bit int → % n_buckets, oracle-reconstructable);
  2. two bucket-count aggregates (≤ n_buckets rows each, map-side
     combined — the shuffle carries (bucket, count) pairs only);
  3. the O(n_buckets) log-ratio table BROADCASTs back onto per-(doc,
     bucket) counts; one groupBy(doc) sum. Raw text never shuffles.

Float portability: the per-bucket ratio is computed as ONE log10 of an
exact-integer ratio ((c_t+1)·(N_r+B)) / ((c_r+1)·(N_t+B)) — products
stay far below 2^53, so the double is bit-identical in DuckDB — and
the per-doc sum lives in the same small-sum + 6dp-floor-round regime
unigram_logprob already proved engine-portable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark import cache
from newspaper_spark.functions.columns import (
    md5_long,
    normalized_text,
    round6,
    ws_bigrams,
)


def _bucket_rows(df: DataFrame, id_col: str, text_col: str, n_buckets: int):
    """(id, b) — one row per unigram AND bigram occurrence, hashed to
    a bucket via the repo's portable md5-derived 60-bit integer.

    MAP-ONLY codegen formulation: bigrams come from ``ws_bigrams`` over
    the normalized text (no lambda, no window), so everything fuses
    into the scan stage."""
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    # normalize in its OWN projection: split and ws_bigrams both
    # consume it, and inlining the expression evaluates the
    # lower+regexp_replace twice per row (measured ~20% of the stage)
    dn = df.select(F.col(id_col).alias("id"), norm.alias("nt"))
    grams = F.concat(F.split(F.col("nt"), " "), ws_bigrams(F.col("nt")))
    return dn.select("id", F.explode(grams).alias("g")).select(
        "id", (md5_long("g") % n_buckets).alias("b")
    )


def _bucket_counts(df: DataFrame, id_col: str, text_col: str, n_buckets: int):
    """(id, b, k): per-document hashed-feature bucket counts."""
    return (
        _bucket_rows(df, id_col, text_col, n_buckets)
        .groupBy("id", "b")
        .agg(F.count("*").cast("long").alias("k"))
    )


def dsir_scores(
    raw: DataFrame,
    target,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
) -> DataFrame:
    """(doc_id, n_feats, dsir_logratio) for every raw document.

    ``dsir_logratio`` > 0 ⇔ the document looks more like the target
    corpus than like the raw corpus. The weight is in BASE-10 logs
    (md5/DuckDB-parity convention of this repo): rank/threshold
    selection is unaffected (log10 is monotone in the paper's ln-based
    w(x)), and a sampler wanting the paper's exact importance weight
    uses 10**dsir_logratio (NOT exp). 6dp-floor-rounded for oracle
    parity. ``n_feats`` = unigram+bigram occurrences (the c_b mass).

    ``target`` is either a DataFrame (an independent exemplar corpus —
    the general DSIR shape) or a boolean Column over ``id_col`` (the
    exemplars are a deterministic SLICE of ``raw``, the common
    in-corpus split): with a Column, the target bucket distribution is
    derived by filtering the already-persisted per-(doc, bucket)
    counts — identical counts by construction, and the second
    explode + hash pass over the exemplar text disappears.
    """
    feats_raw = cache.track(
        _bucket_counts(raw, id_col, text_col, n_buckets).persist()
    )
    # persist is load-bearing: feats_raw feeds both the raw bucket
    # distribution AND the scoring join; an AQE runtime broadcast would
    # otherwise defeat ReuseExchange and re-run the explode+hash scan.
    c_raw = feats_raw.groupBy("b").agg(F.sum("k").alias("c_r"))
    if isinstance(target, DataFrame):
        c_tgt = (
            _bucket_rows(target, id_col, text_col, n_buckets)
            .groupBy("b")
            .agg(F.count("*").cast("long").alias("c_t"))
        )
    else:
        # slice-of-raw form: sum the persisted per-(doc, bucket)
        # counts over the exemplar ids — exactly the bucket counts a
        # separate pass over the slice's text would produce
        c_tgt = (
            feats_raw.withColumnRenamed("id", id_col)
            .filter(target)
            .groupBy("b")
            .agg(F.sum("k").cast("long").alias("c_t"))
        )
    n_raw = c_raw.agg(F.sum("c_r").alias("n_r"))
    n_tgt = c_tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t"))
    # bucket table over RAW buckets (only buckets a raw doc can hit);
    # target-absent buckets smooth to c_t = 0
    ratio = (
        c_raw.join(c_tgt, "b", "left")
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            "b",
            # each factor casts to double BEFORE the multiply: factors
            # stay < 2^53 (exact) at any realistic corpus size, while a
            # BIGINT product would ANSI-overflow around 10^18. The
            # double multiply/divide is IEEE-deterministic, so the
            # oracle (same spelling) lands on the identical bits.
            F.log10(
                (
                    (F.coalesce("c_t", F.lit(0)) + 1).cast("double")
                    * (F.col("n_r") + n_buckets).cast("double")
                )
                / (
                    (F.col("c_r") + 1).cast("double")
                    * (F.col("n_t") + n_buckets).cast("double")
                )
            ).alias("lr"),
        )
    )
    scored = feats_raw.join(F.broadcast(ratio), "b")
    return scored.groupBy("id").agg(
        F.sum("k").cast("long").alias("n_feats"),
        round6(F.sum(F.col("k") * F.col("lr"))).alias("dsir_logratio"),
    ).select(F.col("id").alias(id_col), "n_feats", "dsir_logratio")
