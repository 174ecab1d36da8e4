"""BM25 top-k retrieval over an inverted-postings relation — the
data-selection / decontamination retrieval primitive.

LLM training pipelines run lexical retrieval against the corpus
constantly: benchmark decontamination sweeps (retrieve the corpus
documents most similar to every eval item, then audit/remove), DSIR-
and DCLM-style "select documents near the target distribution", and
general corpus forensics. The reference engine (per-article
newspaper3k) has no corpus-level analog; this is a beyond-reference
LLM-pipeline operator like dsir/quality_nb, and it reuses their
tokenization (lower → explicit-whitespace collapse → split; empty
tokens excluded here).

Model: Okapi BM25 (Robertson–Spärck Jones) with the classic idf,

    score(q, d) = Σ_{t ∈ q}  idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    idf(t)      = log10( (N − df + ½) / (df + ½) )

summed over DISTINCT query terms (qtf ≡ 1, the common convention).
Base-10 logs per this repo's oracle convention — ranking is unaffected
(monotone). idf can go negative for terms in >half the corpus
(classic BM25 behavior, kept); pass ``max_df`` to drop such terms
before scoring (the standard stopword-frequency cut — and the SCALE
lever, see below).

Spark shape — every stage scale-safe at 100 TB:
  1. the distinct query-term set BROADCASTs onto the token explode, so
     postings (doc, term, tf) only ever materialize for query terms —
     the corpus-sized stage is one explode + broadcast-semi-join +
     map-side-combined groupBy; dl rides along the explode (no
     corpus-wide join);
  2. df / N / total_len are O(query terms) + one 1-row aggregate,
     broadcast back;
  3. the only per-query stage is the top-k window, whose partition is
     a query's candidate set (docs sharing ≥1 query term). Hot
     everyday terms make that set corpus-sized — the documented
     mitigation is ``max_df`` (drop terms in more than that many
     docs), which bounds candidates by #terms·max_df.

Float portability (the dsir/quality_nb recipe, engine-exact there):
idf is ONE log10 of a ratio of exact integers ((2N−2df+1)/(2df+1));
the tf saturation is a division of two doubles each assembled from
exact-integer factors cast to double BEFORE any multiply that could
leave 2^53 (k1, b enter as the integers k1_x10, b_x100, so the
rational form multiplies out exactly); and the per-(query, doc) sum
is over 6dp-floor-rounded integer MICRO-UNITS — an exact BIGINT sum,
immune to float summation order. The oracle spells every expression
identically.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from newspaper_spark import cache
from newspaper_spark.functions.columns import ws_tokens

__all__ = ["bm25_topk"]


def _toks(col):
    """The repo's portable tokenization, a null text read as ''."""
    return ws_tokens(F.coalesce(col, F.lit("")))


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    k: int = 10,
    k1_x10: int = 12,
    b_x100: int = 75,
    max_df: int | None = None,
) -> DataFrame:
    """Top-``k`` corpus documents per query by BM25.

    ``k1_x10``/``b_x100`` are the Okapi parameters ×10/×100 (defaults
    k1=1.2, b=0.75) — integers so the saturation denominator has an
    exact rational spelling on both engines. ``max_df`` drops query
    terms appearing in more than that many documents (None = keep
    all; REQUIRED reading for 100 TB — see module docstring).

    Returns ``(qid_col, rank, id_col, n_terms_matched, bm25)`` with
    rank 1..k per query (score desc, doc id asc; ties impossible —
    the rank key is the exact integer micro-unit score).
    """
    # 1-row corpus stats; dl rides the explode so no corpus-wide join
    with_dl = docs.select(
        F.col(id_col).alias("id"),
        _toks(F.col(text_col)).alias("_t"),
    ).select("id", F.size("_t").alias("dl"), F.col("_t"))
    stats = with_dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )

    # persist is load-bearing twice over: qterms feeds term_set AND the
    # final broadcast (the caller's query plan — often itself a corpus
    # scan — would run once per consumer), and postings feeds BOTH the
    # df aggregate (broadcast → its own job) and the scoring join — so
    # unpersisted, the corpus-sized explode executes twice.
    qterms = cache.track(
        queries.select(
            F.col(qid_col).alias("qid"),
            F.explode(_toks(F.col(qtext_col))).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
        .persist()
    )
    term_set = qterms.select("term").distinct()

    postings = cache.track(
        with_dl.select("id", "dl", F.explode("_t").alias("term"))
        .filter(F.col("term") != "")
        .join(F.broadcast(term_set), "term")
        .groupBy("id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .persist()
    )
    df_t = postings.groupBy("term").agg(
        F.count_distinct("id").cast("long").alias("df")
    )
    if max_df is not None:
        df_t = df_t.filter(F.col("df") <= max_df)

    # every arithmetic spelling below is mirrored byte-for-byte in the
    # oracle (module docstring: exact ints → double casts → one idf
    # log10 → 6dp micro-unit floor)
    num = (F.lit(100 * (k1_x10 + 10)) * F.col("tf")).cast("double") * F.col(
        "total_len"
    ).cast("double")
    den = (
        (F.lit(1000) * F.col("tf")).cast("double")
        * F.col("total_len").cast("double")
        + (F.lit(k1_x10 * (100 - b_x100)) * F.col("total_len")).cast("double")
        + (F.lit(k1_x10 * b_x100) * F.col("dl")).cast("double")
        * F.col("n_docs").cast("double")
    )
    idf = F.log10(
        (F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1)).cast(
            "double"
        )
        / (F.lit(2) * F.col("df") + F.lit(1)).cast("double")
    )
    contrib_u = F.floor(idf * (num / den) * 1000000.0 + F.lit(0.5)).cast(
        "long"
    )

    scored = (
        postings.join(F.broadcast(df_t), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "id")
        .agg(
            F.count("*").cast("long").alias("n_terms_matched"),
            F.sum(contrib_u).cast("long").alias("score_u"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("score_u").desc(), F.col("id").asc())
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(qid_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("id").alias(id_col),
            "n_terms_matched",
            (F.col("score_u").cast("double") / 1000000.0).alias("bm25"),
        )
    )
