"""Text analysis operators: language-ID, quality scoring, token
counting, rolling-hash fingerprints, repetition and n-gram language-
model statistics. Per-document Columns and relational passes alike run
JVM-side, whole-stage-codegen friendly and SQL-oracle-checkable.

Every corpus-statistics operator reads terms through
:func:`term_counts` and adjacent pairs through :func:`bigram_rows` (or
``functions.columns.ws_bigrams`` over a normalized column): one
spelling of what counts as a term and as a bigram.
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
    ws_tokens,
)

# small high-frequency marker lists per language (public knowledge,
# intentionally tiny: this is an n-gram/marker heuristic, not a model).
# Space-delimited languages match whole tokens; scriptio-continua
# languages (zh/ja/th) count marker SUBSTRING occurrences, since
# whitespace tokenization never isolates their function words.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "for", "with"],
    "es": ["el", "la", "los", "las", "que", "para", "con", "una"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "est", "une", "pour", "dans", "avec"],
    "pt": ["de", "que", "não", "uma", "os", "para", "com", "mais"],
    "it": ["di", "che", "non", "per", "una", "sono", "con", "del"],
    "nl": ["de", "het", "een", "van", "niet", "met", "voor", "zijn"],
    "ru": ["и", "в", "не", "на", "что", "с", "это", "как"],
    "ar": ["في", "من", "على", "أن", "إلى", "عن", "هذا", "ما"],
    "ko": ["그리고", "있는", "하는", "것은", "있다", "한다", "으로", "에서"],
}

LANG_CHAR_MARKERS = {
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
    "ja": ["の", "に", "は", "を", "が", "です", "ます", "した"],
    "th": ["และ", "ที่", "ใน", "ของ", "ให้", "ได้", "เป็น", "มี"],
}


def _substr_count(text_col, marker: str):
    """Occurrences of a literal marker — (len − len(removed)) / len(m).
    Exact integer; mirrors (length(x)-length(replace(x,m,'')))//k in SQL."""
    removed = F.replace(text_col, F.lit(marker), F.lit(""))
    return ((F.length(text_col) - F.length(removed)) / F.lit(len(marker))).cast("int")


def lang_id_col(text_col):
    """argmax over marker-hit counts; ties broken by language code order
    (stable, portable to SQL)."""
    toks = ws_tokens(text_col)

    def hit_count(words):
        # closure factory: a default-arg lambda would make pyspark treat
        # the lambda as (element, index) and break
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    def char_count(markers):
        total = F.lit(0)
        for m in markers:
            total = total + _substr_count(text_col, m)
        return total

    scores = [
        F.struct(hit_count(words).alias("score"), F.lit(lang).alias("lang"))
        for lang, words in sorted(LANG_MARKERS.items())
    ] + [
        F.struct(char_count(ms).alias("score"), F.lit(lang).alias("lang"))
        for lang, ms in sorted(LANG_CHAR_MARKERS.items())
    ]
    # array_max on (score, lang) structs: max score, then max lang code —
    # mirror with ORDER BY score DESC, lang DESC LIMIT 1 in SQL
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def token_count_col(text_col):
    """Whitespace token count."""
    return F.size(ws_tokens(text_col))


def term_counts(df: DataFrame, text_col: str, *keys) -> DataFrame:
    """``(*keys, term, tf)``: occurrences of each whitespace token per
    distinct ``keys`` value (column names or Columns), map-side
    combined — the shuffle carries (keys, term, count) rows, never
    text. A null text reads as '' (one '' token), so explode never
    drops a document."""
    rows = df.select(
        *keys,
        F.explode(ws_tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("term"),
    )
    return rows.groupBy(*rows.columns).agg(F.count("*").cast("long").alias("tf"))


def bigram_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, w1, w2)``: one row per adjacent token pair of each
    document, map-only (see ``ws_bigrams``); a null text reads as ''."""
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    dn = df.select(F.col(id_col).alias("id"), norm.alias("nt"))
    g = dn.select("id", F.explode(ws_bigrams(F.col("nt"))).alias("g"))
    # tokens cannot contain spaces post-normalization
    return g.select(
        "id",
        F.substring_index("g", " ", 1).alias("w1"),
        F.substring_index("g", " ", -1).alias("w2"),
    )


#: pre-tokenizer pattern (GPT-2-ish without lookarounds, so the same
#: pattern runs under both Java regex and DuckDB's RE2): alnum runs or
#: one non-space symbol per match. Whitespace spelled explicitly —
#: Java \s and RE2 \s disagree on \x0B.
_BPE_PRETOK = r"[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def bpe_ish_token_count_col(text_col):
    """Sub-word token ESTIMATE: pre-tokenize into alnum runs + single
    symbols, then charge ⌈len/4⌉ sub-words per alnum run (the usual
    ~4-chars-per-BPE-token rule); symbols count 1."""
    pieces = F.regexp_extract_all(text_col, F.lit(_BPE_PRETOK), F.lit(0))
    return F.coalesce(
        F.aggregate(
            pieces,
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.ceil(F.length(t) / 4.0),
        ),
        F.lit(0).cast("long"),
    )


def quality_score_col(text_col):
    """Boilerplate-ish quality heuristic in [0,1]: length band, alpha
    ratio, mean word length band, stopword presence."""
    n_chars = F.length(text_col)
    toks = ws_tokens(text_col)
    n_words = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(text_col, r"[^A-Za-zÀ-ÿ一-龥]", ""))
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    mean_wlen = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    len_ok = F.when((n_chars >= 100) & (n_chars <= 100000), 1.0).otherwise(0.25)
    wlen_ok = F.when((mean_wlen >= 3) & (mean_wlen <= 12), 1.0).otherwise(0.25)
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: F.array_contains(
                F.array(*[F.lit(w) for w in ["the", "and", "is", "a", "of"]]), t
            ),
        )
    )
    stop_ok = F.when(stop_hits > 0, 1.0).otherwise(0.5)
    return F.round((alpha_ratio + len_ok + wlen_ok + stop_ok) / 4.0, 6)


def doc_fingerprint_col(text_col):
    """Deterministic 128-bit content fingerprint of normalized text."""
    return F.md5(normalized_text(text_col))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing: hash every
    char k-gram, slide a ``window`` over the hash sequence, keep the
    minimum of each window, emit the distinct minima per doc.

    The guarantee (the winnowing paper's): any shared substring of
    length ≥ k + window − 1 between two documents yields at least one
    shared fingerprint — the standard contamination / overlap-detection
    primitive. Relational form: per-position k-gram rows (codegen
    md5 → 60-bit int), one window min per doc ordered by position,
    distinct. Shuffle is on doc id for the window, uniform keys."""
    from pyspark.sql import Window as W

    n_grams = F.greatest(F.length(text_col) - k + 1, F.lit(1))
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("pos"),
        n_grams.alias("n"),
        F.col(text_col).alias("t"),
    ).select(
        "id",
        "pos",
        "n",
        md5_long(F.substr("t", F.col("pos"), F.lit(k))).alias("h"),
    )
    w = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    minima = grams.withColumn("mh", F.min("h").over(w)).filter(
        F.col("pos") <= F.greatest(F.col("n") - window + 1, F.lit(1))
    )
    return minima.select("id", F.col("mh").alias("fingerprint")).distinct()


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals, per doc:

    * ``n_tokens`` / ``n_distinct_tokens`` / ``ttr`` — type-token ratio
      (low TTR ⇒ templated or looping text)
    * ``dup_bigram_frac`` — fraction of word-bigram occurrences whose
      bigram occurs more than once in the document
    * ``top_bigram`` / ``top_bigram_frac`` — the most frequent bigram
      (ties broken lexicographically) and an OVERLAP-WEIGHTED character
      ratio: occurrence_count · len(bigram) / len(normalized_text).
      Overlapping occurrences double-count the shared middle token, so
      the ratio can exceed 1.0 on degenerate loops ("a a a a" → 9/7) —
      this matches Gopher's duplicate-n-gram "fraction of characters
      contained within" convention (Rae et al. 2021, §A1.1), which is
      likewise occurrence-weighted, and the DuckDB oracle computes the
      identical quantity. It is a repetition SCORE, not a coverage
      fraction.

    These are the "repetitious text" filters of the Gopher/MassiveText
    quality pipeline (Rae et al. 2021, §A1.1), the n=2 member of their
    duplicate-n-gram family. Relational shape: ``ws_bigrams`` pairs
    (map-only, no lambda) are exploded rows, counted with a hash
    aggregate, topped with one row_number window — every shuffle is
    keyed by ``id_col`` (uniform), so the plan is a straight scale-out
    at 100 TB. The distinct-token count stays a pure Column
    (``array_distinct``), no extra shuffle.
    """
    from pyspark.sql import Window as W

    # null text behaves like empty text (one '' token) — stats stay
    # defined and no row vanishes
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    dn = df.select(F.col(id_col).alias("id"), norm.alias("nt"))
    toks = F.split("nt", " ")
    base = dn.select(
        "id",
        "nt",
        F.length("nt").cast("long").alias("nlen"),
        F.size(toks).cast("long").alias("ntok"),
        F.size(F.array_distinct(toks)).cast("long").alias("ndis"),
    )
    bigrams = base.select("id", F.explode(ws_bigrams(F.col("nt"))).alias("gram"))
    bgc = bigrams.groupBy("id", "gram").agg(F.count("*").cast("long").alias("cnt"))
    per_doc = bgc.groupBy("id").agg(
        F.sum("cnt").alias("total_bg"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_bg"),
    ).withColumnRenamed("id", "pid")
    top = (
        bgc.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("id").orderBy(F.col("cnt").desc(), F.col("gram").asc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("id").alias("tid"),
            F.col("gram").alias("top_bigram"),
            F.col("cnt").alias("top_cnt"),
        )
    )

    return (
        base.join(per_doc, F.col("id") == F.col("pid"), "left")
        .join(top, F.col("id") == F.col("tid"), "left")
        .select(
            F.col("id").alias(id_col),
            F.col("ntok").alias("n_tokens"),
            F.col("ndis").alias("n_distinct_tokens"),
            round6(
                F.when(F.col("ntok") > 0, F.col("ndis") / F.col("ntok")).otherwise(0.0)
            ).alias("ttr"),
            round6(
                F.when(
                    F.coalesce(F.col("total_bg"), F.lit(0)) > 0,
                    F.col("dup_bg") / F.col("total_bg"),
                ).otherwise(0.0)
            ).alias("dup_bigram_frac"),
            F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
            round6(
                F.when(
                    F.col("top_cnt").isNotNull() & (F.col("nlen") > 0),
                    (F.col("top_cnt") * F.length("top_bigram")) / F.col("nlen"),
                ).otherwise(0.0)
            ).alias("top_bigram_frac"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """CCNet-style language-model quality proxy: the mean unigram
    log10-probability of a document under the corpus's own token
    distribution (Wenzek et al. 2020 filter by KenLM perplexity; the
    unigram LM is its exact-arithmetic, SQL-reconstructable analog).
    Documents far below the corpus mean are gibberish / boilerplate;
    far above are degenerate repetition.

    Two relational passes, both scale-safe:
    1. vocabulary: explode tokens → groupBy token (vocab-sized result,
       map-side combined; the token shuffle carries (token, count)
       pairs only);
    2. scoring: per-(doc, token) counts joined against the BROADCAST
       vocabulary — never a wide shuffle of text — then one groupBy doc.

    The per-doc sum runs over distinct tokens (≤ vocab size), matching
    the small-sum + 6dp-round regime text_entropy already proved
    engine-portable; the final round is the portable
    floor(x·1e6 + 0.5)/1e6 spelled identically in the oracle.

    ``group_col`` (CCNet's actual shape — Wenzek et al. 2020 score each
    LANGUAGE under its own LM): when set, the vocabulary, corpus total
    and therefore every probability are computed PER GROUP, and the
    output carries the group column. The group is a per-document
    attribute (each id has one group value), so the grouping adds no
    new shuffle axis — vocab keys become (group, token), still
    vocab-bounded per group.
    """
    grp = [group_col] if group_col else []
    doc_tok = cache.track(
        term_counts(df, text_col, F.col(id_col).alias("id"), *grp).persist()
    )
    # persist is load-bearing: doc_tok feeds the probe side AND the
    # vocabulary AND (via vocab) the corpus total, and the runtime
    # broadcasts defeat ReuseExchange — unpersisted, the plan scans and
    # explodes the whole corpus three times (verified via explain).
    vocab = doc_tok.groupBy(*grp, "term").agg(F.sum("tf").alias("cnt"))
    if group_col:
        total = vocab.groupBy(group_col).agg(F.sum("cnt").alias("n_corpus"))
        logp = vocab.join(F.broadcast(total), group_col).select(
            group_col,
            "term",
            F.log10(F.col("cnt") / F.col("n_corpus")).alias("logp"),
        )
        scored = doc_tok.join(F.broadcast(logp), [group_col, "term"])
    else:
        total = vocab.agg(F.sum("cnt").alias("n_corpus"))
        logp = vocab.crossJoin(F.broadcast(total)).select(
            "term", F.log10(F.col("cnt") / F.col("n_corpus")).alias("logp")
        )
        scored = doc_tok.join(F.broadcast(logp), "term")
    return (
        scored.groupBy("id", *grp)
        .agg(
            F.sum("tf").alias("n_tok"),
            F.sum(F.col("tf") * F.col("logp")).alias("s"),
        )
        .select(
            F.col("id").alias(id_col),
            *grp,
            F.col("n_tok").alias("n_tokens"),
            round6(F.col("s") / F.col("n_tok")).alias("mean_logprob"),
        )
    )


def bigram_backoff_logprob(
    df: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stupid-Backoff bigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" §4) — the web-scale
    count-based LM family CCNet's KenLM belongs to, with the backoff
    actually exercised: the model is trained on ``train`` (a corpus
    split) and scores every ``df`` document, so held-out docs hit
    unseen bigrams and fall back to the add-one-smoothed unigram path
    with the paper's fixed α=0.4 (S(w2|w1) = c2/c1 if the bigram was
    seen, else 0.4·(c1(w2)+1)/(N+V)).

    Scale shape: bigrams come map-only from :func:`bigram_rows`; count
    tables only ever shuffle as (gram, count) pairs (map-side
    combined); the doc-side join is an equi-join keyed by the
    bigram (uniform-ish; NOT broadcast — a web-scale bigram table is
    not broadcastable, unlike unigram_logprob's vocab) and the unigram
    fallback join is keyed by w2 (hot function-word keys are AQE
    skew-split; the join payload is (count) only). Per-doc mean uses
    the same small-sum + portable 6dp floor-round regime as
    unigram_logprob: the sum runs over DISTINCT doc bigrams, and
    near-tie engine log10 ulp differences are absorbed by the round.
    """
    # model (train split): unigram + bigram count tables. The unigram
    # table counts ALL train tokens (not just bigram w1s — the last
    # token of every doc is still a unigram event).
    uni = cache.track(term_counts(train, text_col).persist())
    totals = uni.agg(
        F.sum("tf").cast("long").alias("n_corpus"),
        F.count("*").cast("long").alias("v_corpus"),
    )
    tbg = bigram_rows(train, id_col, text_col).groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c2")
    )
    model2 = tbg.join(
        uni.select(F.col("term").alias("w1"), F.col("tf").alias("c1w1")), "w1"
    )

    # score side: per-(doc, bigram) counts
    docbg = bigram_rows(df, id_col, text_col).groupBy("id", "w1", "w2").agg(
        F.count("*").cast("long").alias("k")
    )
    scored = (
        docbg.join(model2, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("term").alias("w2"), F.col("tf").alias("c1w2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            "k",
            F.when(
                F.col("c2").isNotNull(),
                F.log10(
                    F.col("c2").cast("double") / F.col("c1w1").cast("double")
                ),
            )
            .otherwise(
                F.log10(
                    F.lit(0.4)
                    * (
                        (F.coalesce(F.col("c1w2"), F.lit(0)) + F.lit(1))
                        .cast("double")
                        / (F.col("n_corpus") + F.col("v_corpus")).cast("double")
                    )
                )
            )
            .alias("logp"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        F.sum(F.col("k").cast("double") * F.col("logp")).alias("s"),
    )
    # anchor on the input doc set: a doc with <2 tokens has no bigrams
    # but must still get its (0, 0.0) row
    return (
        df.select(F.col(id_col).alias("id")).join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(
                round6(F.col("s") / F.col("n_bigrams")), F.lit(0.0)
            ).alias("sb_logprob"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k terms per document by TF-IDF against the corpus itself —
    the corpus-aware upgrade of the reference's frequency-only keyword
    ranking (newspaper nlp.py keywords()): terms common across the
    corpus are discounted by idf = log10((N+1)/(df+1)) (add-one
    smoothed), tf = occurrences / doc length.

    Same scale shape as unigram_logprob: one explode + per-(doc,term)
    count (persisted — it feeds both the document-frequency aggregate
    and the scoring join), a vocab-sized document-frequency table
    broadcast back, one row_number window per doc. The rank ORDER BY
    uses the 6dp-floor-ROUNDED score (then term asc): near-tie doubles
    from engine log10 ulp differences round equal and fall through to
    the deterministic term tie-break, so the top-k cut is reproducible
    in the oracle.
    """
    from pyspark.sql import Window as W

    doc_tok = cache.track(
        term_counts(df, text_col, F.col(id_col).alias("id")).persist()
    )
    ntok = doc_tok.groupBy("id").agg(F.sum("tf").alias("ntok"))
    dfreq = doc_tok.groupBy("term").agg(
        F.countDistinct("id").cast("long").alias("df")
    )
    n_docs = doc_tok.agg(F.countDistinct("id").alias("n_docs"))
    scored = (
        doc_tok.join(F.broadcast(dfreq), "term")
        .join(ntok.withColumnRenamed("id", "nid"), F.col("id") == F.col("nid"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            F.floor(
                (F.col("tf") / F.col("ntok"))
                * F.log10((F.col("n_docs") + 1) / (F.col("df") + 1))
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).alias("s6"),
        )
    )
    w = W.partitionBy("id").orderBy(F.col("s6").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            "term",
            (F.col("s6") / F.lit(1000000.0)).alias("tfidf"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Adjacent-bigram PMI collocation mining (Church & Hanks 1990,
    "Word Association Norms, Mutual Information, and Lexicography") —
    the corpus-statistics pass that surfaces multi-word units
    ("neural network") for tokenizer vocab seeding, stopword-phrase
    blocklists, and boilerplate phrase discovery.

    ``PMI(w1,w2) = log10(P(w1,w2) / (P(w1)·P(w2)))`` over the
    adjacent-bigram event space: the marginals count bigram SLOTS
    (occurrences of ``w`` as left / as right member), not raw tokens,
    so all three probabilities share one sample space and the
    estimator is the textbook one.

    Scale shape: map-only :func:`bigram_rows` feed a map-side-combined
    ``groupBy(w1, w2)`` — (gram, count) pairs are the only corpus-sized
    shuffle; that relation is persisted (cache-tracked, released by the
    caller's ``tracking_scope()``) and reused for both marginals and
    the total, so the corpus is read once. Marginal joins are keyed by w1/w2 and
    NOT broadcast (a web-scale vocabulary isn't — the stupid_backoff
    precedent; hot function-word keys are AQE skew-split, and the join
    payload is a single count). ``min_count`` is an exact integer cut;
    the top-k boundary orders by the PORTABLY ROUNDED score (6dp
    floor-round, the repo regime) with a (w1, w2) lexical tiebreak —
    pairs are unique, so the order is total and the LIMIT cut is
    engine-deterministic. Per surviving pair the only float work is
    one log10 of a quotient of exact-in-double integer products
    (factors cast to double BEFORE multiplying — the dsir BIGINT
    overflow lesson).

    Returns the top-k ``(w1, w2, pair_n, left_n, right_n, pmi)``.
    """
    bg = cache.track(
        bigram_rows(df, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("pair_n"))
        .persist()
    )
    left = bg.groupBy("w1").agg(F.sum("pair_n").cast("long").alias("left_n"))
    right = bg.groupBy("w2").agg(F.sum("pair_n").cast("long").alias("right_n"))
    tot = bg.agg(F.sum("pair_n").cast("long").alias("n_bigrams"))
    pmi_raw = F.log10(
        (F.col("pair_n").cast("double") * F.col("n_bigrams").cast("double"))
        / (F.col("left_n").cast("double") * F.col("right_n").cast("double"))
    )
    pmi = round6(pmi_raw)
    return (
        bg.filter(F.col("pair_n") >= F.lit(int(min_count)))
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "pair_n", "left_n", "right_n", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(int(top_k))
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return df.withColumns(
        {
            "lang_id": lang_id_col(c),
            "n_tokens": token_count_col(c),
            "quality": quality_score_col(c),
            "fingerprint": doc_fingerprint_col(c),
        }
    )


def quality_buckets(
    df: DataFrame,
    score_col: str = "mean_logprob",
    id_col: str = "doc_id",
    weights: tuple[int, ...] = (1, 1, 1),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    bin_dp: int = 3,
    group_col: str | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020 §4.3:
    documents are binned by LM score and the corpus cut into quality
    tertiles from the HISTOGRAM of scores — their cutoffs come from
    fixed-bin histograms, not exact order statistics, and so do ours):
    assign each row a bucket label by where its score bin starts in
    the cumulative histogram.

    Exactness: thresholds are integer-exact — ``k_i = n·cumw_i div W``
    over integer ``weights`` (the gopher_filters pattern: no float
    division for the oracle to drift on). A bin that straddles a
    threshold is assigned to the bucket where it STARTS (all rows of
    one bin share a label — deterministic, no within-bin tie-break).
    Lower score = better = first label, matching CCNet's perplexity
    ordering when fed ``-mean_logprob``-like costs; pass the score
    negated (or reorder labels) for the opposite convention.

    Scale shape: one groupBy(bin) histogram (map-side combined onto at
    most range·10^bin_dp keys — for CCNet-style scores a few thousand
    bins), ONE window over that bounded histogram relation (the only
    single-partition step, O(bins) rows — the same documented bound as
    pack_offsets' partition-totals pass), then a broadcast join back.
    Raw text/scores never shuffle wide.

    ``group_col`` (CCNet's actual shape: head/middle/tail cuts are
    taken PER LANGUAGE): when set, the histogram, cumulative window
    and thresholds all partition by the group — the window becomes
    per-group (still O(bins-per-group) rows under a partition key, no
    single-partition step at all), and the output carries the group.
    """
    from pyspark.sql import Window as W

    if len(weights) != len(labels):
        raise ValueError("weights and labels must align")
    grp = [group_col] if group_col else []
    scale = float(10**bin_dp)
    # persist: binned feeds BOTH the histogram branch and the join-back
    # branch — unpersisted, the caller's (possibly expensive) score
    # plan executes twice. Tracked so tracking_scope()/release() frees
    # it once the output is consumed (cache.py contract).
    binned = cache.track(
        df.withColumn(
            "_bin", F.floor(F.col(score_col) * scale).cast("long")
        ).persist()
    )
    hist = binned.groupBy(*grp, "_bin").agg(
        F.count("*").cast("long").alias("_c")
    )
    w = (W.partitionBy(group_col) if group_col else W).orderBy(
        "_bin"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select(
        *grp, "_bin", (F.sum("_c").over(w) - F.col("_c")).alias("_c_lt")
    )
    tot_w = sum(weights)
    cum_w = [sum(weights[: i + 1]) for i in range(len(weights))]
    if group_col:
        total = hist.groupBy(group_col).agg(F.sum("_c").alias("_n"))
        lab = cum.join(F.broadcast(total), group_col)
    else:
        total = hist.agg(F.sum("_c").alias("_n"))
        lab = cum.crossJoin(F.broadcast(total))
    expr = None
    for cw, name in zip(cum_w[:-1], labels[:-1]):
        cond = F.col("_c_lt") < F.expr(f"_n * {cw} div {tot_w}")
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    bucket = (
        expr.otherwise(labels[-1]) if expr is not None else F.lit(labels[-1])
    )
    lab = lab.select(*grp, "_bin", bucket.alias("bucket"))
    return (
        binned.join(F.broadcast(lab), grp + ["_bin"])
        .select(
            id_col,
            *grp,
            score_col,
            F.col("_bin").alias("score_bin"),
            "bucket",
        )
    )
