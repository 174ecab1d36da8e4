"""C4's page-level heuristic filters (Raffel et al. 2020, §2.2) as a
single map-only Column stage: each rule is exposed as its own flag so
downstream jobs can attribute WHY a page was dropped (the standard
requirement for auditing a training-data pipeline), plus the combined
``keep`` verdict.

Rules implemented (page-level ones; the line-level terminal-punctuation
rule lives with span/line processing in span_dedup.py's sentence
machinery):

* ``has_curly``        — page contains ``{`` (code, not prose)
* ``has_lorem``        — page contains "lorem ipsum" (placeholder text)
* ``has_javascript``   — page mentions "javascript" (script warnings)
* ``enough_sentences`` — ≥ 5 period-delimited sentences
* ``enough_words``     — ≥ 3 whitespace tokens

All Column work, zero shuffles, zero UDFs — map-only at scan
granularity. One caveat to the codegen story: the sentence count uses
one Catalyst higher-order ``filter`` lambda, which is interpreted per
ELEMENT (see CLAUDE.md) — but its element count is period-segments per
page (tens), not characters, so the interpreted cost is bounded and
smaller than an extra regex pass over the full text would be.
Everything is exactly reproducible in the SQL oracle.
"""
from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import normalized_text, ws_tokens
from .textstats import token_count_col


def c4_filters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    # null text behaves like empty text: definite false/0 flags, never
    # null verdicts
    c = F.coalesce(F.col(text_col), F.lit(""))
    lower = F.lower(c)
    n_sentences = F.size(
        F.filter(F.split(c, r"\."), lambda s: F.trim(s) != "")
    )
    # the ONE whitespace-token-count spelling (functions.columns.ws_tokens) —
    # never re-spell it, or the oracles drift
    n_words = token_count_col(c)
    has_curly = c.contains("{")
    has_lorem = lower.contains("lorem ipsum")
    has_javascript = lower.contains("javascript")
    enough_sentences = n_sentences >= 5
    enough_words = n_words >= 3
    return df.select(
        F.col(id_col),
        has_curly.alias("has_curly"),
        has_lorem.alias("has_lorem"),
        has_javascript.alias("has_javascript"),
        n_sentences.cast("long").alias("n_sentences"),
        enough_sentences.alias("enough_sentences"),
        n_words.cast("long").alias("n_words"),
        enough_words.alias("enough_words"),
        (
            ~has_curly
            & ~has_lorem
            & ~has_javascript
            & enough_sentences
            & enough_words
        ).alias("keep"),
    )


#: Gopher's "required stop words" (Rae et al. 2021, §A1.1): a document
#: must contain at least 2 of these as whole tokens.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher/MassiveText document-level quality rules (Rae et al.
    2021, §A1.1) with per-rule attribution flags, as one map-only
    Column stage — the companion to ``c4_filters`` for the other
    canonical web-corpus rule-set.

    Rules (every threshold compared in EXACT integer arithmetic —
    ``3 ≤ mean ≤ 10`` becomes ``3·n ≤ Σlen ≤ 10·n`` — so the SQL
    oracle can never drift on float division):

    * ``word_count_ok``    — min_words ≤ #tokens ≤ max_words
    * ``mean_word_len_ok`` — mean token length in [3, 10]
    * ``symbol_ratio_ok``  — #'#'/words ≤ 0.1 AND
                             #('...' or '…')/words ≤ 0.1 (the two
                             symbols are thresholded SEPARATELY, as in
                             the cited rule-set)
    * ``bullet_ok``        — ≤ 90% of non-empty lines start with a
                             bullet ('•', '- ', '* ')
    * ``ellipsis_ok``      — ≤ 30% of non-empty lines end with
                             '...' or '…'
    * ``alpha_ok``         — ≥ 80% of tokens contain a-zA-Z
    * ``stopword_ok``      — ≥ 2 distinct GOPHER_STOPWORDS present

    Line rules split the RAW text on newlines (the whitespace-collapse
    normalization would destroy line structure); line trimming uses an
    explicit [ \\t\\r] class so Spark and the RE2 oracle read the same
    set. The two per-line counts use Catalyst higher-order filters —
    interpreted per LINE (tens per page), bounded like c4's sentence
    count.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    norm = normalized_text(c)
    toks = F.split(norm, " ")
    n_words = F.when(norm == "", F.lit(0)).otherwise(F.size(toks)).cast("long")
    # Σ token length without a per-token fold: collapse the spaces out
    total_wchars = F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("long")
    n_hash = (
        F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ).cast("long")
    # ASCII '...' (3 chars per occurrence) plus Unicode '…' — the same
    # ellipsis set the line-end rule matches
    n_ellipsis = (
        ((F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3)
        .cast("long")
        + (F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))).cast(
            "long"
        )
    )
    lines = F.filter(
        F.transform(
            F.split(c, "\n"),
            lambda s: F.regexp_replace(s, r"^[ \t\r]+|[ \t\r]+$", ""),
        ),
        lambda s: s != "",
    )
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda s: s.startswith("•") | s.startswith("- ") | s.startswith("* "),
        )
    ).cast("long")
    n_ell_lines = F.size(
        F.filter(lines, lambda s: s.endswith("...") | s.endswith("…"))
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("long")
    n_stop = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
    ).cast("long")

    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    mean_word_len_ok = (n_words > 0) & (
        (3 * n_words <= total_wchars) & (total_wchars <= 10 * n_words)
    )
    symbol_ratio_ok = (10 * n_hash <= n_words) & (10 * n_ellipsis <= n_words)
    bullet_ok = 10 * n_bullet <= 9 * n_lines
    ellipsis_ok = 10 * n_ell_lines <= 3 * n_lines
    alpha_ok = (n_words > 0) & (5 * n_alpha >= 4 * n_words)
    stopword_ok = n_stop >= 2
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        word_count_ok.alias("word_count_ok"),
        mean_word_len_ok.alias("mean_word_len_ok"),
        symbol_ratio_ok.alias("symbol_ratio_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
        (
            word_count_ok
            & mean_word_len_ok
            & symbol_ratio_ok
            & bullet_ok
            & ellipsis_ok
            & alpha_ok
            & stopword_ok
        ).alias("keep"),
    )


#: substrings that mark a short line as navigation/social boilerplate
#: (RefinedWeb G.2's "mainly composed of uppercase characters /
#: numerical characters / social counter / boilerplate button" family)
LINE_BOILERPLATE = [
    "sign in", "sign up", "read more", "subscribe", "click here",
    "all rights reserved", "items in cart", "terms of use",
    "privacy policy", "accept cookies",
]

#: per-line trim class — explicit chars so Spark (Java regex) and the
#: DuckDB (RE2) oracle read the same set; NEVER \s (CLAUDE.md)
_LINE_TRIM_RE = "^[ \\t\\r]+|[ \\t\\r]+$"


def _line_word_count(line):
    """Words on one line — the ONE spelling, mirrored in the oracle."""
    collapsed = normalized_text(line)
    return F.when(collapsed == "", F.lit(0)).otherwise(
        F.size(F.split(collapsed, " "))
    )


def _line_is_bad(line):
    """Line-wise removal predicate (applied to a trimmed line):

    * numeric_only  — only digits/number punctuation, ≥1 digit
      ("34", "12.5%", "2 / 10" — counters and pagination)
    * counter       — "<n> likes/comments/shares/views/retweets/replies"
    * allcaps       — ≥1 A-Z and zero a-z (nav headers, "READ MORE")
    * short boilerplate — ≤10 words and contains a LINE_BOILERPLATE
      marker (case-insensitive)

    Empty lines are NOT bad (they carry paragraph structure).
    """
    low = F.lower(line)
    numeric_only = line.rlike("^[0-9 .,:%/+-]+$") & line.rlike("[0-9]")
    counter = low.rlike(
        "^[0-9]+ (likes?|comments?|shares?|views?|retweets?|replies)$"
    )
    allcaps = line.rlike("[A-Z]") & ~line.rlike("[a-z]")
    short = _line_word_count(line) <= 10
    boiler = short & functools.reduce(
        lambda a, b: a | b, [low.contains(m) for m in LINE_BOILERPLATE]
    )
    return numeric_only | counter | allcaps | boiler


def line_filters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """RefinedWeb-style LINE-WISE corrections (Penedo et al. 2023,
    §G.2; MassiveText applies the same family): remove
    counter/navigation/boilerplate lines from each document, and drop
    the whole document when the removed lines carried more than 5% of
    its words (the doc is then mostly chrome, and line surgery would
    leave disconnected fragments).

    Returns (id, cleaned_text, n_lines, n_removed_lines,
    removed_words, total_words, keep). ``cleaned_text`` joins the
    surviving lines with
    '\\n' in original order; ``keep`` = 20·removed_words ≤ total_words
    (exact integer form of the 5% rule — the gopher_filters pattern, so
    the SQL oracle cannot drift on float division).

    Scale shape: map-only Column stage, ZERO shuffles — the per-line
    predicates are Catalyst higher-order lambdas, interpreted per LINE
    (tens per page, bounded — the same documented trade as
    c4_filters/gopher_filters; reformulating via posexplode would buy
    codegen at the price of an explode shuffle and a groupBy(doc)
    reassembly, a bad trade for tens of lines)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    raw_lines = F.split(c, r"\n")
    lines = F.transform(
        raw_lines, lambda l: F.regexp_replace(l, _LINE_TRIM_RE, "")
    )
    bad = F.filter(lines, _line_is_bad)
    good = F.filter(lines, lambda l: ~_line_is_bad(l))
    removed_words = F.aggregate(
        F.transform(bad, _line_word_count),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    total_words = F.aggregate(
        F.transform(lines, _line_word_count),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    return df.select(
        F.col(id_col),
        F.array_join(good, "\n").alias("cleaned_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(bad).cast("long").alias("n_removed_lines"),
        removed_words.alias("removed_words"),
        total_words.alias("total_words"),
        (20 * removed_words <= total_words).alias("keep"),
    )


def badwords_filter(
    df: DataFrame,
    badwords,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_candidates: "bool | None" = None,
) -> DataFrame:
    """C4's bad-words page gate (Raffel et al. 2020 §2.2 — pages
    containing any entry of a word blocklist are dropped; RefinedWeb
    and Dolma run the same gate with their own lists). ``badwords`` is
    a list of lowercase entries or a 1-column DataFrame; one-token
    entries match individual tokens, two-token entries match adjacent
    token pairs (≥3-token entries raise — split them upstream).
    Normalization is the repo's cross-engine token regime: lowercase +
    WS_CLASS whitespace split.

    Scale shape — the bm25 candidate-volume lesson applied to a gate:
    NO full-corpus bigram pass. Tokens are posexploded once to narrow
    ``(id, pos, w)`` rows; unigram hits come from an equi-join against
    the broadcast blocklist; bigram entries first semi-join on their
    FIRST token (candidate volume = corpus frequency of blocklist
    first-tokens, not corpus bigram count) and the adjacency check
    joins those candidates back. ``broadcast_candidates=None`` (the
    default) leaves the candidate join un-hinted so the planner / AQE
    pick broadcast from the candidates' ACTUAL runtime size — safe
    even when the blocklist contains corpus-frequent first tokens
    (``big``), where a forced broadcast is a driver/executor OOM at
    scale (ADVICE r7). ``True`` forces the broadcast (only when the
    caller has profiled first-token df), ``False`` forces the plain
    shuffle join.

    Returns every input row's ``id_col`` with ``n_badword_hits``
    (occurrence count over all entries) and ``badwords_ok``
    (= zero hits, the C4 keep verdict).
    """
    list_input = not isinstance(badwords, DataFrame)
    if list_input:
        # validate in Python BEFORE createDataFrame: free, and the
        # operator stays pure-lazy for list blocklists (ADVICE r7 —
        # the eager collect probe was a blocking Spark job per call
        # and broke plan composition against streaming sources).
        # split(" ") mirrors the Column-side F.split semantics exactly
        # (consecutive spaces yield empty parts that count as tokens).
        for w in badwords:
            if len(w.split(" ")) > 2:
                raise ValueError(
                    f"badwords entries must be 1-2 tokens (got {w!r})"
                )
        spark = df.sparkSession
        badwords = spark.createDataFrame(
            [(w,) for w in badwords], "entry string"
        )
    # a blocklist is a SET: a duplicated entry must not double-count
    # hits (C4's list semantics; also keeps the oracle's IN/equi-join
    # forms equivalent)
    badwords = badwords.distinct()
    entry_col = badwords.columns[0]
    bl = badwords.select(
        F.col(entry_col).alias("entry"),
        F.split(F.col(entry_col), " ").alias("ws"),
    ).select(
        "entry",
        F.size("ws").alias("n_toks"),
        # F.get, not ws[i]: GetArrayItem raises on out-of-bounds under
        # the session's ANSI mode, and whether a 1-token row ever
        # evaluates ws[1] depends on optimizer filter/project ordering
        # — F.get returns NULL instead, unconditionally safe
        F.get("ws", 0).alias("bw1"),
        F.get("ws", 1).alias("bw2"),
    )
    if not list_input:
        # DataFrame blocklists can't be validated driver-side for
        # free; keep the eager guard — a silent prefix-match of a
        # 3-token phrase would be a wrong verdict, not a slow plan
        over = bl.filter(F.col("n_toks") > 2).limit(1).collect()
        if over:
            raise ValueError(
                f"badwords entries must be 1-2 tokens (got {over[0].entry!r})"
            )

    # toks feeds three consumers (unigram probe, bigram first-token
    # candidates, adjacency verify). Persisting it was probed and
    # measured WORSE (round-7 3×3 per-query CPU probe: median 4.37 s
    # persisted vs 3.69 s recomputed at sf0.01) — the codegen
    # lower+split+posexplode is cheaper than materializing corpus-
    # sized (id, pos, w) rows, the same verdict as dclm_prep's
    # shared-scan audit. Left recompute on purpose.
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("pos", "w"),
    ).filter(F.col("w") != "")
    uni = toks.join(
        F.broadcast(bl.filter(F.col("n_toks") == 1).select("bw1")),
        toks.w == F.col("bw1"),
    ).select("id")
    # rename the candidate side — it derives from toks, so a direct
    # self-join would hit Spark's ambiguous-lineage trap
    cand = (
        toks.join(
            F.broadcast(
                bl.filter(F.col("n_toks") == 2).select("bw1", "bw2")
            ),
            toks.w == F.col("bw1"),
        )
        .select(
            F.col("id").alias("cid"),
            (F.col("pos") + 1).alias("cpos"),
            F.col("bw2").alias("cw"),
        )
    )
    if broadcast_candidates is True:
        cand = F.broadcast(cand)
    bi = toks.join(
        cand,
        (toks.id == F.col("cid"))
        & (toks.pos == F.col("cpos"))
        & (toks.w == F.col("cw")),
    ).select("id")
    hits = (
        uni.unionByName(bi)
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_badword_hits"))
    )
    return (
        df.select(F.col(id_col))
        .join(hits, F.col(id_col) == hits.id, "left")
        .select(
            id_col,
            F.coalesce("n_badword_hits", F.lit(0)).alias("n_badword_hits"),
            (F.coalesce("n_badword_hits", F.lit(0)) == 0).alias("badwords_ok"),
        )
    )
