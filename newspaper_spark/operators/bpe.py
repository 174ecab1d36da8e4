"""Byte-pair-encoding tokenizer: distributed word counting, driver-side
merge learning over the bounded vocabulary, distributed application —
the real Sennrich et al. 2016 training loop, engineered so every step
is bit-reproducible in the DuckDB oracle.

Why this split is the scale-correct one (and the industry-standard
one): the corpus-sized work is the word-frequency reduction — one
explode + map-side-combined groupBy whose shuffle carries (word,
count) pairs, never text. Merge learning then runs over the DISTINCT
vocabulary (bounded by language, not corpus size; every production
BPE trainer — HuggingFace tokenizers, SentencePiece's BPE mode —
collects word counts and learns merges in one process), and the
learned table broadcasts back for a distributed, Column-only apply.

Exact-reproducibility design:

* words are represented as single-space-joined symbol strings with
  sentinel spaces: ``hello`` → ``' h e l l o '``;
* pair counts each round are frequency-weighted counts over ADJACENT
  token pairs of that representation;
* the merge picked each round is (max count, then lexicographically
  smallest (left, right)) — a total order, no RNG;
* a merge (L, R) is applied as ONE left-to-right non-overlapping
  literal replacement of ``' L R '`` with ``' LR '`` — the identical
  semantics of Python ``str.replace``, Spark ``F.replace`` and DuckDB
  ``replace``, which is what makes the oracle exact. Documented
  divergence from canonical BPE: in a word like ``papa``, canonical
  BPE merges BOTH ``(p,a)`` occurrences in the round that picks that
  pair, while single-pass sentinel replacement merges the first and
  catches the second in a later round that picks the same pair again
  (the shared trailing space is consumed by the first match). Token
  BOUNDARIES never corrupt — the sentinel spaces guarantee a match is
  always a whole-token pair — only the round at which a repeated
  adjacent pair merges can differ.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import term_counts

__all__ = ["bpe_word_counts", "bpe_train", "bpe_apply", "bpe_encode_docs"]


def _spaced(col):
    """``'hello'`` → ``' h e l l o '`` (Column form; the oracle spells
    the same transform as regexp_replace(word, '(.)', '\\1 ', 'g'))."""
    return F.concat(F.lit(" "), F.regexp_replace(col, "(.)", "$1 "))


def bpe_word_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The corpus-sized stage: ``(word, freq)`` over the standard
    tokenization (lowercase, explicit-class whitespace collapse).
    Map-side combined; the shuffle carries vocabulary rows only."""
    return term_counts(df, text_col).select(
        F.col("term").alias("word"), F.col("tf").alias("freq")
    )


#: Default driver-side vocabulary bound for :func:`bpe_train`. Natural-
#: language vocabularies sit well under this (BNC ~0.6M tokens has
#: ~90k distinct words), so at the default the cap is a no-op on real
#: text — it exists because web-scale corpora also contain junk whose
#: distinct-"word" count grows with corpus size (base64 blobs, session
#: ids), and an unbounded collect of those is the canonical driver-OOM.
DEFAULT_MAX_VOCAB = 1 << 18


def bpe_train(
    word_counts: DataFrame,
    n_merges: int,
    max_vocab: int | None = DEFAULT_MAX_VOCAB,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merges from a ``(word, freq)`` relation.
    Driver-side over the collected vocabulary (bounded — see module
    docstring; this is the HuggingFace-tokenizers/SentencePiece split:
    distributed counting, single-process merge learning); raises if
    the vocabulary exhausts its pairs before ``n_merges`` rounds, so a
    caller can never silently train a shorter table than the oracle
    replays.

    ``max_vocab`` bounds the driver-side collect and is ON by default
    (the standard min-frequency cutoff of real BPE trainers, spelled
    as a top-N): training considers only the top ``max_vocab`` words
    by (freq DESC, word) — a deterministic TakeOrdered (top-N per
    partition, merged), never a full sort. Passing ``None`` opts OUT
    of the bound and is only safe on corpora whose distinct-word count
    is known to be driver-sized."""
    if max_vocab is not None:
        word_counts = word_counts.orderBy(
            F.desc("freq"), F.asc("word")
        ).limit(max_vocab)
    vocab = [(r["word"], int(r["freq"])) for r in word_counts.collect()]
    spaced = {w: " " + " ".join(w) + " " for w, _ in vocab}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, f in vocab:
            toks = spaced[w].strip().split(" ")
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            raise ValueError(
                f"vocabulary exhausted after {len(merges)} merges; "
                f"asked for {n_merges}"
            )
        # max count, tie -> lexicographically smallest (l, r)
        mx = max(counts.values())
        best = min(k for k, v in counts.items() if v == mx)
        merges.append(best)
        l, r = best
        pat, rep = f" {l} {r} ", f" {l}{r} "
        for w in spaced:
            spaced[w] = spaced[w].replace(pat, rep)
    return merges


def bpe_apply(
    df: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Segment ``df[word_col]`` with a learned merge table: the spaced
    representation through the merge chain in rank order (a static
    chain of literal ``F.replace`` calls — whole-stage-codegen'd,
    zero UDFs, map-only). Adds ``tokens`` (space-joined segmentation)
    and ``n_tokens``."""
    s = _spaced(F.col(word_col))
    for l, r in merges:
        s = F.replace(s, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    tokens = F.trim(s)
    return df.withColumn("tokens", tokens).withColumn(
        "n_tokens",
        F.when(tokens == "", F.lit(0)).otherwise(
            F.size(F.split(tokens, " "))
        ).cast("long"),
    )


def bpe_encode_docs(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level BPE encoding summary: ``(id, n_words,
    n_bpe_tokens)`` — the number the packing stage actually needs.

    Scale shape: per-(doc, word) counts shuffle once (the same small
    rows unigram_logprob moves), the DISTINCT word relation is
    segmented through the merge chain ONCE (vocab-bounded — never
    re-segment every running token), and the segmentation broadcasts
    back. Raw text never shuffles; the merge chain is Column-only."""
    doc_words = term_counts(df, text_col, F.col(id_col).alias("_id"))
    seg = bpe_apply(
        doc_words.select("term").distinct(), merges, word_col="term"
    ).select("term", "n_tokens")
    return (
        doc_words.join(F.broadcast(seg), "term")
        .groupBy("_id")
        .agg(
            F.sum("tf").alias("n_words"),
            F.sum(F.col("tf") * F.col("n_tokens")).alias("n_bpe_tokens"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )
