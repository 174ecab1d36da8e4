"""Sliding-window token chunking — the retrieval/embedding prep step
(RAG indexing, long-doc embedding, fixed-window pretraining eval)
that splits every document into overlapping fixed-size token windows
with a deterministic stride.

No reference counterpart (newspaper3k stops at whole-article text);
this is the operator a 100 TB corpus runs between extraction and an
embedding model: every chunk carries its token offsets so downstream
similarity hits can be mapped back into the source document.

Scale shape: map-only — tokenize, compute the chunk count
arithmetically, explode a bounded ``sequence``, slice the token
array. ZERO shuffles; output size is input size x (chunk/stride)
overlap factor, which is the op's inherent cost, not a plan defect.
Everything is integer arithmetic + string slicing, so the DuckDB
oracle replays it exactly (no floats anywhere).

Window rule (the standard sliding-window convention): chunks start at
``0, stride, 2*stride, ...``; the number of chunks over ``n`` tokens
is ``1 + ceil(max(n - chunk_tokens, 0) / stride)`` — one window when
the doc fits, and the last window is the first one whose end reaches
``n`` (it may be shorter than ``chunk_tokens``). Whitespace
tokenization follows the repo's WS_CLASS convention (an empty doc is
one '' token — the documented ``token_count_col`` semantics, shared
with pack_offsets/shard_assign so chunk counts reconcile with token
counts across operators).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark.functions.columns import ws_tokens

__all__ = ["chunk_text"]


def chunk_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token windows.

    Returns ``(id, chunk_id, start_tok, n_chunk_tokens, chunk_text)``
    where ``chunk_id`` is the 0-based window index, ``start_tok =
    chunk_id * stride`` is the window's global token offset inside the
    doc, and ``chunk_text`` is the space-joined window. ``stride``
    must be in ``(0, chunk_tokens]`` — a stride above the window size
    would silently drop tokens between windows.
    """
    c, s = int(chunk_tokens), int(stride)
    if not (0 < s <= c):
        raise ValueError(f"stride must be in (0, chunk_tokens]; got {s}, {c}")
    toks = ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks).cast("long")
    n_chunks = F.expr(
        f"(greatest(n - {c}, cast(0 as bigint)) + {s - 1}) div {s}"
    ) + F.lit(1).cast("long")
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("toks"), n.alias("n")
    ).select(
        "id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    start = F.col("chunk_id") * s
    piece = F.slice(F.col("toks"), start + 1, c)
    return base.select(
        F.col("id").alias(id_col),
        "chunk_id",
        start.cast("long").alias("start_tok"),
        F.least(F.lit(c).cast("long"), F.col("n") - start).alias(
            "n_chunk_tokens"
        ),
        F.array_join(piece, " ").alias("chunk_text"),
    )
