"""Sequence packing for LM training: documents are concatenated in a
canonical order (by id) and cut into fixed-length token sequences
(GPT-style packing); each document gets its global token ``offset``,
the packed sequence it starts in, its position there, and how many
sequences it spans. Downstream, a writer groups by ``start_seq`` to
emit the actual packed batches.

The global prefix sum is the crux at 100 TB. A bare
``Window.orderBy(id)`` (no partitionBy) collapses to ONE partition —
the classic scale-killer — so this uses the textbook two-level
distributed scan instead:

1. range-repartition by id and sort within partitions (id order is the
   canonical global order, so the result is partitioning-invariant);
2. per-partition token totals (tiny: one row per partition);
3. exclusive prefix over those totals in a driver-size window (#rows =
   #partitions, O(model) not O(data)) broadcast-joined back;
4. per-partition running sum + partition base = exact global offset.

Integer arithmetic throughout — bit-exact, order-canonical, and the
oracle reconstructs it with a plain SQL running window.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from newspaper_spark import cache
from newspaper_spark.functions.columns import md5_long



def _global_offsets(
    rows: DataFrame, order_cols: list[str], num_partitions: int | None
) -> DataFrame:
    """The two-level distributed exclusive prefix sum of column ``n``
    in ``order_cols`` order (see module docstring): returns ``rows``'s
    columns plus ``offset``. ``order_cols`` must be a total order
    (ties would make the scan partitioning-dependent).

    ``num_partitions=None`` (the default) leaves the range-exchange
    width to ``spark.sql.shuffle.partitions`` + AQE coalescing — the
    scale-adaptive setting (cluster conf decides; AQE merges small
    adjacent ranges). The prefix sum is partitioning-INVARIANT by
    construction (total order + per-partition base), so any width —
    including an AQE-coalesced one — yields bit-identical offsets;
    merging adjacent range partitions preserves both the range
    property and partition order, and ``pid`` is pinned by the
    persist below."""
    if num_partitions is None:
        ordered = rows.repartitionByRange(*order_cols)
    else:
        ordered = rows.repartitionByRange(num_partitions, *order_cols)
    ordered = ordered.sortWithinPartitions(*order_cols)
    # persist is CORRECTNESS-load-bearing, not a perf hint: with_pid
    # fans into the partition-totals branch and the placement branch,
    # and spark_partition_id depends on the range shuffle's SAMPLED
    # boundaries. If exchange reuse were ever defeated (the broadcast
    # join below is exactly the pattern that defeats it elsewhere in
    # this repo), the two branches could re-execute the shuffle with
    # different boundaries and silently corrupt offsets. Persisting
    # pins one materialization of the partition assignment.
    # critical=True: a global cache.release() before this output is
    # materialized would un-pin the partition assignment (a CORRECTNESS
    # hazard, not a recompute) — only tracking_scope (whose contract is
    # output-materialized-before-exit) or release(include_critical=True)
    # may drop it.
    with_pid = cache.track(
        ordered.withColumn("pid", F.spark_partition_id()).persist(),
        critical=True,
    )
    part_tot = with_pid.groupBy("pid").agg(F.sum("n").alias("psum"))
    # exclusive prefix over partition totals: #partitions rows — this
    # window IS single-partition, by design, and O(partitions)
    wpid = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    bases = part_tot.select(
        "pid", F.coalesce(F.sum("psum").over(wpid), F.lit(0)).alias("pbase")
    )
    wlocal = W.partitionBy("pid").orderBy(*order_cols).rowsBetween(
        W.unboundedPreceding, -1
    )
    out_cols = list(rows.columns)
    return (
        with_pid.withColumn(
            "loff", F.coalesce(F.sum("n").over(wlocal), F.lit(0))
        )
        .join(F.broadcast(bases), "pid")
        .select(
            *out_cols, (F.col("pbase") + F.col("loff")).alias("offset")
        )
    )


def pack_offsets(
    df: DataFrame,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    seq_len: int = 256,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, n_tokens, offset, start_seq, start_pos, n_seqs).

    ``offset`` is the exclusive prefix sum of ``count_col`` in id
    order; a doc occupies global token positions [offset, offset+n).
    ``n_seqs`` is how many length-``seq_len`` sequences it touches
    (0 for empty docs).
    """
    placed = _global_offsets(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(count_col), F.lit(0)).cast("long").alias("n"),
        ),
        ["id"],
        num_partitions,
    )
    start_seq = F.floor(F.col("offset") / seq_len)
    end_seq = F.floor((F.col("offset") + F.col("n") - 1) / seq_len)
    return placed.select(
        F.col("id").alias(id_col),
        F.col("n").alias(count_col),
        "offset",
        start_seq.cast("long").alias("start_seq"),
        (F.col("offset") % seq_len).cast("long").alias("start_pos"),
        F.when(F.col("n") > 0, (end_seq - start_seq + 1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_seqs"),
    )


def shard_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    shard_tokens: int = 4096,
    seed: str = "shard",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle + token-capacity
    shard assignment — the "randomize then shard" step every
    pretraining data pipeline runs between corpus prep and the packed
    writer (docs must NOT arrive in crawl/source order, and output
    shards must hold a fixed token budget).

    The "shuffle" is an md5-derived sort key (``md5_60(seed || ':' ||
    id)``), so the permutation is reproducible from the seed alone,
    identical across engines, and — unlike a random() sort — stable
    under retries and stragglers. Offsets come from the same two-level
    distributed prefix sum as :func:`pack_offsets`, ordered by
    ``(shuffle_key, id)`` (id tiebreak keeps the scan a total order in
    the 2^-60 event of a key collision); a doc belongs to the shard
    its FIRST token lands in (``offset div shard_tokens`` — greedy
    document-boundary sharding: shards may spill past the budget by at
    most one document, the standard pretraining convention).

    ``pos_in_shard`` is the doc's 0-based rank inside its shard. That
    window partitions by ``shard_id``, whose size is bounded by
    ``shard_tokens`` (a constant) — never a hot key.

    Returns ``(id, shuffle_key, n_tokens, offset, shard_id,
    pos_in_shard)``.
    """
    key = md5_long(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    placed = _global_offsets(
        df.select(
            F.col(id_col).alias("id"),
            key.alias("skey"),
            F.coalesce(F.col(count_col), F.lit(0)).cast("long").alias("n"),
        ),
        ["skey", "id"],
        num_partitions,
    )
    with_shard = placed.withColumn(
        "shard_id", F.expr(f"cast(offset div {int(shard_tokens)} as bigint)")
    )
    wshard = W.partitionBy("shard_id").orderBy("skey", "id")
    return with_shard.select(
        F.col("id").alias(id_col),
        F.col("skey").alias("shuffle_key"),
        F.col("n").alias(count_col),
        "offset",
        "shard_id",
        (F.row_number().over(wshard) - 1).cast("long").alias("pos_in_shard"),
    )
