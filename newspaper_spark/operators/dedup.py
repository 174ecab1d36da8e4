"""Deduplication operators for large-scale training-data pipelines.

All four families operate on a documents table (doc_id, text) and are
written Spark-first:

* exact        — md5 grouping; one shuffle on the 32-hex key, map-side
                 combine via min() aggregation.
* minhash LSH  — shingle → ONE base md5-derived 60-bit hash → K affine
                 rehashes (universal hashing (a_k·x + b_k) mod p, p =
                 2^31−1) → K minima in one hash aggregate → B bands;
                 candidate pairs come from the banded self-equi-join
                 (``band_pairs``), i.e. co-partitioned hash join, never
                 an O(n²) cross join. One md5 per shingle (not K), and
                 everything is reconstructable in the DuckDB oracle via
                 ('0x' || substring(md5(s),1,15)).
* simhash      — 64-bit sign-aggregated token hashes; bits come from
                 the md5 hex digest (portable to the oracle), the 64
                 bit-votes are conditional sums in ONE hash aggregate
                 (not 64 passes).
* n-gram jaccard — verification stage for LSH candidates; shingles are
                 hashed to int64 before the join so the shuffle carries
                 8-byte values instead of document-sized string arrays.

Every candidate generator here and in ``similarity`` blocks through
``band_keys`` → ``band_pairs``: a new blocking scheme adds keys, not a
join.

At 100 TB: every stage is a narrow map except the LSH band join and the
final groupBys, which shuffle on uniformly-distributed hash keys (no
skew by construction). Band count B and rows-per-band R trade recall
for shuffle width — defaults (B=8, R=2) match the usual 0.7-ish
Jaccard threshold knee.
"""
from __future__ import annotations

import hashlib
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newspaper_spark import cache
# normalized_text is only re-exported: __spark_entry__.py imports it from here
from newspaper_spark.functions.columns import md5_long, normalized_text, ws_tokens
from newspaper_spark.operators.textstats import doc_fingerprint_col

log = logging.getLogger(__name__)

#: 2^31 − 1 (Mersenne prime) — modulus for the affine rehash family.
MERSENNE31 = 2147483647


def _cap_collision_groups(
    blocked: DataFrame, key_cols: list[str], max_group_size: int, op_name: str
) -> DataFrame:
    """Drop blocking-key groups with more than ``max_group_size`` members
    before a pair-generating self-join — standard LSH practice.

    A group of m colliding rows emits m(m−1)/2 candidate pairs, so one
    mega-group (typically an EXACT-duplicate cluster that should have
    been collapsed by ``dedup_exact`` first) can dominate the whole job.
    Skipping is logged, never silent — which makes this path EAGER:
    the oversized-key aggregate runs as its own job at operator-build
    time (the log must exist whether or not the caller ever executes
    the pairs plan). The tiny oversized-key table is persisted
    (cache-tracked) so the logging pass and the anti-join inside the
    pairs job share ONE aggregation over the blocked table, keyed by
    the same uniform blocking keys as the join itself.
    """
    sizes = blocked.groupBy(*key_cols).agg(F.count("*").alias("n_members"))
    big = cache.track(
        sizes.filter(F.col("n_members") > max_group_size).persist()
    )
    # the .first() is O(1) driver-side over the persisted oversized-key
    # table — model state, not data — and is what lets us LOG the skip
    # instead of silently truncating recall
    stats = big.agg(
        F.count("*").alias("groups"), F.sum("n_members").alias("rows")
    ).first()
    if stats["groups"]:
        log.warning(
            "%s: skipping %d collision group(s) (%d rows) larger than "
            "max_group_size=%d — run dedup_exact first; exact-duplicate "
            "clusters make candidate volume quadratic in cluster size",
            op_name, stats["groups"], stats["rows"], max_group_size,
        )
    # oversized keys are few (they were just counted) → AQE broadcasts
    # the anti-join side at runtime
    return blocked.join(big.select(*key_cols), key_cols, "left_anti")


def band_keys(df: DataFrame, keys: list, keep: tuple = ()) -> DataFrame:
    """(id, *keep) → one row per blocking key: (id, *keep, band, key),
    ``band`` being the key's position in ``keys`` (Column expressions
    over ``df``)."""
    return df.select(
        "id",
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
    ).select("id", *keep, "bk.band", "bk.key")


def band_pairs(
    blocked: DataFrame,
    keep: tuple = (),
    max_group_size: int | None = None,
    op_name: str = "",
) -> DataFrame:
    """Candidate pairs (id_a < id_b, *keep as <col>_a/<col>_b) of a
    ``band_keys`` table: rows sharing a (band, key) pair, once per pair
    however many bands collide. Both sides shuffle-partition on the
    blocking key, so work is proportional to true collisions.
    ``max_group_size`` drops (and logs) oversized collision groups
    first — see ``_cap_collision_groups``."""
    if max_group_size is not None:
        blocked = _cap_collision_groups(
            blocked, ["band", "key"], max_group_size, op_name
        )
    l, r = blocked.alias("l"), blocked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            *[
                F.col(f"{side}.{c}").alias(f"{c}_{suffix}")
                for c in keep
                for side, suffix in (("l", "a"), ("r", "b"))
            ],
        )
        .distinct()
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-dup fingerprint: md5 of normalized text."""
    return df.withColumn("fingerprint", doc_fingerprint_col(F.col(text_col)))


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep min-id representative per identical normalized text.

    groupBy(md5) — partial aggregation map-side, single shuffle on the
    hash (never on the full text)."""
    fp = fingerprint(df, text_col)
    reps = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return reps.select(id_col, "fingerprint")


def shingles_col(text_col, n: int = 3):
    """Word n-gram shingles as an array column (JVM-side)."""
    toks = ws_tokens(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) pairs for the universal-hash family
    h_k(x) = (a_k·x + b_k) mod MERSENNE31. Derived from md5 so the
    oracle SQL embeds the same literals."""
    out = []
    for k in range(num_hashes):
        h = hashlib.md5(f"minhash:{k}".encode()).hexdigest()
        a = int(h[:8], 16) % (MERSENNE31 - 1) + 1
        b = int(h[8:16], 16) % MERSENNE31
        out.append((a, b))
    return out


def minhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh: array<bigint>) — relational minhash.

    Shingles explode to rows, the base hash + K affine rehashes run in
    whole-stage codegen, and the K minima come from a hash aggregate
    with map-side partial combine — one shuffle on id carrying K longs
    per (id, partition), never the shingles themselves. Duplicate
    shingles are harmless under min(), so no distinct pass is needed."""
    # null text behaves like empty text (one '' shingle) so no document
    # silently disappears from the signature table
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            shingles_col(F.coalesce(F.col(text_col), F.lit("")), shingle_n)
        ).alias("s"),
    )
    x = md5_long(F.col("s")) % MERSENNE31
    params = affine_params(num_hashes)
    mins = sh.groupBy("id").agg(
        *[
            F.min((F.lit(a) * x + F.lit(b)) % MERSENNE31).alias(f"h{k}")
            for k, (a, b) in enumerate(params)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"h{k}") for k in range(num_hashes)]).alias("mh")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_group_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    rows/band = num_hashes/bands. Pair generation = ``band_pairs`` on
    (band, band signature).

    PRECONDITION at scale: run ``dedup_exact`` first (as q_corpus_prep
    does). m byte-identical documents collide in EVERY band and emit
    m(m−1)/2 candidate pairs per band — candidate volume is quadratic
    in exact-duplicate cluster size, and web crawl is rife with exact
    dups. ``max_group_size`` is the belt-and-braces guard: collision
    groups larger than it are skipped WITH a logged warning (see
    ``_cap_collision_groups``). Default ``None`` preserves exhaustive
    candidate generation for pre-deduped input.

    NOTE: setting ``max_group_size`` makes CONSTRUCTION EAGER — the cap
    runs a Spark job over the blocking keys and leaves a cache-tracked
    persist (released by the caller's ``cache.tracking_scope()`` /
    ``cache.release()``) at plan-build time, before any action on the
    returned DataFrame."""
    rows_per_band = num_hashes // bands
    # persist: the band self-join reads the signature subplan on BOTH
    # sides, and AQE's runtime broadcast defeats ReuseExchange — without
    # this the shingle explode + rehash aggregate (the expensive map
    # stage) executes twice
    sig = cache.track(
        minhash_table(df, id_col, text_col, num_hashes, shingle_n).persist()
    )

    def band_sig(b: int):
        part = F.slice("mh", b * rows_per_band + 1, rows_per_band)
        return F.array_join(F.transform(part, lambda v: v.cast("string")), "|")

    blocked = band_keys(sig, [band_sig(b) for b in range(bands)])
    return band_pairs(blocked, max_group_size=max_group_size,
                      op_name="minhash_lsh_pairs")


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity.

    Shingles are hashed to 60-bit BIGINTs first, so the two joins
    shuffle 8-byte values instead of full shingle strings (~5-10× fewer
    shuffle bytes at scale); set semantics are preserved (collisions at
    2^-60 are negligible and the oracle applies the identical hash)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(shingles_col(F.col(text_col), shingle_n), md5_long)
        ).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sim) — relational SimHash.

    Tokens explode to rows; md5 + hex-chunk extraction run in
    whole-stage codegen; the 64 bit-votes are conditional sums in one
    hash aggregate (map-side partial combine, single shuffle on id
    carrying 64 longs per (id, partition)) — no interpreted
    higher-order-function lambdas."""
    # null text behaves like empty text (one '' token), matching
    # minhash_table's null semantics
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("w"),
    )
    hx = F.md5("w")
    chunked = toks.select(
        "id",
        *[
            F.conv(F.substring(hx, 4 * j + 1, 4), 16, 10).cast("int").alias(f"c{j}")
            for j in range(4)
        ],
    )
    votes = chunked.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.col(f"c{i // 16}").bitwiseAND(F.lit(1 << (i % 16))) != 0, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for i in range(64):
        bit = (
            F.lit(int(-(2**63))) if i == 63 else F.shiftleft(F.lit(1).cast("long"), i)
        )
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, bit).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("id", sim.alias("sim"))


def _chunk_layout(n_chunks: int, bits: int = 64) -> list[tuple[int, int]]:
    """Partition ``bits`` into ``n_chunks`` contiguous (offset, width)
    spans — the first bits % n_chunks chunks get the extra bit."""
    base = bits // n_chunks
    extra = bits % n_chunks
    layout, off = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        layout.append((off, width))
        off += width
    return layout


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_group_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k.

    Scale path: pigeonhole blocking on max_hamming+1 disjoint bit
    chunks — any pair within distance k has at least one chunk with
    zero differing bits, so the per-chunk equi-join has full recall at
    the configured radius (never all-pairs). Join keys are uniform hash
    chunks, so no skew from the hash itself.

    PRECONDITION at scale: run ``dedup_exact`` first (as q_corpus_prep
    does) — m byte-identical documents share all chunks and emit
    m(m−1)/2 pairs per chunk. ``max_group_size`` skips (with a logged
    warning) any (chunk, val) collision group above the cap; default
    ``None`` keeps exhaustive generation for pre-deduped input.

    NOTE: setting ``max_group_size`` makes CONSTRUCTION EAGER — the cap
    runs a Spark job over the chunk keys and leaves a cache-tracked
    persist (released by the caller's ``cache.tracking_scope()`` /
    ``cache.release()``) at plan-build time, before any action on the
    returned DataFrame."""
    n_chunks = max_hamming + 1
    if n_chunks > 32:
        raise ValueError("max_hamming too large for 64-bit pigeonhole blocking")
    # persist is load-bearing (same pattern as the LSH signature tables):
    # the chunk table self-joins, and an AQE runtime broadcast defeats
    # ReuseExchange — unpersisted, the shingle explode + 64-slot vote
    # aggregate (the job's most expensive stage) executes twice.
    # Measured at sf0.1: 3.45 s → 2.52 s interleaved medians, identical
    # output. Lifecycle: the blocks stay cached until memory pressure
    # evicts them or the session ends (MEMORY_AND_DISK spills instead
    # of OOM); sessions running many large operator jobs back-to-back
    # release them via newspaper_spark.cache.release()/tracking_scope()
    # after consuming the output.
    sh = cache.track(simhash_table(df, id_col, text_col).persist())
    def chunk_val(off: int, width: int):
        # a full-width chunk (max_hamming=0) needs no mask — and
        # (1 << 64) - 1 would overflow BIGINT anyway
        if width >= 64:
            return F.col("sim")
        return F.shiftright("sim", off).bitwiseAND(F.lit((1 << width) - 1))

    blocked = band_keys(
        sh,
        [chunk_val(off, width) for off, width in _chunk_layout(n_chunks)],
        keep=("sim",),
    )
    cand = band_pairs(blocked, keep=("sim",), max_group_size=max_group_size,
                      op_name="simhash_near_dups")
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over a pair
    relation, returning (id, rep) with rep = the component's minimum
    id — the step every dedup pipeline runs after pair generation to
    pick one representative per duplicate cluster.

    Algorithm: distributed min-label propagation ("hash-to-min"). Each
    node starts labeled with itself; every round each node adopts the
    minimum label in its closed neighborhood; the driver loop stops
    when a round changes nothing (one O(1) aggregate per round — model
    state, not data). Rounds needed = graph diameter, and near-dup
    graphs are unions of small dense cliques (diameter ~1-3), so this
    converges in 2-4 rounds; ``max_iterations`` is a runaway guard for
    pathological chain graphs. Each round is one self-join on 8-byte
    ids + one groupBy min — no vertex ever carries its edge list, so
    the shuffle stays O(edges) per round at any scale.

    ``nodes`` (optional, one ``id`` column) adds isolated vertices as
    singleton components (rep = self). The result is exact and
    engine-independent — the DuckDB oracle recomputes it as min
    reachable id via a recursive-CTE transitive closure.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    ).persist()
    labels = edges.select(F.col("src").alias("id")).distinct()
    if nodes is not None:
        labels = labels.union(nodes.select(F.col("id"))).distinct()
    # localCheckpoint per round TRUNCATES the logical plan: with plain
    # persist() each round's plan still nests every previous round's,
    # and join-heavy iterative lineage blows up the driver (analysis
    # cost grows superlinearly — observed OOM at ~8 rounds). This is
    # the standard pattern for iterative graph algorithms on Spark.
    labels = labels.withColumn("rep", F.col("id")).localCheckpoint()
    converged = False
    for _ in range(max_iterations):
        # min label over the closed neighborhood: own label ∪ labels
        # reached over one edge hop
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("rep").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("rep"), F.coalesce("nmin", "rep")).alias("rep"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.rep") != F.col("o.rep"))
            .count()
        )
        # free the previous round's checkpoint blocks NOW — they are
        # only GC'd lazily through py4j otherwise, and max_iterations
        # stale copies of the labels table would pile up in the block
        # manager. Safe because localCheckpoint is eager: new_labels is
        # already materialized with truncated lineage.
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # partially propagated labels are silently WRONG — fail loudly
        # (a component with diameter > max_iterations means the input
        # is a pathological chain, not a near-dup clique union)
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} rounds — raise max_iterations for "
            "high-diameter graphs"
        )
    return labels.select("id", "rep")


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group — the
    cardinality estimator dedup planning runs BEFORE committing to a
    full dedup pass ("how many distinct URLs/fingerprints per source?"
    at 100 TB, where exact count-distinct is itself a massive
    shuffle).

    Estimator (Bar-Yossef et al. 2002): hash values uniformly into
    [0, 2^60) (``md5_long`` — md5-derived, so DuckDB reconstructs the
    identical hashes), keep each group's k smallest distinct hashes;
    with h_k the k-th smallest, estimate (k−1) · 2^60 / h_k. This
    implementation is fully DETERMINISTIC — same input, same sketch,
    same estimate, on both engines: the only float op is one IEEE
    double division + floor, identical everywhere (the BIGINT product
    (k−1)·2^60 would overflow, hence the double).

    Scale shape: distinct (group, hash) pairs shuffle once (map-side
    combined), then ONE rank-≤-k window per group — Spark pushes that
    down as WindowGroupLimit (per-partition partial top-k before the
    shuffle, the bm25_topk pattern), so no group ever materializes
    more than k rows past the scan. Groups with fewer than k distinct
    values report their EXACT count (n_seen < k ⇒ estimate := n_seen,
    the standard KMV small-range rule).

    Returns ``(group?, n_hashes, kth_min_hash, est_distinct)``.
    """
    from pyspark.sql import Window as W

    grp = [group_col] if group_col else []
    hashes = df.select(
        *grp, md5_long(F.col(value_col)).alias("h")
    ).distinct()
    w = (
        W.partitionBy(*grp).orderBy("h")
        if grp
        else W.partitionBy(F.lit(1)).orderBy("h")
    )
    topk = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    est = F.when(
        F.col("n_hashes") < k, F.col("n_hashes")
    ).otherwise(
        F.floor(
            (F.lit(float(k - 1)) * F.lit(float(1 << 60)))
            / F.col("kth_min_hash").cast("double")
        )
    )
    return (
        topk.groupBy(*grp)
        .agg(
            F.count("*").cast("long").alias("n_hashes"),
            F.max("h").cast("long").alias("kth_min_hash"),
        )
        .select(*grp, "n_hashes", "kth_min_hash",
                est.cast("long").alias("est_distinct"))
    )
