"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k per query; dot products via
  ``zip_with``/``aggregate`` (JVM, no Python), ranked with a window.
  Baseline + correctness oracle.
* lsh_topk — random-hyperplane LSH with BANDED signatures as the scale
  path: each vector hashes to an n_planes sign-bit string split into
  ``bands`` sub-signatures (``dedup.band_keys``); a pair is a candidate
  when ANY band matches, which keeps recall usable near the threshold
  while the shuffle stays proportional to bucket collisions, not
  |Q|×|N|.
* embedding_dedup_pairs — near-duplicate pairs over one table via the
  banded self-join ``dedup.band_pairs``.

Hyperplanes are deterministic (md5-derived pseudo-randoms), so results
are reproducible and oracle-checkable, and every function is a pure
plan builder: no driver-side actions (``dim`` is a parameter, never
probed with ``.first()``).
"""
from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from newspaper_spark import cache
from newspaper_spark.operators.dedup import band_keys, band_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_col(a, b):
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_udf():
    """Arrow-vectorized pairwise cosine — the hot verify path.

    Catalyst higher-order-function lambdas are INTERPRETED per element
    (no codegen), so cosine_col costs ~3 interpreted folds × dim per
    candidate pair; on a few hundred thousand LSH candidates that
    dominates the whole dedup job. This numpy batch version computes
    the identical doubles: np.cumsum's last element IS the sequential
    left-fold sum bit-for-bit, so dot/norm/cosine — and the round-6
    values the oracle checks — match cosine_col exactly."""
    import numpy as np

    def _pairwise(stack_a, stack_b):
        dots = np.cumsum(stack_a * stack_b, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(stack_a * stack_a, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(stack_b * stack_b, axis=1)[:, -1])
        denom = na * nb
        return np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0)

    def _cos_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        # NULL parity with cosine_col: a NULL vector makes the
        # `denom > 0` condition null → falsy → otherwise(0.0); a LENGTH
        # MISMATCH keeps a real denom but zip_with pads with null →
        # null dot → NULL result (desc-sorts LAST in the top-k
        # windows); empty arrays have denom 0 → 0.0
        out = [None] * n
        good, arrs_a, arrs_b = [], [], []
        for i, (a, b) in enumerate(zip(va, vb)):
            if a is None or b is None:
                out[i] = 0.0
                continue
            if len(a) != len(b):
                continue  # stays None
            if len(a) == 0:
                out[i] = 0.0
                continue
            good.append(i)
            arrs_a.append(np.asarray(a, dtype=np.float64))
            arrs_b.append(np.asarray(b, dtype=np.float64))
        if good:
            # fast path: stack the (overwhelmingly common) uniform-dim
            # rows into ONE numpy batch; ragged rows go one-by-one
            lens = np.array([len(a) for a in arrs_a])
            dim0 = np.bincount(lens).argmax()
            uni = [j for j, L in enumerate(lens) if L == dim0]
            if uni:
                ga = np.stack([arrs_a[j] for j in uni])
                gb = np.stack([arrs_b[j] for j in uni])
                res = _pairwise(ga, gb)
                for j, v in zip(uni, res):
                    out[good[j]] = float(v)
            for j, L in enumerate(lens):
                if L != dim0:
                    res = _pairwise(arrs_a[j][None, :], arrs_b[j][None, :])
                    out[good[j]] = float(res[0])
        return pd.Series(out, dtype="object")

    return F.pandas_udf(_cos_batch, "double")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    max_query_rows: int | None = None,
) -> DataFrame:
    """Exact top-k: broadcast the query side (queries ≪ corpus at scale),
    rank with a per-query window. Returns (query_id, neighbor_id, cos,
    rank). Deliberately a broadcast cartesian — the exact baseline; the
    scale path is lsh_topk. A large query side would turn this into an
    all-pairs scan: pass ``max_query_rows`` to fail fast instead (one
    count() job at plan-build time, opt-in because counting is an
    action)."""
    if max_query_rows is not None:
        n_q = queries.count()
        if n_q > max_query_rows:
            raise ValueError(
                f"brute_force_topk query side has {n_q} rows "
                f"(> {max_query_rows}); use lsh_topk for large query sets"
            )
    q = queries.select(
        F.col(q_id).alias("query_id"), F.col(q_vec).alias("qv")
    )
    c = corpus.select(F.col(c_id).alias("neighbor_id"), F.col(c_vec).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_udf()(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int) -> list:
    """Deterministic pseudo-random unit-ish hyperplanes from md5 bits.

    Component (p, d) = int(md5('plane:p:d')[:8], 16) / 2^31 − 1 — the
    DuckDB oracle reconstructs the identical doubles with
    ('0x' || substring(md5(...), 1, 8))::BIGINT / 2147483648.0 − 1."""
    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()
            vec.append(int(h[:8], 16) / 2**31 - 1.0)
        planes.append(vec)
    return planes


def signature_udf(planes):
    """Arrow-vectorized sign-bit signature string of each vector
    against fixed planes: one numpy batch op instead of n_planes × dim
    interpreted Catalyst lambda evaluations per row. np.cumsum's last
    element IS the sequential left-fold sum bit-for-bit (verified over
    random vectors), so signs — and therefore buckets — match the
    DuckDB oracle's explicit left-to-right sums exactly."""
    import numpy as np

    mat = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)

    def _sig_batch(vecs: pd.Series) -> pd.Series:
        # null / wrong-length vectors: the oracle's null dot fails the
        # >= 0 test, i.e. all-'0' — mirror that
        default = "0" * mat.shape[0]
        arrs, idx = [], []
        for i, v in enumerate(vecs):
            if v is None or len(v) != mat.shape[1]:
                continue
            arrs.append(np.asarray(v, dtype=np.float64))
            idx.append(i)
        out = [default] * len(vecs)
        if arrs:
            stack = np.stack(arrs)  # (N, dim)
            prods = stack[:, None, :] * mat[None, :, :]  # (N, planes, dim)
            dots = np.cumsum(prods, axis=2)[:, :, -1]
            bits = np.where(dots >= 0, "1", "0")
            for i, row in zip(idx, bits):
                out[i] = "".join(row)
        return pd.Series(out, dtype="object")

    return F.pandas_udf(_sig_batch, "string")


def _band_substrings(n_planes: int, bands: int) -> list:
    """The ``bands`` blocking keys of an n_planes-bit signature string
    ``sig``: its consecutive substrings."""
    size = n_planes // bands
    return [F.substring("sig", b * size + 1, size) for b in range(bands)]


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k via banded hyperplane LSH.

    Candidates = pairs sharing at least one of ``bands`` sub-signatures
    (one co-partitioned equi-join on (band, key), deduped on ids), then exact
    cosine + per-query rank over candidates only. Recall < 1 by design;
    the band count trades recall for shuffle width."""
    assert n_planes % bands == 0, "n_planes must divide into bands"
    planes = hyperplanes(dim, n_planes)
    sig = signature_udf(planes)
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_vec).alias("qv"),
        sig(F.col(q_vec)).alias("sig"),
    )
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_vec).alias("cv"),
        sig(F.col(c_vec)).alias("sig"),
    )
    keys = _band_substrings(n_planes, bands)
    qb = band_keys(q.withColumnRenamed("query_id", "id"), keys)
    cb = band_keys(c.withColumnRenamed("neighbor_id", "id"), keys)
    cand = (
        qb.alias("q")
        .join(cb.alias("c"), ["band", "key"])
        .filter(F.col("q.id") != F.col("c.id"))
        .select(
            F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id")
        )
        .distinct()
    )
    scored = (
        cand.join(q.select("query_id", "qv"), "query_id")
        .join(c.select("neighbor_id", "cv"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_udf()(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_assign_udf(centroids, top_p: int = 1):
    """Arrow-vectorized IVF cell assignment: dot each vector against
    every centroid (cumsum = exact sequential fold, same trick as
    signature_udf) and return the top_p cell ids ordered by
    (dot DESC, cell ASC) — reproducible in SQL as a row_number over
    explicit dot expressions."""
    import numpy as np

    mat = np.asarray(centroids, dtype=np.float64)  # (cells, dim)
    n_cells = mat.shape[0]

    def _assign(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            if v is None or len(v) != mat.shape[1]:
                out.append(list(range(top_p)))
                continue
            arr = np.asarray(v, dtype=np.float64)
            dots = np.cumsum(arr[None, :] * mat, axis=1)[:, -1]
            order = sorted(range(n_cells), key=lambda c: (-dots[c], c))
            out.append(order[:top_p])
        return pd.Series(out, dtype="object")

    return F.pandas_udf(_assign, "array<int>")


#: fixed-point scale for k-means sums: floor(x · 2^20) is exact in
#: both engines, and per-cell per-dim sums of these ints are EXACT
#: (order-free), so trained centroids are bit-deterministic and the
#: DuckDB oracle reconstructs them with plain GROUP BY sums.
KMEANS_QUANT = 1 << 20


def kmeans_train(
    df: DataFrame,
    dim: int = 64,
    n_cells: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
) -> list:
    """Distributed Lloyd's k-means for IVF centroids.

    Each round: assign every vector to its nearest centroid with the
    same Arrow-vectorized dot UDF the serving path uses (map-only),
    reduce per (cell, dim) with EXACT integer sums of the fixed-point
    quantized components (map-side partial combine; the shuffle carries
    n_cells × dim longs per partition, never vectors), and fetch the
    n_cells × (dim+1) aggregate to the driver — the standard broadcast
    model-state pattern, O(model) not O(data). Quantized sums make the
    result independent of partition/combine order, so the trained
    centroids are reproducible run-to-run AND reconstructable in
    ANSI SQL (no float sum-order divergence). Overflow headroom under
    ANSI mode: |component| ≤ ~1 quantizes to ≤ 2^20, so even 10^12
    rows in ONE cell sums to ~10^18 < int64 max. Empty cells keep
    their previous centroid. Spark analog of faiss-style IVF training; the
    reference has no trainer (its analog is sklearn-side).
    """
    cents = hyperplanes(dim, n_cells)
    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x * KMEANS_QUANT).cast("long")
    )
    base = df.select(F.col(vec_col).alias("v"), qv.alias("q")).persist()
    try:
        for _ in range(n_iter):
            assigned = base.select(
                F.element_at(ivf_assign_udf(cents, 1)(F.col("v")), 1).alias(
                    "cell"
                ),
                "q",
            )
            agg = assigned.groupBy("cell").agg(
                F.count("*").alias("n"),
                *[
                    F.sum(F.element_at("q", d + 1)).alias(f"s{d}")
                    for d in range(dim)
                ],
            )
            rows = {r["cell"]: r for r in agg.collect()}
            cents = [
                [
                    rows[c][f"s{d}"] / (rows[c]["n"] * float(KMEANS_QUANT))
                    for d in range(dim)
                ]
                if c in rows
                else cents[c]
                for c in range(n_cells)
            ]
    finally:
        base.unpersist()
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 2,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    centroids: list | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-flat: corpus vectors live in their
    nearest-centroid cell, queries probe their ``n_probe`` nearest
    cells, exact cosine ranks within the probed cells only.

    Pass ``centroids`` from :func:`kmeans_train` for a trained index;
    the default falls back to deterministic md5-derived pseudo-random
    centroids (useful as an untrained baseline). The cell join shuffles
    on small int cell ids; per-cell population is the scale knob
    (n_cells ∝ √N is the usual rule)."""
    cents = centroids if centroids is not None else hyperplanes(dim, n_cells)
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_vec).alias("cv"),
        F.element_at(ivf_assign_udf(cents, 1)(F.col(c_vec)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_vec).alias("qv"),
        F.explode(ivf_assign_udf(cents, n_probe)(F.col(q_vec))).alias("cell"),
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_udf()(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the banded LSH bucket
    self-join ``band_pairs`` (id_a < id_b). Any-band-match candidate
    generation keeps recall high near the threshold; exact cosine
    verifies."""
    assert n_planes % bands == 0, "n_planes must divide into bands"
    planes = hyperplanes(dim, n_planes)
    sigd = cache.track(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            signature_udf(planes)(F.col(vec_col)).alias("sig"),
        ).persist()
    )
    # persist is load-bearing, not a cache hint: sigd fans out into 4
    # plan branches (both sides of the banded self-join + both vector
    # lookups) and AQE's runtime broadcasts defeat ReuseExchange, so an
    # unpersisted plan executes the signature UDF 4×. At 100 TB that is
    # 4× the single most expensive map stage; MEMORY_AND_DISK spills
    # gracefully. Lifecycle: blocks stay cached until memory pressure
    # evicts them or the session ends — NOT freed at query completion;
    # long sessions release them via newspaper_spark.cache.release()
    # (or tracking_scope()) after consuming the output.
    cand = band_pairs(band_keys(sigd, _band_substrings(n_planes, bands)))
    va = sigd.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = sigd.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            # vectorized verify: candidate volume is quadratic in bucket
            # population, so this is the job's hot path — the Arrow
            # batch cosine is bit-identical to the HOF fold
            F.round(cosine_udf()(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
