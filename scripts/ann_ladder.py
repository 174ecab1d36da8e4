"""Disk-backed data ladder for the embedding/ANN family (the one
family whose scale evidence was in-memory-only — VERDICT r7 item 7).

Rungs: x1 (2,000 vectors) and x4 (8,000), FRESH deterministic
pseudo-random 64-dim vectors per rung (seeded numpy; no cross-rung
duplicates — max random pairwise cosine stays ~0.5, far under the 0.9
threshold), plus a seeded near-dup copy of every 25th vector using
q_embedding_dedup's exact perturbation (first component *1.2 + 0.01).
The seeded copies are the TRUE positives and scale linearly by
construction. Inputs are written to parquet (.ladder_cache/) so rungs
run real scan -> UDF -> shuffle stages.

What is measured, per rung, for embedding_dedup_pairs at the
production q_embedding_dedup shape (threshold=0.9, 32 planes / 4
8-bit bands):

  - band-collision CANDIDATE pairs — the operator's documented cost
    model is n_true + C(n,2) * p_band with p_band = 1-(1-2^-8)^4
    (~1.55% of random pairs): candidate volume is QUADRATIC at fixed
    banding, by design, and is the thing to watch (CLAUDE.md r3);
  - result pairs — must be exactly the seeded positives (no random
    64-dim pair reaches cosine 0.9);
  - wall (median of reps, noop sink) and us per CANDIDATE — the
    implementation claim: unit cost per candidate flat-or-falling at
    4x data (no hidden superlinearity beyond the candidate model).

Plus the SCALE-ADAPTIVE BANDING rung: the x4 input re-run at 40
planes / 4 10-bit bands. p_band drops 2^-8 -> 2^-10 per band, pulling
candidates back ~4x toward the x1 level while the seeded positives'
per-bit agreement (~0.99 at this perturbation) keeps any-band recall
~1 — the measured version of "banding must scale with corpus size",
which is exactly why embedding_dedup_pairs parameterises
n_planes/bands.

Usage: python scripts/ann_ladder.py [reps=3]
Writes artifacts/ann_ladder.json.
"""
from __future__ import annotations

import json
import pathlib
import statistics
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

DIM = 64
BASE_N = 2000
SEED_EVERY = 25
RNG_SEED = 10007
CACHE = REPO / ".ladder_cache"


def build_input(spark, k: int) -> str:
    """k x BASE_N fresh pseudo-random vectors, parquet-backed. The cache
    directory is named by every value that shapes the vectors, so a
    changed rung never reads a stale input."""
    seed = RNG_SEED * k + 1
    out = CACHE / f"ann_n{BASE_N * k}_d{DIM}_s{seed}"
    if not (out / "_SUCCESS").exists():
        import numpy as np

        rng = np.random.RandomState(seed)
        vecs = rng.uniform(-1.0, 1.0, size=(BASE_N * k, DIM))
        rows = [
            (int(i), [float(x) for x in vecs[i]])
            for i in range(BASE_N * k)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).repartition(8).write.mode("overwrite").parquet(str(out))
    return str(out)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from pyspark.sql import functions as F

    from newspaper_spark import cache
    from newspaper_spark.operators.similarity import (
        _explode_bands,
        embedding_dedup_pairs,
        hyperplanes,
        signature_udf,
    )
    from newspaper_spark.plans.session import get_spark

    spark = get_spark(app_name="ann-ladder")

    def augmented(k):
        emb = spark.read.parquet(build_input(spark, k))
        pert = F.concat(
            F.array(F.element_at("embedding", 1) * 1.2 + 0.01),
            F.slice("embedding", 2, DIM - 1),
        )
        dups = emb.filter(F.col("vec_id") % SEED_EVERY == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            pert.alias("embedding"),
        )
        return emb.unionByName(dups)

    def candidate_count(df, n_planes, bands):
        """The operator's band-collision candidate join, count only
        (same signature_udf/_explode_bands internals)."""
        planes = hyperplanes(DIM, n_planes)
        sigd = df.select(
            F.col("vec_id").alias("id"),
            signature_udf(planes)(F.col("embedding")).alias("sig"),
        ).persist()
        b = _explode_bands(sigd, "id", bands, n_planes // bands)
        l, r = b.alias("l"), b.alias("r")
        n = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bsig") == F.col("r.bsig"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select("l.id", "r.id")
            .distinct()
            .count()
        )
        sigd.unpersist()
        return n

    # warm-up (cold-session outlier)
    with cache.tracking_scope():
        embedding_dedup_pairs(
            augmented(1), threshold=0.9, dim=DIM, n_planes=32, bands=4
        ).write.format("noop").mode("overwrite").save()

    result = {"base_n": BASE_N, "dim": DIM, "reps": reps, "rungs": {}}
    for tag, k, n_planes in (("x1", 1, 32), ("x4", 4, 32), ("x4_10bit", 4, 40)):
        aug = augmented(k)
        n_vecs = aug.count()
        seeded = (BASE_N * k + SEED_EVERY - 1) // SEED_EVERY
        cands = candidate_count(aug, n_planes, 4)
        pairs = None
        samples = []
        for _ in range(reps):
            t0 = time.time()
            with cache.tracking_scope():
                out = embedding_dedup_pairs(
                    aug, threshold=0.9, dim=DIM, n_planes=n_planes, bands=4
                )
                pairs = out.count()
            samples.append(round(time.time() - t0, 3))
        med = statistics.median(samples)
        rung = {
            "n_vectors": n_vecs,
            "n_planes": n_planes,
            "bands": 4,
            "seeded_positives": seeded,
            "candidate_pairs": cands,
            "result_pairs": pairs,
            "wall_med_s": med,
            "samples": samples,
            "us_per_candidate": round(med / max(cands, 1) * 1e6, 2),
        }
        # every rung, 10-bit bands included, finds exactly the seeded set
        assert pairs == seeded, (tag, pairs, seeded)
        result["rungs"][tag] = rung
        print(tag, json.dumps(rung), flush=True)

    spark.stop()
    out = REPO / "artifacts" / "ann_ladder.json"
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print("wrote", out)


if __name__ == "__main__":
    main()
