"""Data ladders: run operator compositions over a ×k replicated input at
each rung, and check that cost per unit stays flat and that output facts
scale exactly as the input's construction says they must.

Each entry of ``LADDERS`` declares how to build its input at ×k, its
operator compositions, the unit its cost is counted in (rows, edges,
turns or candidates) and its exactness invariants. The protocol is
shared:

* each ×k input is written once to parquet under ``.ladder_cache/`` and
  read back for every run; the directory name holds every value that
  shapes the input (build function, sf dir, k and the ladder's
  constants), but not that function's code: delete the directory after
  editing one;
* one discarded warm-up run of every (op, k), then every (op, k)
  interleaved per epoch; medians per rung and the high/low ratio of µs
  per unit;
* a timed run is ONE noop write under ``obs.profile`` and
  ``cache.tracking_scope()``; the op's output facts are observed on that
  write (``DataFrame.observe``), not taken by a second action.

Every timed run prints obs's flat record plus ``ladder``, ``op``, ``k``,
``n_units``, ``us_per_unit`` and the op's facts, one JSON line each.
Each ladder's summary is printed as one more line and written to
``artifacts/ladder_<name>.json``. The exit status is 1 when any
invariant fails.

Usage: python scripts/ladder.py [--reps N] [--sf-dir DIR] LADDER...
"""
from __future__ import annotations

import argparse
import hashlib
import json
import pathlib
import statistics
import sys
from dataclasses import dataclass, field
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# the program's imports follow the sys.path entry above
import __spark_entry__ as E
from newspaper_spark import cache, obs
from newspaper_spark.operators import (
    bloom,
    dedup,
    dsir,
    filters,
    graph,
    index,
    packing,
    quality_nb,
    robots,
    similarity,
    span_dedup,
    textstats,
)
from newspaper_spark.operators.bm25 import _toks, bm25_topk
from newspaper_spark.operators.extract import extract_articles
from newspaper_spark.plans.session import get_spark
from newspaper_spark.sources.transcripts import (
    load_table,
    synthetic_transcripts,
)

CACHE = REPO / ".ladder_cache"
ARTIFACTS = REPO / "artifacts"
# the sf0.1 tables sit next to the entry module's sf0.001 ones
SF_DIR = str(pathlib.Path(E.SF0001).with_name("sf0.1"))

Facts = dict[str, Column]


class Rung(NamedTuple):
    spark: SparkSession
    sf_dir: str
    k: int
    consts: dict  # the ladder's constants


@dataclass(frozen=True)
class Op:
    run: Callable[[Rung, DataFrame], tuple[DataFrame, Facts]]
    ks: tuple[int, ...] = ()  # empty: the ladder's ks
    # untimed, once per rung; None: the input's row count
    units: Callable[[Rung, DataFrame], int] | None = None


@dataclass(frozen=True)
class Ladder:
    build: Callable[[Rung], DataFrame]
    ops: dict[str, Op]
    unit: str
    ks: tuple[int, ...]
    # (summary["rungs"], consts) -> {invariant: holds}
    invariants: Callable[[dict, dict], dict[str, bool]] = lambda rungs, c: {}
    consts: dict = field(default_factory=dict)


def _count() -> Column:
    return F.count(F.lit(1))


def _total(col: str, div: int = 1) -> Column:
    return F.expr(f"coalesce(sum({col}), 0) div {div}")


def _every(n: int) -> Column:
    return F.col("doc_id") % n == 0


def scales(rungs: dict, fact: str, power: int = 1) -> bool:
    """True when ``fact`` is exactly c·k**power on every rung of one op
    (power 0: constant, 1: linear)."""
    (k0, v0), *rest = [(r["k"], r[fact]) for r in rungs.values()]
    return all(v * k0**power == v0 * k**power for k, v in rest)


# --- inputs -----------------------------------------------------------------

def _replicas(k: int) -> Column:
    return F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("r")


def docs(r: Rung) -> DataFrame:
    """The documents table ×k with EVERY whitespace token suffixed by its
    replica id (``tok~r3``). Within a replica the duplicate structure
    (repeated paragraphs, shingle and bigram collisions) is exactly the
    base corpus's, so per-row work is scale-invariant; across replicas no
    token, n-gram or paragraph can collide, so pair volume grows linearly
    in k by construction (a salted-suffix design gave near-identical
    replicas and quadratic cross-replica pairs)."""
    d = load_table(r.spark, r.sf_dir, "documents").select(
        "doc_id", "text", _replicas(r.k)
    )
    repl = F.concat(F.lit(r"$1~r"), F.col("r").cast("string"))
    return d.select(
        (F.col("doc_id") * r.k + F.col("r")).alias("doc_id"),
        F.regexp_replace(F.coalesce("text", F.lit("")), r"(\S+)", repl).alias(
            "text"
        ),
    )


def bm25_docs(r: Rung) -> DataFrame:
    """``docs`` plus a planted rare token drawn mod 97·k, so its document
    frequency stays ~n_base/97 at every rung: the vocabulary grows, the
    df of informative terms stays bounded, and ``max_df`` cuts the
    stopword tail, as in a real growing corpus."""
    return docs(r).select(
        "doc_id",
        F.concat(
            "text", F.lit(" tok"), (F.col("doc_id") % (97 * r.k)).cast("string")
        ).alias("text"),
    )


def sparse_docs(r: Rung) -> DataFrame:
    """``docs`` plus tokens planted on the replicated doc_id basis:
    ``rare{id div 2}`` (df 2) and ``extra{id div 4}`` (df 4) at every
    rung. Candidates per term are constant and informative terms grow
    with the corpus, so pair volume is linear; the suffixed base
    vocabulary keeps df ≫ max_df, so the frequency cutoff stays active."""
    return docs(r).select(
        "doc_id",
        F.concat(
            "text",
            F.lit(" rare"),
            F.expr("cast(doc_id div 2 as string)"),
            F.lit(" extra"),
            F.expr("cast(doc_id div 4 as string)"),
        ).alias("text"),
    )


def graph_edges(r: Rung) -> DataFrame:
    """q_pagerank's deterministic 3-outlink relation over the documents
    plus q_triangle_count's planted clique, replicated as k DISJOINT
    components (node = base_node·k + r): edges, triangles and nodes all
    scale exactly linearly, and no cross-replica edge exists."""
    d = load_table(r.spark, r.sf_dir, "documents").select("doc_id")
    nn = F.broadcast(d.agg(F.count("*").cast("long").alias("n")))
    outlinks = (
        d.crossJoin(nn)
        .select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    (F.col("doc_id") * 2 + 1) % F.col("n"),
                    (F.col("doc_id") * 3 + 2) % F.col("n"),
                    (F.col("doc_id") * 7 + 5) % F.col("n"),
                )
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    cl = (
        d.crossJoin(nn)
        .filter(F.col("doc_id") % F.expr("n div 6") == 3)
        .select(F.col("doc_id").alias("v"))
    )
    clique = (
        cl.select(F.col("v").alias("src"))
        .crossJoin(F.broadcast(cl.select(F.col("v").alias("dst"))))
        .filter(F.col("src") < F.col("dst"))
    )
    return (
        outlinks.unionAll(clique)
        .select("src", "dst", _replicas(r.k))
        .select(
            (F.col("src") * r.k + F.col("r")).alias("src"),
            (F.col("dst") * r.k + F.col("r")).alias("dst"),
        )
    )


def transcripts(r: Rung) -> DataFrame:
    """The synthetic transcripts table with each document as k turns."""
    return synthetic_transcripts(r.spark, r.sf_dir, replication=r.k)


def crawl_urls(r: Rung) -> DataFrame:
    """The synthetic URL universe (``_synth_url_expr``) ×k: every URL k
    times under fresh doc_ids ``doc_id·k + r``, with its host and
    q_bloom_seen's seen flag (base doc_id % 4 == 0). Each copy gets the
    base URL's robots and Bloom verdicts, so the allowed and
    possibly-seen counts scale exactly linearly in k."""
    d = load_table(r.spark, r.sf_dir, "documents").select("doc_id", _replicas(r.k))
    host = F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string"), F.lit(".com"))
    return d.select(
        (F.col("doc_id") * r.k + F.col("r")).alias("doc_id"),
        E._synth_url_expr().alias("url"),
        host.alias("host"),
        _every(4).alias("seen"),
    )


def ann_vectors(r: Rung) -> DataFrame:
    """k·base_n fresh seeded uniform vectors (no cross-rung duplicates;
    random pairwise cosine stays far under 0.9) plus a near-dup of every
    seed_every-th one with q_embedding_dedup's perturbation (first
    component ×1.2 + 0.01). The near-dups are the true positives and
    scale linearly by construction. The sf dir does not shape it."""
    import numpy as np

    c = r.consts
    n = c["base_n"] * r.k
    rng = np.random.RandomState(c["seed"] * r.k + 1)
    vecs = rng.uniform(-1.0, 1.0, size=(n, c["dim"]))
    emb = r.spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    pert = F.concat(
        F.array(F.element_at("embedding", 1) * 1.2 + 0.01),
        F.slice("embedding", 2, c["dim"] - 1),
    )
    dups = emb.filter(F.col("vec_id") % c["seed_every"] == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), pert.alias("embedding")
    )
    return emb.unionByName(dups)


# --- operator compositions --------------------------------------------------

def nb(r: Rung, d: DataFrame):
    """Training set fixed (the base corpus's labelled split, exactly
    q_quality_classifier's: the model is O(n_buckets) whatever the corpus
    size); the ×k corpus is the scored set."""
    base = load_table(r.spark, r.sf_dir, "documents").select("doc_id", "text")
    labeled = base.filter(_every(2)).withColumn("is_pos", _every(10))
    scored = quality_nb.nb_quality_scores(d, labeled, n_buckets=1024)
    return scored, {"n_pred_hq": F.count_if("pred_hq")}


def bm25(r: Rung, d: DataFrame):
    """Queries are every doc_id%17==5 document's first 6 tokens plus its
    rare token (q_bm25_topk's recipe): query count grows with the corpus
    and candidates per query stay bounded."""
    q = d.filter((F.col("doc_id") % 17 == 5) & (F.length(F.trim("text")) > 0)).select(
        F.col("doc_id").alias("query_id"),
        F.concat(
            F.array_join(F.slice(_toks(F.col("text")), 1, 6), " "),
            F.lit(" tok"),
            (F.col("doc_id") % (97 * r.k)).cast("string"),
        ).alias("query_text"),
    )
    return bm25_topk(d, q, k=5, max_df=200), {"n_results": _count()}


def _paragraphs(d: DataFrame) -> DataFrame:
    kept = d.join(dedup.dedup_exact(d).select("doc_id"), "doc_id")
    cleaned = span_dedup.paragraph_dedup(kept)
    return cleaned.select("doc_id", F.col("cleaned_text").alias("text"))


def pipeline_pack(r: Rung, d: DataFrame):
    """The corpus-prep chain: dedup_exact → paragraph_dedup → line_filters
    → gopher word-count gate (55% selective here; the full ``keep`` is
    degenerate on this corpus) → token counts → pack_offsets."""
    lined = filters.line_filters(_paragraphs(d)).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    passing = filters.gopher_filters(lined).filter("word_count_ok").select("doc_id")
    gated = lined.join(passing, "doc_id").select(
        "doc_id", textstats.token_count_col(F.col("text")).alias("n_tokens")
    )
    return packing.pack_offsets(gated, seq_len=2048), {"n_packed": _count()}


def pipeline_lsh(r: Rung, d: DataFrame):
    """The chain's side audit branch: near-dup pairs after dedup."""
    return dedup.minhash_lsh_pairs(_paragraphs(d), max_group_size=64), {
        "lsh_pairs": _count()
    }


def sparse_pairs(r: Rung, d: DataFrame):
    return index.sparse_dot_pairs(d, max_df=50, min_dot=1), {"n_pairs": _count()}


def triangles(r: Rung, edges: DataFrame):
    return graph.triangle_count(edges), {"n_triangles": _total("n_triangles", 3)}


def pagerank(r: Rung, edges: DataFrame):
    return graph.pagerank_int(edges, iterations=3), {"n_nodes": _count()}


def badwords(r: Rung, d: DataFrame, variant: str):
    """``rare``: entries match only replica-0 tokens, so candidate volume
    is constant and per-row cost must fall. ``frequent``: one entry per
    replica, so candidates and hits grow linearly and per-row cost should
    stay flat."""
    ids = range(1 if variant == "rare" else r.k)
    words = [w for i in ids for w in (f"slow~r{i}", f"fast~r{i} table~r{i}")]
    return filters.badwords_filter(d, words), {
        "hits": _total("n_badword_hits"),
        "flagged_docs": F.count_if(~F.col("badwords_ok")),
    }


def dclm(r: Rung, raw: DataFrame):
    """q_dclm_prep: gopher → exact dedup → trained NB gate, over
    q_dclm_prep's input enrichment (doc_id%11 one shared dup page whose
    group grows ×k; %3 raw; else a stopword suffix) so all three gates
    keep discriminating at every rung."""
    dup_page = F.repeat(F.lit("the quick brown fox and the lazy dog have a nap "), 6)
    d = raw.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, dup_page)
        .when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" the of and with have that to be")))
        .alias("text"),
    )
    keep = filters.gopher_filters(d).filter(F.col("keep")).select("doc_id")
    survivors = d.join(keep, "doc_id")
    reps = dedup.dedup_exact(survivors).select("doc_id")
    labeled = d.filter(_every(2)).withColumn("is_pos", _every(10))
    scored = quality_nb.nb_quality_scores(
        survivors.join(reps, "doc_id"), labeled, n_buckets=1024
    )
    return scored, {"n_kept": F.count_if("pred_hq")}


def ccnet(r: Rung, raw: DataFrame):
    """q_ccnet_prep: lang-ID → per-language unigram LM → tercile buckets."""
    d = raw.select("doc_id", "text", textstats.lang_id_col(F.col("text")).alias("lang_id"))
    scores = textstats.unigram_logprob(d, group_col="lang_id")
    out = textstats.quality_buckets(
        scores, score_col="mean_logprob", id_col="doc_id", group_col="lang_id"
    )
    return out, {"n_head": F.count_if(F.col("bucket") == "head")}


def extract(r: Rung, t: DataFrame):
    """The headline extraction stage on the path a production run takes:
    scan → rebalance → Arrow UDF."""
    p = r.spark.sparkContext.defaultParallelism
    out = extract_articles(t.repartition(p * 4))
    return out, {"n_ok": F.count_if(F.col("status") == "ok")}


def _rows(fn: Callable[[DataFrame], DataFrame]):
    return lambda r, d: (fn(d), {"n_out": _count()})


def _shard_assign(d: DataFrame) -> DataFrame:
    counted = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return packing.shard_assign(counted, shard_tokens=4096, seed="shard")


# q_robots_gate's rule bodies, by host number % 3
_ROBOTS = (
    "User-agent: newsbot\nDisallow: /news/\nDisallow: /gallery/"
    "\n\nUser-agent: *\nDisallow: /",
    "# site robots\nUser-agent: *\nDisallow: /tag-\nDisallow:",
    "User-agent: other\nDisallow: /",
)


def crawl_robots(r: Rung, urls: DataFrame):
    """robots_gate for agent NewsBot/1.0 over q_robots_gate's rules for
    site0..site6 (keyword arguments only: the same call runs against
    older trees for A/B)."""
    rules = robots.parse_robots(
        r.spark.createDataFrame(
            [(f"site{h}.com", _ROBOTS[h % 3]) for h in range(7)],
            "host string, robots string",
        )
    )
    out = robots.robots_gate(
        urls=urls.select("doc_id", "url", "host"), rules=rules, agent="NewsBot/1.0"
    )
    return out, {"n_allowed": F.count_if("allowed")}


def crawl_bloom(r: Rung, urls: DataFrame):
    """q_bloom_seen's gate: m=1024, k=4 over the seen-flagged URLs."""
    out = bloom.bloom_seen_filter(
        candidates=urls.select("doc_id", "url"),
        seen=urls.filter("seen").select("url"),
        m=1024,
        k=4,
    )
    return out, {"n_possibly_seen": F.count_if("possibly_seen")}


def ann_pairs(r: Rung, vecs: DataFrame, n_planes: int):
    """embedding_dedup_pairs at q_embedding_dedup's shape (threshold 0.9,
    4 bands); the result must be exactly the seeded near-dups."""
    out = similarity.embedding_dedup_pairs(
        vecs, threshold=0.9, dim=r.consts["dim"], n_planes=n_planes, bands=4
    )
    return out, {"result_pairs": _count()}


def ann_candidates(r: Rung, vecs: DataFrame, n_planes: int) -> int:
    """The operator's band-collision candidate pairs (its cost model:
    n_true + C(n,2)·p_band, quadratic at fixed banding by design)."""
    planes = similarity.hyperplanes(r.consts["dim"], n_planes)
    sig = vecs.select(
        F.col("vec_id").alias("id"),
        similarity.signature_udf(planes)(F.col("embedding")).alias("sig"),
    ).persist()
    try:
        keys = similarity._band_substrings(n_planes, 4)
        return dedup.band_pairs(dedup.band_keys(sig, keys)).count()
    finally:
        sig.unpersist()


def _ann_op(n_planes: int, ks: tuple[int, ...] = ()) -> Op:
    return Op(
        partial(ann_pairs, n_planes=n_planes),
        ks=ks,
        units=partial(ann_candidates, n_planes=n_planes),
    )


def _seeded_found(rungs: dict, c: dict) -> bool:
    return all(
        x["result_pairs"] == x["n_input"] - c["base_n"] * x["k"]
        for op in rungs.values()
        for x in op.values()
    )


LADDERS: dict[str, Ladder] = {
    "nb": Ladder(docs, {"nb": Op(nb)}, "rows", (4, 16)),
    "bm25": Ladder(bm25_docs, {"bm25": Op(bm25)}, "rows", (4, 16)),
    "pipeline": Ladder(
        docs, {"pack": Op(pipeline_pack), "lsh": Op(pipeline_lsh)}, "rows", (4, 16)
    ),
    "sparse": Ladder(
        sparse_docs,
        {"pairs": Op(sparse_pairs)},
        "rows",
        (4, 16),
        lambda rungs, c: {"pairs_linear": scales(rungs["pairs"], "n_pairs")},
    ),
    "graph": Ladder(
        graph_edges,
        {"triangles": Op(triangles), "pagerank": Op(pagerank)},
        "edges",
        (4, 16),
        lambda rungs, c: {
            "triangles_linear": scales(rungs["triangles"], "n_triangles"),
            "nodes_linear": scales(rungs["pagerank"], "n_nodes"),
        },
    ),
    "badwords": Ladder(
        docs,
        {
            "rare": Op(partial(badwords, variant="rare")),
            "frequent": Op(partial(badwords, variant="frequent")),
        },
        "rows",
        (4, 16),
        lambda rungs, c: {
            "rare_hits_constant": scales(rungs["rare"], "hits", 0),
            "frequent_hits_linear": scales(rungs["frequent"], "hits"),
        },
    ),
    "prep": Ladder(docs, {"dclm": Op(dclm), "ccnet": Op(ccnet)}, "rows", (2, 10)),
    "ann": Ladder(
        ann_vectors,
        # x4 re-run at 40 planes (10-bit bands): candidates fall ~4x back
        # toward x1's while recall must stay exact
        {"bits8": _ann_op(32), "bits10": _ann_op(40, (4,))},
        "candidates",
        (1, 4),
        lambda rungs, c: {"pairs_eq_seeded": _seeded_found(rungs, c)},
        {"base_n": 2000, "dim": 64, "seed": 10007, "seed_every": 25},
    ),
    "extract": Ladder(
        transcripts,
        {"extract": Op(extract)},
        "turns",
        (1, 10),
        lambda rungs, c: {"n_ok_linear": scales(rungs["extract"], "n_ok")},
    ),
    "crawl": Ladder(
        crawl_urls,
        {"robots_gate": Op(crawl_robots), "bloom_seen_filter": Op(crawl_bloom)},
        "rows",
        (1, 10),
        lambda rungs, c: {
            "allowed_linear": scales(rungs["robots_gate"], "n_allowed"),
            "possibly_seen_linear": scales(
                rungs["bloom_seen_filter"], "n_possibly_seen"
            ),
        },
    ),
    # the operators round 8 changed, held to per-row cost at x10 ≤ x1
    "r08": Ladder(
        docs,
        {
            "exact_substr": Op(_rows(lambda d: span_dedup.exact_substring_dedup(d, k=8))),
            "span_dedup": Op(_rows(span_dedup.span_dedup)),
            "dsir": Op(_rows(lambda d: dsir.dsir_scores(d, _every(10), n_buckets=1024))),
            "stupid_backoff": Op(
                _rows(lambda d: textstats.bigram_backoff_logprob(d, d.filter(_every(2))))
            ),
            "shard_assign": Op(_rows(_shard_assign)),
        },
        "rows",
        (1, 10),
    ),
}


# --- protocol ---------------------------------------------------------------

def cache_path(ladder: Ladder, sf_dir: str, k: int) -> pathlib.Path:
    sf = pathlib.Path(sf_dir).resolve()
    sf_tag = f"{sf.name}-{hashlib.md5(str(sf).encode()).hexdigest()[:8]}"
    consts = "".join(f"_{key}{v}" for key, v in sorted(ladder.consts.items()))
    return CACHE / f"{ladder.build.__name__}_{sf_tag}_x{k}{consts}"


def load_input(spark: SparkSession, ladder: Ladder, sf_dir: str, k: int) -> DataFrame:
    path = cache_path(ladder, sf_dir, k)
    if not (path / "_SUCCESS").exists():
        built = ladder.build(Rung(spark, sf_dir, k, ladder.consts))
        built.repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(str(path))
    return spark.read.parquet(str(path))


# the record's own keys; every other key of a timed run's record is a fact
_RECORD_KEYS = (*obs.KEYS, "ladder", "op", "k", "n_units", "us_per_unit")


def run_ladder(spark: SparkSession, name: str, sf_dir: str, reps: int) -> dict:
    ladder = LADDERS[name]
    grid = [(op, k) for op, o in ladder.ops.items() for k in (o.ks or ladder.ks)]
    rungs = {
        k: Rung(spark, sf_dir, k, ladder.consts) for k in sorted({k for _, k in grid})
    }
    inputs = {k: load_input(spark, ladder, sf_dir, k) for k in rungs}
    n_input = {k: d.count() for k, d in inputs.items()}
    n_units = {}
    for op, k in grid:
        units = ladder.ops[op].units
        n_units[op, k] = units(rungs[k], inputs[k]) if units else n_input[k]

    def timed(op: str, k: int) -> dict:
        seen = Observation()
        with obs.profile(spark, f"{name}/{op}/x{k}") as rec, cache.tracking_scope():
            out, facts = ladder.ops[op].run(rungs[k], inputs[k])
            out = out.observe(seen, *[c.alias(f) for f, c in facts.items()])
            out.write.format("noop").mode("overwrite").save()
        us = rec["wall_s"] / n_units[op, k] * 1e6
        rec.update(ladder=name, op=op, k=k, n_units=n_units[op, k], us_per_unit=us)
        rec.update(seen.get)
        return rec

    for cell in grid:  # discarded warm-ups: cold plans and Python workers
        timed(*cell)
    runs = {cell: [] for cell in grid}
    for _ in range(reps):
        for op, k in grid:
            runs[op, k].append(timed(op, k))
            print(json.dumps(runs[op, k][-1]), flush=True)

    summary = {"ladder": name, "sf_dir": sf_dir, "reps": reps, "unit": ladder.unit}
    summary["rungs"] = out = {}
    for (op, k), recs in runs.items():
        out.setdefault(op, {})[f"x{k}"] = {
            "k": k,
            "n_input": n_input[k],
            "n_units": n_units[op, k],
            **{f: v for f, v in recs[0].items() if f not in _RECORD_KEYS},
            "wall_median_s": round(statistics.median(r["wall_s"] for r in recs), 3),
            "us_per_unit_median": round(
                statistics.median(r["us_per_unit"] for r in recs), 2
            ),
            "walls": [round(r["wall_s"], 3) for r in recs],
        }
    summary["ratios"] = {}
    for op, by_k in out.items():
        if len(by_k) > 1:
            lo, *_, hi = by_k.values()
            summary["ratios"][f"{op}_x{hi['k']}_over_x{lo['k']}"] = round(
                hi["us_per_unit_median"] / lo["us_per_unit_median"], 3
            )
    summary["invariants"] = ladder.invariants(out, ladder.consts)
    return summary


def run(spark: SparkSession, names: list[str], sf_dir: str, reps: int) -> int:
    """Run the named ladders, write their summaries; 1 if any invariant
    failed, else 0."""
    failed = []
    for name in names:
        summary = run_ladder(spark, name, sf_dir, reps)
        print(json.dumps(summary), flush=True)
        ARTIFACTS.mkdir(exist_ok=True)
        (ARTIFACTS / f"ladder_{name}.json").write_text(json.dumps(summary, indent=2) + "\n")
        failed += [f"{name}.{inv}" for inv, ok in summary["invariants"].items() if not ok]
    if failed:
        print(f"invariants failed: {', '.join(failed)}", file=sys.stderr)
    return 1 if failed else 0


def main() -> None:
    ap = argparse.ArgumentParser(prog="python scripts/ladder.py")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("ladders", nargs="+", choices=list(LADDERS), metavar="LADDER")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    conf = {"spark.ui.enabled": "true", "spark.ui.showConsoleProgress": "false"}
    spark = get_spark(app_name="ladder", extra_conf=conf)
    try:
        status = run(spark, args.ladders, args.sf_dir, args.reps)
    finally:
        spark.stop()
    sys.exit(status)


if __name__ == "__main__":
    main()
