"""Physical-plan shape regression tests — the 100 TB claims in the
operator docstrings, pinned mechanically against the plans Catalyst
actually produces. A refactor that silently reintroduces a shuffle, a
cartesian product, or an unpruned scan fails HERE, not in a
benchmark three rounds later.

Each assertion is deliberately coarse (presence/absence of a physical
operator class), not a full plan snapshot — plan text churns across
Spark versions, operator classes don't.
"""
import pyspark.sql.functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, df, mode="formatted"):
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_chunk_text_zero_shuffles(spark):
    """chunk_text's docstring claims map-only / ZERO shuffles — the
    physical plan must contain no Exchange of any kind."""
    from newspaper_spark.operators.chunking import chunk_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(spark, chunk_text(docs))
    assert "Exchange" not in p
    # and it stays inside whole-stage codegen (no interpreted stages
    # in the hot path)
    assert "WholeStageCodegen" in p or "* Project" in p


def test_add_nlp_single_fused_udf_slot(spark):
    """add_nlp's keywords+summary come from ONE fused pandas UDF whose
    struct result is projected twice — the plan must contain exactly
    one _nlp evaluation slot (equal deterministic python-UDF
    expressions dedupe into a single ArrowEvalPython argument), not one
    per output column, and none of the unfused per-column UDFs."""
    from newspaper_spark.operators.nlp_ops import add_nlp

    df = spark.createDataFrame(
        [("t", "Some text here.")], "title string, text string"
    )
    p = _plan(spark, add_nlp(df))
    assert p.count("_nlp(") == 1
    assert "_keywords(" not in p and "_summary(" not in p


def test_ngram_operators_plan_no_lambda_and_pmi_no_window(spark):
    """Bigrams come map-only from ws_bigrams/bigram_rows: no Catalyst
    lambda (interpreted per element) in the n-gram operators' plans,
    and no per-document lead Window in pmi_collocations'."""
    from newspaper_spark import cache
    from newspaper_spark.operators.dsir import dsir_scores
    from newspaper_spark.operators.textstats import (
        bigram_backoff_logprob,
        pmi_collocations,
        repetition_stats,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with cache.tracking_scope():
        plans = {
            "repetition_stats": _plan(spark, repetition_stats(docs)),
            "pmi_collocations": _plan(spark, pmi_collocations(docs)),
            "bigram_backoff_logprob": _plan(
                spark, bigram_backoff_logprob(docs, docs)
            ),
            "dsir_scores": _plan(
                spark, dsir_scores(docs, F.col("doc_id") % 2 == 0)
            ),
        }
    assert [n for n, p in plans.items() if "lambdafunction" in p] == []
    assert "Window" not in plans["pmi_collocations"]


def test_mask_plan_hides_session_numbering():
    """verify_oracle --plans digests must not move when an unrelated
    query gains or loses a lambda: expression ids, plan_ids and the
    session-wide lambda-variable counter are all masked."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "scripts"))
    from verify_oracle import _mask_plan

    a = ("Project [transform(t#12, lambdafunction(upper(lambda x_21#40), "
         "lambda x_21#40, false)) AS u#7], plan_id=3")
    b = ("Project [transform(t#99, lambdafunction(upper(lambda x_3#5), "
         "lambda x_3#5, false)) AS u#8], plan_id=41")
    assert _mask_plan(a) == _mask_plan(b)
    assert "lambda x#" in _mask_plan(a)
    # names keep their own underscores; only the trailing counter goes
    assert _mask_plan("lambda acc_sum_7#1") == "lambda acc_sum#"
    # a different variable or operator still changes the text
    assert _mask_plan(a) != _mask_plan(a.replace("upper", "lower"))
    assert _mask_plan(a) != _mask_plan(a.replace("x_21", "y_21"))


def test_anchor_topk_window_group_limit_pushdown(spark):
    """anchor_topk's per-target top-k claims WindowGroupLimit
    pushdown (partial top-k map-side before the window shuffle)."""
    from newspaper_spark.operators.anchors import anchor_topk

    links = spark.createDataFrame(
        [(i % 7, f"text {i % 3}") for i in range(100)],
        "target long, anchor string",
    )
    assert "WindowGroupLimit" in _plan(spark, anchor_topk(links, k=2))


def test_kmv_window_group_limit_pushdown(spark):
    """kmv_distinct's rank-<=-k claims the same pushdown."""
    from newspaper_spark.operators.dedup import kmv_distinct

    df = spark.createDataFrame(
        [(i % 5, f"v{i}") for i in range(100)], "g long, v string"
    )
    assert "WindowGroupLimit" in _plan(spark, kmv_distinct(df, "v", group_col="g"))


def test_no_cartesian_products_in_join_heavy_debuts(spark):
    """triangle_count, sparse_dot_pairs, pmi_collocations and
    heavy_hitters must never plan a CartesianProduct — their only
    cross-join-shaped steps are broadcast single-row totals."""
    from newspaper_spark.operators.graph import triangle_count
    from newspaper_spark.operators.index import sparse_dot_pairs
    from newspaper_spark.operators.sketches import cms_heavy_hitters
    from newspaper_spark.operators.textstats import pmi_collocations

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 40) for i in range(40)], "src long, dst long"
    )
    for df in (
        triangle_count(edges),
        sparse_dot_pairs(docs, max_df=50),
        pmi_collocations(docs, min_count=2, top_k=10),
        cms_heavy_hitters(docs.select(F.col("source").alias("tok")), "tok",
                          total_div=30),
    ):
        assert "CartesianProduct" not in _plan(spark, df)


def test_heavy_hitters_counter_join_broadcast(spark):
    """The CMS counter table is bounded (depth x width rows) — its
    probe join must be a broadcast hash join, never sort-merge."""
    from newspaper_spark.operators.sketches import cms_counters, cms_estimate

    stream = spark.createDataFrame(
        [(f"v{i % 13}",) for i in range(200)], "tok string"
    )
    counters = cms_counters(stream, "tok", depth=3, width=32)
    est = cms_estimate(counters, stream.distinct(), "tok", depth=3, width=32)
    p = _plan(spark, est)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_documents_scan_prunes_columns(spark):
    """A query reading only (doc_id, text) must not scan the other
    document columns — ReadSchema pruning reaches the parquet scan."""
    from newspaper_spark.operators.index import build_postings

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert len(docs.columns) > 2  # the claim is only meaningful then
    p = _plan(spark, build_postings(docs))
    schemas = [
        line for line in p.splitlines() if line.strip().startswith("ReadSchema")
    ]
    assert schemas, "no ReadSchema line in formatted plan"
    for rs in schemas:
        assert "doc_id" in rs and "text" in rs
        for other in docs.columns:
            if other not in ("doc_id", "text"):
                assert f"{other}:" not in rs


def test_pagerank_iteration_uses_persisted_edges(spark):
    """pagerank_int persists its aggregated edge relation (the
    round-6 host_rank audit fix): the final plan must read e through
    InMemoryTableScan, not re-run the caller's upstream pipeline."""
    from newspaper_spark import cache
    from newspaper_spark.operators.graph import pagerank_int

    with cache.tracking_scope():
        edges = spark.createDataFrame(
            [(i, (i * 7 + 3) % 30) for i in range(60)], "src long, dst long"
        ).filter(F.col("src") != F.col("dst"))
        out = pagerank_int(edges, iterations=2)
        p = _plan(spark, out)
        assert "InMemoryTableScan" in p or "TableCacheQueryStage" in p
        out.count()  # still executes


def test_no_cartesian_product_in_any_query_plan(spark):
    """Global hygiene sweep: none of the queries() plans (whatever
    count queries() currently returns — the loop iterates it) may
    contain a CartesianProduct. The repo's only cross-join-shaped
    steps are broadcast single-row totals (BroadcastNestedLoopJoin)
    and the guarded ANN brute baseline — an accidental unguarded
    cartesian introduced by any future query fails here. (~2 min:
    builds every plan at sf0.001; queries with driver-side training
    steps execute their small collects.)"""
    import __spark_entry__ as E
    from newspaper_spark import cache

    offenders = []
    for name, fn in E.queries().items():
        with cache.tracking_scope():
            df = fn(spark, SF_DIR)
            p = _plan(spark, df, mode="simple")
            if "CartesianProduct" in p:
                offenders.append(name)
    assert offenders == []


def test_bm25_and_bloom_zero_sort_merge_joins(spark):
    """bm25_topk's 'zero sort-merge joins' and bloom_seen's
    broadcast-only probe are standing claims (BENCH.md audits) —
    pinned here against the actual query plans. bloom_seen's one
    broadcast is the dense filter row, joined without a key."""
    import __spark_entry__ as E
    from newspaper_spark import cache

    for name, join in (
        ("bm25_topk", "BroadcastHashJoin"),
        ("bloom_seen", "BroadcastNestedLoopJoin BuildRight"),
    ):
        with cache.tracking_scope():
            df = E.queries()[name](spark, SF_DIR)
            p = _plan(spark, df, mode="simple")
            assert "SortMergeJoin" not in p, name
            assert join in p, name


def test_bloom_probe_one_broadcast_no_probe_side_aggregate(spark):
    """bloom_probe packs the filter into one dense row and broadcasts
    it ONCE (the k-join form planned and broadcast the bloom_build
    aggregate k times), and the probed rows reach the output through
    no Aggregate and no shuffle: every Aggregate and Exchange in the
    plan sits under the one BroadcastExchange, which the tree prints
    after the probed side."""
    from newspaper_spark.operators.bloom import bloom_build, bloom_probe

    cand = spark.createDataFrame(
        [(i % 3, f"http://h{i % 5}.com/p{i}") for i in range(40)],
        "doc_id long, url string",
    )
    words = bloom_build(cand.filter("doc_id = 0"), "url", m=1024, k=4)
    p = _plan(spark, bloom_probe(cand, words, "url", m=1024, k=4), "simple")
    assert p.count("BroadcastExchange") == 1
    probe_side = p.split("BroadcastExchange")[0]
    assert "Aggregate" not in probe_side
    assert "Exchange" not in probe_side


def test_source_meta_map_only(spark):
    """extract_source_meta's docstring claims map-only (homepage HTML
    never shuffles): the physical plan must contain no Exchange and
    the passthrough projection must not widen the Arrow handoff."""
    from newspaper_spark.operators.source_build import extract_source_meta

    src = spark.createDataFrame(
        [(1, "http://www.a.com/", "<html></html>")],
        "sid long, source_url string, html string",
    )
    p = _plan(spark, extract_source_meta(src))
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p or "Python" in p  # the one UDF stage


def test_composition_job_counts_bounded(spark):
    """Composition-recompute regressions (the defect class the round-6
    audit kept catching: pagerank's edge pipeline re-ran per round at
    57 jobs, heavy_hitters ran 4 corpus passes) show up as JOB-COUNT
    blow-ups long before they show up in a benchmark. Pin the two
    heaviest compositions' job counts with slack: dclm_prep measured
    30 jobs / warc_extract 5 jobs at sf0.01 (BENCH.md round-7 audit).
    AQE makes counts mildly data/plan dependent, so the bound is a
    ceiling, not an exact count."""
    import __spark_entry__ as E
    from newspaper_spark import cache, obs

    bounds = {"dclm_prep": 40, "warc_extract": 10}
    for name, bound in bounds.items():
        with obs.profile(spark, name) as rec, cache.tracking_scope():
            E.queries()[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        assert rec["jobs"] <= bound, (name, rec["jobs"])


def test_obs_profile_record_with_ui_off(spark):
    """obs.profile's record has one fixed key set; with the UI off (the
    session default) the counts still come from the status tracker and
    the REST-only sums stay None."""
    from newspaper_spark import obs

    assert spark.sparkContext.uiWebUrl is None
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    with obs.profile(spark, "agg") as rec:
        df.write.format("noop").mode("overwrite").save()
    assert set(rec) == {
        "name", "wall_s", "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
        "shuffle_write_bytes", "spill_bytes", "output_bytes",
    }
    assert rec["name"] == "agg" and rec["wall_s"] > 0
    assert rec["jobs"] > 0 and rec["stages"] > 0 and rec["tasks"] > 0
    rest_only = set(rec) - {"name", "wall_s", "jobs", "stages", "tasks"}
    assert all(rec[k] is None for k in rest_only)


def test_badwords_blocklist_probes_are_broadcast(spark):
    """badwords_filter's docstring claims broadcast blocklist probes
    and no full-corpus bigram pass: the plan must contain
    BroadcastHashJoins for the probes and no CartesianProduct; the
    only SortMergeJoin allowed is the final per-doc verdict join-back
    (id-keyed, AQE-convertible at runtime)."""
    from newspaper_spark.operators.filters import badwords_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(spark, badwords_filter(docs, ["slow", "big", "fast table"]))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dedup_lines_window_group_limit_pushdown(spark):
    """dedup_lines_within_doc's first-occurrence filter claims
    WindowGroupLimit pushdown (duplicate lines collapse map-side
    before the (id, line) shuffle)."""
    from newspaper_spark.operators.span_dedup import dedup_lines_within_doc

    docs = spark.createDataFrame(
        [(i, "a\nb\na\n\nc") for i in range(20)], "doc_id long, text string"
    )
    assert "WindowGroupLimit" in _plan(spark, dedup_lines_within_doc(docs))


def test_warc_extract_rebalances_before_arrow_stage(spark):
    """q_warc_extract's repartition before extract_articles is
    load-bearing (round-6 audit: without it AQE coalesces the per-file
    groupBy output to a handful of partitions and SERIALIZES the
    expensive Arrow extraction — warm 8.0 s vs 4.9 s). Pin the
    RoundRobin rebalance's presence between the WARC parse and the
    extraction UDF."""
    import __spark_entry__ as E

    df = E.queries()["warc_extract"](spark, SF_DIR)
    p = _plan(spark, df)
    assert "RoundRobinPartitioning" in p
