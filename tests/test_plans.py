"""Physical-plan shape tests: the optimizations we claim must be
visible in the executed plan (SURVEY.md §4, BENCH.md)."""
import re

from pyspark.sql import functions as F

from tests.conftest import SF001


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark):
    """Filters and projections must reach the parquet scan."""
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters:")[1][:120]
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "text" not in m.group(1), m.group(1)  # fat column pruned


def test_extraction_input_pruned_to_udf_columns(spark):
    """Only the UDF inputs (text, lit url) cross the Arrow boundary:
    the parquet ReadSchema under the extraction plan must not carry
    unused document columns."""
    from newspaper_spark.operators.extract import extract_articles
    from newspaper_spark.sources.transcripts import synthetic_transcripts

    t = synthetic_transcripts(spark, SF001)
    out = extract_articles(t).select("conv_id", "turn_idx", "status")
    plan = _plan(out)
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m is not None
    # transcripts derive text/conv from doc_id+text+lang; source/n_chars
    # must be pruned away
    assert "n_chars" not in m.group(1)
    assert "source" not in m.group(1)
    assert plan.count("ArrowEvalPython") == 1


def test_broadcast_join_for_small_side(spark):
    """Seen-URL anti-join must broadcast, not shuffle."""
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    seen = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    out = docs.join(F.broadcast(seen), "doc_id", "left_anti")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_column_ops_stay_jvm_side(spark):
    """The Column-only operators never drop into Python eval. (Higher-
    order array lambdas are interpreted JVM expressions, not codegen,
    so we assert the absence of Python stages rather than a codegen
    wrapper.)"""
    from newspaper_spark.operators.textstats import text_stats

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    plan = _plan(text_stats(docs).select("doc_id", "lang_id", "quality"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_wholestage_codegen_on_scalar_ops(spark):
    """Scalar Column ops (no lambdas) stay inside whole-stage codegen."""
    from newspaper_spark.functions.columns import (
        inner_trim_col,
        word_count_col,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    q = docs.select(
        "doc_id",
        word_count_col(F.col("text")).alias("wc"),
        inner_trim_col(F.col("text")).alias("trimmed"),
    ).filter(F.col("wc") > 10)
    plan = _plan(q)
    # executedPlan().toString() marks codegen stages with "*(n)"
    assert re.search(r"\*\(\d+\) (Project|Filter)", plan), plan[:400]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_minhash_band_join_is_hash_partitioned(spark):
    """The LSH self-join must be an equi-join (shuffle on band/sig),
    never a cartesian product."""
    from newspaper_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, num_hashes=8, bands=4))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_get_spark_defaults_to_usable_cores(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, get_spark asks for local[N] with N
    the cores this process may run on. SparkSession.builder is replaced
    by a recorder, so no second JVM starts."""
    import os
    import types

    import pytest

    from newspaper_spark.plans import session

    conf = {}

    class Builder:
        def master(self, url):
            return self.config("master", url)

        def appName(self, name):
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            raise LookupError("recorded")

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    with pytest.raises(LookupError, match="recorded"):
        session.get_spark()
    n = len(os.sched_getaffinity(0))
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(n, 8))
