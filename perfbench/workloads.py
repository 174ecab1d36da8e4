"""The workloads: input build, one measured pass, correctness check.

Each pass is closed-loop: the single driver submits the whole input and
waits for every result before the next pass starts. The runner calls
``check`` once before the timed passes, so the check doubles as the
untimed warm-up pass.
"""
from __future__ import annotations

import shutil
import statistics
import sys
import time
from pathlib import Path

import pandas as pd

from . import gen
from .layers import QUERIES
from .trace import Recorder

CORES = 4  # the benchmark's Spark master is local[CORES]
PARTITIONS = 2 * CORES


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _text_length(texts: pd.Series) -> pd.Series:
    return texts.str.len().fillna(-1).astype("int32")


def _turns_frame(spark, turns, partitions: int = PARTITIONS):
    from newspaper_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    pdf = pd.DataFrame([t.row() for t in turns],
                       columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    return df.repartition(partitions).cache()


def check_turns(rows, turns) -> tuple[int, int, dict]:
    """(attempted, failed, status counts): a turn fails when it is
    missing, or its text or status differs from the generator's."""
    got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["status"]) for r in rows}
    failed = 0
    status: dict[str, int] = {}
    for t in turns:
        text, st = got.get(t.key, (None, "error:missing"))
        key = "error" if st is None or st.startswith("error:") else st
        status[key] = status.get(key, 0) + 1
        if st != t.expected_status or text != t.expected_text:
            failed += 1
    return len(turns), failed, status


class Workload:
    name = ""
    rows = 0  # input rows one pass processes

    def __init__(self, seed: int, work: Path, rec: Recorder):
        self.seed, self.work, self.rec = seed, work, rec
        self.tag = ""  # job-group prefix of the current pass, set by the runner

    def build(self, spark) -> None:
        """Generate the inputs from the seed and materialise them."""
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Fork the Python workers and import the kernel in them: one task
        per core, so each core's worker starts once."""
        from newspaper_spark.operators.extract import extract_articles

        turns = gen.job_transcripts(self.seed, 4 * CORES)
        _noop(extract_articles(_turns_frame(spark, turns, partitions=CORES)))

    def run_pass(self, spark) -> dict:
        """One closed-loop pass; returns {"seconds": ..., ...}."""
        raise NotImplementedError

    def check(self, spark) -> tuple[int, int, dict]:
        """(attempted, failed, extraction status counts)."""
        raise NotImplementedError

    def kernel_turns(self) -> list:
        """Turns for the traced in-process kernel pass."""
        raise NotImplementedError

    def text_frame(self, spark):
        """The cached input whose ``text`` column a UDF stage reads."""
        raise NotImplementedError

    def release(self, spark) -> None:
        spark.catalog.clearCache()

    def arrow_noop_s(self, spark) -> float:
        """Median of three passes of a no-op pandas UDF over the cached
        input's text column: the Arrow handoff and UDF framing alone."""
        from pyspark.sql import functions as F

        length = F.pandas_udf(_text_length, "int")
        df = self.text_frame(spark)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            _noop(df.select(length("text")))
            times.append(time.perf_counter() - t0)
        return statistics.median(times)


class InjectedCrash(Exception):
    pass


class JobResume(Workload):
    """plans.job.ExtractionJob over a skewed transcript table: crash at the
    start of commit group CRASH_AFTER + 1, then resume from the manifest
    with a fresh job object. A pass is both legs, writes included."""

    name = "job_resume"
    rows = 800
    N_BUCKETS, PER_COMMIT, SALTS, CRASH_AFTER = 8, 4, 8, 1

    def build(self, spark) -> None:
        self.turns = gen.job_transcripts(self.seed, self.rows)
        self.df = _turns_frame(spark, self.turns)
        self.df.count()
        self.passes = 0
        self.skipped: list[int] = []

    def _job(self, out: Path, spark):
        from newspaper_spark.plans.job import ExtractionJob

        return ExtractionJob(spark, str(out), n_buckets=self.N_BUCKETS,
                             buckets_per_commit=self.PER_COMMIT, n_salts=self.SALTS)

    def run_pass(self, spark) -> dict:
        out = self.work / "job" / f"pass{self.passes}"
        self.passes += 1
        shutil.rmtree(out.parent, ignore_errors=True)  # the previous pass's output
        rec, sc = self.rec, spark.sparkContext
        state = {"groups": 0, "span": None}

        def close_group():
            if state["span"] is not None:
                rec.end(state["span"])
                state["span"] = None

        def injector(crash_at):
            def at_group_start(group):
                # close the last group's span, crash where planned, else
                # tag the group's Spark jobs and open its span
                close_group()
                if state["groups"] == crash_at:
                    raise InjectedCrash(group)
                state["groups"] += 1
                sc.setJobGroup(f"{self.tag}/job.group{state['groups']}", "commit group")
                state["span"] = rec.begin("job.group")
            return at_group_start

        t0 = time.perf_counter()
        try:
            self._job(out, spark).run(self.df, fail_injector=injector(self.CRASH_AFTER))
            raise RuntimeError("the injected crash did not happen")
        except InjectedCrash:
            close_group()
        t1 = time.perf_counter()
        job = self._job(out, spark)
        self.skipped.append(sum(
            1 for b in job.load_manifest()["buckets"].values() if b.get("status") == "done"
        ))
        job.run(self.df, fail_injector=injector(-1))
        close_group()
        t2 = time.perf_counter()
        sc.setJobGroup(self.tag, "")
        self.out = out
        return {"seconds": t2 - t0, "resume_s": t2 - t1}

    def check(self, spark):
        """One crash/resume pass, then the lineage audit, a duplicate-key
        count and every turn's text and status against the generator."""
        from pyspark.sql import functions as F

        from newspaper_spark.plans.job import audit_output, read_output

        self.run_pass(spark)
        with self.rec.span("job.audit"):
            audit = audit_output(spark, str(self.out))
        out = read_output(spark, str(self.out))
        rows = out.select("conv_id", "turn_idx", "text", "status").collect()
        dups = out.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
        attempted, failed, status = check_turns(rows, self.turns)
        # a failed audit, a duplicated key or a lost row fails the table
        if not audit["ok"] or dups or len(rows) != len(self.turns):
            failed = attempted
        return attempted, failed, status

    def kernel_turns(self) -> list:
        return self.turns

    def text_frame(self, spark):
        return self.df


class CorpusOps(Workload):
    """Downstream operator queries from __spark_entry__.queries() over a
    generated documents table shaped like sf0.1's (see gen.corpus_table)
    at 12% of its rows, each query in its own cache.tracking_scope(), to
    a no-op sink."""

    name = "corpus_ops"
    rows = 600  # documents
    QUERIES = QUERIES

    def build(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs, self.pages = gen.corpus_table(self.seed, self.rows)
        self.sf = self.work / "sf"
        self.sf.mkdir(parents=True, exist_ok=True)
        cols = list(zip(*docs))
        pq.write_table(pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }), self.sf / "documents.parquet")

    def _queries(self):
        import __spark_entry__

        qs = __spark_entry__.queries()
        return {q: qs[q] for q in self.QUERIES}

    def run_pass(self, spark) -> dict:
        from newspaper_spark import cache

        sc = spark.sparkContext
        t0 = time.perf_counter()
        for name, fn in self._queries().items():
            sc.setJobGroup(f"{self.tag}/ops.{name}", name)
            with self.rec.span(f"ops.{name}"), cache.tracking_scope():
                _noop(fn(spark, str(self.sf)))
        sc.setJobGroup(self.tag, "")
        return {"seconds": time.perf_counter() - t0}

    def check(self, spark):
        """Each query against its oracle_sql() in DuckDB, by row count,
        column names and the order-insensitive value hash of
        scripts/verify_oracle.py."""
        import duckdb

        import __spark_entry__
        from newspaper_spark import cache

        sys.path.insert(0, str(gen.ROOT / "scripts"))
        from verify_oracle import value_hash

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.sf / 'documents.parquet'}'")
            failed = 0
            for name, fn in self._queries().items():
                with cache.tracking_scope():
                    sdf = fn(spark, str(self.sf))
                    srows, scols = sdf.collect(), sdf.columns
                orel = con.sql(oracles[name])
                orows, ocols = orel.fetchall(), orel.columns
                same = (
                    len(srows) == len(orows)
                    and sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols)
                    and value_hash([tuple(r) for r in srows], scols) == value_hash(orows, ocols)
                )
                failed += not same
        finally:
            con.close()
        return len(self.QUERIES), failed, {}

    def kernel_turns(self) -> list:
        # the pages the documents were extracted from
        return [
            gen.Turn(f"doc-{i:05d}", 0, "tool", page, "browser", gen.EPOCH, "", "ok")
            for i, page in enumerate(self.pages)
        ]

    def text_frame(self, spark):
        df = spark.read.parquet(str(self.sf / "documents.parquet"))
        df = df.repartition(PARTITIONS).cache()
        df.count()
        return df


WORKLOADS = {w.name: w for w in (JobResume, CorpusOps)}
