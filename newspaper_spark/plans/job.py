"""Checkpointed extraction job: bucketed writes, per-bucket lineage,
exactly-once resume.

North-rule mechanics (BASELINE.json): the 10^12-turn job must survive
partial failure. Design:

* Input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` — all
  turns of a conversation land in one bucket, so per-bucket output is
  self-contained and idempotently re-writable.
* Within a processing group, rows are salted with
  ``pmod(xxhash64(conv_id, turn_idx), salt)`` before the UDF stage so a
  mega-conversation can't serialize one task (explicit skew handling).
* A JSON checkpoint manifest records bucket → {status, rows, errors,
  checksum}, the bucket count it was hashed with and the output schema;
  resuming with a different count is refused. Re-running skips ``done`` buckets;
  failed/missing buckets are recomputed: their ``bucket=b`` directories
  are deleted and the group is appended afresh (idempotent,
  Iceberg-snapshot-equivalent in plain parquet).
* Lineage: per-bucket row count, error count and an order-insensitive
  content checksum (XOR fold of per-row xxhash64), observed on the
  write itself (``DataFrame.observe``) and written into the manifest.
  ``audit_output`` recomputes them from a re-read of the output: it
  stays independent because a stage resubmitted after a fetch failure
  can double-count observed metrics.

On a real cluster the same structure maps onto Iceberg: bucket(conv_id)
partition transform + snapshot-isolated overwrite of failed partitions.
"""
from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import extract_articles

MANIFEST_NAME = "_manifest.json"


def bucket_col(conv_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_col), F.lit(n_buckets)).cast("int")


def salt_col(conv_col, turn_col, n_salts: int):
    return F.pmod(F.xxhash64(conv_col, turn_col), F.lit(n_salts)).cast("int")


def _lineage_aggs(where: str = "true", suffix: str = "") -> list:
    """Rows, errors and content checksum over the rows where the SQL
    predicate ``where`` holds: the manifest's lineage columns, shared by
    the write-time observation (one ``bucket = b`` predicate per bucket,
    names suffixed ``_b``) and the audit's ``groupBy("bucket")``. SQL
    text keeps them cheap to build: one Py4J call per aggregate."""
    return [
        F.expr(f"count_if({where}) AS rows{suffix}"),
        F.expr(f"count_if(({where}) AND NOT (status <=> 'ok')) AS errors{suffix}"),
        # XOR-fold: order-insensitive, overflow-free content hash
        F.expr(
            f"bit_xor(if({where}, xxhash64(conv_id, turn_idx, coalesce(text, '')), NULL))"
            f" AS checksum{suffix}"
        ),
    ]


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        n_buckets: int = 64,
        buckets_per_commit: int = 16,
        n_salts: int = 8,
    ):
        self.spark = spark
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        self.buckets_per_commit = buckets_per_commit
        self.n_salts = n_salts
        self.manifest_path = os.path.join(output_dir, MANIFEST_NAME)

    # -- manifest ---------------------------------------------------
    def load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"n_buckets": self.n_buckets, "buckets": {}}

    def _save_manifest(self, manifest: dict) -> None:
        os.makedirs(self.output_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.output_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic commit

    # -- run --------------------------------------------------------
    def run(self, transcripts: DataFrame, fail_injector=None) -> dict:
        """Process all not-yet-done buckets; returns the manifest.

        fail_injector(bucket_group) -> None | raise — test hook used by
        the resume test to simulate a mid-job crash.
        """
        manifest = self.load_manifest()
        if manifest["n_buckets"] != self.n_buckets:
            # the done buckets were hashed modulo the stored count
            raise ValueError(
                f"{self.output_dir} was written with n_buckets={manifest['n_buckets']}, "
                f"not {self.n_buckets}"
            )
        done = {
            int(b)
            for b, info in manifest["buckets"].items()
            if info.get("status") == "done"
        }
        todo = [b for b in range(self.n_buckets) if b not in done]
        if not todo:
            return manifest

        with_bucket = transcripts.withColumn(
            "bucket", bucket_col(F.col("conv_id"), self.n_buckets)
        )

        for start in range(0, len(todo), self.buckets_per_commit):
            group = todo[start : start + self.buckets_per_commit]
            if fail_injector is not None:
                fail_injector(group)
            part = with_bucket.filter(F.col("bucket").isin(group))
            # salt to spread skewed conversations across tasks before
            # the Python UDF stage
            salted = part.withColumn(
                "salt", salt_col(F.col("conv_id"), F.col("turn_idx"), self.n_salts)
            ).repartition(
                self.spark.sparkContext.defaultParallelism, "bucket", "salt"
            )
            extracted = extract_articles(
                salted, keep_cols=("bucket", "conv_id", "turn_idx", "role", "tool", "ts")
            )
            # stable (conv_id, turn_idx) ordering within each output file
            extracted = extracted.sortWithinPartitions("conv_id", "turn_idx")

            # lineage observed on the write itself: no second job re-reads
            # the group's buckets
            observation = Observation()
            extracted = extracted.observe(
                observation,
                *[a for b in group for a in _lineage_aggs(f"bucket = {b}", f"_{b}")],
            )

            for b in group:
                self._clean_bucket_dir(b)
            (
                extracted.write.partitionBy("bucket")
                .mode("append")
                .parquet(self.output_dir)
            )

            stats = self._bucket_stats(group, observation.get)
            if "schema" not in manifest:
                # for read_output of an all-empty job; bucket last, as a read puts it
                schema = extracted.drop("bucket").schema.add(extracted.schema["bucket"])
                manifest["schema"] = schema.jsonValue()
            for b in group:
                manifest["buckets"][str(b)] = stats.get(
                    b, {"status": "done", "rows": 0, "errors": 0, "checksum": 0}
                )
            self._save_manifest(manifest)
        return manifest

    def _clean_bucket_dir(self, bucket: int) -> None:
        d = os.path.join(self.output_dir, f"bucket={bucket}")
        if os.path.isdir(d):
            shutil.rmtree(d)  # idempotent overwrite of a failed partition

    def _bucket_stats(self, group, observed: dict) -> dict:
        """Manifest entries from the write's observed metrics; buckets
        that wrote zero rows are left to the caller's default entry.
        Starts no Spark job."""
        return {
            b: {
                "status": "done",
                "rows": observed[f"rows_{b}"],
                "errors": observed[f"errors_{b}"],
                "checksum": int(observed[f"checksum_{b}"] or 0),
            }
            for b in group
            if observed[f"rows_{b}"]
        }


def read_output(spark: SparkSession, output_dir: str) -> DataFrame:
    """The job's output. A job whose buckets all wrote zero rows leaves
    no parquet file to infer a schema from; then the schema the
    manifest recorded gives an empty frame of the same shape."""
    try:
        return spark.read.parquet(output_dir)
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        with open(os.path.join(output_dir, MANIFEST_NAME)) as f:
            schema = json.load(f).get("schema")
        if schema is None:
            raise
        # a read, not createDataFrame: the read makes every field nullable
        return spark.read.schema(T.StructType.fromJson(schema)).parquet(output_dir)


def audit_output(spark: SparkSession, output_dir: str) -> dict:
    """Lineage audit: recompute per-bucket (rows, errors, checksum) from
    the written output and compare against the checkpoint manifest.
    Returns {'ok': bool, 'mismatches': [...]} — the integrity check a
    10^12-turn run would execute before promoting a snapshot. Rows in a
    bucket the manifest does not mark done are a mismatch too
    (``manifest: None``): read_output would return them unverified."""
    with open(os.path.join(output_dir, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    out = read_output(spark, output_dir)
    actual = out.groupBy("bucket").agg(*_lineage_aggs()).collect()
    actual_by_bucket = {
        r["bucket"]: (r["rows"], int(r["errors"] or 0), int(r["checksum"] or 0))
        for r in actual
    }
    done = {int(b): info for b, info in manifest["buckets"].items()
            if info.get("status") == "done"}
    mismatches = [{"bucket": b, "manifest": None, "actual": got}
                  for b, got in sorted(actual_by_bucket.items()) if b not in done]
    for b, info in done.items():
        got = actual_by_bucket.get(b, (0, 0, 0))
        want = (info["rows"], info["errors"], info["checksum"])
        if got != want and not (info["rows"] == 0 and got == (0, 0, 0)):
            mismatches.append({"bucket": b, "manifest": want, "actual": got})
    return {"ok": not mismatches, "mismatches": mismatches}
