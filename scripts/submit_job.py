"""spark-submit entry point: checkpointed extraction over a transcripts
table.

  spark-submit --py-files dist/newspaper_spark.zip scripts/submit_job.py \
      --input <parquet dir> --output <dir> [--buckets 64] [--buckets-per-commit 16] [--salts 8]

On a cluster, --master/--num-executors etc. come from spark-submit; in
this sandbox it runs local-mode. The job writes bucketed parquet plus
_manifest.json (per-bucket lineage). Re-running the same command
resumes from the manifest; a different --buckets is refused.
"""
import argparse
import json
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--buckets-per-commit", type=int, default=16)
    ap.add_argument("--salts", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("newspaper-spark-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from newspaper_spark.plans.job import ExtractionJob

    transcripts = spark.read.parquet(args.input)
    job = ExtractionJob(
        spark,
        args.output,
        n_buckets=args.buckets,
        buckets_per_commit=args.buckets_per_commit,
        n_salts=args.salts,
    )
    manifest = job.run(transcripts)
    done = sum(1 for b in manifest["buckets"].values() if b["status"] == "done")
    rows = sum(b["rows"] for b in manifest["buckets"].values())
    errors = sum(b["errors"] for b in manifest["buckets"].values())
    print(json.dumps({"buckets_done": done, "rows": rows, "errors": errors}))
    spark.stop()


if __name__ == "__main__":
    main()
