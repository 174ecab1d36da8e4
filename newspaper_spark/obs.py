"""Per-query profile: what one block of Spark work did and where the
time went, as one flat record.

``profile(spark, name)`` runs the block under its own job group and then
fills the record it yielded:

* ``jobs``, ``stages`` and ``tasks`` come from ``sc.statusTracker()``, so
  they are there with the UI off (``get_spark``'s default). ``stages``
  counts the stages that ran a task (a stage skipped because its shuffle
  output was reused does no work); ``tasks`` counts completed tasks.
* ``run_s``, ``cpu_s``, ``gc_s`` and the byte sums come from the UI REST
  API and are ``None`` unless the session was started with
  ``spark.ui.enabled=true``.

Keys shared with ``perfbench.sparkmetrics.summarize()`` (the event-log
reader of the benchmark's traced run) carry the same names and units,
so one reader reads both.

CLI, one JSON line per query, each run to a noop sink after an untimed
extraction warm-up::

    python -m newspaper_spark.obs [--sf-dir DIR] QUERY...
"""
from __future__ import annotations

import json
import time
import urllib.request
import uuid
from contextlib import contextmanager

KEYS = (
    "name", "wall_s", "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "output_bytes",
)
_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"
# REST stage field → (record key, scale to the record's unit)
_STAGE_SUMS = {
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "outputBytes": ("output_bytes", 1),
}


@contextmanager
def profile(spark, name: str):
    """Run the block under a fresh job group; on normal exit fill the
    yielded dict with KEYS. The caller's job group is restored."""
    sc = spark.sparkContext
    group = f"obs/{name}/{uuid.uuid4().hex}"
    prev = sc.getLocalProperty(_GROUP_KEY), sc.getLocalProperty(_DESC_KEY)
    rec = dict.fromkeys(KEYS)
    rec["name"] = name
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        sc.setLocalProperty(_GROUP_KEY, prev[0])
        sc.setLocalProperty(_DESC_KEY, prev[1])
    rec["wall_s"] = time.perf_counter() - t0
    # the status store is fed by the listener bus, which runs behind the
    # scheduler: drain it so the group's last task and job events count
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    rec.update(_counts(sc.statusTracker(), group))
    if sc.uiWebUrl:
        rec.update(_rest_sums(sc, group))


def _counts(tracker, group: str) -> dict:
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {
        sid for j in jobs if (info := tracker.getJobInfo(j)) for sid in info.stageIds
    }
    done = [
        info.numCompletedTasks
        for sid in stage_ids
        if (info := tracker.getStageInfo(sid)) and info.numCompletedTasks
    ]
    return {"jobs": len(jobs), "stages": len(done), "tasks": sum(done)}


def _rest_sums(sc, group: str) -> dict:
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(f"{base}/{path}") as resp:
            return json.load(resp)

    stage_ids = {
        sid for job in get("jobs") if job.get("jobGroup") == group
        for sid in job["stageIds"]
    }
    out = {key: 0 for key, _scale in _STAGE_SUMS.values()}
    # one entry per stage attempt: retried attempts did work too
    for stage in get("stages"):
        if stage["stageId"] in stage_ids:
            for field, (key, scale) in _STAGE_SUMS.items():
                out[key] += stage.get(field, 0) * scale
    return out


def main() -> None:
    import argparse

    import __spark_entry__ as E

    from . import cache
    from .operators.extract import extract_articles
    from .plans.session import get_spark
    from .sources.transcripts import synthetic_transcripts

    ap = argparse.ArgumentParser(prog="python -m newspaper_spark.obs")
    ap.add_argument("--sf-dir", default=E.SF0001)
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args()
    qs = E.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark(app_name="obs", extra_conf={"spark.ui.enabled": "true"})
    try:
        cores = spark.sparkContext.defaultParallelism
        warm = synthetic_transcripts(spark, args.sf_dir).limit(cores * 4).repartition(cores)
        extract_articles(warm).filter("status = 'ok'").count()
        for name in args.queries:
            with profile(spark, name) as rec, cache.tracking_scope():
                qs[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
