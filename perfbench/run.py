"""Benchmark for the extraction job and its operators on local[4].

    python3 perfbench/run.py --workload job_resume --seed 1 --seconds 4 --trace 0

One run: launch the JVM and the Python workers in a first, untimed
set-up, then set the workload up SETUP_REPS more times (session start,
input generation and materialisation, Python worker warm-up) and report
the median as ``setup_s``; check the outputs once, untimed, against the generator or
the DuckDB oracle, which also warms the plans up; then run closed-loop
passes until ``--seconds`` of pass time is measured and report the
median pass.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run with the Spark event log on and span wrappers around the layers; it
prints the per-layer metrics and writes every span and metric to
``.perfbench/out/<workload>-seed<seed>-trace.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import ExitStack
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 3  # timed set-ups, after the one that launches the JVM
CLOSE_TIMEOUT_S = 60.0  # for the JVM and its workers to exit

# the metrics BENCHMARK.json names; the report shows a few more
END_TO_END = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def _program_present() -> bool:
    return (ROOT / "newspaper_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py").is_file()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Session:
    """Starts and stops the run's Spark session, with every scratch path
    under the run's work directory."""

    def __init__(self, name: str, work: Path, trace: bool):
        self.name, self.work, self.trace = name, work, trace
        self.log_dir = work / "eventlog"
        self.spark = None

    def start(self):
        from newspaper_spark.plans.session import get_spark

        from .workloads import CORES

        # the heap and collector stay the program's own (get_spark)
        conf = {
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.trace:
            self.log_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.log_dir),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.name}", cores=CORES, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM it launched and the Python
        workers under it, and wait until every one has exited."""
        from pyspark import SparkContext

        from .proc import descendants

        self.stop()
        pids = descendants(os.getpid())
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            # the JVM exits when the pipe from its driver closes
            gateway.proc.stdin.close()
        deadline = time.monotonic() + CLOSE_TIMEOUT_S
        while (alive := [p for p in pids if _alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:  # it exited after the last look
                pass
        if gateway is not None:
            gateway.proc.wait()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _job_wrappers(rec):
    """Span wrappers on the job's write, lineage re-read and manifest
    commit."""
    from pyspark.sql.readwriter import DataFrameWriter

    from newspaper_spark.plans.job import ExtractionJob

    from .trace import patched

    return patched([
        (owner, attr, rec.wrap(getattr(owner, attr), span))
        for owner, attr, span in (
            (DataFrameWriter, "parquet", "job.write"),
            (ExtractionJob, "_bucket_stats", "job.bucket_stats"),
            (ExtractionJob, "_save_manifest", "job.manifest"),
        )
    ])


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from .trace import Recorder
    from .workloads import WORKLOADS

    work = ROOT / ".perfbench" / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers import the program and this package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    rec = Recorder()
    wl = WORKLOADS[name](seed, work, rec)
    session = Session(name, work, trace)
    try:
        return _measure(wl, session, rec, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(wl, session, rec, seconds: float, trace: bool) -> dict:
    from .proc import PeakRss
    from .trace import kernel_pass

    setup, start_s, build_s, passes = [], [], [], []
    layer: dict = {}
    try:
        with PeakRss() as rss:
            # rep 0 only launches the JVM and the Python workers and is
            # left out of setup_s
            for rep in range(1 + SETUP_REPS):
                if rep:
                    wl.release(session.spark)
                    session.stop()
                t0 = time.perf_counter()
                with rec.span("session.start"):
                    spark = session.start()
                t1 = time.perf_counter()
                if rep:
                    with rec.span("sources.materialize"):
                        wl.build(spark)
                t2 = time.perf_counter()
                spark.sparkContext.setJobGroup("setup", "worker warm-up")
                with rec.span("extract.warm_up"):
                    wl.warm_up(spark)
                t3 = time.perf_counter()
                setup.append(t3 - t0)
                start_s.append(t1 - t0)
                build_s.append(t2 - t1)

            sc = spark.sparkContext
            # the check's outputs live in the driver, not in the system
            # under test: keep them out of the memory figure
            with rss.paused(), rec.span("bench.check"):
                wl.tag = "check"
                sc.setJobGroup(wl.tag, "correctness check")
                attempted, failed, status = wl.check(spark)

            with ExitStack() as stack:
                if trace and wl.name == "job_resume":
                    stack.enter_context(_job_wrappers(rec))
                measured = 0.0
                while measured < seconds:
                    wl.tag = f"pass{len(passes)}"
                    sc.setJobGroup(wl.tag, "timed pass")
                    with rec.span("bench.pass"):
                        r = wl.run_pass(spark)
                    passes.append(r)
                    measured += r["seconds"]
        if trace:
            sc.setJobGroup("noop", "arrow no-op")
            layer["extract.arrow_noop_s"] = wl.arrow_noop_s(spark)
            with rec.span("bench.kernel_pass"):
                layer.update(kernel_pass(wl.kernel_turns(), rec))
    finally:
        session.close()

    e2e = {
        "wall_s": _median([p["seconds"] for p in passes]),
        "setup_s": _median(setup[1:]),
        "peak_rss_mb": rss.peak_mb,
    }
    extra = {
        "rows_per_s": wl.rows / e2e["wall_s"],
        "resume_s": _median([p["resume_s"] for p in passes if "resume_s" in p]),
        "failed_frac": failed / attempted,
        "pass_s": [p["seconds"] for p in passes],
        "rows_per_pass": wl.rows,
        "jvm_launch_s": start_s[0],
        "launch_setup_s": setup[0],
        "peak_mb_by_part": rss.part_peaks_mb,
    }
    result = {"attempted": attempted, "failed": failed, "e2e": e2e, "extra": extra}
    if trace:
        from .sparkmetrics import read_tasks

        layer.update({
            "session.start_s": _median(start_s[1:]),
            "sources.materialize_s": _median(build_s[1:]),
            "trace.wall_s": e2e["wall_s"],
        })
        layer.update(_spark_layers(read_tasks(session.log_dir), wl, len(passes)))
        layer.update({f"extract.status.{k}": status.get(k, 0)
                      for k in ("ok", "no_html", "parse_failed", "skipped_media", "error")})
        layer.update(_span_layers(rec, wl, passes))
        out = ROOT / ".perfbench" / "out"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{wl.name}-seed{wl.seed}-trace.json"
        path.write_text(json.dumps({
            "workload": wl.name, "seed": wl.seed, "e2e": e2e, "extra": extra,
            "layers": layer, "spans": rec.to_json(),
        }))
        result["layers"] = layer
        result["trace_file"] = str(path.relative_to(ROOT))
    return result


def _spark_layers(tasks, wl, n: int) -> dict:
    """Spark-side numbers per timed pass (the Python worker boot: over
    the last set-up's warm-up, where the workers start)."""
    from .sparkmetrics import summarize

    timed = [t for t in tasks if t.group.startswith("pass")]
    py = summarize([t for t in timed if t.python])
    boot = summarize([t for t in tasks if t.group == "setup" and t.python])
    every = summarize(timed)
    out = {
        "extract.python_boot_s": boot["python.boot_s"],
        "extract.python_init_s": py["python.init_s"] / n,
        "extract.python_total_s": py["python.total_s"] / n,
        "extract.executor_run_s": py["run_s"] / n,
        "extract.executor_cpu_s": py["cpu_s"] / n,
        "extract.jvm_gc_s": py["gc_s"] / n,
        "extract.bytes_to_python": py["python.bytes_to"] / n,
        "extract.bytes_from_python": py["python.bytes_from"] / n,
        "extract.task_s.p50": py["task_s.p50"],
        "extract.task_s.max": py["task_s.max"],
        "extract.task_skew": py["task_skew"],
        "spark.tasks": every["tasks"] / n,
        "spark.executor_run_s": every["run_s"] / n,
        "spark.shuffle_write_bytes": every["shuffle_write_bytes"] / n,
    }
    if wl.name == "job_resume":
        job = summarize([t for t in timed if "/job." in t.group])
        out["job.shuffle_write_bytes"] = job["shuffle_write_bytes"] / n
        out["job.output_bytes"] = job["output_bytes"] / n
    if wl.name == "corpus_ops":
        for q in wl.QUERIES:
            s = summarize([t for t in timed if t.group.endswith(f"/ops.{q}")])
            out[f"ops.{q}.shuffle_bytes"] = s["shuffle_write_bytes"] / n
            out[f"ops.{q}.spill_bytes"] = s["spill_bytes"] / n
            out[f"ops.{q}.tasks"] = s["tasks"] / n
    return out


def _span_layers(rec, wl, passes) -> dict:
    """Per-pass medians of the job and operator spans of the timed passes."""
    from .trace import pct

    spans = rec.spans
    timed = {i for i, s in enumerate(spans) if s[0] == "bench.pass"}

    def timed_pass(i):
        p = spans[i][3]
        while p is not None and p not in timed:
            p = spans[p][3]
        return p

    per_pass: dict[str, dict[int, float]] = {}
    groups = []
    for i, (name, s, e, _p, _t) in enumerate(spans):
        p = timed_pass(i) if name.startswith(("job.", "ops.")) else None
        if p is None:
            continue
        per_pass.setdefault(name, {}).setdefault(p, 0.0)
        per_pass[name][p] += e - s
        if name == "job.group":
            groups.append(e - s)

    def per_pass_median(name):
        return _median(list(per_pass.get(name, {}).values()))

    out = {}
    if wl.name == "job_resume":
        out.update({
            "job.group_s.p50": pct(groups, 0.5),
            "job.group_s.max": max(groups, default=0.0),
            "job.write_s": per_pass_median("job.write"),
            "job.bucket_stats_s": per_pass_median("job.bucket_stats"),
            "job.manifest_s": per_pass_median("job.manifest"),
            "job.audit_s": sum(e - s for n, s, e, _p, _t in spans if n == "job.audit"),
            "job.resume_s": _median([p["resume_s"] for p in passes]),
            "job.resume_skipped_buckets": _median(wl.skipped),
        })
    if wl.name == "corpus_ops":
        for q in wl.QUERIES:
            out[f"ops.{q}.s"] = per_pass_median(f"ops.{q}")
    return out


def report(name: str, res: dict, trace: bool) -> None:
    """Every end-to-end metric by name and unit, then the JSON line."""
    from .layers import PER_LAYER

    e2e, extra = res["e2e"], res["extra"]
    rows = "turns" if name == "job_resume" else "docs"
    lines = [
        ("turns_per_s" if rows == "turns" else "docs_per_s", extra["rows_per_s"], f"{rows}/s"),
        ("wall_s", e2e["wall_s"], "s"),
        ("resume_s", extra["resume_s"] if name == "job_resume" else None, "s"),
        ("scaling_eff_1to4", None, "ratio"),
        ("setup_s", e2e["setup_s"], "s"),
        ("peak_rss_mb", e2e["peak_rss_mb"], "MB"),
        ("failed_frac", extra["failed_frac"], "ratio"),
    ]
    for metric, value, unit in lines:
        shown = "n/a" if value is None else f"{value:.4f}"
        print(f"{name:<11} {metric:<18} {shown:>12} {unit}")
    for part, mb in extra["peak_mb_by_part"].items():
        print(f"{name:<11} {'peak_mb.' + part:<18} {mb:>12.4f} MB")
    if trace:
        for k, v in res["layers"].items():
            print(f"{name:<11} {k:<36} {v:>14.6g}")
        print(f"trace written to {res['trace_file']}")
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import run as bench
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    res = bench.run(args.workload, args.seed, args.seconds, bool(args.trace))
    bench.report(args.workload, res, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
