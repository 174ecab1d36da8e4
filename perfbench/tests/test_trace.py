"""Span arithmetic, the traced kernel pass, the event-log reader and
the memory sampler."""
import json
import os

import pytest

from perfbench import gen, proc, sparkmetrics
from perfbench.trace import Recorder, kernel_pass, self_times


def test_self_time_subtracts_direct_children():
    spans = [
        ["root", 0.0, 10.0, None, "t"],
        ["a", 1.0, 4.0, 0, "t"],
        ["a.1", 2.0, 3.0, 1, "t"],
        ["b", 5.0, 9.0, 0, "t"],
    ]
    assert self_times(spans) == [3.0, 2.0, 1.0, 4.0]


def test_kernel_layers_sum_to_article_time():
    turns = gen.job_transcripts(4, 60)
    rec = Recorder()
    m = kernel_pass(turns, rec)
    layers = sum(m[k] for k in (
        "dom.fromstring_s", "kernel.metadata_s", "kernel.cleaner_s",
        "kernel.scorer.best_node_s", "kernel.scorer.post_cleanup_s",
        "kernel.formatter_s"))
    assert layers + m["kernel.article.self_s"] == pytest.approx(m["kernel.article_s"], rel=1e-9)
    assert m["kernel.article.self_s"] > 0
    # one article span per turn, traced by the turn key
    articles = [s for s in rec.spans if s[0] == "kernel.article"]
    assert [s[4] for s in articles] == [f"{t.conv_id}/{t.turn_idx}" for t in turns]
    assert m["kernel.scorer.candidates"] > 0 and m["dom.nodes_per_page"] > 1


def test_kernel_wrappers_are_removed_after_the_pass():
    from newspaper_spark.kernel import article, scorer

    before = (article.extract_article, article.fromstring, scorer.nodes_to_check)
    kernel_pass(gen.job_transcripts(4, 10), Recorder())
    assert (article.extract_article, article.fromstring, scorer.nodes_to_check) == before


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def test_event_log_groups_and_units(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    plan = {"metrics": [{"accumulatorId": 7, "metricType": "timing"},
                        {"accumulatorId": 8, "metricType": "size"}], "children": []}
    task = {
        "Stage ID": 3,
        "Task Info": {"Launch Time": 1000, "Finish Time": 3500, "Accumulables": [
            {"ID": 7, "Name": "time to run Python workers", "Update": "1500"},
            {"ID": 8, "Name": "data sent to Python workers", "Update": "2048"},
        ]},
        "Task Metrics": {"Executor Run Time": 2400, "Executor CPU Time": 2 * 10**9,
                         "JVM GC Time": 100,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}},
    }
    (app / "events_1_local-1").write_text(
        _event("SparkListenerJobStart", **{"Stage IDs": [3], "Properties": {"spark.jobGroup.id": "pass0"}})
        + _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", sparkPlanInfo=plan)
        + _event("SparkListenerTaskEnd", **task))
    (t,) = sparkmetrics.read_tasks(tmp_path)
    assert t.group == "pass0" and t.wall_s == 2.5 and t.cpu_s == 2.0
    assert t.python == {"total_s": 1.5, "bytes_to": 2048.0}
    s = sparkmetrics.summarize([t])
    assert s["shuffle_write_bytes"] == 64 and s["task_skew"] == 1.0


def test_memory_sampler_sees_this_process():
    with proc.PeakRss(interval=0.01) as p:
        buf = bytearray(64 * 2**20)
        buf[::4096] = b"x" * len(buf[::4096])
        import time

        time.sleep(0.1)
    assert p.peak_mb > 64
    assert p.part_peaks_mb["driver"] > 64
    assert proc.tree_pss(os.getpid())["driver"] > 0
