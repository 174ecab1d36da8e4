"""BENCHMARK.json names what the harness prints, within the limits the
benchmark contract sets."""
import json
import re
from pathlib import Path

from perfbench import layers, run
from perfbench.workloads import WORKLOADS

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_keys_and_names():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in BENCH["workloads"])
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in BENCH[k]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert 1 <= BENCH["run_seconds"] <= 60


def test_metrics_match_the_harness():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert e2e == run.END_TO_END
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        (n, u, b) for n, (u, b, _moves) in layers.LAYERS.items()]
    assert all(UNIT.fullmatch(m["unit"]) for k in ("end_to_end", "per_layer") for m in BENCH[k])
