"""scripts/ladder.py: every registered ladder runs once per rung and its
invariants hold; the input cache key covers every value that shapes an
input; a failing invariant makes the run exit non-zero."""
import dataclasses
import json
import pathlib
import sys

import pytest

from tests.conftest import SF0001, SF001

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "scripts"))
import ladder  # noqa: E402


# the exactness invariants each ladder must check (the others check none)
INVARIANTS = {
    "ann": {"pairs_eq_seeded"},
    "graph": {"triangles_linear", "nodes_linear"},
    "sparse": {"pairs_linear"},
    "badwords": {"rare_hits_constant", "frequent_hits_linear"},
    "extract": {"n_ok_linear"},
    "crawl": {"allowed_linear", "possibly_seen_linear"},
}


@pytest.fixture(scope="module")
def harness(tmp_path_factory):
    """The harness with its input cache and artifacts in a temp dir
    (module-wide, so later tests reuse the inputs built earlier)."""
    root = tmp_path_factory.mktemp("ladder")
    mp = pytest.MonkeyPatch()
    mp.setattr(ladder, "CACHE", root / "cache")
    mp.setattr(ladder, "ARTIFACTS", root / "artifacts")
    yield ladder
    mp.undo()


@pytest.mark.parametrize("name", list(ladder.LADDERS))
def test_ladder_runs_every_rung_and_holds_invariants(spark, harness, name):
    assert harness.run(spark, [name], SF0001, reps=1) == 0
    summary = json.loads((harness.ARTIFACTS / f"ladder_{name}.json").read_text())
    assert set(summary["invariants"]) == INVARIANTS.get(name, set())
    lad = harness.LADDERS[name]
    for op, o in lad.ops.items():
        rungs = summary["rungs"][op]
        assert [r["k"] for r in rungs.values()] == list(o.ks or lad.ks)
        assert all(r["n_units"] > 0 and len(r["walls"]) == 1 for r in rungs.values())


def test_failing_invariant_exits_nonzero(spark, harness, monkeypatch):
    """sparse pairs grow 4x from x4 to x16; expecting 2x must fail the run."""
    wrong = dataclasses.replace(
        harness.LADDERS["sparse"],
        invariants=lambda rungs, c: {
            "pairs_double": rungs["pairs"]["x16"]["n_pairs"]
            == 2 * rungs["pairs"]["x4"]["n_pairs"]
        },
    )
    monkeypatch.setitem(harness.LADDERS, "sparse", wrong)
    assert harness.run(spark, ["sparse"], SF0001, reps=1) == 1


def test_cache_path_keys_every_input_parameter():
    L, path = ladder.LADDERS, ladder.cache_path
    assert path(L["nb"], SF0001, 4) != path(L["nb"], SF001, 4)
    assert path(L["nb"], SF0001, 4) != path(L["nb"], SF0001, 16)
    assert path(L["nb"], SF0001, 4) != path(L["bm25"], SF0001, 4)
    ann = L["ann"]
    half = dataclasses.replace(ann, consts={**ann.consts, "base_n": 1000})
    assert path(ann, SF0001, 1) != path(half, SF0001, 1)


def test_ann_input_is_shaped_by_its_constants(spark):
    c = {**ladder.LADDERS["ann"].consts, "base_n": 100}
    vecs = ladder.ann_vectors(ladder.Rung(spark, SF0001, 2, c))
    # 200 fresh vectors plus a near-dup of every 25th
    assert vecs.count() == 200 + 8
