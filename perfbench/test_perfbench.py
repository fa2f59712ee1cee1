"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The generator and checker tests are pure Python.  The others start the
benchmark itself: four runs of one to two minutes each.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from osm2geojson_lite_spark.sources.synth import _doc_payload  # noqa: E402
from perfbench import corpus  # noqa: E402
from perfbench.run import Checker  # noqa: E402


# -- inputs -------------------------------------------------------------------


def test_skewed_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (corpus.skewed_documents(s) for s in (7, 7, 8))
    assert a == b
    assert [r["payload"] for r in a] != [r["payload"] for r in c]


def test_uniform_inputs_follow_the_seed():
    assert _doc_payload(3, 7) == _doc_payload(3, 7)
    assert _doc_payload(3, 7) != _doc_payload(3, 8)
    assert (corpus.uniform_expected_features(5, 7)
            == corpus.uniform_expected_features(5, 7))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_skewed_plants_mega_docs_and_fanout(seed):
    rows = corpus.skewed_documents(seed)
    mega = rows[-corpus.SKEWED_MEGA_DOCS:]
    small = [r["elements"] for r in rows[:-corpus.SKEWED_MEGA_DOCS]]
    assert all(r["elements"] >= corpus.MEGA_FACTOR * statistics.median(small) for r in mega)
    golden = sum(len(json.loads(_doc_payload(i, 42))["elements"])
                 for i in range(corpus.GOLDEN_DOCS))
    total = sum(r["elements"] for r in rows) + golden
    assert 0.3 <= sum(r["elements"] for r in mega) / total <= 0.45
    # the first mega doc is JSON and holds the wide super-relation
    assert mega[0]["format"] == "json"
    rels = [e for e in json.loads(mega[0]["payload"])["elements"] if e["type"] == "relation"]
    fan = max(sum(m["type"] == "relation" for m in r["members"]) for r in rels)
    assert fan == corpus.SUPER_RELATION_FANOUT
    # payloads alternate Overpass JSON and OSM XML
    assert {r["format"] for r in rows[:2]} == {"json", "xml"}
    assert all(r["payload"].startswith("<?xml") == (r["format"] == "xml") for r in rows)


# -- checks -------------------------------------------------------------------


def _rows(expected: dict[str, int], golden: dict[str, str]) -> list[tuple]:
    return [(d, n, golden.get(d, "h-" + d), 10) for d, n in expected.items()]


def test_checker_flags_wrong_outputs():
    probe = Checker({})
    golden = probe.golden
    expected = {d: 1 for d in golden} | {"doc-0": 3, "doc-1": 4}
    ok = _rows(expected, golden)

    c = Checker(expected)
    assert c.check(ok) and c.check(ok)
    assert not c.check(ok[:-1])  # a document missing
    bad_count = [(d, n + (d == "doc-1"), h, k) for d, n, h, k in ok]
    assert not c.check(bad_count)
    bad_golden = [(d, n, "0" * 32 if d == "golden-3" else h, k) for d, n, h, k in ok]
    assert not c.check(bad_golden)
    drift = [(d, n, "x" if d == "doc-0" else h, k) for d, n, h, k in ok]
    assert not c.check(drift)  # differs from the first pass
    assert (c.attempted, c.failed) == (6, 4)


# -- the benchmark itself -----------------------------------------------------


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.fixture(scope="module")
def traced_runs() -> list[dict]:
    return [_run("uniform", 5, 1) for _ in range(2)]


@pytest.fixture(scope="module")
def untraced_runs() -> list[dict]:
    return [_run("skewed", 5, 0) for _ in range(2)]


def test_untraced_run_prints_every_end_to_end_metric(spec, untraced_runs):
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for res in untraced_runs:
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(v["value"] > 0 for v in res["metrics"].values())
    a, b = (r["metrics"]["bytes_per_doc"]["value"] for r in untraced_runs)
    assert a == b


def test_traced_run_prints_every_per_layer_metric(spec, traced_runs):
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for res in traced_runs:
        assert res["correct"]
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_counts_repeat_exactly(traced_runs):
    a, b = ({k: v["value"] for k, v in r["metrics"].items()} for r in traced_runs)
    exact = [k for k in a if k.endswith(".rows")] + [
        "resolve.dangling_refs", "lineage.bytes", "lineage.files", "lineage.commits"]
    assert {k: a[k] for k in exact} == {k: b[k] for k in exact}
    assert a["parse.parse_documents.rows"] > 0 and a["lineage.bytes"] > 0
