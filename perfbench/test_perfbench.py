"""Tests of the benchmark itself: statistics, metric names, planted truth.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from perfbench import common, inputs, truth, workloads
from perfbench.common import NAME_RE, Run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ statistics


def test_median_odd_even_and_empty():
    assert common.median([3.0, 1.0, 2.0]) == 2.0
    assert common.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        common.median([])


# ------------------------------------------------------------ metric names


def test_every_name_is_well_formed():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert set(m) == ({"name", "unit", "better", "bound"} if "bound" in m
                          else {"name", "unit", "better"})


def test_workloads_match_the_spec():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.LAYER_METRICS)
    per_layer = {m["name"] for m in spec["per_layer"]}
    measured = set().union(*map(set, workloads.LAYER_METRICS.values()))
    assert measured == per_layer


def test_end_to_end_metrics_are_the_spec(tmp_path):
    run = Run(workload="pages_scan", seed=1, seconds=1, trace=False, root=ROOT)
    run.record(True)
    workloads._finish(run, [1.0, 2.0, 3.0], [4.0, 5.0], [0.5, 0.7, 0.6])
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {n: run.metrics[n][1] for n in spec} == spec
    assert run.metrics["main_s"][0] == 4.5
    assert run.metrics["setup_s"][0] == 2.0
    assert run.metrics["passed_frac"][0] == 1.0


def test_bad_metric_name_is_refused():
    run = Run(workload="pages_scan", seed=1, seconds=1, trace=False, root=ROOT)
    with pytest.raises(ValueError):
        run.metric("bad name", 1.0, "s")


# ------------------------------------------------------------ planted truth


def test_dictionary_is_seeded_and_unambiguous():
    a = inputs.make_dictionary(7, n_concepts=300, hub_ids=5, n_chains=10, n_curated=20,
                               n_xrefs=10)
    b = inputs.make_dictionary(7, n_concepts=300, hub_ids=5, n_chains=10, n_curated=20,
                               n_xrefs=10)
    c = inputs.make_dictionary(8, n_concepts=300, hub_ids=5)
    assert a.labels == b.labels and a.curated == b.curated and a.xrefs == b.xrefs
    assert a.names != c.names
    tokens = Counter(t for n in a.names + [a.hub] for t in n.split())
    assert max(tokens.values()) == 1  # no name is a sub-phrase of another
    assert not set(tokens) & inputs._RESERVED


def _truth_and_outputs():
    d = inputs.make_dictionary(3, n_concepts=200, hub_ids=4, n_chains=8, n_curated=15,
                               n_xrefs=8)
    surfaces = Counter({d.names[0]: 3, d.hub: 2})
    want = truth.kg_truth(d, surfaces)
    ev = [(s, o, nd, nm) for (s, o), (nd, nm) in want["evidence"].items()]
    return want, sorted(want["triples"]), sorted(want["components"].items()), ev


def test_correct_outputs_pass():
    want, triples, comps, ev = _truth_and_outputs()
    assert want["triples"] and want["evidence"]
    assert truth.check_kg(want, triples=triples, components=comps, evidence=ev) == []


def test_one_dropped_mapping_fails():
    want, triples, comps, ev = _truth_and_outputs()
    assert truth.check_kg(want, triples=triples[1:]) != []
    assert truth.check_kg(want, triples=triples + [("x:1", "skos:exactMatch", "y:2")]) != []


def test_one_wrong_component_or_count_fails():
    want, triples, comps, ev = _truth_and_outputs()
    node, _ = comps[0]
    assert truth.check_kg(want, components=[(node, "zz:0")] + comps[1:]) != []
    s, o, nd, nm = ev[0]
    assert truth.check_kg(want, evidence=[(s, o, nd + 1, nm)] + ev[1:]) != []


def test_exclusions_remove_candidates():
    d = inputs.make_dictionary(3, n_concepts=200, hub_ids=4, n_chains=8, n_curated=15,
                               n_xrefs=8)
    plain = inputs.Dictionary(labels=d.labels, curated=[], xrefs=[], names=d.names, hub=d.hub)
    assert truth.kg_truth(d, Counter())["triples"] < truth.kg_truth(plain, Counter())["triples"]


# ------------------------------------------------------------ against a real build


@pytest.fixture(scope="module")
def run(tmp_path_factory):
    r = Run(workload="pages_scan", seed=5, seconds=1, trace=False, root=ROOT)
    r.work = str(tmp_path_factory.mktemp("perfbench"))
    common.start_session(r)
    yield r
    common.stop_session(r)


@pytest.mark.parametrize("mode", ["fused", "snapshot"])
def test_planted_truth_matches_a_tiny_real_build(run, mode):
    from sssom_curator_spark.checkpoint import SnapshotStore
    from sssom_curator_spark.pipeline import build_kg

    spark = run.spark
    d = inputs.make_dictionary(5, n_concepts=120, hub_ids=6, n_chains=6, n_curated=10,
                               n_xrefs=6)
    frames = inputs.dictionary_frames(spark, d, run.path(mode, "dict"))
    path = run.path(mode, "pages")
    inputs.write_pages(spark, path, n=300, start=42_000, labels=d.names, hub=d.hub,
                       n_sentences=4, files=2)
    want = truth.kg_truth(d, truth.planted_surfaces([path]))
    kw = dict(xrefs=frames["xrefs"], curated=frames["curated"])
    if mode == "fused":
        out = build_kg(spark, spark.read.parquet(path), frames["labels"], materialize=False, **kw)
    else:
        store = SnapshotStore(spark, run.path(mode, "snap"))
        out = build_kg(spark, spark.read.parquet(path), frames["labels"], snapshots=store, **kw)
    triples = [(r.subject_id, r.predicate_id, r.object_id) for r in out["mappings"].collect()]
    comps = [tuple(r) for r in out["components"].select("node", "component").collect()]
    ev = [tuple(r) for r in out["evidence"].select(
        "surface", "object_id", "n_docs", "n_mentions").collect()]
    assert len(ev) > 0
    assert truth.check_kg(want, triples=triples, components=comps, evidence=ev) == []
    # and a corrupted copy of the same outputs is caught
    assert truth.check_kg(want, triples=triples[1:]) != []
