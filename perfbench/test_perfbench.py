"""Tests of the benchmark itself (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, CorpusSearch, Ledger  # noqa: E402


# ------------------------------------------------------------ inputs

@pytest.fixture
def _small_warehouse(monkeypatch):
    monkeypatch.setattr(gen, "WAREHOUSE_ORDERS", 400)


def _warehouse(seed):
    return gen.warehouse_tables(seed)


@pytest.mark.usefixtures("_small_warehouse")
def test_same_seed_gives_identical_inputs():
    a, b = _warehouse(7), _warehouse(7)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    (ca, ta), (cb, tb) = gen.corpus(7, n_base=150), gen.corpus(7, n_base=150)
    assert ca.equals(cb) and ta == tb
    assert np.array_equal(gen.clustered_vectors(7, 50)[0], gen.clustered_vectors(7, 50)[0])


@pytest.mark.usefixtures("_small_warehouse")
def test_other_seed_gives_other_inputs():
    a, b = _warehouse(7), _warehouse(8)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not gen.corpus(7, n_base=150)[0].equals(gen.corpus(8, n_base=150)[0])
    assert not np.array_equal(gen.clustered_vectors(7, 50)[0], gen.clustered_vectors(8, 50)[0])


def test_corpus_plants_what_the_truth_says():
    docs, truth = gen.corpus(3, n_base=300)
    texts = docs.column("text").to_pylist()
    assert len(texts) == truth.n_docs
    assert len(texts) - len(set(texts)) == truth.exact_copies == truth.exact_groups
    for a, b in truth.near_pairs:
        assert texts[a] != texts[b]
        assert len(set(texts[a].split()) ^ set(texts[b].split())) <= 8
    assert "label" in docs.column_names


# ------------------------------------------------------- failure count

def _search_with_store(n=200):
    cs = CorpusSearch.__new__(CorpusSearch)
    cs.vectors, _ = gen.clustered_vectors(5, n)
    cs.recalls = []
    return cs


def _exact_rows(cs, q, ids):
    sims = q.astype(np.float64) @ cs.vectors.astype(np.float64).T
    rows = []
    for i, qid in enumerate(ids.tolist()):
        for n in np.argsort(-sims[i], kind="stable")[:10]:
            rows.append({"qid": qid, "nid": int(n), "sim": round(float(sims[i, n]), 6)})
    return rows


def test_correct_probe_result_passes():
    cs = _search_with_store()
    q, _ = gen.clustered_vectors(5, 4, stream="q")
    ids = np.arange(1000, 1004)
    problems, recall = cs._probe_problems(_exact_rows(cs, q, ids), q, ids)
    assert problems == [] and recall == 1.0


def test_wrong_result_is_counted_as_failed():
    cs = _search_with_store()
    q, _ = gen.clustered_vectors(5, 4, stream="q")
    ids = np.arange(1000, 1004)
    wrong = [dict(r, nid=(r["nid"] + 1) % len(cs.vectors)) for r in _exact_rows(cs, q, ids)]
    ledger = Ledger()
    result = ledger.run("probe", lambda: wrong,
                        lambda rows: cs._probe_problems(rows, q, ids)[0])
    assert result is None
    assert (ledger.attempted, ledger.failed) == (1, 1)
    assert ledger.problems


def test_raising_operation_is_counted_as_failed():
    ledger = Ledger()

    def boom():
        raise RuntimeError("program error")

    assert ledger.run("op", boom) is None
    ledger.run("op", lambda: 1, lambda r: [])
    assert (ledger.attempted, ledger.failed) == (2, 1)


# --------------------------------------------------------------- spans

class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeCounters:
    """Stage ids advance as the test says; each stage ran one task."""

    def __init__(self):
        self.next = 0

    def next_stage_id(self):
        return self.next

    def between(self, first, last):
        return {"executor_s": 0.5 * (last - first), "shuffle_write_bytes": 10.0 * (last - first),
                "spill_bytes": 0.0, "gc_s": 0.0, "tasks": float(last - first),
                "input_bytes": 100.0 * (last - first)}


def test_child_self_times_never_exceed_parent_and_counters_never_negative():
    clock, counters = FakeClock(), FakeCounters()
    tr = Tracer(True, counters, clock=clock)
    with tr.span("bench.pass") as root:
        clock.t += 1
        counters.next += 2
        with tr.span("dedup.exact"):
            clock.t += 2
            counters.next += 3
        with tr.span("dedup.near_pairs"):
            clock.t += 4
            with tr.span("components.clusters"):
                clock.t += 1
                counters.next += 1
        clock.t += 0.5
    assert root.duration == 8.5
    for sp in tr.spans:
        if sp.parent is not None:
            assert sp.self_time <= sp.duration <= sp.parent.duration
    assert root.self_time == pytest.approx(1.5)
    assert sum(s.self_time for s in tr.spans) == pytest.approx(root.duration)
    layers = tr.by_layer(tr.spans)
    for agg in layers.values():
        assert all(v >= 0 for v in agg.values())
    assert layers["dedup"]["tasks"] == 3  # the clusters stage counts once, under components
    assert layers["components"]["tasks"] == 1
    assert layers["bench"]["tasks"] == 2


def test_input_bytes_count_each_stage_once():
    clock, counters = FakeClock(), FakeCounters()
    tr = Tracer(True, counters, clock=clock)
    tr.phase = "loop"
    with tr.span("bench.pass"):
        counters.next += 1
        with tr.span("catalog.load"):
            counters.next += 2
        with tr.span("dedup.exact"):
            counters.next += 3
    clock.t += 1
    report = {"ops": 2, "gauges": {}, "requests": [1.0, 2.0]}
    out = run.layer_metrics(tr, report, rss_mb=1.0, gen_s=0.0, wall_s=1.0)
    assert out["catalog.input_bytes"]["value"] == 100.0 * 6 / 2  # six stages, two ops


def test_untraced_spans_time_but_record_nothing():
    clock = FakeClock()
    tr = Tracer(False, clock=clock)
    with tr.span("queries.exec") as sp:
        clock.t += 3
    assert sp.duration == 3 and tr.spans == [] and tr.overhead_s == 0


# ------------------------------------------------------------- metrics

def test_tail_rule():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)
    xs = [float(i) for i in range(1, 101)]
    assert run.tail(xs) == (90.0, 90, 100)
    assert run.tail(xs[:20]) == (10.0, 50, 20)


def test_op_latency_weighs_each_kind_alike():
    assert run.op_latency({"a": [1.0, 100.0, 1.0], "b": [4.0]}) == pytest.approx(2.0)
    assert run.op_latency({"probe": [3.0, 1.0, 2.0]}) == 2.0


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.NAMES) == set(WORKLOADS)


def test_spans_are_written_with_parents(tmp_path):
    clock = FakeClock()
    tr = Tracer(True, clock=clock)
    with tr.span("bench.pass"):
        clock.t += 1
        with tr.span("dedup.exact"):
            clock.t += 1
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    rows = [json.loads(x) for x in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["bench.pass", "dedup.exact"]
    assert rows[0]["parent"] is None and rows[1]["parent"] == 0
