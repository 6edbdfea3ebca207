"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The arithmetic, fake-node and determinism tests take seconds. The smoke
tests run each workload end to end on tiny inputs in a subprocess, the
way the benchmark is invoked, and take about a minute each.
"""

from __future__ import annotations

import json
import pickle
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import fakenode  # noqa: E402
from perfbench.layers import END_TO_END, PER_LAYER, per_layer  # noqa: E402
from perfbench.trace import Job, Span, SpanTree, _Wrapped, covered, merge, union_length  # noqa: E402

# -- interval arithmetic ------------------------------------------------------


def test_merge_and_union():
    assert merge([(3, 4), (0, 1), (0.5, 2), (2, 2.5), (5, 5)]) == [(0, 2.5), (3, 4)]
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3
    assert union_length([]) == 0


def test_covered_clips_to_window():
    assert covered((1, 3), [(0, 2), (2.5, 10)]) == 1.5
    assert covered((1, 3), [(4, 5)]) == 0


def _span(i, parent, start, end, jobs=(), layer="x", name="x"):
    return Span(i, name, layer, parent, "op", start, end, jobs=list(jobs))


def test_self_and_driver_time():
    root = _span(0, None, 0, 10, jobs=[Job(1, 1, 2)])
    a = _span(1, 0, 2, 5, jobs=[Job(2, 3, 4)])
    b = _span(2, 0, 4, 7)  # overlaps a: the union counts once
    tree = SpanTree([root, a, b])
    assert tree.self_s(root) == 10 - 5
    assert tree.self_driver_s(root) == 10 - 5 - 1
    assert tree.tree_driver_s(root) == 10 - 2
    assert sorted(j.id for j in tree.tree_jobs(root)) == [1, 2]
    assert tree.self_s(a) == 3 and tree.self_driver_s(a) == 2


def test_per_layer_module_self_time_excludes_children():
    outer = _span(0, None, 0, 4, layer="operators.graph", name="operators.graph.f")
    inner = _span(1, 0, 1, 3, jobs=[Job(7, 1.5, 2.5, stages=2, executor_s=3.0)],
                  layer="plans", name="plans.g")
    vals = per_layer([outer, inner], passes=2, wall_s=4, cores=4, extra={})
    assert vals["operators.graph.self_s"] == 2 / 2
    assert vals["plans.self_s"] == 2 / 2
    assert vals["plans.driver_s"] == 1 / 2
    assert vals["plans.jobs"] == 1 / 2
    assert vals["spark.slot_busy_share"] == 3.0 / (4 * 4)
    assert set(vals) == {name for name, _, _ in PER_LAYER}


def test_per_layer_counts_traced_only_spans_once_and_only_for_their_layers():
    side = Span(0, "streaming.ann_ingest.f", "streaming.ann_ingest", None,
                "traced-only:sim11", 0, 3, jobs=[Job(1, 0, 1, executor_s=2.0)])
    inner = Span(1, "operators.similarity.g", "operators.similarity", 0,
                 "traced-only:sim11", 1, 2)
    vals = per_layer([side, inner], passes=2, wall_s=4, cores=4, extra={})
    assert vals["streaming.ann_ingest.self_s"] == 2
    assert vals["streaming.ann_ingest.driver_s"] == 1
    assert vals["streaming.ann_ingest.jobs"] == 1
    assert vals["operators.similarity.self_s"] == 0
    assert vals["spark.slot_busy_share"] == 0


def test_wrapper_pickles_as_the_plain_function():
    import cloudpickle

    from perfbench import trace

    w = _Wrapped(object(), trace.merge, "x", "x", None)
    assert pickle.loads(cloudpickle.dumps(w)) is trace.merge


# -- fake node and seeded inputs ------------------------------------------------


FIRST = fakenode.FIRST_BLOCK


def test_render_chain_is_seeded():
    a1, e1 = fakenode.render_chain(7, 40)
    a2, e2 = fakenode.render_chain(7, 40)
    a3, e3 = fakenode.render_chain(8, 40)
    assert a1 == a2 and e1 == e2
    assert a1 != a3
    assert e1["block"][:2] == [40, sum(range(FIRST, FIRST + 40))]
    assert e1["block"][2] == e3["block"][2]  # every seed: the same transactions


def test_render_chain_has_mainnet_density_and_the_edge_cases():
    answers, _ = fakenode.render_chain(3, 100)
    blocks = [json.loads(answers[("eth_getBlockByNumber", FIRST + n)]) for n in range(100)]
    counts = [len(b["transactions"]) for b in blocks]
    assert counts.count(0) == 2 and 170 < sum(counts) / 100 < 185
    txs = [t for b in blocks for t in b["transactions"]]
    assert any(t["to"] is None for t in txs)  # contract creations
    receipts = [r for n in range(100)
                for r in json.loads(answers[("eth_getBlockReceipts", FIRST + n)])]
    assert any(r["status"] == "0x0" for r in receipts)  # reverted calls
    topics = [lg["topics"] for r in receipts for lg in r["logs"]]
    assert None in topics and [] in topics


def test_fake_node_serves_and_counts(tmp_path):
    answers, _ = fakenode.render_chain(1, 5)
    store = tmp_path / "node.pkl"
    fakenode.write_store(answers, str(store))
    logs = tmp_path / "log"
    logs.mkdir()
    node = fakenode.FakeNode(str(store), str(logs))
    node = pickle.loads(pickle.dumps(node))

    def post(calls):
        body = [{"jsonrpc": "2.0", "id": i, "method": m, "params": p}
                for i, (m, p) in enumerate(calls)]
        return json.loads(node(json.dumps(body).encode()))

    two = hex(FIRST + 2)
    out = post([("eth_blockNumber", []), ("eth_getBlockByNumber", [two, True])])
    assert out[0]["result"] == hex(FIRST + 4)
    assert out[1]["result"]["number"] == two
    post([("eth_getBlockByNumber", [two, True]), ("trace_block", [two])])
    log = fakenode.read_log(str(logs))
    assert log["calls"] == 4 and log["unique"] == 3 and log["bytes"] > 0


def test_worker_spans_time_outermost_calls(tmp_path, monkeypatch):
    import numpy as np

    from graphsense_ethereum_etl_spark.operators import codecs
    from perfbench import workerspans

    for name, fn in list(vars(codecs).items()):  # undone after the test
        monkeypatch.setattr(codecs, name, fn)
    workerspans.install(str(tmp_path))
    payload = codecs.wav_encode(np.arange(64, dtype=np.int16), sample_rate=8000, sample_width=2)
    codecs.media_features(payload)  # calls sniff_mime and wav_info inside
    log = workerspans.read_log(str(tmp_path))
    assert log["operators.codecs"]["calls"] == 2
    assert log["operators.codecs"]["seconds"] > 0
    workerspans.clear_log(str(tmp_path))
    assert workerspans.read_log(str(tmp_path))["operators.codecs"]["calls"] == 0


def test_query_order_is_seeded_and_goldens_cover_the_mix():
    import random

    from perfbench.workloads import GOLDENS, MIX, TRACED_ONLY

    def order(seed):
        names = list(MIX)
        random.Random(seed).shuffle(names)
        return names

    assert order(5) == order(5) and order(5) != order(6)
    assert len(MIX) >= 40 and len(set(MIX)) == len(MIX)
    goldens = json.loads(GOLDENS.read_text())["queries"]
    assert set(goldens) == set(MIX + TRACED_ONLY)
    assert json.loads(GOLDENS.read_text())["shuffle_partitions_checked"][1:] == [1, 16]


def test_benchmark_json_matches_the_catalogue():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)
    from perfbench.run import WORKLOADS

    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


# -- end-to-end smoke runs ----------------------------------------------------


@pytest.mark.parametrize("workload", ["ingest", "query_mix"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = [n for n, _, _ in (PER_LAYER if trace else END_TO_END)]
    assert list(result["metrics"]) == names
    if trace and workload == "ingest":
        assert abs(result["metrics"]["sources.rpc.useful_ratio"]["value"] - 0.6) < 0.01
        assert result["metrics"]["sources.generator.jobs"]["value"] == 0
        assert result["metrics"]["sources.generator.wall_s"]["value"] > 0
    if trace and workload == "query_mix":  # layers timed off the driver's path
        assert result["metrics"]["operators.codecs.calls"]["value"] > 0
        assert result["metrics"]["streaming.ann_ingest.self_s"]["value"] > 0
