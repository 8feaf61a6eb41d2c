"""Unit tests for the benchmark's generator, oracle and span bookkeeping.

    python3 -m pytest perfbench -q
"""

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _vec_args():
    return dict(n=300, n_queries=20, large_share=0.3, cycles=3, insert_rows=40,
                delete_rows=15, warm_rows=30)


def test_same_seed_same_bytes(tmp_path):
    a = gen.vector_inputs(7, str(tmp_path / "a"), **_vec_args())
    b = gen.vector_inputs(7, str(tmp_path / "b"), **_vec_args())
    da, db = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert da == db and len(da) >= 6
    assert np.array_equal(a.vecs, b.vecs) and np.array_equal(a.query_k, b.query_k)
    ta = gen.doc_inputs(7, str(tmp_path / "ta"), 200, 20)
    tb = gen.doc_inputs(7, str(tmp_path / "tb"), 200, 20)
    assert _digest(str(tmp_path / "ta")) == _digest(str(tmp_path / "tb"))
    assert ta.texts == tb.texts


def test_other_seed_other_inputs(tmp_path):
    a = gen.vector_inputs(7, str(tmp_path / "a"), **_vec_args())
    b = gen.vector_inputs(8, str(tmp_path / "b"), **_vec_args())
    assert not np.array_equal(a.vecs, b.vecs)
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))


def test_dml_batches_are_consistent(tmp_path):
    a = gen.vector_inputs(3, str(tmp_path), **_vec_args())
    live = oracle.LiveSet(a.ids, a.vecs)
    for (ids, vecs), doomed in zip(a.inserts, a.deletes):
        assert not set(ids.tolist()) & set(live.ids.tolist())  # fresh ids
        live.insert(ids, vecs)
        assert not set(doomed.tolist()) & set(ids.tolist())  # never this cycle's batch
        assert live.delete(doomed) == len(doomed)  # every doomed id is live
    assert len(live) == 300 + 3 * (40 - 15)


def test_planted_copies_follow_their_originals(tmp_path):
    d = gen.doc_inputs(5, str(tmp_path), 100, 10)
    assert len(d.texts) == 110 and d.copies.min() > d.originals.max()
    for o, c in zip(d.originals, d.copies):
        a, b = d.texts[int(o)].split(), d.texts[int(c)].split()
        assert sum(x != y for x, y in zip(a, b)) == 1


def test_exact_topk_and_recall_hand_built():
    vecs = np.array([[0, 0], [1, 0], [0, 2], [3, 3], [-1, 0]], dtype=np.float32)
    live = oracle.LiveSet(np.array([10, 11, 12, 13, 14]), vecs)
    ids, dist = live.exact_topk(np.array([0.1, 0.0]), 3)
    assert ids.tolist() == [10, 11, 14]
    assert np.allclose(dist, [0.01, 0.81, 1.21])
    assert oracle.recall([10, 11, 12], ids) == pytest.approx(2 / 3)
    assert oracle.recall([14, 10, 11], ids) == 1.0
    assert oracle.recall([], ids) == 0.0
    live.delete(np.array([11]))
    assert live.exact_topk(np.array([0.1, 0.0]), 2)[0].tolist() == [10, 14]
    assert live.dead == {11}


def test_is_exact_topk_accepts_ties_only():
    vecs = np.array([[1, 0], [-1, 0], [0, 5]], dtype=np.float32)
    live = oracle.LiveSet(np.array([1, 2, 3]), vecs)
    q = np.zeros(2)
    assert oracle.is_exact_topk([1], live, q, 1)
    assert oracle.is_exact_topk([2], live, q, 1)  # tie at distance 1
    assert not oracle.is_exact_topk([3], live, q, 1)
    assert not oracle.is_exact_topk([1, 1], live, q, 2)
    assert not oracle.is_exact_topk([1, 9], live, q, 2)  # 9 is not live


def test_dedup_outcome():
    kept = [0, 1, 2, 3, 5]  # copies are 4 and 5; 5 survived
    rec, ok = oracle.dedup_outcome(kept, np.array([4, 5]), 4)
    assert rec == 0.5 and ok
    assert not oracle.dedup_outcome([0, 2, 3], np.array([4, 5]), 4)[1]


def test_route_other_than_the_index_fails_the_op():
    import workloads

    run = workloads.Run(spark=None, cpu_clock=lambda: 0.0)
    for route in ("HNSW_INDEX_SCAN", "SEQ_SCAN"):
        with run.op("topk") as op:
            op.route = route
        run.expect_route(op, workloads.INDEX_SCAN)
    with run.op("index_join") as op:
        op.route = "SEQ_SCAN"
    run.expect_route(op, workloads.INDEX_JOIN)
    assert run.attempted == 3 and run.failed == 2
    assert all(f.startswith("route 'SEQ_SCAN'") for f in run.failures)


class _Holder:
    def f(self, x):
        return x + 1

    @classmethod
    def g(cls, x):
        return (list(range(x)), None)


def test_self_time_nests_and_wraps_restore():
    t = spans.Tracer(spark=None)
    t.wrap(_Holder, "f", "inner")
    t.wrap(_Holder, "g", "graph", lambda rec, out: rec.update(keys=len(out[0])))
    with t.span("outer"):
        assert _Holder().f(1) == 2
        assert _Holder.g(3)[0] == [0, 1, 2]
    t.unwrap_all()
    assert _Holder().f(1) == 2 and len(t.spans) == 3
    outer, inner, graph = t.spans
    assert inner["parent"] == outer["id"] and graph["keys"] == 3
    children = {outer["id"]: [inner, graph]}
    self_t = spans._self_time(outer, children)
    assert 0 <= self_t <= outer["end"] - outer["start"]
    assert "__wrapped__" not in _Holder.__dict__["f"].__dict__


def test_benchmark_json_matches_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
