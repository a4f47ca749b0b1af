"""The benchmark's own rules, tested without starting Spark.

    python3 -m pytest graphbench/test_graphbench.py -q
"""

from __future__ import annotations

import json
import os

import pytest

import stats
from workloads import FLOW, WARM_KEYS, BoltRead, FlowModel, WriteGds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- the percentile rule -----------------------------------------------------------

def test_no_tail_below_21_samples():
    assert stats.tail([float(i) for i in range(20)]) is None
    assert stats.tail([]) is None


def test_tail_at_21_samples_leaves_exactly_ten_beyond():
    pct, value, beyond = stats.tail([float(i) for i in range(1, 22)])
    assert (pct, value, beyond) == (52, 11.0, 10)


@pytest.mark.parametrize("n", [21, 22, 30, 47, 61, 100, 101, 1000])
def test_tail_is_the_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    pct, value, beyond = stats.tail(list(reversed(xs)))
    assert beyond >= 10
    assert sum(x > value for x in xs) == beyond
    # one percentile higher would leave fewer than ten beyond
    if pct < 99:
        rank = -(-(pct + 1) * n // 100)
        assert n - rank < 10


def test_tail_at_100_samples_is_p90():
    assert stats.tail([float(i) for i in range(100)])[:1] == (90,)


# -- self-time subtraction -----------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps span 2: covered once
        _span(4, 1, 7.0, 8.0),
        _span(5, 3, 2.5, 4.5),  # grandchild: only its parent subtracts it
    ]
    got = stats.self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(1.0)
    assert got[5] == pytest.approx(2.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, None, 0.0, 4.0), _span(2, 1, 3.0, 6.0)]
    assert stats.self_times(spans)[1] == pytest.approx(3.0)


# -- the Little's-law check ----------------------------------------------------------

def test_littles_law_holds_for_a_consistent_closed_loop():
    # 2 clients, 4 ops/s, 0.5 s mean latency: L = 4 * 0.5 = 2
    assert stats.littles_law_error(2, 4.0, 0.5) == pytest.approx(0.0)


def test_littles_law_rejects_inconsistent_numbers():
    # 4 clients at 1.97 ops/s imply a 2.0 s mean latency, not 0.583 s
    assert stats.littles_law_error(4, 1.97, 0.583) > 0.5


# -- answer comparison ---------------------------------------------------------------

def test_row_order_is_ignored():
    assert stats.same_rows([[1, "a"], [2, "b"]], [[2, "b"], [1, "a"]])


def test_values_are_not_ignored():
    assert not stats.same_rows([[1, "a"]], [[1, "b"]])
    assert not stats.same_rows([[1.0]], [[1.0000001]])
    assert not stats.same_rows([[1]], [[1.0]])  # int and float differ
    assert not stats.same_rows([[True]], [[1]])
    assert not stats.same_rows([[None]], [[0]])


def test_rows_are_a_multiset():
    assert not stats.same_rows([[1], [1]], [[1]])
    assert not stats.same_rows([[1]], [])
    assert stats.same_rows([[None, [1, 2]], [3, None]], [[3, None], [None, [1, 2]]])


# -- the median over a mix of shapes ---------------------------------------------------

def test_p50_is_the_mean_of_the_per_shape_medians():
    mix = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 30.0)]
    assert stats.p50_by_shape(mix) == (2.0 + 20.0) / 2
    assert stats.p50_by_shape([(None, x) for x in (5.0, 1.0, 3.0)]) == 3.0


# -- the warm-up rule ----------------------------------------------------------------

def test_warmup_needs_two_warm_blocks_after_the_cold_one():
    assert not stats.converged([900.0], 0.1)
    assert not stats.converged([900.0, 100.0], 0.1)
    assert stats.converged([900.0, 100.0, 105.0], 0.1)


def test_warmup_compares_only_the_last_two_blocks():
    assert not stats.converged([900.0, 100.0, 80.0], 0.1)
    assert stats.converged([900.0, 200.0, 100.0, 95.0], 0.1)
    # the cold block never counts, however close it is
    assert not stats.converged([100.0, 100.0], 0.1)


def test_warmup_over_three_blocks_rejects_a_curve_still_falling():
    # falling 6 % a block never passes a 5 % tolerance
    assert not stats.converged([900.0, 100.0, 94.0, 88.4], 0.05, last=3)
    assert stats.converged([900.0, 100.0, 97.0, 99.0], 0.05, last=3)
    # three warm blocks are needed
    assert not stats.converged([900.0, 100.0, 100.0], 0.05, last=3)


# -- the state the write flow expects ------------------------------------------------------

P = {"a": 10, "b": 11, "na": "Arne", "nb": "Bosse", "since": 2001, "score": 4.5, "seen": 7}


def test_flow_state_after_each_acknowledged_write():
    m = FlowModel()
    assert m.apply(0, P) is None  # CREATE pair
    assert set(m.nodes) == {10, 11} and m.rels == [(10, 11, {"since": 2001})]
    assert m.apply(1, P) is None  # SET
    assert m.nodes[10]["score"] == 4.5
    assert m.apply(2, P) == [["Arne", 4.5]]  # readback
    assert m.apply(3, P) == [[11, 2001]]  # 1-hop readback
    assert m.apply(4, P) == [[11, 7]]  # MERGE matches b: ON MATCH SET
    assert m.nodes[11]["seen"] == 7 and len(m.nodes) == 2
    assert m.apply(5, P) is None  # DETACH DELETE a
    assert set(m.nodes) == {11} and m.rels == []
    assert m.apply(6, P) == [[1]]  # count


def test_merge_of_a_missing_node_creates_it_without_on_match():
    m = FlowModel()
    assert m.apply(4, P) == [[11, None]]
    assert m.apply(6, P) == [[1]]


def test_flow_expectations_cover_every_statement():
    want = WriteGds.flow_expected(P)
    assert len(want) == len(FLOW)
    assert [w is None for w in want] == [True, True, False, False, False, True, False]


# -- seeded inputs -----------------------------------------------------------------

def _take(it, n):
    return [next(it) for _ in range(n)]


def test_same_seed_same_statements_and_other_seed_others():
    a, b, c = BoltRead(5), BoltRead(5), BoltRead(6)
    assert _take(a.stream(0, "window"), 40) == _take(b.stream(0, "window"), 40)
    assert _take(a.stream(0, "window"), 40) != _take(c.stream(0, "window"), 40)
    assert _take(a.stream(0, "window"), 40) != _take(a.stream(1, "window"), 40)
    w1, w2 = WriteGds(5), WriteGds(5)
    assert _take(w1.stream(0, "warm"), 5) == _take(w2.stream(0, "warm"), 5)


def test_bolt_rounds_hold_each_shape_once_and_keys_split_by_phase():
    w = BoltRead(9)
    ops = _take(w.stream(0, "warm"), 40)
    for i in range(0, 40, 4):
        assert sorted(shape for shape, _ in ops[i:i + 4]) == [0, 1, 2, 3]
    warm = {k for _, k in ops}
    window = {k for _, k in _take(w.stream(0, "window"), 400)}
    assert warm <= set(w.keys["warm"]) and len(w.keys["warm"]) == WARM_KEYS
    assert not warm & window


# -- the metric lists match BENCHMARK.json --------------------------------------------

def test_benchmark_json_names_what_run_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
