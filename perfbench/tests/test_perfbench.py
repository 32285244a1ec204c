"""Self-tests of the benchmark's own arithmetic and failure counting.

    python -m pytest perfbench/tests -q

None of these start Spark.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from bench import _cpu_delta, _tree_cpu_snapshot
from perfbench import run
from perfbench.check import top_k_ok
from perfbench.spans import Span, layer_summary, self_times
from perfbench.stats import percentile, tail_percentile
from perfbench.workloads import AirlineBatch, value_hash

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile: the highest one with >= 10 samples beyond it ----------


@pytest.mark.parametrize(
    "n, p", [(10, None), (11, 9), (20, 50), (100, 90), (200, 95), (1000, 99), (5000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10
        assert p == 99 or n * (100 - (p + 1)) / 100 < 10


def test_percentile_matches_quantiles_cut():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 90) == pytest.approx(90.9)
    assert percentile([7.0], 90) == 7.0


# -- span self time: duration minus the children's durations -----------------


def test_self_time_subtracts_children():
    root = Span(1, "root", None, 1, 0.0, 10.0)
    a = Span(2, "a", 1, 1, 1.0, 4.0)
    b = Span(3, "b", 1, 1, 5.0, 6.0)
    grandchild = Span(4, "g", 2, 1, 1.5, 2.5)
    st = self_times([root, a, b, grandchild])
    assert st[1] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_nested_spans_with_a_shared_trace_id():
    from perfbench.spans import Tracer

    t = Tracer()
    with t.span("pass"):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    by_name = {s.name: s for s in t.spans}
    root = by_name["pass"]
    assert by_name["a"].parent == by_name["b"].parent == root.id
    assert {s.trace for s in t.spans} == {root.id}
    assert by_name["a"].end <= by_name["b"].start
    assert self_times(t.spans)[root.id] >= 0


def test_layer_summary_adds_up_per_name():
    spans = [
        Span(1, "x", None, 1, 0.0, 2.0),
        Span(2, "x.action", 1, 1, 0.5, 2.0),
        Span(3, "x", None, 3, 5.0, 6.0),
    ]
    rows = layer_summary(spans)
    assert rows["x"]["count"] == 2
    assert rows["x"]["total_s"] == pytest.approx(3.0)
    assert rows["x"]["self_s"] == pytest.approx(0.5 + 1.0)


# -- process-tree CPU delta (reused from bench.py) ---------------------------


def test_cpu_delta_counts_own_work():
    before = _tree_cpu_snapshot()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert _cpu_delta(before, _tree_cpu_snapshot()) >= 0.2


def test_cpu_delta_does_not_double_count_a_reaped_child():
    tick = os.sysconf("SC_CLK_TCK")
    parent, child = (100, 1), (101, 2)
    before = {parent: (50, None), child: (30, parent)}
    # the child died; its 30 + 10 ticks arrive in the parent's cutime
    after = {parent: (50 + 40 + 5, None)}
    assert _cpu_delta(before, after) == pytest.approx((40 + 5 - 30) / tick)


# -- a planted wrong answer is one failed operation --------------------------


class _Planted:
    """Three operations; the second returns a wrong answer, the third
    raises."""

    def op(self, i):
        if i == 2:
            raise RuntimeError("boom")
        return 41 if i == 1 else 42

    def verify(self, i, out):
        return out == 42

    def units(self):
        return 1


class _Ctx:
    class spark:
        class catalog:
            @staticmethod
            def clearCache():
                pass


def test_runner_counts_wrong_answers_and_exceptions():
    r = run.Runner(_Planted(), _Ctx(), "airline_batch")
    for _ in range(3):
        r.one()
    assert (r.attempted, r.failed) == (3, 2)


def _batch_with_expected() -> AirlineBatch:
    wl = AirlineBatch.__new__(AirlineBatch)
    wl.expected = {"g1q1": value_hash([("ORD", 5), ("ATL", 3)], ["airport", "flights"])}
    wl.means = {"g1q2": {("AA",): 1.00004, ("UA",): 2.0, ("DL",): 3.0}}
    wl.expected_fit = "zipf"
    return wl


def _batch_output(g1q1_flights=5, g1q2_aa=1.0):
    return {
        "g1q1": (["airport", "flights"], [("ORD", g1q1_flights), ("ATL", 3)]),
        "g1q2": (
            ["UniqueCarrier", "avg_arr_delay"],
            [("AA", g1q2_aa), ("UA", 2.0), ("DL", 3.0)],
        ),
        "fit": "zipf",
    }


def test_batch_verify_accepts_the_oracle_answer():
    assert _batch_with_expected().verify(0, _batch_output())


@pytest.mark.parametrize("planted", [{"g1q1_flights": 6}, {"g1q2_aa": 1.1}])
def test_batch_verify_rejects_a_planted_wrong_answer(planted):
    assert not _batch_with_expected().verify(0, _batch_output(**planted))


def test_top_k_accepts_either_side_of_a_rounding_tie():
    means = {("A", "x"): 1.66875, ("A", "y"): 1.66876, ("A", "z"): 9.0}
    cols = ["o", "c", "v"]
    one = [("A", "x", 1.6688)]
    other = [("A", "y", 1.6688)]
    assert top_k_ok(cols, one, ["o", "c"], "v", 1, means, k=1)
    assert top_k_ok(cols, other, ["o", "c"], "v", 1, means, k=1)
    assert not top_k_ok(cols, [("A", "z", 9.0)], ["o", "c"], "v", 1, means, k=1)


# -- the per-layer names the runner prints are the ones BENCHMARK.json lists --


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
