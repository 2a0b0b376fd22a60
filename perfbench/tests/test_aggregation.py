"""Per-kind latency aggregation: medians and slowest reps per op kind,
combined with a geometric mean."""

import math

import pytest

from perfbench.metrics import geomean, op_summary


def test_geomean_of_known_values():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)


def test_geomean_rejects_non_positive():
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_op_summary_three_and_two_reps():
    # kind a: 3 samples (median 2, slowest 3); kind b: 2 samples
    # (median = mean of 4 and 6 = 5, slowest 6)
    samples = [("a", 1.0), ("b", 4.0), ("a", 3.0), ("b", 6.0), ("a", 2.0)]
    s = op_summary(samples)
    assert s["reps"] == {"a": 3, "b": 2}
    assert s["op_p50_s"] == pytest.approx(math.sqrt(2.0 * 5.0))
    assert s["op_tail_s"] == pytest.approx(math.sqrt(3.0 * 6.0))


def test_op_summary_does_not_pool_unlike_kinds():
    # a pooled median over these 4 samples would be 0.55; per kind the
    # medians are 0.1 and 1.0, so the geomean is sqrt(0.1)
    samples = [("fast", 0.1), ("fast", 0.1), ("slow", 1.0), ("slow", 1.0)]
    assert op_summary(samples)["op_p50_s"] == pytest.approx(math.sqrt(0.1))


def test_op_summary_kind_weight_is_independent_of_rep_count():
    few = op_summary([("a", 1.0), ("b", 4.0), ("b", 4.0)])
    many = op_summary([("a", 1.0)] * 5 + [("b", 4.0)] * 2)
    assert few["op_p50_s"] == pytest.approx(many["op_p50_s"]) == pytest.approx(2.0)
