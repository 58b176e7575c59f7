"""Spark-free tests of the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import statistics

import pytest

from perfbench import stats as S


# -- the tail rule: highest percentile with >= 10 samples beyond it ---------
@pytest.mark.parametrize("n, expected", [
    (19, None),      # p50 would leave only 9.5 beyond
    (20, 50.0),
    (40, 75.0),
    (100, 90.0),
    (200, 95.0),
    (999, 95.0),     # p99 would leave 9.99 beyond
    (1000, 99.0),    # p99 leaves exactly 10
    (10_000, 99.9),
])
def test_tail_percentile_rule(n, expected):
    assert S.tail_percentile(n) == expected


def test_tail_uses_rule_and_falls_back_to_max():
    xs = list(range(1, 201))                    # 200 samples → p95
    p, v = S.tail(xs)
    assert p == 95.0
    assert sum(1 for x in xs if x > v) >= 10
    assert S.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_percentile_interpolates():
    assert S.percentile([1, 2, 3, 4], 50) == 2.5
    assert S.percentile([5], 99) == 5
    assert S.percentile([1, 3], 0) == 1 and S.percentile([1, 3], 100) == 3
    with pytest.raises(ValueError):
        S.percentile([], 50)


# -- self time: a span minus the union of its children ------------------------
def test_self_time_subtracts_union_of_children():
    # children overlap (2-5 and 4-6) and one sticks out of the span (9-12)
    kids = [(2.0, 5.0), (4.0, 6.0), (9.0, 12.0)]
    assert S.self_time(0.0, 10.0, kids) == pytest.approx(10 - 4 - 1)


def test_self_time_edge_cases():
    assert S.self_time(0.0, 4.0, []) == 4.0
    assert S.self_time(0.0, 4.0, [(0.0, 4.0), (1.0, 2.0)]) == 0.0
    assert S.self_time(1.0, 2.0, [(5.0, 6.0)]) == 1.0
    assert S.union_length([(1, 2), (2, 3), (5, 5)]) == 2


# -- fetch wait from (admit batch, fetch batch, batch seconds) ----------------
def test_fetch_wait_sums_batches_from_admission_to_fetch():
    secs = {1: 2.0, 2: 3.0, 3: 5.0}
    admit = {"a": 1, "b": 1, "c": 2, "d": 3}
    fetch = {"a": 1, "b": 3, "c": 2}            # d was never fetched
    assert sorted(S.fetch_waits(admit, fetch, secs)) == [2.0, 3.0, 10.0]


def test_fetch_wait_rejects_fetch_before_admission():
    with pytest.raises(ValueError):
        S.fetch_waits({"a": 2}, {"a": 1}, {1: 1.0, 2: 1.0})


# -- error-rate accounting -------------------------------------------------------
def test_tally_counts_failures_against_attempts():
    t = S.Tally()
    assert t.error_rate == 0.0
    assert t.record(True) and not t.record(False)
    t.record(True)
    t.record(True)
    assert (t.attempted, t.failed, t.error_rate) == (4, 1, 0.25)


# -- end-to-end figures: medians over the window's operations -----------------
def test_end_to_end_takes_per_op_medians():
    from perfbench.run import end_to_end

    def op(lat, wait, scale=1.0):
        return {"samples": [lat * scale, 2 * lat * scale], "items": 20,
                "item_wall": 4.0 * scale,
                "waits": [wait * scale] * 20 + [5 * wait * scale] * 20}
    ops = [op(1.0, 1.0), op(1.0, 1.0, scale=10.0), op(1.0, 1.0)]
    m = {k: v for k, (v, _) in end_to_end(ops, [9.0, 0.5, 0.7]).items()}
    assert m["setup_s"] == 0.7                    # median of the set-ups
    assert m["op_p50_s"] == 2.0                   # pooled samples 1,1,2,2,10,20
    assert m["throughput_per_s"] == 5.0           # per op 5, 0.5, 5
    assert m["item_wait_p50_s"] == 3.0            # per op 3, 30, 3
    # 40 waits per op: p75 (10 beyond) lies in the 5x block
    assert m["item_wait_tail_s"] == 5.0


def test_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert S.spread(xs) == pytest.approx((q3 - q1) / med)
