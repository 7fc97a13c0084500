"""The benchmark's own arithmetic: tail rule, failure accounting, span
self time, status-store aggregation, bytes ratio, and that
``BENCHMARK.json`` declares exactly what the runs report.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import check  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def test_betainc_closed_forms():
    for x in (0.0, 0.1, 0.5, 0.93, 1.0):
        assert stats.betainc(1, 1, x) == pytest.approx(x)
        assert stats.betainc(2, 1, x) == pytest.approx(x**2)
        assert stats.betainc(1, 2, x) == pytest.approx(1 - (1 - x) ** 2)
        # a singular density at x = 1: I_x(1, 1/2) = 1 - sqrt(1 - x)
        assert stats.betainc(1, 0.5, x) == pytest.approx(1 - math.sqrt(1 - x))


def test_quantile_is_harrell_davis():
    # symmetric weights put the median of evenly spaced values in the middle
    assert stats.quantile([3.0, 1.0, 2.0], 0.5) == pytest.approx(2.0)
    assert stats.quantile([1.0, 2.0], 0.5) == pytest.approx(1.5)
    assert stats.quantile([5.0], 0.9) == pytest.approx(5.0)
    assert stats.quantile([4.0] * 7, 0.9) == pytest.approx(4.0)
    # on 1..n it is E[ceil(n X)], X ~ Beta((n+1)q, (n+1)(1-q)), within [nq, nq + 1]
    for n in (5, 14, 21):
        for q in (0.5, 0.9):
            assert n * q <= stats.quantile([float(i) for i in range(1, n + 1)], q) <= n * q + 1


def test_quantile_moves_smoothly_where_the_sample_median_jumps():
    lo = [1.0] * 7 + [2.0] * 7
    hi = [1.0] * 6 + [2.0] * 8
    assert statistics.median(hi) - statistics.median(lo) == 0.5
    assert 0 < stats.quantile(hi, 0.5) - stats.quantile(lo, 0.5) < 0.25


def test_quantile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)
    with pytest.raises(ValueError):
        stats.quantile([1.0], 1.0)


def test_tail_is_p90_and_records_n():
    vals = [float(i) for i in range(1, 12)]
    t = stats.tail(vals)
    assert t == {"value": stats.quantile(vals, 0.9), "q": 0.9, "n": 11}
    assert statistics.median(vals) < t["value"] < max(vals)


def test_tail_percentile_does_not_depend_on_op_count():
    # a fixed mix of cheap and dear ops, run for two or three rounds
    rnd = [1.0, 1.0, 1.0, 1.0, 1.0, 2.0, 2.0]
    assert stats.tail(rnd * 2)["value"] == pytest.approx(stats.tail(rnd * 3)["value"], rel=0.05)


def test_typical_rates_use_template_medians():
    names = ["a", "a", "a", "b", "b", "b"]
    walls = [1.0, 1.0, 9.0, 2.0, 2.0, 2.0]  # one stalled "a"
    r = stats.typical_rates(names, walls, [10, 10, 10, 0, 0, 0])
    assert r["ops_per_s"] == pytest.approx(6 / 9.0)
    assert r["rows_per_s"] == pytest.approx(30 / 9.0)


def test_typical_rates_weight_templates_by_their_ops():
    r = stats.typical_rates(["a", "a", "b"], [1.0, 3.0, 4.0], [1, 1, 1])
    assert r["ops_per_s"] == pytest.approx(3 / (2 * 2.0 + 4.0))
    with pytest.raises(ValueError):
        stats.typical_rates([], [], [])


def test_failed_frac():
    assert stats.failed_frac(8, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_bytes_per_input_byte():
    assert stats.bytes_per_input_byte(25, 100) == 0.25
    with pytest.raises(ValueError):
        stats.bytes_per_input_byte(10, 0)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10
    assert stats.union_length([]) == 0


def span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_child_coverage_once():
    spans = [
        span(0, "op", 0.0, 10.0),
        span(1, "read", 1.0, 4.0, parent=0),
        span(2, "read", 3.0, 6.0, parent=0),  # overlaps the first child
        span(3, "decode", 1.5, 2.5, parent=1),
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    by_name = stats.self_time_by_name(spans)
    assert by_name["read"] == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    spans = [span(0, "p", 0.0, 2.0), span(1, "c", 1.0, 5.0, parent=0)]
    assert stats.self_times(spans)[0] == pytest.approx(1.0)


def job(group, start, end, stage_ids):
    return {"group": group, "start": start, "end": end, "stage_ids": stage_ids}


def stage(tasks, sr=0, sw=0, spill=0, run=0.0):
    return {"tasks": tasks, "shuffle_read": sr, "shuffle_write": sw, "spill": spill,
            "exec_run_s": run}


def test_aggregate_jobs_per_group():
    jobs = [job("a", 0, 1, [1, 2]), job("a", 2, 3, [2, 3]), job("b", 0, 5, [4])]
    stages = {1: stage(4, sr=10, run=1.0), 2: stage(2, sw=7), 4: stage(1, spill=3)}
    agg = stats.aggregate_jobs(jobs, stages)
    # stage 2 is shared by two jobs of group a and counts once; stage 3
    # never ran (skipped) and has no record
    assert agg["a"]["jobs"] == 2
    assert agg["a"]["stages"] == 2
    assert agg["a"]["tasks"] == 6
    assert agg["a"]["shuffle_read_bytes"] == 10
    assert agg["a"]["shuffle_write_bytes"] == 7
    assert agg["a"]["exec_run_s"] == 1.0
    assert agg["b"] == {**agg["b"], "jobs": 1, "stages": 1, "tasks": 1, "spill_bytes": 3}


def test_driver_gap_is_wall_not_covered_by_jobs():
    assert stats.driver_gap(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == pytest.approx(6.0)
    assert stats.driver_gap(0.0, 2.0, []) == 2.0


def test_slope():
    assert stats.slope([1, 2, 3], [2.0, 4.0, 6.0]) == pytest.approx(2.0)
    assert stats.slope([1], [5.0]) == 0.0


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q3 = 11.75, 17.25  # statistics.quantiles(vals, n=4), the exclusive method
    assert stats.spread(vals) == pytest.approx((q3 - q1) / 14.5)


def test_canonical_rows_ignore_row_and_column_order():
    import pyarrow as pa

    a = pa.table({"x": [1, 2], "y": ["a", "b"]})
    b = pa.table({"y": ["b", "a"], "x": [2, 1]})
    assert check.digest(a) == check.digest(b)
    assert check.digest(a) != check.digest(pa.table({"x": [1, 3], "y": ["a", "b"]}))


def test_rows_close_tolerates_summation_order_only():
    assert check.rows_close([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not check.rows_close([(1, 0.31)], [(1, 0.3)])
    assert not check.rows_close([(1, 0.3)], [(2, 0.3)])


def test_benchmark_json_declares_the_reported_metrics():
    bench = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} == (
        metrics.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == (
        metrics.per_layer_specs()
    )
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
