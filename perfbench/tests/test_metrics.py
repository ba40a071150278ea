"""Unit tests of the benchmark's own arithmetic (no Spark needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import metrics  # noqa: E402
from workloads import SETUP_QUERY, WORKLOADS  # noqa: E402


# -- the ">= 10 samples above the percentile" rule -------------------------

def test_quantile_matches_linear_interpolation():
    assert metrics.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert metrics.quantile([5.0], 0.9) == 5.0
    assert metrics.quantile(list(range(11)), 0.9) == 9.0


def test_p90_reported_with_exactly_ten_samples_above():
    samples = [float(i) for i in range(1, 101)]  # p90 = 90.1; 91..100 above
    assert metrics.supported_quantile(samples, 0.9) == pytest.approx(90.1)


def test_p90_withheld_with_nine_samples_above():
    samples = [float(i) for i in range(1, 91)]  # p90 = 81.1; 82..90 above
    assert metrics.supported_quantile(samples, 0.9) is None


def test_ties_at_the_percentile_do_not_count_as_above():
    samples = [1.0] * 50 + [2.0] * 9
    assert metrics.supported_quantile(samples, 0.5) is None


def test_highest_supported_falls_back_to_a_lower_percentile():
    samples = [float(i) for i in range(25)]
    q, value = metrics.highest_supported(samples)
    assert q == 0.5 and value == 12.0
    assert metrics.highest_supported(samples[:15]) is None
    assert metrics.highest_supported([]) is None


# -- span self time --------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    # [1,3] and [2,5] overlap (cover 4); [8,12] is clipped to [8,10] (2)
    assert metrics.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0


def test_self_time_without_children_is_the_duration():
    assert metrics.self_time(2.0, 3.5, []) == 1.5


def test_children_outside_the_span_cover_nothing():
    assert metrics.self_time(0.0, 1.0, [(2.0, 3.0), (-2.0, -1.0)]) == 1.0


def test_nested_children_are_not_subtracted_twice():
    assert metrics.self_time(0.0, 10.0, [(1.0, 9.0), (2.0, 3.0)]) == 2.0


# -- query_fail_frac counting ----------------------------------------------

def _ok_check(result):
    return True, ""


def test_an_exception_counts_once_as_a_failure():
    calls = []

    def build():
        calls.append(1)
        raise ValueError("boom")

    timed = metrics.run_timed(build, lambda df: df)
    ok, detail = metrics.judge(timed, _ok_check)
    tally = metrics.Tally()
    tally.record("q", ok, detail)
    assert calls == [1]  # never retried
    assert (tally.attempted, tally.failed) == (1, 1)
    assert timed.df is None and "boom" in tally.failures[0]


def test_a_mismatch_counts_once_as_a_failure():
    timed = metrics.run_timed(lambda: "df", lambda df: [1, 2, 3])
    ok, detail = metrics.judge(timed, lambda result: (result == [1, 2], "value mismatch"))
    tally = metrics.Tally()
    tally.record("q", ok, detail)
    tally.record("r", *metrics.judge(metrics.run_timed(lambda: 1, lambda df: df), _ok_check))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.fail_frac == 0.5
    assert tally.failures == ["q: value mismatch"]


def test_a_check_that_raises_fails_the_query():
    timed = metrics.run_timed(lambda: 1, lambda df: df)

    def broken(result):
        raise KeyError("column")

    ok, detail = metrics.judge(timed, broken)
    assert not ok and "column" in detail


def test_collect_failure_keeps_the_built_frame_and_the_elapsed_time():
    def collect(df):
        raise RuntimeError("executor lost")

    timed = metrics.run_timed(lambda: "df", collect)
    assert timed.df == "df" and timed.result is None and timed.wall_s >= 0
    assert not metrics.judge(timed, _ok_check)[0]


# -- workload validity gates -----------------------------------------------

def test_registry_gate_fires_on_a_missing_frozen_name():
    wl = WORKLOADS["headline-sf0.01"]
    registered = set(wl.queries[1:]) | {SETUP_QUERY}
    with pytest.raises(metrics.GateError, match=wl.queries[0]):
        metrics.check_registry(wl.queries, registered)
    metrics.check_registry(wl.queries, set(wl.queries))


def test_spill_gate_fires_on_zero_spill():
    with pytest.raises(metrics.GateError):
        metrics.check_spill(0.0)
    metrics.check_spill(0.5)


def test_only_the_spill_workload_is_gated_on_spill():
    assert [w.name for w in WORKLOADS.values() if w.forced_spill] == ["spill-sf0.01"]
    spill = WORKLOADS["spill-sf0.01"]
    assert int(spill.confs["spark.shuffle.spill.numElementsForceSpillThreshold"]) > 0


# -- agreement with BENCHMARK.json -----------------------------------------

def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


def _units(entries) -> dict[str, str]:
    return {e["name"]: e["unit"] for e in entries}


def test_end_to_end_names_and_units_match_benchmark_json():
    assert _units(_benchmark_json()["end_to_end"]) == metrics.END_TO_END


def test_per_layer_names_and_units_match_benchmark_json():
    assert _units(_benchmark_json()["per_layer"]) == metrics.PER_LAYER


def test_workload_names_match_benchmark_json():
    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(WORKLOADS)


def test_printed_end_to_end_metrics_match_benchmark_json():
    values = metrics.end_to_end([3.0, 1.0, 2.0], [0.5, 1.5], 2, 100.0)
    printed = metrics.render(values, metrics.END_TO_END)
    assert {k: v["unit"] for k, v in printed.items()} == _units(_benchmark_json()["end_to_end"])
    assert printed["setup_s"]["value"] == 2.0
    assert printed["queries_per_s"]["value"] == 1.0
    assert printed["query_p50_s"]["value"] == 1.0
    assert printed["peak_rss_mb"]["value"] == 100.0
