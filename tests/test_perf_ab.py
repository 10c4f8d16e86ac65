"""The claim and regression rules of tools/perf_ab.py on fixed numbers."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

_PATH = pathlib.Path(__file__).resolve().parents[1] / "tools" / "perf_ab.py"
_SPEC = importlib.util.spec_from_file_location("_tool_perf_ab", _PATH)
perf_ab = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(perf_ab)

PARENT = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0, 103.0, 97.0, 100.0, 101.0]


def test_quartiles_inclusive():
    assert perf_ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert perf_ab.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_claim_met_with_nine_wins_and_a_gap_beyond_the_iqr():
    change = [p + 10 for p in PARENT]
    change[3] = 90.0  # one lost pair: 9 of 10
    rule = perf_ab.claim(PARENT, change, lower=False)
    assert (rule["wins"], rule["pairs"]) == (9, 10)
    assert rule["gap"] > rule["parent_iqr"]
    assert rule["met"]


def test_claim_not_met_with_eight_wins():
    change = [p + 10 for p in PARENT]
    change[3] = change[4] = 90.0
    assert perf_ab.claim(PARENT, change, lower=False)["wins"] == 8
    assert not perf_ab.claim(PARENT, change, lower=False)["met"]


def test_claim_not_met_when_the_gap_is_inside_the_parent_iqr():
    change = [p + 1 for p in PARENT]  # wins every pair, gap 1 < IQR 2
    rule = perf_ab.claim(PARENT, change, lower=False)
    assert rule["wins"] == 10 and rule["parent_iqr"] > 1
    assert not rule["met"]


def test_ties_count_for_neither_side_and_lower_is_better():
    change = [p - 10 for p in PARENT]
    change[0] = PARENT[0]
    rule = perf_ab.claim(PARENT, change, lower=True)
    assert rule["wins"] == 9 and rule["met"]
    assert not perf_ab.claim(PARENT, change, lower=False)["met"]


@pytest.mark.parametrize(
    "shift, lower, want",
    [
        (1.20, True, "ok"),          # 20% slower, bound 25%
        (1.30, True, "regression"),  # 30% slower
        (0.70, False, "regression"),  # 30% fewer turns/s
        (0.90, True, "ok"),          # faster
    ],
)
def test_bound_check(shift, lower, want):
    change = [p * shift for p in PARENT]
    assert perf_ab.bound_check(PARENT, change, lower, 0.25) == want


def test_bound_check_unresolved_when_the_spread_exceeds_the_bound():
    wide = [50.0, 150.0, 100.0, 60.0, 140.0]
    assert perf_ab.bound_check(wide, [p * 1.05 for p in wide], True, 0.1) == "unresolved"
    # unless every change run reads better than every parent run
    assert perf_ab.bound_check(wide, [10.0] * 5, True, 0.1) == "ok"
