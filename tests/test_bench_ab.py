"""The regression rule ``tools/bench_ab.py`` prints per end-to-end metric."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.bench_ab import regression_verdict  # noqa: E402

TIGHT = [9.9, 10.0, 10.0, 10.1, 10.0]  # median 10, IQR 0: spread far inside any bound
WIDE = [6.0, 8.0, 10.0, 12.0, 14.0]  # median 10, IQR 4: 0.4 of the median


@pytest.mark.parametrize("b, verdict", [
    ([12.4, 12.5, 12.5, 12.6, 12.5], "ok"),  # 25% slower: at the bound, not past it
    ([12.6, 12.6, 12.6, 12.6, 12.6], "regressed"),  # 26% slower
    ([8.0, 8.0, 8.0, 8.0, 8.0], "ok"),  # faster
])
def test_tight_parent_judges_the_median_against_the_bound(b, verdict):
    assert regression_verdict(TIGHT, b, "lower", 0.25) == verdict


def test_wide_parent_cannot_tell_unless_every_run_wins():
    assert regression_verdict(WIDE, [10.0, 10.0, 10.0, 10.0, 10.0], "lower", 0.25) == "unresolved"
    assert regression_verdict(WIDE, [5.0, 5.5, 5.9, 5.0, 5.0], "lower", 0.25) == "ok"
    # a median past the bound is a regression however wide the parent spreads
    assert regression_verdict(WIDE, [13.0, 13.0, 13.0, 13.0, 13.0], "lower", 0.25) == "regressed"


def test_higher_is_better_mirrors_the_rule():
    assert regression_verdict(TIGHT, [7.4, 7.4, 7.4, 7.4, 7.4], "higher", 0.25) == "regressed"
    assert regression_verdict(TIGHT, [12.0, 12.0, 12.0, 12.0, 12.0], "higher", 0.25) == "ok"
    assert regression_verdict(WIDE, [10.0, 10.0, 10.0, 10.0, 10.0], "higher", 0.25) == "unresolved"
    assert regression_verdict(WIDE, [15.0, 15.0, 15.0, 15.0, 15.0], "higher", 0.25) == "ok"
