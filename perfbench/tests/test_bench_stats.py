"""Percentile choice: a tail is reported only with >= 10 samples beyond it."""

import random

import pytest
import stats


@pytest.mark.parametrize("n, want", [
    (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        assert stats.samples_beyond(n, p) >= stats.MIN_BEYOND
        wider = [q for q in stats.TAIL_LADDER if q > p]
        assert all(stats.samples_beyond(n, q) < stats.MIN_BEYOND for q in wider)


def test_samples_beyond_counts_ranks_above_the_percentile():
    xs = list(range(100))
    cut = stats.percentile(xs, 90)
    assert sum(1 for x in xs if x > cut) == stats.samples_beyond(100, 90)


def test_percentile_matches_linear_interpolation():
    rng = random.Random(7)
    xs = [rng.random() for _ in range(37)]
    s = sorted(xs)
    for p in (0, 25, 50, 90, 100):
        pos = (len(s) - 1) * p / 100
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        assert stats.percentile(xs, p) == pytest.approx(s[lo] + (s[hi] - s[lo]) * (pos - lo))
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def test_summarize_omits_tail_when_too_few_samples():
    assert "tail" not in stats.summarize([1.0] * 19)
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["tail_p"] == 90.0
    assert s["tail"] == pytest.approx(89.1)


def test_percentile_rejects_empty_sample():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
