"""Self-checks of the benchmark's statistics.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import random

import pytest

import stats
from tracing import reconcile, union_length


@pytest.mark.parametrize("n", [0, 1, 5, 19])
def test_no_latency_below_min_ops(n):
    assert stats.latency_summary([1.0] * n) is None


@pytest.mark.parametrize("n", range(20, 400, 7))
def test_tail_has_ten_samples_beyond_and_is_the_highest_such(n):
    pct = stats.tail_percentile(n)
    assert n - stats.rank(n, pct) >= stats.MIN_BEYOND
    higher = [p for p in stats.LADDER if p > pct]
    for p in higher:
        assert n - stats.rank(n, p) < stats.MIN_BEYOND


@pytest.mark.parametrize("seed", range(20))
def test_tail_never_below_median(seed):
    rng = random.Random(seed)
    samples = [rng.lognormvariate(0, 1) for _ in range(rng.randrange(20, 300))]
    s = stats.latency_summary(samples)
    assert s["tail"] >= s["p50"]
    assert s["n"] == len(samples)
    assert s["beyond"] >= stats.MIN_BEYOND
    assert s["p50"] in samples and s["tail"] in samples


def test_known_brackets():
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(39) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(99) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(120) == 90.0
    assert stats.tail_percentile(200) == 95.0


def test_percentile_is_nearest_rank():
    samples = list(range(1, 101))
    assert stats.percentile(samples, 50) == 50
    assert stats.percentile(samples, 90) == 90
    assert stats.percentile(samples, 99.9) == 100


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 4), (1, 2)]) == pytest.approx(4.0)


def test_reconcile_flags_unattributed_time():
    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 1.0, "parent": None},
        {"id": 1, "name": "a", "start": 0.0, "end": 0.6, "parent": 0},
        {"id": 2, "name": "b", "start": 0.6, "end": 0.99, "parent": 0},
        {"id": 3, "name": "c", "start": 0.1, "end": 0.2, "parent": 1},
    ]
    gap = reconcile(spans, 0)
    assert gap == pytest.approx(0.01)
    spans[2]["end"] = 0.7
    assert reconcile(spans, 0) == pytest.approx(0.3)
