"""Unit tests for the benchmark's statistics and failure accounting (no
Spark session needed). Run: python3 -m pytest perfbench/tests -q"""

import math

import pytest

import stats
import workloads


def test_tail_has_at_least_ten_samples_beyond():
    xs = [float(i) for i in range(1, 201)]  # 200 samples
    p, v = stats.tail(xs)
    assert p == 95.0  # p99 has 2 beyond, p95 has 10
    assert stats.beyond(xs, v) >= 10
    assert stats.beyond(xs, stats.percentile(xs, 99.0)) < 10


@pytest.mark.parametrize("n, want", [(1000, 99.0), (100, 90.0), (40, 75.0), (20, 50.0)])
def test_tail_percentile_depends_on_n(n, want):
    xs = [float(i) for i in range(n)]
    p, v = stats.tail(xs)
    assert p == want
    assert stats.beyond(xs, v) >= stats.MIN_BEYOND


def test_tail_falls_back_to_median_below_twenty_samples():
    xs = [3.0, 1.0, 2.0, 5.0, 4.0]
    assert stats.tail(xs) == (50.0, 3.0)


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5
    assert stats.percentile([7.0], 99.0) == 7.0


def test_geomean_of_medians():
    by_kind = {"a": [1.0, 1.0, 9.0], "b": [4.0], "c": [2.0, 2.0]}
    # medians 1, 4, 2 -> (1 * 4 * 2) ** (1/3) = 2
    assert math.isclose(stats.geomean_of_medians(by_kind), 2.0)


def test_geomean_moves_with_any_single_kind():
    base = {"a": [1.0], "b": [1.0], "c": [1.0], "d": [1.0]}
    faster = dict(base, d=[0.5])
    assert stats.geomean_of_medians(faster) < stats.geomean_of_medians(base)


def test_geomean_rejects_non_positive():
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_wrong_expected_count_is_a_failed_unit():
    got = {"curated": 17, "rejected": 4, "corrupt": 1}
    assert stats.routing_misses(dict(got), got) == []
    wrong = dict(got, curated=18)  # deliberately wrong expected count
    misses = stats.routing_misses(wrong, got)
    assert misses == ["curated: expected 18, got 17"]
    units = [workloads.Unit("run_batch", 1.0, not misses)] + [
        workloads.Unit("micro_batch", 1.0, True) for _ in range(3)
    ]
    failed = sum(not u.ok for u in units)
    assert stats.fail_ratio(len(units), failed) == 0.25


def test_fail_ratio_needs_attempts():
    assert stats.fail_ratio(8, 0) == 0.0
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)


def test_query_missing_from_registry_fails_every_pass():
    q = workloads.Queries(None, "/nonexistent", seed=0, names=["q01_pricing_summary", "qX"])
    q.fns = {}
    p = workloads.Pass()
    assert q._unit("qX", p, None) is None
    assert [u.ok for u in p.units] == [False]
    assert "not in registry" in p.errors[0]


def test_seed_rotates_cycle_start():
    names = ["a", "b", "c"]
    assert workloads.Queries(None, "w", 0, names).names == ["a", "b", "c"]
    assert workloads.Queries(None, "w", 4, names).names == ["b", "c", "a"]


def test_events_per_second_uses_the_counting_units_time():
    p, batch, curation = workloads.Pass(), workloads.Pass(), workloads.Pass()
    batch.events, batch.events_s, batch.wall_s = 2000, 2.0, 2.0
    curation.wall_s = 6.0  # queries that do not count events
    p.merge(batch)
    p.merge(curation)
    assert p.events / p.events_s == 1000.0
    assert p.events / p.wall_s == 250.0

