"""Percentile, items/s and marginal-cost arithmetic."""

import statistics

import pytest

from perfbench.stats import items_per_s, marginal, percentile


def test_percentile_interpolates_between_ranks():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([5.0], 90) == 5.0
    assert percentile(list(range(11)), 90) == 9.0
    assert percentile([10.0, 0.0], 25) == 2.5


def test_percentile_matches_median_and_is_order_free():
    xs = [7.0, 1.0, 3.0, 9.0, 4.0, 4.5]
    assert percentile(xs, 50) == statistics.median(xs)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 9.0


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_items_per_s():
    assert items_per_s(3000, 2.0) == 1500.0
    with pytest.raises(ValueError):
        items_per_s(1, 0.0)


def test_marginal_epoch_cost():
    assert marginal({1: 400.0, 2: 900.0, 3: 1600.0}) == {1: 400.0, 2: 500.0, 3: 700.0}
