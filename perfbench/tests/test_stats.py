import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import MIN_BEYOND, percentile  # noqa: E402


def test_median_needs_ten_samples_above_it():
    assert percentile(list(range(1, 21)), 50) == (10, 20)
    # 19 samples: the median has only nine above it
    assert percentile(list(range(1, 20)), 50) is None


def test_p90_needs_a_hundred_samples():
    assert percentile(list(range(1, 101)), 90) == (90, 100)
    assert percentile(list(range(1, 100)), 90) is None


def test_ties_at_the_percentile_do_not_count_as_beyond():
    xs = [1.0] * 30 + [2.0] * (MIN_BEYOND - 1)
    assert percentile(xs, 50) is None
    assert percentile(xs + [2.0], 50) == (1.0, 40)


def test_sample_order_does_not_matter():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
    assert percentile(xs, 50) == percentile(sorted(xs), 50) == (3.0, 25)


def test_percentile_rejects_out_of_range():
    with pytest.raises(ValueError):
        percentile([1.0], 100)
    assert percentile([], 50) is None
