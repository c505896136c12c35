import statistics

import pytest

from perfbench.stats import covered, median, percentile, quartile_spread


def test_percentile_interpolates_and_counts():
    p = percentile([4.0, 1.0, 3.0, 2.0], 0.5)
    assert p.value == 2.5
    assert p.n == 4


def test_percentile_matches_numpy_default():
    import numpy as np

    xs = [3.1, 9.4, 2.2, 7.7, 5.0, 1.3, 8.8]
    for q in (0.0, 0.1, 0.5, 0.9, 1.0):
        assert percentile(xs, q).value == pytest.approx(
            float(np.percentile(xs, 100 * q))
        )


def test_tail_samples_beyond_p90():
    # p90 rests on ten samples beyond it only from 100 samples up
    assert percentile(list(range(100)), 0.9).beyond == 10
    assert percentile(list(range(99)), 0.9).beyond == 9
    assert percentile(list(range(20)), 0.5).beyond == 10
    d = percentile([1.0, 2.0], 0.9).as_dict()
    assert d["n"] == 2 and d["beyond"] == 0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 1.5)


def test_median_and_spread():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5]
    assert median(xs) == 10.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert covered([], 0, 1) == 0
