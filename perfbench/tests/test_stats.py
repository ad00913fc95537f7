import math
import statistics

import pytest

import stats
from run import Tally


def test_quartiles_match_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.quartiles(values) == (q1, q3)
    assert stats.median(values) == statistics.median(values)


def test_single_sample_is_its_own_quartiles():
    assert stats.quartiles([2.5]) == (2.5, 2.5)
    assert stats.summary([2.5]) == {"n": 1, "median": 2.5, "q1": 2.5, "q3": 2.5}


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean([0.1, 10.0]) == pytest.approx(1.0)
    # every item weighs the same: scaling one item by k scales the mean
    # by k ** (1 / n) whatever that item's size
    small = stats.geomean([0.1, 5.0, 5.0, 5.0])
    big = stats.geomean([0.1, 10.0, 5.0, 5.0])
    faster_small = stats.geomean([0.05, 5.0, 5.0, 5.0])
    assert big / small == pytest.approx(2 ** 0.25)
    assert small / faster_small == pytest.approx(2 ** 0.25)


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [2.0, -1.0]])
def test_geomean_rejects_non_positive(bad):
    with pytest.raises(ValueError):
        stats.geomean(bad)


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


def test_tally_counts_raised_and_mismatched_items():
    t = Tally()
    assert t.record("q1", "check", None)
    assert not t.record("q2", "check", "value digest mismatch")
    assert t.record("q1", "timed", None)
    assert not t.record("q2", "timed", "RuntimeError: boom")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.fail_frac() == 0.5
    assert [f["item"] for f in t.failures] == ["q2", "q2"]
    assert [f["phase"] for f in t.failures] == ["check", "timed"]


def test_tally_with_nothing_attempted_is_all_failed():
    assert Tally().fail_frac() == 1.0
    assert not math.isnan(Tally().fail_frac())
