import math
import statistics
from fractions import Fraction

import pytest

import stats


def test_median_odd_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_supported_percentile_keeps_ten_samples_beyond(n, p):
    got = stats.supported_percentile(n)
    assert got == p
    if got is not None:
        beyond = n - math.ceil(Fraction(str(got)) * n / 100)
        assert beyond >= stats.TAIL_SAMPLES


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile(xs, 100) == 100.0
    assert stats.percentile([7.0], 99) == 7.0


def test_relative_spread_matches_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 10.4, 9.9]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert math.isclose(stats.relative_spread(xs), (q3 - q1) / statistics.median(xs))


def test_worse_by_respects_direction():
    assert math.isclose(stats.worse_by([10.0] * 5, [11.0] * 5, "lower"), 0.1)
    assert math.isclose(stats.worse_by([10.0] * 5, [11.0] * 5, "higher"), -0.1)
    assert math.isclose(stats.worse_by([10.0] * 5, [9.0] * 5, "higher"), 0.1)


def test_agreement_applies_each_bound():
    import series

    e2e = [
        {"name": "setup_s", "better": "lower", "bound": 0.25},
        {"name": "pass_s", "better": "lower", "bound": 0.05},
        {"name": "orc_rows_per_s", "better": "higher", "bound": 0.05},
    ]
    steady = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.02, 9.98, 10.01, 9.99]
    wide = [5.0, 15.0, 10.0, 6.0, 14.0, 10.0, 7.0, 13.0, 10.0, 10.0]

    def sets(setup, pass_s, orc):
        return {"w": {"setup_s": setup, "pass_s": pass_s, "orc_rows_per_s": orc}}

    ok = {r[1]: r[-1] for r in series.agreement(e2e, sets(steady, steady, steady), sets(steady, [x * 1.02 for x in steady], [x * 1.02 for x in steady]))}
    assert ok == {"setup_s": True, "pass_s": True, "orc_rows_per_s": True}
    # the spread bound holds for setup_s too
    ok = {r[1]: r[-1] for r in series.agreement(e2e, sets(steady, steady, steady), sets(wide, steady, steady))}
    assert ok["setup_s"] is False
    ok = {r[1]: r[-1] for r in series.agreement(e2e, sets(steady, steady, steady), sets([x * 1.3 for x in steady], [x * 1.1 for x in steady], [x * 0.9 for x in steady]))}
    # 30% slower set-up, 10% slower pass, 10% lower throughput
    assert ok == {"setup_s": False, "pass_s": False, "orc_rows_per_s": False}
    ok = {r[1]: r[-1] for r in series.agreement(e2e, sets(steady, steady, steady), sets(steady, wide, steady))}
    assert ok["pass_s"] is False


def test_agreement_is_two_sided():
    import series

    e2e = [
        {"name": "pass_s", "better": "lower", "bound": 0.05},
        {"name": "orc_rows_per_s", "better": "higher", "bound": 0.05},
    ]
    steady = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.02, 9.98, 10.01, 9.99]
    first = {"w": {"pass_s": steady, "orc_rows_per_s": steady}}
    # a second set 40% faster (and 40% higher throughput) is better by
    # far more than the bound: the two sets do not agree
    second = {"w": {"pass_s": [x * 0.6 for x in steady], "orc_rows_per_s": [x * 1.4 for x in steady]}}
    rows = series.agreement(e2e, first, second)
    assert all(r[4] < -0.05 for r in rows)
    assert not any(r[-1] for r in rows)


def test_seed_ranges():
    import series

    assert series.seeds("3") == [3]
    assert series.seeds("1-4") == [1, 2, 3, 4]
