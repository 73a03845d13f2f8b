import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import rows_per_s, spread  # noqa: E402


def test_rows_per_s_is_total_rows_over_total_time():
    # 3 ops of 1000 rows in 0.5 + 1.0 + 1.5 s: 3000 rows / 3 s
    assert rows_per_s(1000, [500.0, 1000.0, 1500.0]) == pytest.approx(1000.0)
    # bimodal op times: the mean rate, not the rate of the median op
    assert rows_per_s(100, [100.0, 100.0, 1000.0]) == pytest.approx(300 / 1.2)


def test_rows_per_s_rejects_no_time():
    with pytest.raises(ValueError):
        rows_per_s(10, [])


def test_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.3]
    s = spread(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert s["n"] == 10
    assert s["median"] == statistics.median(xs)
    assert (s["q1"], s["q3"]) == (q1, q3)
    assert s["spread"] == pytest.approx((q3 - q1) / statistics.median(xs))


def test_spread_of_one_value_is_zero():
    assert spread([5.0])["spread"] == 0.0
