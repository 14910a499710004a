"""The percentile rule: report the highest percentile with at least ten
samples beyond it."""

import pytest

import stats


@pytest.mark.parametrize(
    "n, expected",
    [(9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (999, 90.0),
     (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_percentile_interpolates():
    assert stats.percentile([4, 1, 3, 2], 50) == 2.5
    assert stats.percentile([1, 2, 3, 4, 5], 100) == 5
    assert stats.percentile([7], 99) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_describe_states_count_and_supported_tail():
    assert stats.describe(list(range(100)), "ms") == "n=100 p50=49.500ms p90=89.100ms"
    assert stats.describe(list(range(20)), "ms") == "n=20 p50=9.500ms"


def test_windowed_percentile_ignores_a_burst_in_one_slice():
    steady = [(t / 100, 1.0) for t in range(1000)]  # 10 s of 1.0
    burst = [(t, 50.0 if 3 <= t < 4 else v) for t, v in steady]
    assert stats.windowed_percentile(steady, 0, 10, 10, 90) == 1.0
    assert stats.windowed_percentile(burst, 0, 10, 10, 90) == 1.0
    assert stats.percentile([v for _, v in burst], 90) > 1.0  # the plain p90 moves
    # samples outside [start, end) do not count
    assert stats.windowed_percentile(steady + [(-1, 99.0), (10, 99.0)], 0, 10, 10, 90) == 1.0
