import itertools

import pytest

from bench_stats import Tally, run_pass, tail_latency


def test_tail_keeps_at_least_ten_samples_above():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail_latency(samples)
    assert n == 100
    assert sum(1 for x in samples if x > value) >= 10
    # one percentile higher would leave fewer than ten above
    assert (pct, value) == (90, 90.0)


def test_tail_undefined_without_more_than_ten_samples():
    assert tail_latency([1.0] * 10) is None
    assert tail_latency([float(i) for i in range(10)]) is None


def test_tail_counts_ties_as_not_above():
    samples = [1.0] * 15 + [2.0] * 10
    value, pct, _ = tail_latency(samples)
    assert value == 1.0
    assert sum(1 for x in samples if x > value) == 10
    assert pct == 60


def test_tail_smallest_qualifying_sample_count():
    value, pct, n = tail_latency([float(i) for i in range(11)])
    assert n == 11 and value == 0.0 and pct == 9


def _ticks():
    counter = itertools.count()
    return lambda: float(next(counter))


def test_failed_ratio_counts_a_raising_entry_and_keeps_going():
    def boom():
        raise ValueError("DIVIDE_BY_ZERO\nstack")

    requests = {"ok1": lambda: 1, "bad": boom, "ok2": lambda: 2}
    tally, seen = Tally(), []
    lat = run_pass(list(requests), requests.get, tally, _ticks(), between=seen.append)
    assert [n for n, _ in lat] == ["ok1", "bad", "ok2"]
    assert all(x == 1.0 for _, x in lat)  # each request spans one clock tick
    assert seen == ["ok1", "bad", "ok2"]
    assert (tally.attempted, tally.failed) == (3, 1)
    assert tally.failed_ratio == pytest.approx(1 / 3)
    assert tally.failures == {"bad": ["ValueError: DIVIDE_BY_ZERO"]}


def test_failed_check_counts_once_and_raising_entry_is_not_checked():
    checked = []

    def check(name, result):
        checked.append(name)
        return "output mismatch" if result == 2 else None

    def boom():
        raise RuntimeError("x")

    requests = {"a": lambda: 1, "b": lambda: 2, "c": boom}
    tally = Tally()
    run_pass(list(requests), requests.get, tally, _ticks(), check=check)
    assert checked == ["a", "b"]
    assert (tally.attempted, tally.failed) == (3, 2)
    assert sorted(tally.failures) == ["b", "c"]


def test_failed_ratio_is_zero_before_any_attempt():
    assert Tally().failed_ratio == 0.0
