"""Tail-percentile rule, quartile spread and the top-k correctness check."""

import statistics

import pytest

from perfbench.measure import quartile_spread, same_topk, slice_rate, tail


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(v) for v in range(100)]
    t = tail(values)
    assert t == {"value": 89.0, "percentile": 90.0, "samples": 100}
    assert sum(v > t["value"] for v in values) == 10


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(values) == tail(sorted(values))


def test_tail_smallest_sample():
    t = tail([float(v) for v in range(11)])
    assert t["value"] == 0.0 and t["percentile"] == pytest.approx(100 / 11, abs=0.01)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / q2)


def test_slice_rate_is_the_median_slice():
    # 10 completions per second for 5 s, with one second stalled
    stamps = [s + i / 10 for s in (0, 1, 3, 4) for i in range(10)]
    assert slice_rate(stamps, 0.0, 5.0) == 10.0
    assert len(stamps) / 5.0 == 8.0


def test_slice_rate_drops_the_partial_last_slice():
    stamps = [i / 4 for i in range(12)]  # 4 per second over [0, 3)
    assert slice_rate(stamps + [3.1, 3.2], 0.0, 3.5) == 4.0
    assert slice_rate(stamps, 0.0, 3.0, width=0.5) == 4.0


def test_slice_rate_needs_a_whole_slice():
    with pytest.raises(ValueError):
        slice_rate([0.1], 0.0, 0.9)


REF = [(7, 3.1234567, 12), (2, 2.5, 40), (9, 2.5, 41)]


def test_same_topk_accepts_identical_and_last_digit_noise():
    assert same_topk(list(REF), REF)
    noisy = [(d, s + 1e-9, dl) for d, s, dl in REF]
    assert same_topk(noisy, REF)


@pytest.mark.parametrize("perturbed", [
    [REF[1], REF[0], REF[2]],                       # rank swap
    [(7, 3.12346, 12), REF[1], REF[2]],             # score off at 6 dp
    [(8, 3.1234567, 12), REF[1], REF[2]],           # other document
    REF[:2],                                        # result cut short
])
def test_same_topk_flags_perturbed_results(perturbed):
    assert not same_topk(perturbed, REF)
