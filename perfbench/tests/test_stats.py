from perfbench.stats import median, tail_percentile


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_tail_needs_ten_samples_beyond_it():
    # 20 samples: p75 would leave 5 beyond it, so no tail is reported
    assert tail_percentile([float(i) for i in range(20)]) is None
    assert tail_percentile([1.0] * 10) is None


def test_tail_picks_highest_qualifying_percentile():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    assert tail_percentile(xs) == (75.0, 30.0)  # 10 samples above rank 30
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs) == (90.0, 90.0)
    xs = [float(i) for i in range(1, 1001)]
    assert tail_percentile(xs) == (99.0, 990.0)


def test_tail_ignores_input_order():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(list(reversed(xs))) == (90.0, 90.0)
