from perfbench.stats import tail


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    t = tail(xs)
    assert t == {"pct": 90, "value": 90, "n": 100}
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_without_enough_samples_is_the_max():
    assert tail([3.0, 1.0, 2.0]) == {"pct": None, "value": 3.0, "n": 3}


def test_tail_matches_a_percentile_scan():
    for n in range(11, 300):
        xs = [float(i) for i in range(n)]
        best = max(p for p in range(1, 100) if n - -(-p * n // 100) >= 10)
        t = tail(xs)
        assert t["pct"] == best
        assert sum(x > t["value"] for x in xs) >= 10
