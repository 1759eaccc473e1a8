"""Statistics shared by run.py and steady.py.

Timings are reported as a median plus the highest percentile that still has
at least ten samples beyond it (nearest-rank). Below forty samples that
percentile would be no tail, so none is reported.
"""
import math
import statistics

TAIL_MIN_BEYOND = 10
TAIL_MIN_SAMPLES = 40


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """(percentile, value) of the highest nearest-rank percentile with at
    least TAIL_MIN_BEYOND samples beyond it; None below TAIL_MIN_SAMPLES."""
    n = len(xs)
    if n < TAIL_MIN_SAMPLES:
        return None
    s = sorted(xs)
    p = (100 * (n - TAIL_MIN_BEYOND)) // n
    rank = math.ceil(p * n / 100)          # 1-based nearest rank
    assert n - rank >= TAIL_MIN_BEYOND
    return p, s[rank - 1]


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def selftest():
    # nearest-rank tail: 10 samples strictly beyond it
    xs = list(range(1, 51))                # 50 samples
    p, v = tail(xs)
    assert (p, v) == (80, 40), (p, v)
    assert sum(1 for x in xs if x > v) == 10
    # 44 samples: 77th percentile, rank 34
    xs = [float(i) for i in range(44)]
    p, v = tail(xs)
    assert (p, v) == (77, 33.0), (p, v)
    assert sum(1 for x in xs if x > v) == 10
    # omitted below 40 samples
    assert tail(list(range(39))) is None
    assert tail(list(range(40))) is not None
    # tail >= median for any shape with >= 40 samples, skewed either way
    import random
    rng = random.Random(7)
    for n in range(40, 400, 7):
        for shape in ("low", "high", "flat"):
            if shape == "low":
                xs = [rng.random() ** 6 for _ in range(n)]
            elif shape == "high":
                xs = [1 - rng.random() ** 6 for _ in range(n)]
            else:
                xs = [1.0] * n
            p, v = tail(xs)
            assert v >= median(xs), (n, shape)
            assert sum(1 for x in xs if x > v) <= n - math.ceil(p * n / 100)
    # quartile spread
    assert abs(spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) - (8.25 - 2.75) / 5.5) < 1e-12
    return True


if __name__ == "__main__":
    selftest()
    print("stats selftest ok")
