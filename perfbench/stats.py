"""Timing statistics for the benchmark.

A timing is reported as its median, the highest standard percentile that
still has at least ten samples beyond it, and the sample count. Run this
file to execute its self-test: ``python3 perfbench/stats.py``.
"""

import math

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs):
    """(p, value) for the highest percentile in PERCENTILES above the
    median that leaves at least MIN_BEYOND samples beyond it, or None."""
    n = len(xs)
    best = None
    for p in PERCENTILES:
        if p <= 50:
            continue
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= MIN_BEYOND:
            best = (p, percentile(xs, p))
    return best


def summary(xs):
    """Median, tail percentile and sample count of a timing."""
    t = tail(xs)
    return {"n": len(xs), "p50": median(xs),
            "tail_p": t[0] if t else None, "tail": t[1] if t else None}


def fmt_p(p):
    return "p%g" % p


def selftest():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    assert percentile(range(1, 101), 90) == 90
    assert percentile(range(1, 101), 99) == 99
    assert percentile([5], 99) == 5
    # 100 samples: p90 leaves exactly 10 beyond it, p95 only 5
    assert tail(list(range(1, 101))) == (90, 90)
    # 1000 samples: p99 leaves 10 beyond it
    assert tail(list(range(1, 1001))) == (99, 990)
    # 20 samples: p50 would be the only candidate, and it is not a tail
    assert tail(list(range(20))) is None
    # 40 samples: p75 leaves exactly 10 beyond it
    assert tail(list(range(1, 41))) == (75, 30)
    s = summary([0.2, 0.1, 0.3])
    assert s == {"n": 3, "p50": 0.2, "tail_p": None, "tail": None}
    for bad in ([],):
        try:
            median(bad)
        except ValueError:
            pass
        else:
            raise AssertionError("median([]) must raise")
    print("stats self-test: ok")


if __name__ == "__main__":
    selftest()
