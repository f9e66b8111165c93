"""Summary statistics the benchmark reports."""


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the two
    nearest ranks, as numpy's default method gives it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def fail_ratio(attempted, failed):
    """Operations that failed or gave a wrong output, over those attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted

