"""Reductions from raw samples to reported metrics, and the result line."""
import json
import math
import statistics

MB = 1e6  # decimal megabyte: shuffle_mb, written_mb and friends are bytes / 1e6


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def geomean_of_medians(samples):
    """Geometric mean over kinds of each kind's median; samples is {kind: [x]}."""
    meds = [median(v) for v in samples.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def mb(nbytes):
    return nbytes / MB


def covered_ms(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - covered_ms(clipped)


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line; metrics is {name: (value, unit)}."""
    if not isinstance(attempted, int) or attempted < 1:
        raise ValueError("attempted must be a whole number of at least 1")
    if not isinstance(failed, int) or not 0 <= failed <= attempted:
        raise ValueError("failed must be a whole number within attempted")
    out = {}
    for name, (value, unit) in metrics.items():
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": attempted,
                       "failed": failed, "metrics": out})
