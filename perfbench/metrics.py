"""The benchmark's own calculations: percentiles, means, span self time,
lateness, run-to-run spread and host CPU steal. Pure functions, tested
in tests/, apart from cpu_times(), which reads /proc/stat."""

import math
import statistics

# Percentiles considered for a tail, from the lowest to the highest.
TAIL_PERCENTILES = (50.0, 90.0, 99.0, 99.9, 99.99, 99.999)
MIN_BEYOND = 10


def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples,
    ceil(p/100 * n), rounded first so that 99.9% of 10000 is 9990."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(sorted_values, p):
    """Nearest-rank percentile of an ascending list."""
    if not sorted_values:
        raise ValueError("percentile of no samples")
    return sorted_values[rank(len(sorted_values), p) - 1]


def beyond(n, p):
    """How many of n samples lie past the nearest-rank p-th percentile."""
    return n - rank(n, p)


def tail(values):
    """The highest percentile in TAIL_PERCENTILES that has at least
    MIN_BEYOND samples beyond it: (percentile, value, n). When even the
    median has fewer beyond it, the tail is the maximum, labelled 100."""
    s = sorted(values)
    n = len(s)
    best = None
    for p in TAIL_PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    if best is None:
        return 100.0, s[-1], n
    return best, percentile(s, best), n


def median(values):
    return statistics.median(values)


def geomean(values):
    """Geometric mean of positive values."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def covered(interval, children):
    """Length of the part of `interval` (start, end) that the union of
    the `children` intervals covers."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in children
                     if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span name, summed over that name's spans. `spans`
    are (id, name, start, end, parent) tuples; a span's self time is its
    duration minus the part of it its child spans cover."""
    children = {}
    for sid, _name, start, end, parent in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, name, start, end, _parent in spans:
        own = (end - start) - covered((start, end), children.get(sid, []))
        out[name] = out.get(name, 0) + own
    return out


def late_summary(late_ms):
    """(p99, max) of a generator's lateness samples, in ms."""
    s = sorted(late_ms)
    return percentile(s, 99.0), s[-1]


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles
    gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2


def cpu_times():
    """The machine's cumulative CPU times from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings (the 8th field, steal), in percent."""
    if before is None or after is None:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d)
