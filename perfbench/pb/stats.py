"""Pure helpers behind the metrics: percentiles, the job-interval union
behind `spark.driver_gap_s`, and span self times."""
import math


def percentile(values, q):
    """The Harrell-Davis estimate of the q-th percentile (0 < q < 100) of
    `values`, with the sample count: (value, n). It weighs every order
    statistic by a beta distribution centred on rank q/100 * (n + 1), so
    the estimate does not jump from one sample to the next when two
    samples near that rank swap places between runs."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    if n == 1:
        return xs[0], 1
    a, b = q / 100.0 * (n + 1), (1 - q / 100.0) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs)), n


def beta_cdf(x, a, b):
    """Regularized incomplete beta function I_x(a, b), a, b > 0, by its
    continued fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_cdf(1.0 - x, b, a)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return front * f


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to the window [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(window, jobs):
    """Wall time of `window` (start, end) in which no job was running."""
    lo, hi = window
    return (hi - lo) - union_length(jobs, lo, hi)


def self_times(spans):
    """Self time per span id: its duration minus the union of its direct
    children's intervals. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}
