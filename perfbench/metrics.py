"""Arithmetic of the benchmark: the tail percentile, interval unions and
span self times.

Pure functions over plain data; `test_bench.py` covers them.
"""
import math
import statistics

MB = 1024 * 1024


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest percentile that still has `beyond` samples above it.

    Returns (value, percentile, n). With n samples, the order statistic at
    index n-1-beyond (sorted ascending) has exactly `beyond` samples after
    it, so the percentile is (n-beyond)/n. Its value is the Harrell-Davis
    estimate at that percentile: a weighted mean of all order statistics,
    which does not jump when noise swaps two samples across a gap between
    queries of different cost. With too few samples the maximum is returned
    at percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    p = (n - beyond) / n
    return harrell_davis(xs, p), 100.0 * p, n


def harrell_davis(sorted_xs, p):
    """Harrell-Davis quantile estimate of sorted samples at 0 < p < 1."""
    n = len(sorted_xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [incomplete_beta(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(sorted_xs))


def incomplete_beta(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz), on the side where it converges fast."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_fraction(a, b, x) / a
    return 1.0 - front * _beta_fraction(b, a, 1.0 - x) / b


def _beta_fraction(a, b, x, tiny=1e-300, eps=1e-15):
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < eps:
            break
    return h


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, within):
    s, e = interval
    ws, we = within
    s, e = max(s, ws), min(e, we)
    return (s, e) if e > s else (s, s)


class SpanTree:
    """Spans as written by the harness: [id, parent, kind, name, bucket,
    start_us, end_us]. Children are clipped to their parent, so a level
    never extends past the level above it."""

    def __init__(self, spans):
        self.spans = {s[0]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s[1], []).append(s[0])

    def interval(self, sid):
        s = self.spans[sid]
        return (s[5], max(s[5], s[6]))

    def clipped(self, sid, parent_iv):
        return clip(self.interval(sid), parent_iv)

    def level_self_times(self, root, levels):
        """Self time of each level of the tree under `root`.

        `levels` lists, for each level below the root, the span kinds it
        holds. Level k+1 is the children of level k with those kinds,
        clipped to their parent. A level's self time is the time covered
        by it and not by the level below, so the values add up to the
        root's duration even when sibling spans overlap."""
        lv = [[(root, self.interval(root))]]
        for kinds in levels:
            lv.append([(cid, self.clipped(cid, piv))
                       for pid, piv in lv[-1]
                       for cid in self.children.get(pid, [])
                       if self.spans[cid][2] in kinds])
        cover = [union_length([iv for _, iv in level]) for level in lv] + [0]
        return [cover[k] - cover[k + 1] for k in range(len(lv))]


# query -> build/action -> job -> stage
QUERY_LEVELS = ({"build", "action"}, {"job"}, {"stage"})


def idle_in(window, tasks):
    """Time inside `window` with no task running."""
    return (window[1] - window[0]) - union_length([clip(t, window) for t in tasks])
