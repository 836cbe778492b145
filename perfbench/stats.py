"""The benchmark's own arithmetic: percentiles, quartile spreads, self times
from nested spans and exchange-reuse ratios. Pure functions, tested by
perfbench/tests/test_stats.py."""
import math
import statistics


def iqr_frac(values):
    """Distance between the first and third quartile as a share of the
    median (the spread rule of BENCHMARK.json's bounds)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else 0.0


def tail_percentile(samples, p, min_beyond=10):
    """Nearest-rank percentile `p` (0 < p < 1) that keeps at least
    `min_beyond` samples above its rank. Returns (value, samples beyond).
    Raises ValueError when the samples cannot support the percentile."""
    n = len(samples)
    rank = max(1, math.ceil(p * n))
    beyond = n - rank
    if beyond < min_beyond:
        raise ValueError(f"p{round(p * 100)} of {n} samples leaves {beyond} beyond it, "
                         f"fewer than {min_beyond}")
    return sorted(samples)[rank - 1], beyond


def min_samples_for(p, min_beyond=10):
    """Smallest sample count whose nearest-rank percentile `p` keeps
    `min_beyond` samples beyond it."""
    n = 1
    while n - max(1, math.ceil(p * n)) < min_beyond:
        n += 1
    return n


def reuse_ratio(live, reused):
    """Reused exchanges as a share of all exchanges in a final plan; 0 when
    the plan has none."""
    total = live + reused
    return reused / total if total else 0.0


def clip_spans(spans):
    """Clip every span to its parent's interval (parents first). A span is a
    dict with `id`, `parent` (None for a root), `layer`, `start`, `end`.
    Returns (clipped spans, total duration cut off)."""
    by_id = {}
    cut = 0
    out = []
    for s in sorted(spans, key=_depth_key(spans)):
        p = by_id.get(s["parent"])
        start, end = s["start"], s["end"]
        if p is not None:
            lo, hi = max(start, p["start"]), min(end, p["end"])
            hi = max(hi, lo)
            cut += (end - start) - (hi - lo)
            start, end = lo, hi
        c = dict(s, start=start, end=end)
        by_id[s["id"]] = c
        out.append(c)
    return out, cut


def _depth_key(spans):
    parent = {s["id"]: s["parent"] for s in spans}
    depth = {}

    def d(i):
        if i not in depth:
            p = parent.get(i)
            depth[i] = 0 if p is None or p not in parent else d(p) + 1
        return depth[i]

    return lambda s: d(s["id"])


def self_times(spans):
    """Self time per layer over a tree of spans: each instant inside a root
    span belongs to the deepest span active at that instant, which is a
    span's duration minus the part of it its children cover. Sibling spans
    may overlap (concurrent jobs or stages); an instant they share counts
    once. Children are clipped to their parents first, so the self times of
    one root sum to its duration. Returns {layer: self time}."""
    spans, _ = clip_spans(spans)
    key = _depth_key(spans)
    depth = {s["id"]: key(s) for s in spans}
    points = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    out = {}
    for a, b in zip(points, points[1:]):
        if b <= a:
            continue
        active = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if not active:
            continue
        deepest = max(active, key=lambda s: depth[s["id"]])
        out[deepest["layer"]] = out.get(deepest["layer"], 0) + (b - a)
    return out


def linear_fit(xs, ys):
    """Least-squares (intercept, slope) of ys against xs."""
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - slope * mx, slope
