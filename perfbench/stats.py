"""Statistics of the benchmark: medians, supported percentiles, run-to-run
spread and bound checks, and the metric names BENCHMARK.json declares."""
import json
import math
import os
import statistics

# Samples that must lie beyond a percentile before it is reported.
BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank p-th percentile of xs, or None unless at least BEYOND
    samples lie strictly above its rank."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < BEYOND:
        return None
    return sorted(xs)[rank - 1]


def summary(xs, p=90):
    """Median, sample count and the p-th percentile when it is supported."""
    return dict(p50=median(xs) if xs else None, n=len(xs), tail=percentile(xs, p))


def describe(name, xs, unit, p=90):
    """One human-readable line: median, sample count, supported tail."""
    s = summary(xs, p)
    if s["p50"] is None:
        return f"{name}: no samples"
    tail = (f", p{p} {s['tail']:.4f} {unit}" if s["tail"] is not None
            else f", p{p} n/a (needs {BEYOND} samples beyond it)")
    return f"{name}: p50 {s['p50']:.4f} {unit} (n={s['n']}){tail}"


def spread(values):
    """Interquartile distance as a share of the median, with the quartiles
    of statistics.quantiles(values, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(parent, child, better):
    """How much worse `child` is than `parent`, as a share of parent (<= 0
    when it is not worse)."""
    delta = (child - parent) if better == "lower" else (parent - child)
    return delta / abs(parent)


def within_bound(parent_values, child_values, bound, better):
    """True when the child's median is not worse than the parent's by more
    than `bound`."""
    return worse_by(median(parent_values), median(child_values), better) <= bound


def declared(path=None):
    """(end_to_end, per_layer) as lists of (name, unit) from BENCHMARK.json."""
    path = path or os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "BENCHMARK.json")
    with open(path) as fh:
        b = json.load(fh)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])
