"""Summary statistics and the paired-comparison rule of the benchmark.

Percentiles use linear interpolation between closest ranks (numpy's
default, Python's ``statistics.quantiles(method="inclusive")``).
"""
import math


def percentile(values, q):
    """The q-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def summary(values):
    """Median, quartiles, p90 and count of a sample."""
    return {"n": len(values), "median": median(values),
            "q1": percentile(values, 25), "q3": percentile(values, 75),
            "p90": percentile(values, 90)}


def geomean(values):
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


WIN_SHARE = 0.9   # share of pairs one side must win (choosing-metrics §8)
MIN_PAIRS = 10    # fewer pairs never resolve


def spread(values):
    """Interquartile distance as a share of the median."""
    return (percentile(values, 75) - percentile(values, 25)) / median(values)


def pair_verdict(parent, change, better="lower"):
    """Paired comparison of one metric (choosing-metrics §8).

    ``parent`` and ``change`` are equal-length lists of run values, pair
    i being run back to back. With at least ``MIN_PAIRS`` pairs, the
    change is "better" when it wins at least ``WIN_SHARE`` of all pairs
    (ties count for neither side) and the medians differ by more than
    the parent's interquartile distance; "worse" under the mirror
    condition; otherwise "unresolved".
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need equally many parent and change runs")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p_med, c_med = median(parent), median(change)
    p_iqr = percentile(parent, 75) - percentile(parent, 25)
    gap = abs(p_med - c_med)
    need = math.ceil(WIN_SHARE * len(parent))
    if len(parent) < MIN_PAIRS:
        verdict = "unresolved"
    elif wins >= need and gap > p_iqr and sign * (p_med - c_med) > 0:
        verdict = "better"
    elif losses >= need and gap > p_iqr and sign * (c_med - p_med) > 0:
        verdict = "worse"
    else:
        verdict = "unresolved"
    return {"verdict": verdict, "wins": wins, "losses": losses, "pairs": len(parent),
            "parent_median": p_med, "change_median": c_med, "parent_iqr": p_iqr}


def bound_check(parent, change, better, bound):
    """The no-regression check of one metric: "EXCEEDED" when the
    change's median is worse than the parent's by more than ``bound``
    (a share of the parent's median); "unresolved" when the parent's own
    spread is wider than ``bound`` and not every change run reads better
    than every parent run; else "ok"."""
    sign = 1 if better == "lower" else -1
    if spread(parent) > bound and not sign * (min(sign * p for p in parent)
                                              - max(sign * c for c in change)) > 0:
        return "unresolved"
    worse = sign * (median(change) - median(parent)) / median(parent)
    return "EXCEEDED" if worse > bound else "ok"
