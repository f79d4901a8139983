"""Pure helpers that turn a run record into metrics."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, by nearest rank. Returns (value, percentile, n), or None when
    there are too few samples for any percentile to qualify."""
    n = len(samples)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return sorted(samples)[rank - 1], p, n


def self_times(spans):
    """Self time (ns) per span id: its wall, less the wall of its direct
    children, less the tracing overhead spent between those children."""
    own = {s["id"]: s["end_ns"] - s["start_ns"] - s.get("overhead_ns", 0)
           for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end_ns"] - s["start_ns"]
    return own


def trace_overhead(passes):
    """Median over traced passes of the time tracing added, as a share of
    the pass's wall without it. Tracing adds the listener drains at span
    boundaries and the planning its `plan` spans force."""
    shares = []
    for p in passes:
        if p["traced"]:
            added = p["trace_drain_s"] + sum(
                (s["end_ns"] - s["start_ns"]) / 1e9 for s in p["spans"] if s["name"] == "plan")
            shares.append(added / (p["wall_s"] - added))
    return median(shares)


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
