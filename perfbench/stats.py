"""Order statistics, the A/B decision rule and span arithmetic used by the
benchmark. Pure functions on plain lists, so tests can pin them down with
fixed inputs."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, samples_beyond). With n samples sorted
    ascending, the sample at index n-beyond-1 has exactly `beyond` samples
    after it, so it sits at percentile 100*(n-beyond)/n (rounded down).
    Below 2*beyond samples that percentile would not be above the median,
    so the maximum is returned instead, as percentile 100 with 0 samples
    beyond."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * beyond:
        return 100, s[-1], 0
    return (100 * (n - beyond)) // n, s[n - beyond - 1], beyond


def pair_wins(parent, change, better="lower"):
    """Count the pairs the change wins and loses; ties count for neither."""
    wins = losses = 0
    for p, c in zip(parent, change):
        if c == p:
            continue
        if (c < p) == (better == "lower"):
            wins += 1
        else:
            losses += 1
    return wins, losses


def ab_verdict(parent, change, better, bound, min_pairs=10, share=0.9):
    """Decision for one metric from alternating parent/change runs.

    "better": the change wins at least `share` of all pairs and the medians
    differ, in the good direction, by more than the parent's own IQR.
    "worse": the change's median is worse than the parent's by more than
    `bound` (as a share of the parent's median).
    "unresolved": the parent's spread exceeds the bound, so the runs
    cannot tell a change within the bound from noise.
    "same": none of the above.
    Fewer than `min_pairs` pairs is "too few pairs"."""
    n = min(len(parent), len(change))
    if n < min_pairs:
        return "too few pairs"
    parent, change = parent[:n], change[:n]
    wins, _ = pair_wins(parent, change, better)
    p1, pm, p3 = quartiles(parent)
    cm = median(change)
    gain = (pm - cm) if better == "lower" else (cm - pm)
    if wins >= share * n and gain > (p3 - p1):
        return "better"
    if -gain > bound * abs(pm):
        return "worse"
    if (p3 - p1) > bound * abs(pm):
        return "unresolved"
    return "same"


def covered(intervals):
    """Total length covered by a union of (start, end) intervals."""
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


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover. `spans` is a list of dicts with
    start, end and parent (an index into the list, -1 for a root)."""
    kids = {}
    for i, s in enumerate(spans):
        if s["parent"] >= 0:
            kids.setdefault(s["parent"], []).append(i)
    out = []
    for i, s in enumerate(spans):
        clip = [(max(spans[k]["start"], s["start"]),
                 min(spans[k]["end"], s["end"])) for k in kids.get(i, [])]
        clip = [(a, b) for a, b in clip if b > a]
        out.append(s["end"] - s["start"] - covered(clip))
    return out
