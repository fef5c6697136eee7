"""Statistics of the benchmark's results: quartiles, pair wins and the
verdict rule for comparing a change against its parent.

The rule (choosing-metrics guide, section 8): a change has improved a
metric when it wins at least nine tenths of the pairs, ties counting for
neither side, and its median beats the parent's by more than the parent's
own spread (the distance between its quartiles). It is no worse when its
median is within the metric's bound of the parent's, and worse when beyond
it. When the parent's spread is wider than the bound the result is
unresolved, unless every run of the change beats every run of the parent.
A change with more incorrect runs than its parent is invalid, whatever
its figures: a gain does not count when more operations fail.
"""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def better(a, b, direction):
    """True when a reads better than b."""
    return a < b if direction == "lower" else a > b


def pair_wins(parent, change, direction):
    """Share of pairs (parent[i], change[i]) the change wins; ties count
    for neither side but stay in the denominator."""
    pairs = list(zip(parent, change))
    if not pairs:
        return 0.0
    return sum(1 for p, c in pairs if better(c, p, direction)) / len(pairs)


def verdict(parent, change, direction, bound, parent_incorrect=0, change_incorrect=0):
    """'improved', 'no worse', 'worse', 'unresolved' or 'invalid' for one
    metric on one workload; `bound` is the share of the parent's median by
    which the metric may get worse; the *_incorrect counts are each side's
    runs with a failed check or a failed call."""
    if change_incorrect > parent_incorrect:
        return "invalid"
    pm, cm = median(parent), median(change)
    p_spread = quartiles(parent)[2] - quartiles(parent)[0]
    wins = pair_wins(parent, change, direction)
    if wins >= 0.9 and better(cm, pm, direction) and abs(cm - pm) > p_spread:
        return "improved"
    if all(better(c, p, direction) for c in change for p in parent):
        return "no worse"
    if p_spread > bound * abs(pm):
        return "unresolved"
    worse_by = (cm - pm) if direction == "lower" else (pm - cm)
    return "worse" if worse_by > bound * abs(pm) else "no worse"
