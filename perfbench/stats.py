"""Pure helpers for turning a run's records into metrics: percentiles,
interval unions, span self time and failure accounting."""
import math
import statistics

# a reported percentile needs at least this many samples beyond it
MIN_BEYOND = 10


def samples_beyond(n, q):
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - math.ceil(q * n)


def nearest_rank(values, q):
    """The value at rank ceil(q * n) of the sorted values: a sample, never
    an average of two, so a gap between clusters of samples cannot put it
    halfway across."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def percentile(values, q):
    """A tail percentile (nearest rank); refuses one with fewer than
    ``MIN_BEYOND`` samples beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        raise ValueError(f"p{round(q * 100)} of {n} samples has fewer than "
                         f"{MIN_BEYOND} samples beyond it")
    return nearest_rank(values, q)


def highest_reportable(n, candidates=(0.99, 0.95, 0.9, 0.75, 0.5)):
    """The highest of ``candidates`` that ``n`` samples can report."""
    for q in candidates:
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def mean(values):
    return sum(values) / len(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Span id → self time: its duration minus the part of it covered by
    its direct children. Spans are dicts with ``id``, ``parent``,
    ``start_ms`` and ``end_ms``; the result is in the same unit."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(clipped(children.get(s["id"], []), lo, hi))
        out[s["id"]] = (hi - lo) - covered
    return out


def idle_time(lo, hi, task_intervals):
    """Wall time in [lo, hi] during which no task was running."""
    return (hi - lo) - union_length(clipped(task_intervals, lo, hi))


def steal_frac(before, after):
    """Share of all CPU time between two ``/proc/stat`` readings (lists of
    the aggregate ``cpu`` line's counters) that the hypervisor ran other
    guests on this machine's virtual CPUs; 0 without readings."""
    if not before or not after or len(before) < 8:
        return 0.0
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def account(ops, check):
    """Failure accounting over operation records.

    ``check(op)`` returns None when the operation's output is right, or a
    reason. An operation fails when it raised (``error`` set) or its check
    fails; only operations that succeeded keep their latency. Returns
    ``(attempted, failures, ok_ops)`` where ``failures`` lists
    ``(op, reason)``."""
    failures, ok = [], []
    for op in ops:
        reason = op.get("error") or check(op)
        if reason:
            failures.append((op, reason))
        else:
            ok.append(op)
    return len(ops), failures, ok
