"""Small, separately tested pieces of the benchmark's arithmetic."""
import math
import random


def query_order(names, seed):
    """The order one run executes a workload's queries in: a permutation
    fixed by the workload seed, independent of the order given."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def tail_percentile(samples, q):
    """Nearest-rank q-quantile of `samples` and how many samples lie beyond
    it. A tail figure is only as good as that count; ten is the usual
    minimum."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n))
    return sorted(samples)[rank - 1], n - rank


def interval_union(intervals):
    """Merge [start, end] intervals; returns the disjoint, sorted union."""
    merged = []
    for start, end in sorted((a, b) for a, b in intervals if b > a):
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return merged


def covered(intervals):
    """Length of the union of the intervals."""
    return sum(b - a for a, b in interval_union(intervals))


def job_split(wall, jobs):
    """Driver-side time and job concurrency of one query.

    `jobs` are [start, end] intervals in the query's own clock (same unit
    as `wall`), clipped to [0, wall]. Returns (gap, overlap, busy): `gap`
    is the wall time no job was running, `overlap` the summed job walls
    over the time at least one job ran (1.0 with no jobs), `busy` that
    covered time."""
    clipped = [(max(0.0, a), min(wall, b)) for a, b in jobs]
    busy = covered(clipped)
    total = sum(max(0.0, b - a) for a, b in clipped)
    return wall - busy, (total / busy if busy > 0 else 1.0), busy
