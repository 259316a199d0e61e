"""Pure helpers that turn the harness record into metrics."""
import math
import statistics

# percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values):
    return statistics.median(values) if values else 0.0


def query_p50(executions):
    """Typical latency of one query execution (fn + materialize): each
    query's median over the run, averaged over the mix. A median pooled
    over a mix of two or three queries falls in the gap between their
    latencies and so rests on each query's slowest or fastest run."""
    by_query = {}
    for x in executions:
        if x["error"] is None:
            by_query.setdefault(x["query"], []).append(x["build_ms"] + x["mat_ms"])
    return statistics.fmean(median(v) for v in by_query.values()) if by_query else 0.0


def nearest_rank(sorted_values, p):
    """Nearest-rank percentile of an ascending list; returns (value, rank)."""
    n = len(sorted_values)
    k = max(1, math.ceil(p / 100.0 * n))
    return sorted_values[k - 1], k


def tail(values):
    """The highest ladder percentile with at least ten samples beyond it.

    Returns (percentile, value, sample count, samples beyond), or None when
    the pool is too small for any rung.
    """
    s = sorted(values)
    best = None
    for p in TAIL_LADDER:
        v, k = nearest_rank(s, p) if s else (None, 0)
        if s and len(s) - k >= 10:
            best = (p, v, len(s), len(s) - k)
    return best


def union_ms(intervals, lo=None, hi=None):
    """Total length covered by possibly overlapping [start, end] intervals,
    clipped to [lo, hi] when given."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def proc_stat_steal(line):
    """Steal jiffies from the aggregate `cpu` line of /proc/stat."""
    f = line.split()
    if not f or f[0] != "cpu" or len(f) < 9:
        return None
    return int(f[8])


def steal_ms(line0, line1, hz):
    a, b = proc_stat_steal(line0), proc_stat_steal(line1)
    return None if a is None or b is None else (b - a) * 1000.0 / hz


def psi_total_us(line):
    """`total=` microseconds of the `some` line of /proc/pressure/cpu."""
    f = line.split()
    if not f or f[0] != "some":
        return None
    for kv in f[1:]:
        k, _, v = kv.partition("=")
        if k == "total":
            return int(v)
    return None


def pressure_ms(line0, line1):
    a, b = psi_total_us(line0), psi_total_us(line1)
    return None if a is None or b is None else (b - a) / 1000.0


def self_times(spans):
    """Self time per span name: duration minus the union of its children.

    `spans` holds (id, parent, name, start, end); a name's part before
    ':' is the layer (`query:q_x` counts as `query`). Returns
    {layer: summed self time}.
    """
    children = {}
    for sid, parent, _, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _, name, s, e in spans:
        layer = name.split(":", 1)[0]
        own = (e - s) - union_ms(children.get(sid, []), s, e)
        out[layer] = out.get(layer, 0.0) + own
    return out

