"""Helpers of the benchmark: percentiles, quartile spread, span self-time
roll-up, counter deltas and a host speed probe. No I/O; `tests/` covers
all but the probe.
"""
import hashlib
import os
import statistics
import time


def percentile(values, p):
    """The p-th percentile (0-100) by linear interpolation between order
    statistics, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def quartile_spread(values):
    """(median, q1, q3, (q3 - q1) / median) with the quartiles
    `statistics.quantiles(values, n=4)` gives."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Per span id, its duration minus the time covered by its children,
    clipped to the span. Children may overlap one another (concurrent
    jobs), so the covered time is the union of their intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(lo, c["start_ns"]), min(hi, c["end_ns"]))
            for c in kids.get(s["id"], ()))
        out[s["id"]] = max(0, hi - lo - covered)
    return out


def self_time_by_level(spans):
    """Self time in seconds summed per span level (workload, op, phase,
    job): where the wall went, layer by layer, without double counting."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["level"]] = out.get(s["level"], 0) + st[s["id"]] / 1e9
    return out


def descendants(spans, root_id):
    """Spans below `root_id`, at any depth."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c["id"])
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def counter_deltas(before, after, clk_tck=CLK_TCK):
    """Process and host counter deltas between two /proc snapshots, clock
    ticks converted to seconds. Reaped children's CPU (cutime/cstime) is
    the chemistry bridge's worker processes."""
    def d(k):
        return after[k] - before[k]
    return {
        "wall_s": d("wall_ns") / 1e9,
        "user_s": d("utime") / clk_tck,
        "sys_s": d("stime") / clk_tck,
        "child_cpu_s": (d("cutime") + d("cstime")) / clk_tck,
        "minflt": d("minflt"),
        "majflt": d("majflt"),
        "steal_s": d("steal") / clk_tck,
        "gc_s": d("gc_ms") / 1e3,
    }


def host_probe_ms(rounds=200):
    """Wall time of a fixed single-threaded hashing loop: a reading of the
    host's speed at the moment a run starts, which steal time alone does
    not show (shared cores and caches slow a run without stealing)."""
    block = bytes(range(256)) * 1024
    t0 = time.perf_counter()
    for _ in range(rounds):
        hashlib.sha256(block).digest()
    return (time.perf_counter() - t0) * 1e3
