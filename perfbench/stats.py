"""Pure summary rules of the benchmark: percentiles, the tail rule,
failure accounting and span self time. Kept free of I/O so that
``test_harness.py`` pins each rule on hand-made inputs."""

import math


def percentile(values, p):
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    if xs[lo] == xs[hi]:  # also keeps +inf samples from producing nan
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n, beyond=10):
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when ``n`` cannot support one. Under the
    interpolation of ``percentile``, percentile p sits at sorted index
    (n - 1) * p / 100; the samples above it are those of higher index."""
    for p in range(99, 0, -1):
        if n - 1 - math.floor((n - 1) * p / 100.0) >= beyond:
            return p
    return None


def op_latencies(ops):
    """Per-operation latencies for percentile purposes. A failed
    operation counts as slower than every successful one (+inf), so a
    failure can only lengthen a percentile, never shorten it."""
    return [(o["t1"] - o["t0"]) if o["ok"] else math.inf for o in ops]


def throughput(ops):
    """Items of successful operations per second of ALL operations'
    time: a failed operation adds its elapsed time and no items."""
    busy = sum(o["t1"] - o["t0"] for o in ops)
    done = sum(o["items"] for o in ops if o["ok"])
    return done / busy if busy > 0 else 0.0


def failure_counts(ops):
    """(attempted, failed) over every operation that was started."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def self_times(spans):
    """Self time per span id: the span's duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged first, and clipped to the parent)."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_summary(spans):
    """Per span name: count, total inclusive seconds, total self seconds."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                         "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += selfs[s["id"]]
    return out


def layer_medians(per_op, names):
    """Median over operations of each per-operation layer value; a layer
    the workload never enters reads 0."""
    out = {}
    for name in names:
        vals = [m[name] for m in per_op if name in m]
        out[name] = median(vals) if vals else 0.0
    return out
