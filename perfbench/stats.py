"""The benchmark's arithmetic: percentiles, open-loop timing, interval
unions, self time and job attribution. Pure functions; tested by
test_stats.py."""


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it:
    (percentile, value, n). With n sorted samples that is the sample at
    0-based index n - 1 - beyond, the (n - beyond) / n quantile. None when
    there are not more than `beyond` samples."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    return (100.0 * (n - beyond) / n, s[n - 1 - beyond], n)


def open_loop(ops):
    """Open-loop request timing. Each op has `due` (scheduled send time),
    `submit` (when the generator handed it to a client), `send` (when a
    client began it) and `end`, in ms. Latency counts from the due time, so
    a stall also charges the wait it imposes on later requests; generator
    lateness is submit - due."""
    lat = [o["end"] - o["due"] for o in ops]
    late = [o["submit"] - o["due"] for o in ops]
    queued = [o["send"] - o["submit"] for o in ops]
    service = [o["end"] - o["send"] for o in ops]
    return {"latency": lat, "lateness": late, "queued": queued, "service": service}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], each clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def self_times(spans):
    """Total self time (ms) per span name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, kids.get(s["id"], []))
    return out


def attribute_fifo(requests, jobs):
    """Assigns ungrouped Spark jobs to the requests of a server that handles
    one request at a time in arrival order: a job belongs to the earliest
    request (by send time) that was in flight when the job started.
    Returns {request index: [jobs]}."""
    order = sorted(range(len(requests)), key=lambda i: requests[i]["send"])
    out = {i: [] for i in order}
    for j in jobs:
        for i in order:
            r = requests[i]
            if r["send"] <= j["start"] <= r["end"]:
                out[i].append(j)
                break
    return out


def spread(values):
    """Inter-quartile distance over the median, as the acceptance rule
    computes it with statistics.quantiles(values, n=4)."""
    import statistics
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
