"""Percentiles, sample-count rule and span self times for the harness."""
import statistics


def percentile(samples, q):
    """Nearest-rank percentile of (value, weight) pairs or plain values.

    Returns the smallest value whose cumulative weight reaches q of the
    total weight; q=0.5 is the (lower) weighted median.
    """
    pairs = sorted((s if isinstance(s, (list, tuple)) else (s, 1)) for s in samples)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("no samples")
    need = q * total
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= need:
            return v
    return pairs[-1][0]


def count(samples):
    return sum((s[1] if isinstance(s, (list, tuple)) else 1) for s in samples)


def supported(n, q):
    """A percentile is reported as resolved only with at least ten
    samples beyond it."""
    return n * (1.0 - q) >= 10 - 1e-9


def median(values):
    return statistics.median(values)


def self_times(spans):
    """Total self time in seconds per span name.

    A span's self time is its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlaps
    between children counted once). The name's first ':'-separated part
    groups spans such as 'sink:ingest:3'.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        parts = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                       for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in parts:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        name = s["name"].split(":")[0]
        out[name] = out.get(name, 0.0) + (hi - lo - covered) / 1e9
    return out


def split_by_root(spans, root_name):
    """(spans under roots named root_name, all other spans)."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s
    inside = [s for s in spans if root(s)["name"] == root_name]
    ids = {s["id"] for s in inside}
    return inside, [s for s in spans if s["id"] not in ids]
