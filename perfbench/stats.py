"""The benchmark's own maths: percentiles, span self time, result digests.

Pure functions, tested by test_stats.py.
"""
import datetime
import decimal
import hashlib
import math

# a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def supported(n, p):
    """True when n samples leave at least MIN_BEYOND beyond percentile p."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND


def highest_percentile(n, candidates=(50, 75, 90, 95, 99, 99.9)):
    """The highest candidate percentile n samples support, or None."""
    ok = [p for p in candidates if supported(n, p)]
    return max(ok) if ok else None


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _union_length(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Per span name: count, total and self time (ns). A span's self time
    is its duration minus the union of its children's intervals, clipped
    to the span; children may overlap one another.

    spans: iterable of (id, parent, op, name, start_ns, end_ns).
    """
    spans = list(spans)
    children = {}
    for sid, parent, _op, _name, s, e in spans:
        if parent:
            children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _parent, _op, name, s, e in spans:
        clipped = [(max(s, cs), min(e, ce)) for cs, ce in children.get(sid, [])
                   if min(e, ce) > max(s, cs)]
        own = (e - s) - _union_length(clipped)
        acc = out.setdefault(name, {"count": 0, "total_ns": 0, "self_ns": 0})
        acc["count"] += 1
        acc["total_ns"] += e - s
        acc["self_ns"] += own
    return out


def canon(v):
    """A value in the one form both engines' results reduce to."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0:
            return "0"
        return format(f, ".12g")
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    return str(v)


def digest(columns, rows):
    """Order-insensitive digest of a result: a sum of per-row hashes, so
    the same multiset of rows gives the same digest in any order. Columns
    are matched by name, not position."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = tuple(columns[i] for i in order)
    total = 0
    for row in rows:
        key = repr((names, tuple(canon(row[i]) for i in order))).encode()
        total = (total + int.from_bytes(
            hashlib.blake2b(key, digest_size=8).digest(), "big")) % (1 << 64)
    return f"{len(rows)}:{total:016x}"
