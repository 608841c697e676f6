"""Arithmetic of the benchmark: percentiles, the open-loop latency join,
span self time and the order-independent result checksum. Kept apart
from the runner so that `test_stats.py` can check it on small inputs."""

import calendar
import datetime
import decimal
import hashlib
import struct


def median(values):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail(values, beyond=10):
    """The highest percentile that has at least `beyond` samples above it:
    the (beyond+1)-th largest value. Returns (value, percentile), where
    percentile is the share of samples at or below the value. When that
    value would not lie above the median (fewer than 2 * (beyond + 1)
    samples) it falls back to the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no values")
    i = n - beyond - 1
    if n < 2 * (beyond + 1):
        i = n - 1
    return xs[i], 100.0 * (i + 1) / n


def latencies(runs, commit_ms, first_id, t0_ms, rate):
    """Open-loop latency join. Event `id` was due at
    t0_ms + (id - first_id) * 1000 / rate; it became visible when the
    micro-batch that wrote it committed. `runs` are
    [batch_id, first id, last id] ranges of consecutive ids per batch,
    `commit_ms` maps str(batch_id) to its commit time. Events of a batch
    with no recorded commit are returned as `missing`."""
    out = []
    missing = 0
    step = 1000.0 / rate
    for batch, lo, hi in runs:
        commit = commit_ms.get(str(batch))
        if commit is None:
            missing += hi - lo + 1
            continue
        for i in range(lo, hi + 1):
            out.append(commit - (t0_ms + (i - first_id) * step))
    return out, missing


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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
    """Self time of every span: its duration minus the part of it that
    its children cover (children clipped to the parent). Returns
    {span id: self ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        st, en = s["start_ms"], s["end_ms"]
        kids = [(max(st, c["start_ms"]), min(en, c["end_ms"]))
                for c in children.get(s["id"], [])]
        covered = union_length([k for k in kids if k[1] > k[0]])
        out[s["id"]] = max(0.0, (en - st) - covered)
    return out


def self_by_layer(spans, start_ms=None, end_ms=None):
    """Self time summed per layer, over spans that start inside
    [start_ms, end_ms] when a window is given. Returns {layer: ms}."""
    own = self_times(spans)
    out = {}
    for s in spans:
        if start_ms is not None and not (start_ms <= s["start_ms"] <= end_ms):
            continue
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


# ---------------------------------------------------------------- checksum
# Mirrors perfbench.Checksum (Scala) value for value.

def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        z = 0.0 if v == 0.0 else v
        return "f:" + format(struct.unpack("<Q", struct.pack("<d", z))[0], "x")
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "0"
        return format(v.normalize(), "f")
    if isinstance(v, str):
        return "%d:%s" % (len(v.encode("utf-16-le")) // 2, v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:%d" % (calendar.timegm(v.timetuple()) * 1000000 + v.microsecond)
    if isinstance(v, datetime.date):
        return "d:%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join("%s=%s" % (k, canon(v[k])) for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?:" + str(v)


def checksum(columns, rows):
    """n=<rows>;cols=<names in order>;sum=<hex> over rows given as tuples
    in `columns` order; columns are taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\u0001".join(canon(r[i]) for i in order)
        h = hashlib.sha256(line.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
        n += 1
    return "n=%d;cols=%s;sum=%016x" % (n, ",".join(columns[i] for i in order), total)


def rows_of(checksum_str):
    """Row count recorded in a checksum string."""
    return int(checksum_str.split(";", 1)[0][2:])
