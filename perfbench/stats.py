"""Summary statistics the benchmark reports, kept free of I/O so the
benchmark's own tests can pin them down."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """(value, percentile, n): the highest whole percentile that has at least
    `beyond` samples above it, by nearest rank. With too few samples for
    any percentile from 50 up to qualify, the maximum is reported as
    percentile 100."""
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    s = sorted(xs)
    q = math.floor(100 * (1 - beyond / n) + 1e-9)
    if q < 50:
        return s[-1], 100, n
    rank = math.ceil(q * n / 100)
    return s[rank - 1], q, n


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def open_loop(requests):
    """Latency from the due time, and how late the generator sent, for a list
    of open-loop request records (`due_ms`, `sent_ms`, `end_ms`)."""
    lat = [r["end_ms"] - r["due_ms"] for r in requests]
    lag = [r["sent_ms"] - r["due_ms"] for r in requests]
    return lat, lag


def self_times(spans):
    """Self time (ms) of each span: its duration minus the part of its
    interval covered by its direct children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, reach = 0.0, -math.inf
        for a, b in iv:
            if b <= a:
                continue
            if a > reach:
                covered += b - a
                reach = b
            elif b > reach:
                covered += b - reach
                reach = b
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out

