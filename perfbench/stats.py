"""Pure functions behind the benchmark's metrics and checks.

Each one is small enough to check by hand; selftest.py does.
"""
import bisect
import hashlib


def weighted_quantile(samples, q):
    """Nearest-rank quantile of (value, weight) pairs: the smallest value
    whose cumulative weight reaches q of the total."""
    items = sorted(samples)
    total = sum(w for _, w in items)
    if total <= 0:
        raise ValueError("no samples")
    need = q * total
    acc = 0
    for v, w in items:
        acc += w
        if acc >= need:
            return v
    return items[-1][0]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def commit_latencies(inserts, batches):
    """Latency of each stored line from its scheduled send to the end of the
    micro-batch that committed it.

    inserts: (sent_ms, insert_ms, lines) groups read back from the table.
    batches: (start_ms, end_ms, batch_id) of the sink query's data batches.
    A line belongs to the last batch that started at or before its insert.
    Returns (latency_ms, lines, batch_id) triples.
    """
    bs = sorted(batches)
    starts = [b[0] for b in bs]
    out = []
    for sent, ins, n in inserts:
        i = bisect.bisect_right(starts, ins) - 1
        if i < 0:
            raise ValueError(f"insert at {ins} precedes every batch")
        _, end, bid = bs[i]
        out.append((end - sent, n, bid))
    return out


def tail(latencies, q=0.95, min_batches=10):
    """(p50, pq, batches beyond pq, rule met). Lines of one batch commit
    together, so the tail counts distinct batches beyond pq, not lines."""
    pairs = [(lat, n) for lat, n, _ in latencies]
    p50 = weighted_quantile(pairs, 0.5)
    pq = weighted_quantile(pairs, q)
    beyond = {b for lat, _, b in latencies if lat > pq}
    return p50, pq, len(beyond), len(beyond) >= min_batches


def alert_tally(values, high, low):
    """Hysteresis alerts over one key's values in order: `rising` when the
    value reaches high while disarmed, `cleared` when it falls to low while
    armed. Returns (rising, cleared)."""
    armed = False
    rising = cleared = 0
    for v in values:
        if not armed and v >= high:
            rising += 1
            armed = True
        elif armed and v <= low:
            cleared += 1
            armed = False
    return rising, cleared


def line_hash(line):
    return int.from_bytes(
        hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")


def multiset_hash(lines):
    """Order-insensitive content hash: sum of per-line hashes mod 2^64."""
    h = 0
    for ln in lines:
        h = (h + line_hash(ln)) & 0xFFFFFFFFFFFFFFFF
    return h
