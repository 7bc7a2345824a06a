"""Summary statistics and the event-visibility join.

Percentiles are nearest-rank: the p-th percentile of n sorted samples is
the sample at rank ceil(p/100 * n), so exactly n - rank samples lie beyond
it. A timing is reported as its median plus the highest percentile in
TAIL_CANDIDATES that still has at least MIN_BEYOND samples beyond it.
"""
import math

import numpy as np

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples."""
    return max(1, min(n, math.ceil(p / 100.0 * n - 1e-9)))


def percentile(values, p: float) -> float:
    v = np.sort(np.asarray(values, dtype=float))
    return float(v[rank(p, len(v)) - 1])


def beyond(p: float, n: int) -> int:
    return n - rank(p, n)


def tail_percentile(n: int):
    """Highest candidate percentile with >= MIN_BEYOND samples beyond it,
    or None when n is too small for any."""
    for p in TAIL_CANDIDATES:
        if beyond(p, n) >= MIN_BEYOND:
            return p
    return None


def summary(values) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    v = np.asarray(values, dtype=float)
    out = {"n": int(len(v))}
    if len(v) == 0:
        return out
    out["p50"] = percentile(v, 50)
    p = tail_percentile(len(v))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(v, p)
    return out


def publish_times(event_seqs, batch_end_seqs, batch_publish_ns):
    """For each event sequence number, the publish time of the first sink
    batch whose end offset covers it (batches are given in commit order,
    so their end offsets are non-decreasing). Events no batch covers get
    NaN: they never became visible."""
    ends = np.asarray(batch_end_seqs, dtype=np.int64)
    pub = np.asarray(batch_publish_ns, dtype=np.float64)
    if len(ends) and np.any(np.diff(ends) < 0):
        raise ValueError("batch end offsets must be non-decreasing")
    idx = np.searchsorted(ends, np.asarray(event_seqs, dtype=np.int64),
                          side="left")
    out = np.full(len(idx), np.nan)
    ok = idx < len(ends)
    out[ok] = pub[idx[ok]]
    return out


def visibility_s(event_seqs, due_ns, batch_end_seqs, batch_publish_ns):
    """Per event: publish time of the batch that made it visible minus the
    time it was due (its scheduled emit time, or the stream start for a
    planted backlog), in seconds; NaN for events never published."""
    pub = publish_times(event_seqs, batch_end_seqs, batch_publish_ns)
    return (pub - np.asarray(due_ns, dtype=np.float64)) / 1e9
