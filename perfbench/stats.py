"""Percentile and open-loop helpers for the benchmark's metrics."""
import bisect
import math
import statistics


def percentile(values, p):
    """The p-th percentile (0-100) by the nearest-rank rule: the smallest
    sample with at least p% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond
    it among `n` samples, or None when even the median has fewer."""
    for p in candidates:
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p
    return None


def summary(values, tail):
    """Median, the `tail` percentile, and the sample count."""
    return {"p50": statistics.median(values), "tail": percentile(values, tail),
            "tail_pct": tail, "n": len(values),
            "tail_supported": (tail_percentile(len(values)) or 0) >= tail}


def open_loop_latencies(events, file_batch, batch_end_ms):
    """Per-event latency of an open-loop run, timed from when each event
    was due, not from when the generator got round to sending it, so a
    stall also delays every event scheduled behind it.

    events: iterable of (file name, due ms) per event.
    file_batch: file name -> id of the micro-batch that read it.
    batch_end_ms: batch id -> when that micro-batch completed.

    An event whose file was never read raises KeyError: the run is
    incomplete and must not report a latency for it.
    """
    return [batch_end_ms[file_batch[f]] - due for f, due in events]


def lateness(due_ms, moved_ms):
    """How late the generator delivered each file, in ms (never negative)."""
    return [max(0, moved_ms[f] - d) for f, d in due_ms.items()]


def max_backlog(moved_ms, file_batch, batch_end_ms):
    """The most files delivered but not yet consumed by a completed
    micro-batch, sampled at each batch completion."""
    delivered = sorted(moved_ms.values())
    done_at = sorted(batch_end_ms[file_batch[f]] for f in moved_ms)
    worst = 0
    for t in sorted(batch_end_ms.values()):
        worst = max(worst, bisect.bisect_right(delivered, t)
                    - bisect.bisect_right(done_at, t))
    return worst
