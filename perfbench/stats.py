"""Spark-free arithmetic of the benchmark: percentiles, the tail rule,
span self time, crawl fetch wait, failure accounting and run-to-run
spread. Everything here is pure Python so it can be unit-tested without a
JVM (see ``perfbench/tests/test_stats.py``)."""

from __future__ import annotations

import statistics
from dataclasses import dataclass

# Percentiles the tail rule may pick, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A percentile is only reported when at least this many samples lie beyond it.
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside [0, 100]")
    rank = p / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int, ladder=TAIL_LADDER,
                    min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """The highest percentile of ``ladder`` that has at least
    ``min_beyond`` of ``n`` samples beyond it, or None when even the
    lowest rung has too few."""
    for p in sorted(ladder, reverse=True):
        # round: 100 - 99.9 is not exactly 0.1 in binary floating point
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:
            return p
    return None


def tail(values) -> tuple[float, float]:
    """(percentile used, value) by the tail rule; falls back to the
    maximum (reported as percentile 100) when there are too few samples
    for any rung."""
    xs = list(values)
    p = tail_percentile(len(xs))
    if p is None:
        return 100.0, max(xs)
    return p, percentile(xs, p)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it that its children cover
    (children are clipped to the span; overlaps count once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def fetch_waits(admit_batch: dict, fetch_batch: dict,
                batch_secs: dict) -> list[float]:
    """Per URL: seconds from the start of the batch that admitted it to
    the end of the batch that fetched it, i.e. the summed wall time of
    batches admit..fetch inclusive. URLs never fetched are skipped."""
    out = []
    for url, b_fetch in fetch_batch.items():
        b_admit = admit_batch[url]
        if b_fetch < b_admit:
            raise ValueError(f"{url}: fetched in batch {b_fetch} before "
                             f"its admission in batch {b_admit}")
        out.append(sum(batch_secs[b] for b in range(b_admit, b_fetch + 1)))
    return out


@dataclass
class Tally:
    """Operations attempted vs failed. A failure is an operation that
    raised or whose output did not match its reference."""
    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def spread(values) -> float:
    """Interquartile distance as a share of the median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
