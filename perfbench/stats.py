"""Summary statistics the benchmark reports: medians, means over an op
cycle, nearest-rank percentiles and the highest percentile a sample
count can support."""

from __future__ import annotations

import math
import statistics

#: percentile levels the tail report may pick from, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

#: samples that must lie beyond a percentile before it is reported
MIN_BEYOND = 10


def nearest_rank(p: float, n: int) -> int:
    """1-based nearest-rank position of the ``p``-th percentile of
    ``n`` sorted samples."""
    if n < 1:
        raise ValueError("need at least one sample")
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p: float) -> float:
    xs = sorted(values)
    return xs[nearest_rank(p, len(xs)) - 1]


def tail_level(n: int, ladder=TAIL_LADDER, min_beyond: int = MIN_BEYOND):
    """The highest percentile in ``ladder`` that leaves at least
    ``min_beyond`` of ``n`` samples above its rank, or None when even
    the lowest level does not."""
    best = None
    for p in ladder:
        if n >= 1 and n - nearest_rank(p, n) >= min_beyond:
            best = p
    return best


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def mix_gmean(samples: dict, tags) -> float:
    """Typical op latency of the cycle whose slots have ``tags``: the
    geometric mean, over the slots, of each slot tag's median sample.

    A run holds about two cycles, so the plain median of its samples is
    an op of whichever class lands in the middle; it jumps between
    classes from seed to seed, where this averages over all of them.
    Every slot weighs the same in relative terms: a 20% gain on a
    0.2 s suggest moves it as much as one on a 2 s spell."""
    logs = [math.log(median(samples[t])) for t in tags]
    return math.exp(sum(logs) / len(logs))


def mix_rate(samples: dict, tags) -> float:
    """Ops per second of one closed-loop client running the cycle with
    ``tags`` once, every slot at its tag's median latency (ms)."""
    return 1000.0 * len(tags) / sum(median(samples[t]) for t in tags)
