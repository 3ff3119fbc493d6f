"""Small, dependency-free statistics used by every workload."""

from __future__ import annotations

import math
import statistics

# percentiles a tail metric may report, lowest first
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# samples a reported percentile must have above it
BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile ``p`` (0 < p <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def supported_percentile(n: int) -> float:
    """Highest ladder percentile with at least ``BEYOND`` of ``n``
    samples above it; the median when even that is not supported."""
    best = LADDER[0]
    for p in LADDER:
        if n * (1000 - round(p * 10)) >= BEYOND * 1000:  # exact for 99.9
            best = p
    return best


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest supported percentile."""
    p = supported_percentile(len(values))
    return p, percentile(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values)


def class_p50(samples: dict[str, list[float]], weights: dict[str, float]) -> float:
    """The median of each operation class, averaged with the class's
    share of the mix as its weight. Unlike the median of the pooled
    samples, it does not jump between the modes of a multi-modal mix
    when the classes' sample counts drift from their shares."""
    have = {k: w for k, w in weights.items() if samples.get(k)}
    if not have:
        return 0.0
    return sum(w * percentile(samples[k], 50) for k, w in have.items()) / sum(have.values())


def open_loop_latency(due: float, start: float, end: float) -> dict[str, float]:
    """Latency of one open-loop request, timed from when it was due, so
    a stall that delays later sends counts against them. ``queue_wait``
    is the part spent waiting to be sent."""
    return {"latency": end - due, "queue_wait": max(0.0, start - due),
            "service": end - start}


class Tally:
    """Attempted and failed operations. An operation fails when it
    raises or when its output is wrong; both count the same."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
