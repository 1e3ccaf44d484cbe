"""Statistics and the per-run record shared by the workloads."""

from __future__ import annotations

import math
import statistics
import time


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[int, float]:
    """The highest whole percentile that still has at least ten samples
    beyond it, and its value; (0, 0.0) when there are fewer than 20."""
    n = len(xs)
    if n < 20:
        return 0, 0.0
    p = min(99, math.floor(100 * (n - 10) / n))
    s = sorted(xs)
    return p, s[min(n - 1, math.ceil(p / 100 * n) - 1)]


def drift_ratio(ops: list[tuple[str, float]]) -> float:
    """Median of the first half of a timed phase over the median of the
    second half, each latency first divided by its kind's median so that
    kinds of different cost can share one ratio."""
    by_kind: dict[str, list[float]] = {}
    for kind, lat in ops:
        by_kind.setdefault(kind, []).append(lat)
    meds = {k: median(v) for k, v in by_kind.items()}
    norm = [lat / meds[k] for k, lat in ops if meds[k] > 0]
    half = len(norm) // 2
    if half == 0:
        return 1.0
    second = median(norm[half:])
    return median(norm[:half]) / second if second > 0 else 1.0


def calib_s() -> float:
    """A fixed pure-Python CPU loop: host speed, independent of the program."""
    t = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


class Run:
    """What one workload run reports: operations attempted and failed,
    end-to-end metrics, per-layer metrics and extra lines for the table."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []

    def to_json(self) -> dict:
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
            "layers": {k: {"value": v, "unit": u} for k, (v, u) in self.layers.items()},
            "notes": self.notes,
        }
