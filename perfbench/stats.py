"""Small, Spark-free arithmetic the benchmark reports from."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

# percentiles a timing may report beyond its median, highest first
PERCENTILES = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def summarize(samples: list[float], min_beyond: int = MIN_BEYOND) -> dict:
    """Median, plus the highest percentile with ``min_beyond`` samples above it.

    Returns ``{"n", "median", "pct", "pct_value"}``; ``pct`` is ``None`` when
    the sample count supports no percentile above the median."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs), "pct": None, "pct_value": None}
    for p in PERCENTILES:
        if n * (100 - p) >= 100 * min_beyond:
            # nearest-rank percentile
            out["pct"] = p
            out["pct_value"] = xs[max(0, math.ceil(p / 100.0 * n) - 1)]
            break
    return out


def describe(name: str, unit: str, samples: list[float]) -> str:
    s = summarize(samples)
    tail = f", p{s['pct']:g} {s['pct_value']:.4f}" if s["pct"] is not None else ", no percentile (<10 beyond)"
    return f"{name}: median {s['median']:.4f} {unit}{tail} (n={s['n']})"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    group: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], idx: int) -> float:
    """Duration of ``spans[idx]`` minus the part of it its children cover.

    Children may overlap each other; their union is subtracted once."""
    me = spans[idx]
    iv = sorted(
        (max(s.start, me.start), min(s.end, me.end))
        for s in spans
        if s.parent == idx and s.end > me.start and s.start < me.end
    )
    covered = 0.0
    cur_s = cur_e = None
    for a, b in iv:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return me.duration - covered


def scan_amplification(read: float, size: float) -> float:
    """How many times the input was scanned: amount read / input size
    (both in rows, or both in bytes)."""
    if size <= 0:
        raise ValueError("empty input")
    return read / size


def spread(values: list[float]) -> dict:
    """Median, quartiles, and their distance as a share of the median: the
    steadiness rule ``BENCHMARK.json`` bounds are checked against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
