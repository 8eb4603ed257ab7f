"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values):
    return statistics.median(values) if values else None


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest of p99/p95/p90/p75/p50 with at least 10 samples
    beyond it, as (value, percentile); (None, None) below 20 samples."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            # statistics.quantiles' default (exclusive) method, one cut
            return statistics.quantiles(values, n=100)[p - 1], p
    return None, None


def tail_note(values: list[float], p: int | None) -> str:
    return f"p{p}, n={len(values)}" if p else f"n={len(values)} < 20, no tail"
