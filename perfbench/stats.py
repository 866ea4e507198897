"""Summary statistics shared by the workloads."""

from __future__ import annotations


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and
    that percentile. Below twenty samples no percentile at or above the
    median has ten beyond it, so the maximum (100) stands in."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n
