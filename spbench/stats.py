"""Throughput and spread math shared by the run and the summary."""

from __future__ import annotations

import statistics


def rows_per_s(rows_per_op: float, op_ms: list[float]) -> float:
    """Input rows over the summed op wall time: a mean rate, so it stays
    steady when op times are bimodal."""
    total_s = sum(op_ms) / 1000.0
    if total_s <= 0:
        raise ValueError("rows_per_s needs a positive op time")
    return rows_per_op * len(op_ms) / total_s


def spread(values: list[float]) -> dict:
    """Median, quartiles and inter-quartile spread as a share of the
    median, with the quartiles ``statistics.quantiles(values, n=4)``
    gives (the default, exclusive method)."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("nan"),
    }
