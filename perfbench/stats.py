"""Summaries of repeated timings: median, quartiles and sample count."""

from __future__ import annotations

import statistics


def summary(values: list[float]) -> dict:
    values = list(values)
    if len(values) < 2:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values),
            "samples": values}
