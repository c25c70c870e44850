"""Order statistics used by every workload's report."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> dict:
    """The highest whole percentile that has at least ``beyond`` samples
    above it, with its value (nearest rank) and the sample count.

    With fewer than ``beyond + 1`` samples no percentile qualifies and
    the maximum is reported with ``pct`` set to ``None``.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return {"pct": None, "value": xs[-1] if xs else None, "n": n}
    # the p-th percentile's rank ceil(p n / 100) must leave ``beyond`` above
    pct = min(99, 100 * (n - beyond) // n)
    return {"pct": pct, "value": xs[-(-pct * n // 100) - 1], "n": n}


def summary(values: list[float], unit: str = "s") -> dict:
    """Median, tail (with its percentile) and count of one series."""
    t = tail(values)
    return {"p50": median(values) if values else None, "tail": t["value"],
            "tail_pct": t["pct"], "n": len(values), "unit": unit}


def value(v: float, unit: str, n: int) -> dict:
    """One reported number with its unit and sample count."""
    return {"value": v, "unit": unit, "n": n}
