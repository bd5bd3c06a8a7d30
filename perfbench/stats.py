"""Summary statistics the benchmark reports: medians, the tail
percentile a sample supports, and failure counting."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first, in tenths of a percent.
TAIL_PERMILLE = (999, 990, 950, 900, 750, 500)
MIN_BEYOND = 10


def samples_beyond(n: int, permille: int) -> int:
    """How many of ``n`` samples lie above the ``permille``/10 percentile."""
    return n * (1000 - permille) // 1000


def tail_permille(n: int) -> int | None:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when the sample is too small for any."""
    for pm in TAIL_PERMILLE:
        if samples_beyond(n, pm) >= MIN_BEYOND:
            return pm
    return None


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail(values: list[float]) -> tuple[float, str] | None:
    """(value, label) of the tail percentile the sample supports, e.g.
    ``(0.91, "p90")``; None when there are fewer than 20 samples."""
    pm = tail_permille(len(values))
    if pm is None:
        return None
    label = f"p{pm // 10}" if pm % 10 == 0 else f"p{pm / 10:g}"
    return percentile(values, pm / 10.0), label


class OpCounter:
    """Attempted and failed user-visible operations (drops, refreshes),
    with the reason each failure was counted."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, errors: list[str]) -> bool:
        """Count one operation; it failed if it produced any error."""
        self.attempted += 1
        if errors:
            self.failures.append("; ".join(errors))
        return not errors

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
