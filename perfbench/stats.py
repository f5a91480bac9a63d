"""Statistics and naming rules shared by the runner and its tests."""

from __future__ import annotations

import math
import re
import statistics
from fractions import Fraction

# A percentile is reported only when at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def supported_percentile(n: int, tail: int = TAIL_SAMPLES) -> float | None:
    """Highest ladder percentile with at least ``tail`` of ``n``
    samples beyond it; None when even the median lacks them."""
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= tail:
            return p
    return None


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples,
    in exact arithmetic (99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        raise ValueError("percentile of no samples")
    return sorted(xs)[_rank(p, len(xs)) - 1]


def relative_spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median, the way the
    agreement check reads a set of runs."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def worse_by(first: list[float], second: list[float], better: str) -> float:
    """How much worse the second set's median is than the first's, as
    a share of the first (negative when it is better)."""
    a, b = statistics.median(first), statistics.median(second)
    return (b - a) / a if better == "lower" else (a - b) / a


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))
