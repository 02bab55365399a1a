"""Sample statistics with the benchmark's percentile rule: a
percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it."""

from __future__ import annotations

import math
from typing import Optional

MIN_BEYOND = 10


def percentile(values, q: float) -> Optional[float]:
    """Nearest-rank ``q``-quantile (0 < q < 1), or None when fewer than
    ``MIN_BEYOND`` samples lie above it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]

