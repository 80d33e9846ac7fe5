"""Plain-Python replays of the engines' numeric conventions, shared by the
catalog tests that recompute an entry's output without Spark."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal


def _round_half_up(x: float, dp: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


def _q_half_up(x: float) -> int:
    """CAST(round(x) AS BIGINT) with Spark/DuckDB HALF_UP semantics."""
    return int(Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP))


def _h60(s: str) -> int:
    """``datapipe.hashing.hash60``: the first 15 hex digits of md5."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _phi(z: float) -> float:
    """The logistic approximation of the standard normal CDF the entries use."""
    return 1.0 / (1.0 + math.exp(-1.5976 * z - 0.07056 * z * z * z))
