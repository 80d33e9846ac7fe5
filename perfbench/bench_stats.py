"""Pure statistics and accounting used by the benchmark (no Spark)."""

from __future__ import annotations

import math
from dataclasses import dataclass, field


def tail_latency(samples: list[float], min_above: int = 10) -> tuple[float, int, int] | None:
    """The latency at the highest whole percentile that still has at least
    ``min_above`` samples strictly above it, as ``(value, percentile, n)``.

    Percentiles use the nearest-rank rule (the value at rank
    ``ceil(p/100 * n)``). Returns None when no percentile qualifies, which
    is always the case for ``n <= min_above``.
    """
    s = sorted(samples)
    n = len(s)
    for p in range(99, 0, -1):
        value = s[max(1, math.ceil(p / 100 * n)) - 1]
        if sum(1 for x in s if x > value) >= min_above:
            return value, p, n
    return None


@dataclass
class Tally:
    """Requests attempted and failed, with the reasons per entry.

    A request fails when it raises or when its output does not match the
    oracle. ``failed_ratio`` is failures over attempts.
    """

    attempted: int = 0
    failed: int = 0
    failures: dict[str, list[str]] = field(default_factory=dict)

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.setdefault(name, []).append(error)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def timed_request(request, clock) -> tuple[float, object, str | None]:
    """Run one request; return ``(latency_s, result, error)``. A request
    that raises returns its latency, a None result and the error text."""
    t0 = clock()
    try:
        result = request()
    except Exception as exc:  # noqa: BLE001 - every failure is counted, none is fatal
        first_line = str(exc).splitlines()[0] if str(exc) else ""
        return clock() - t0, None, f"{type(exc).__name__}: {first_line}"[:300]
    return clock() - t0, result, None


def run_pass(names, request_for, tally: Tally, clock, check=None, between=None) -> list[tuple[str, float]]:
    """One closed-loop pass: send the request for each name in order, the
    next only after the previous one completed.

    ``request_for(name)`` returns the request callable. ``check(name,
    result)`` (untimed) returns an error text or None; it runs only for
    requests that did not raise. ``between(name)`` runs untimed after each
    request. Every request is recorded once in ``tally``. Returns
    ``(name, latency_s)`` in request order.
    """
    latencies = []
    for name in names:
        latency, result, error = timed_request(request_for(name), clock)
        if error is None and check is not None:
            error = check(name, result)
        tally.record(name, error)
        latencies.append((name, latency))
        if between is not None:
            between(name)
    return latencies
