"""Percentiles, the supported-percentile rule and failure counting."""

from __future__ import annotations

import hashlib
import math

#: the percentiles a run may report, lowest first
LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)
#: a percentile is supported when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def supported_percentile(n: int) -> float | None:
    """The highest percentile of :data:`LADDER` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or None."""
    best = None
    for q in LADDER:
        if round(n * (100.0 - q) / 100.0, 6) >= MIN_BEYOND:
            best = q
    return best


def latency_summary(seconds) -> dict:
    """p50/p90 in ms of a pooled sample, with the sample count and the
    highest percentile the sample supports."""
    ms = [s * 1e3 for s in seconds]
    return {"n": len(ms), "p50_ms": percentile(ms, 50.0),
            "p90_ms": percentile(ms, 90.0),
            "supported": supported_percentile(len(ms))}


def timed_passes(seconds: float, nominal_s: float) -> int:
    """Passes (or rounds) of nominal length ``nominal_s`` nearest to
    ``seconds``, at least 2."""
    return max(2, round(seconds / nominal_s))


class Tally:
    """Operations attempted and failed; keeps the first few reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok

    def post(self, status: int, what: str = "") -> bool:
        """One OTLP POST: only a 2xx response counts as done."""
        return self.record(200 <= status < 300, f"{what} HTTP {status}")


def rows_digest(columns, rows) -> str:
    """Order-insensitive digest of a result, on the oracle's normalised
    cell strings."""
    from otel_arrow_collector_spark.oracle import norm_rows
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for r in norm_rows(list(columns), rows):
        h.update(repr(r).encode())
    return h.hexdigest()
