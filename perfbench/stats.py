"""Pure statistics and output helpers (no Spark, no I/O)."""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation percentile, ``q`` in [0, 100] (numpy's default)."""
    if not len(values):
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def geomean(values) -> float:
    """Geometric mean: every query weighs the same, however long it runs."""
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def flattened(pass_times: Sequence[float], tol: float = 0.1) -> bool:
    """True once the last pass is within ``tol`` of the one before it and
    no slower than ``1 + tol`` times the fastest pass seen so far — the
    warm-up trend has stopped falling."""
    if len(pass_times) < 2:
        return False
    last, prev = pass_times[-1], pass_times[-2]
    return abs(last - prev) <= tol * prev and last <= (1 + tol) * min(pass_times)


def event_latencies(emit_ms: float, first_due_ms: float, n: int, rate_eps: float) -> np.ndarray:
    """Per-event latency of one micro-batch: every event is due ``1000 /
    rate`` ms after the previous one, starting at ``first_due_ms``, and all
    ``n`` of them are seen when the batch result is emitted at ``emit_ms``."""
    due = first_due_ms + np.arange(n) * (1000.0 / rate_eps)
    return emit_ms - due


def growth(values: Sequence[float]) -> float:
    """Least-squares slope per sample; 0 for fewer than two samples."""
    if len(values) < 2:
        return 0.0
    x = np.arange(len(values), dtype=float)
    return float(np.polyfit(x, np.asarray(values, dtype=float), 1)[0])


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    """The benchmark's final stdout object; rejects malformed values."""
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    for name, m in metrics.items():
        v = m.get("value")
        if not isinstance(v, float) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} has keys {sorted(m)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
