"""6-decimal rounding, half away from zero — the one convention every
driver-side metric uses.

DuckDB's ``round()`` rounds half away from zero, and the oracle gates
compare at 6dp; Python's builtin ``round`` is banker's and diverges on
exact 5e-7 boundaries.  On non-negative input this is the half-up
``floor(x·1e6 + 0.5) / 1e6``.  NaN and ±inf pass through unchanged
(failed-expectation sentinels)."""

from __future__ import annotations

import math

import numpy as np


def round6(x: float) -> float:
    if not math.isfinite(x):
        return x
    if x >= 0:
        return math.floor(x * 1e6 + 0.5) / 1e6
    return -math.floor(-x * 1e6 + 0.5) / 1e6


def round6_vec(x: np.ndarray) -> np.ndarray:
    """Elementwise ``round6``."""
    return np.where(x >= 0, np.floor(x * 1e6 + 0.5), -np.floor(-x * 1e6 + 0.5)) / 1e6
