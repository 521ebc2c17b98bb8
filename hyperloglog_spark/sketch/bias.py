"""HLL++ estimator constants: alpha_m, LC/HLL selection thresholds, and the
empirical bias-correction tables.

Semantics follow the HyperLogLog++ paper (Heule, Nunkesser, Hall, EDBT 2013)
as realized by the reference:
- alpha_m: /root/reference/HyperLogLog/Utils.cs:180-193
- thresholds: /root/reference/HyperLogLog/Utils.cs:214-250 (Heule et al.
  supplementary material)
- bias tables: /root/reference/HyperLogLog/BiasCorrection.cs:98-841 (same
  published supplementary data), stored here as hllpp_bias_tables.npz
  (see scripts/extract_bias_tables.py for provenance).
"""

from __future__ import annotations

import bisect
import functools
from importlib import resources

import numpy as np

# LinearCounting-vs-HLL selection thresholds per precision (Heule et al.).
THRESHOLD = {
    4: 10.0,
    5: 20.0,
    6: 40.0,
    7: 80.0,
    8: 220.0,
    9: 400.0,
    10: 900.0,
    11: 1800.0,
    12: 3100.0,
    13: 6500.0,
    14: 11500.0,
    15: 20000.0,
    16: 50000.0,
    17: 120000.0,
    18: 350000.0,
}


def alpha_m(m: int) -> float:
    """Flajolet bias constant alpha_m."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


@functools.lru_cache(maxsize=1)
def _tables() -> dict[int, tuple[np.ndarray, np.ndarray]]:
    ref = resources.files("hyperloglog_spark.sketch") / "hllpp_bias_tables.npz"
    with ref.open("rb") as f:
        npz = np.load(f)
        return {
            p: (npz[f"raw_{p}"], npz[f"bias_{p}"]) for p in range(4, 19)
        }


def correct_bias(raw_estimate: np.ndarray, p: int) -> np.ndarray:
    """Subtract the interpolated empirical bias from each raw estimate of
    a 1-D array; clamp at 0.

    Binary-search + linear interpolation with end clamping, matching
    the reference's BiasCorrection.cs:42-93: an exact table point takes
    its bias, a raw estimate before the first or past the last point the
    end bias, any other the interpolation between its two neighbours."""
    raw_tbl, bias_tbl = _tables()[p]
    raw = np.asarray(raw_estimate, dtype=np.float64)
    n = len(raw_tbl)
    # a fresh search per estimate: the p = 5, 6 tables are not monotone,
    # and a batched searchsorted narrows each key's bounds from the last's
    keys = raw_tbl.tolist()
    idx = np.array([bisect.bisect_left(keys, x) for x in raw.tolist()],
                   np.int64)
    at = np.minimum(idx, n - 1)
    lo, hi = np.maximum(at, 1) - 1, np.maximum(at, 1)
    interp = bias_tbl[lo] + (raw - raw_tbl[lo]) / (
        raw_tbl[hi] - raw_tbl[lo]) * (bias_tbl[hi] - bias_tbl[lo])
    # before the first point, past the last, or on a point: that bias
    fixed = (idx == 0) | (idx == n) | (raw_tbl[at] == raw)
    bias = np.where(fixed, bias_tbl[at], interp)
    return np.maximum(raw - bias, 0.0)
