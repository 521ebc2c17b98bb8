"""Scalar (slow, loop-based) oracle of the reference HLL semantics, used only
in tests to cross-validate the vectorized kernel.

Transliterates the estimator pipeline of /root/reference/HyperLogLog/Utils.cs:
252-285 (sequential summation order preserved), its bias correction (the
reference's BiasCorrection.cs:42-93, one scalar binary search per
estimate) and the Count14 register-update semantics of the reference's
HyperLogLog.cs:945-991.
"""

from __future__ import annotations

import math

import numpy as np

from hyperloglog_spark.sketch import bias


def clz64_scalar(x: int) -> int:
    if x == 0:
        return 64
    n = 0
    for shift in (32, 16, 8, 4, 2, 1):
        if x >> (64 - n - shift) == 0:
            n += shift
    return n


def build_registers_scalar(hashes, p: int) -> list[int]:
    m = 1 << p
    look = [0] * m
    for h in hashes:
        h = int(h) & 0xFFFFFFFFFFFFFFFF
        idx = h >> (64 - p)
        sigma = 1 + clz64_scalar((h << p) & 0xFFFFFFFFFFFFFFFF)
        if look[idx] < sigma:
            look[idx] = sigma
    return look


def correct_bias_scalar(raw_estimate: float, p: int) -> float:
    raw_tbl, bias_tbl = bias._tables()[p]
    idx = int(np.searchsorted(raw_tbl, raw_estimate, side="left"))
    if idx < len(raw_tbl) and raw_tbl[idx] == raw_estimate:
        b = float(bias_tbl[idx])
    elif idx >= len(raw_tbl):
        b = float(bias_tbl[-1])
    elif idx <= 0:
        b = float(bias_tbl[0])
    else:
        lo, hi = float(raw_tbl[idx - 1]), float(raw_tbl[idx])
        frac = (raw_estimate - lo) / (hi - lo)
        b = float(bias_tbl[idx - 1]) + frac * (
            float(bias_tbl[idx]) - float(bias_tbl[idx - 1])
        )
    return max(raw_estimate - b, 0.0)


def estimate_scalar(look, p: int) -> int:
    m = 1 << p
    alpha = bias.alpha_m(m)
    threshold = bias.THRESHOLD[p]
    z_inverse = 0.0
    v = 0.0
    for sigma in look:  # sequential order, matching the C# loop
        z_inverse += 2.0 ** (-sigma)
        if sigma == 0:
            v += 1
    e = alpha * m * m / z_inverse
    if e <= 5.0 * m:
        e = correct_bias_scalar(e, p)
    h = m * math.log(m / v) if v > 0 else e
    if h <= threshold:
        return round(h)
    return round(e)


def mix64_scalar(x: int) -> int:
    mask = 0xFFFFFFFFFFFFFFFF
    h = x & mask
    h = (h * 0x87C37B91114253D5) & mask
    rot = ((h << 31) | (h >> 33)) & mask
    h = h ^ ((rot * 0x4CF5AD432745937F) & mask)
    h = ((h ^ (h >> 33)) * 0xFF51AFD7ED558CCD) & mask
    h ^= h >> 33
    return h


def fnv1a64_utf16le_scalar(s: str) -> int:
    mask = 0xFFFFFFFFFFFFFFFF
    h = 14695981039346656037
    data = s.encode("utf-16-le")
    for i in range(0, len(data), 2):
        unit = data[i] | (data[i + 1] << 8)
        h ^= unit
        h = (h * 0x100000001B3) & mask
    return h
