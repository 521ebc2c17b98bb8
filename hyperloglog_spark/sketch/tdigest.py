"""t-digest kernel (Dunning & Ertl, "Computing extremely accurate quantiles
using t-digests", 2019) — merging-digest variant, fully deterministic.

Mergeable quantile sketch with relative accuracy concentrated at the tails
(scale function k1). Not present in the reference — added per BASELINE.json
north_star (SURVEY.md §2.4) as the cross-check quantile backend next to KLL.

Determinism: no RNG anywhere — a digest is a pure function of the multiset of
(mean, weight) centroids fed to the merge pass, and ``merge_many``
concatenates + sorts all inputs before one compression pass, so merge order
never changes the output bytes.

Codec: header(4) | delta(u16) | n(u64) | min(f64) | max(f64) |
       n_centroids(u32) | means f64[] | weights f64[]
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .codec import KIND_TDIGEST, check_header, pack_header

DEFAULT_DELTA = 100

_HDR = struct.Struct("<HQddI")


def _compress(
    means: np.ndarray, weights: np.ndarray, delta: int
) -> tuple[np.ndarray, np.ndarray]:
    """One merge pass over centroids sorted by mean (the merging-digest
    algorithm): greedily absorb neighbors while the k1 size budget allows."""
    if len(means) == 0:
        return means, weights
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = weights.sum()
    # The greedy absorb loop has a closed form per OUTPUT centroid: the k1
    # budget is fixed when a centroid opens, so its end is a prefix-sum
    # lookup. O(#centroids · log n) instead of a per-element Python loop
    # (~2000x fewer iterations at 2M raw values).
    cw = np.cumsum(weights)
    cmw = np.cumsum(means * weights)
    out_means: list[float] = []
    out_weights: list[float] = []
    start = 0
    w_so_far = 0.0
    n = len(means)
    while start < n:
        base_w = cw[start - 1] if start else 0.0
        base_s = cmw[start - 1] if start else 0.0
        limit = _q_limit_weight(w_so_far / total, total, delta)
        j = int(np.searchsorted(cw, base_w + limit, side="right")) - 1
        if j < start:
            j = start                       # first element always absorbed
        if j == start:
            # singleton segment: keep the input bit-exactly (the cumsum
            # difference below can drift by an ulp) — this is what makes
            # large-delta digests EXACT, not just close, below n ~ 2δ/π
            seg_w = float(weights[start])
            out_means.append(float(means[start]))
        else:
            seg_w = cw[j] - base_w
            seg_s = cmw[j] - base_s
            out_means.append(seg_s / seg_w)
        out_weights.append(seg_w)
        w_so_far += seg_w
        start = j + 1
    return np.array(out_means), np.array(out_weights)


def _q_limit_weight(q0: float, total: float, delta: int) -> float:
    """Max weight of a centroid starting at cumulative fraction q0."""
    k0 = (delta / (2 * math.pi)) * math.asin(2 * min(q0, 1.0) - 1)
    k1 = k0 + 1.0
    q1 = 0.5 * (math.sin(2 * math.pi * k1 / delta) + 1) if k1 < delta / 4 else 1.0
    q1 = min(max(q1, q0), 1.0)
    return max((q1 - q0) * total, 1.0)


def _serialize(delta: int, n: int, vmin: float, vmax: float,
               means: np.ndarray, weights: np.ndarray) -> bytes:
    return (
        pack_header(KIND_TDIGEST)
        + _HDR.pack(delta, n, vmin, vmax, len(means))
        + means.astype("<f8").tobytes()
        + weights.astype("<f8").tobytes()
    )


def _deserialize(sketch: bytes):
    body = check_header(sketch, KIND_TDIGEST)
    delta, n, vmin, vmax, c = _HDR.unpack_from(body, 0)
    off = _HDR.size
    means = np.frombuffer(body[off: off + 8 * c], dtype="<f8").astype(np.float64)
    weights = np.frombuffer(body[off + 8 * c: off + 16 * c], dtype="<f8").astype(
        np.float64
    )
    return delta, n, vmin, vmax, means, weights


def empty(delta: int = DEFAULT_DELTA) -> bytes:
    # upper bound = u16 codec field; large deltas are the exact-regime knob
    # (every input stays a singleton centroid while n < 2*delta/pi)
    if not 20 <= delta <= 65535:
        raise ValueError(f"delta must be in [20, 65535], got {delta}")
    return _serialize(delta, 0, math.inf, -math.inf, np.empty(0), np.empty(0))


def from_values(values: np.ndarray, delta: int = DEFAULT_DELTA) -> bytes:
    return update(empty(delta), values)


def update(sketch: bytes, values: np.ndarray) -> bytes:
    delta, n, vmin, vmax, means, weights = _deserialize(sketch)
    vals = np.asarray(values, dtype=np.float64)
    vals = vals[~np.isnan(vals)]
    if len(vals) == 0:
        return bytes(sketch)
    new_means = np.concatenate([means, vals])
    new_weights = np.concatenate([weights, np.ones(len(vals))])
    cm, cw = _compress(new_means, new_weights, delta)
    return _serialize(
        delta,
        n + len(vals),
        min(vmin, float(vals.min())),
        max(vmax, float(vals.max())),
        cm,
        cw,
    )


def update_weighted(
    sketch: bytes, values: np.ndarray, weights: np.ndarray
) -> bytes:
    """Feed weighted observations — the dedup-aware form (value with its
    multiplicity/copy-count) a curation pipeline needs when the corpus has
    been collapsed to representatives. Rows with NaN values or
    non-positive weights are dropped; ``n`` keeps counting ROWS consumed
    (the mass lives in the centroid weights, which is all the estimator
    reads)."""
    delta, n, vmin, vmax, means, ws = _deserialize(sketch)
    vals = np.asarray(values, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    if len(vals) != len(w):
        raise ValueError("values and weights must align")
    mask = ~np.isnan(vals) & ~np.isnan(w) & (w > 0)
    vals, w = vals[mask], w[mask]
    if len(vals) == 0:
        return bytes(sketch)
    cm, cw = _compress(
        np.concatenate([means, vals]), np.concatenate([ws, w]), delta
    )
    return _serialize(
        delta,
        n + len(vals),
        min(vmin, float(vals.min())),
        max(vmax, float(vals.max())),
        cm,
        cw,
    )


def from_weighted(
    values: np.ndarray, weights: np.ndarray, delta: int = DEFAULT_DELTA
) -> bytes:
    return update_weighted(empty(delta), values, weights)


def merge_many(sketches) -> bytes:
    """Multiset merge: order-independent by construction."""
    sketches = [s for s in sketches if s is not None]
    if not sketches:
        raise ValueError("merge_many needs at least one sketch")
    parts = [_deserialize(s) for s in sketches]
    delta = parts[0][0]
    for pt in parts[1:]:
        if pt[0] != delta:
            raise ValueError(f"cannot merge t-digests of different delta: "
                             f"{delta} vs {pt[0]}")
    means = np.concatenate([pt[4] for pt in parts])
    weights = np.concatenate([pt[5] for pt in parts])
    cm, cw = (_compress(means, weights, delta) if len(means)
              else (means, weights))
    return _serialize(
        delta,
        sum(pt[1] for pt in parts),
        min((pt[2] for pt in parts), default=math.inf),
        max((pt[3] for pt in parts), default=-math.inf),
        cm,
        cw,
    )


def merge(a: bytes, b: bytes) -> bytes:
    return merge_many([a, b])


def quantiles(sketch: bytes, qs) -> np.ndarray:
    """Interpolated quantile estimates at normalized ranks ``qs``."""
    delta, n, vmin, vmax, means, weights = _deserialize(sketch)
    qs = np.atleast_1d(np.asarray(qs, dtype=np.float64))
    if np.any((qs < 0) | (qs > 1)):
        raise ValueError("quantile ranks must be in [0, 1]")
    if n == 0:
        return np.full(len(qs), np.nan)
    if len(means) == 1:
        out = np.full(len(qs), means[0])
        out[qs <= 0] = vmin
        out[qs >= 1] = vmax
        return out
    total = weights.sum()
    # centroid centers in cumulative-weight space
    cum = np.cumsum(weights) - weights / 2.0
    targets = qs * total
    out = np.interp(targets, cum, means)
    out[qs <= 0] = vmin
    out[qs >= 1] = vmax
    # clamp tails to observed extrema
    return np.clip(out, vmin, vmax)


def rank(sketch: bytes, values) -> np.ndarray:
    """Estimated normalized rank (CDF) by the standard t-digest
    interpolation (Dunning & Ertl 2019 §2.2): piecewise-linear through the
    centroid midrank points (m_i, (cum_before_i + w_i/2)/W), anchored at
    (vmin, 0) and (vmax, 1); clamped outside [vmin, vmax]. Error is
    bounded by the local centroid-weight fraction (the q(1-q)/delta
    accuracy shape). Deterministic."""
    _, n, vmin, vmax, means, weights = _deserialize(sketch)
    vals = np.atleast_1d(np.asarray(values, dtype=np.float64))
    if n == 0 or len(means) == 0:
        return np.full(len(vals), np.nan)
    cum = np.cumsum(weights)
    total = cum[-1]
    mid = (cum - weights / 2.0) / total
    xp = np.concatenate(([vmin], means, [vmax]))
    fp = np.concatenate(([0.0], mid, [1.0]))
    # interp requires non-decreasing xp; centroid means can coincide with
    # vmin/vmax — keep the sequence sorted (stable on ties)
    order = np.argsort(xp, kind="stable")
    out = np.interp(vals, xp[order], fp[order])
    out[vals < vmin] = 0.0
    out[vals >= vmax] = 1.0
    return out


def trimmed_mean(sketch: bytes, q0: float, q1: float) -> float:
    """Mean of the mass with normalized rank in (q0, q1] by centroid
    interval overlap: centroid i (mean m_i, weight w_i) occupies
    (cum_{i-1}, cum_i] of the total mass W; its contribution is the
    overlap length with (q0*W, q1*W] at value m_i. Exact in the
    singleton regime (every centroid weight 1); boundary centroids
    otherwise smear by at most their width."""
    if not 0 <= q0 < q1 <= 1:
        raise ValueError(f"need 0 <= q0 < q1 <= 1, got ({q0}, {q1})")
    _, n, _, _, means, weights = _deserialize(sketch)
    if n == 0 or len(means) == 0:
        return math.nan
    cum = np.cumsum(weights)
    total = cum[-1]
    lo, hi = q0 * total, q1 * total
    prev = cum - weights
    overlap = np.clip(np.minimum(cum, hi) - np.maximum(prev, lo), 0, None)
    mass = overlap.sum()
    if mass <= 0:
        return math.nan
    return float((means * overlap).sum() / mass)


def n_items(sketch: bytes) -> int:
    return _deserialize(sketch)[1]


def n_centroids(sketch: bytes) -> int:
    return len(_deserialize(sketch)[4])


def min_max(sketch: bytes) -> tuple[float, float]:
    _, _, vmin, vmax, _, _ = _deserialize(sketch)
    return vmin, vmax
