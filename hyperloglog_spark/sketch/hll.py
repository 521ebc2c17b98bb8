"""HyperLogLog++ kernel: vectorized register updates, sparse/dense codec,
associative merge, and the HLL++ estimator.

Semantics (re-implemented from scratch; the reference defines WHAT):
- register update: idx = top p bits of the 64-bit hash, sigma = 1 + number of
  leading zeros of (hash << p) — LZCNT semantics of the reference's tested
  fast path (/root/reference/HyperLogLog/HyperLogLog.cs:945-991 "Count14",
  /root/reference/HyperLogLog/HyperLogLog14.cs:37-44). On an all-zero suffix
  sigma = 65 (LZCNT(0) = 64); we follow the tested path, not the instance
  loop which caps at bitsForHll+1.
- sparse→dense promotion threshold: occupied > max(0, m//15 - 10)
  (/root/reference/HyperLogLog/HyperLogLog.cs:116).
- estimator: HLL++ pipeline of /root/reference/HyperLogLog/Utils.cs:252-285 —
  raw harmonic estimate, empirical bias subtraction when E <= 5m, linear
  counting when any register is zero, threshold selection.
- merge: register-wise max, requiring equal precision
  (/root/reference/HyperLogLog/HyperLogLog.cs:733-781).

Everything is batch-vectorized numpy — zero per-row Python. One sketch is a
``bytes`` value (see codec.py envelope):

    header(4) | p(1) | mode(1: 0=sparse,1=dense) | payload
    dense payload:  m register bytes
    sparse payload: n * (uint16-LE index, uint8 rank)
"""

from __future__ import annotations

import math

import numpy as np

from . import bias
from .codec import KIND_HLL, check_header, pack_header
from .hashing import clz64

U64 = np.uint64

MODE_SPARSE = 0
MODE_DENSE = 1

DEFAULT_P = 14

RANKS = 66  # register ranks 0..65: σ = 1 + clz64(h << p) <= 65

# grouped register build: below this many total registers (n_groups × m)
# use the O(n) dense max-scatter; above it, the sort path whose memory is
# bounded by distinct (group, register) pairs. 2^26 B = one 64 MB page.
_DENSE_ACCUM_CAP = 1 << 26


def _validate_p(p: int) -> None:
    if not 4 <= p <= 16:
        raise ValueError(f"precision p must be in [4, 16], got {p}")


def sparse_max_elements(p: int) -> int:
    """Promotion threshold, mirrors max(0, m/15 - 10) of the reference."""
    return max(0, (1 << p) // 15 - 10)


# ---------------------------------------------------------------- codec


def _serialize(p: int, regs_idx: np.ndarray, regs_rank: np.ndarray) -> bytes:
    """Serialize occupied registers (sparse pairs) choosing sparse/dense."""
    header = pack_header(KIND_HLL)
    n = len(regs_idx)
    if n <= sparse_max_elements(p):
        payload = np.empty(n, dtype=[("idx", "<u2"), ("rank", "u1")])
        payload["idx"] = regs_idx.astype(np.uint16)
        payload["rank"] = regs_rank.astype(np.uint8)
        return header + bytes((p, MODE_SPARSE)) + payload.tobytes()
    dense = np.zeros(1 << p, dtype=np.uint8)
    dense[regs_idx.astype(np.int64)] = regs_rank.astype(np.uint8)
    return header + bytes((p, MODE_DENSE)) + dense.tobytes()


def _serialize_dense(p: int, dense: np.ndarray) -> bytes:
    """Serialize a dense register array, demoting to sparse when small."""
    occupied = np.flatnonzero(dense)
    if len(occupied) <= sparse_max_elements(p):
        return _serialize(p, occupied, dense[occupied])
    return pack_header(KIND_HLL) + bytes((p, MODE_DENSE)) + dense.tobytes()


def empty(p: int = DEFAULT_P) -> bytes:
    _validate_p(p)
    return _serialize(p, np.empty(0, np.int64), np.empty(0, np.uint8))


def precision(sketch: bytes) -> int:
    body = check_header(sketch, KIND_HLL)
    return body[0]


def registers(sketch: bytes) -> np.ndarray:
    """Decode to the dense m-byte register array (always a fresh array)."""
    body = check_header(sketch, KIND_HLL)
    p, mode = body[0], body[1]
    _validate_p(p)
    m = 1 << p
    payload = np.frombuffer(body[2:], dtype=np.uint8)
    if mode == MODE_DENSE:
        if len(payload) != m:
            raise ValueError(f"dense HLL payload length {len(payload)} != m={m}")
        return payload.copy()
    pairs = payload.view([("idx", "<u2"), ("rank", "u1")])
    dense = np.zeros(m, dtype=np.uint8)
    dense[pairs["idx"].astype(np.int64)] = pairs["rank"]
    return dense


def _sparse_pairs(sketch: bytes) -> tuple[int, np.ndarray, np.ndarray]:
    """Decode to (p, idx[], rank[]) without materializing dense if sparse."""
    body = check_header(sketch, KIND_HLL)
    p, mode = body[0], body[1]
    payload = np.frombuffer(body[2:], dtype=np.uint8)
    if mode == MODE_SPARSE:
        pairs = payload.view([("idx", "<u2"), ("rank", "u1")])
        return p, pairs["idx"].astype(np.int64), pairs["rank"].copy()
    occ = np.flatnonzero(payload)
    return p, occ, payload[occ]


# ---------------------------------------------------------------- update


def _idx_sigma(hashes: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    idx = (h >> U64(64 - p)).astype(np.int64)
    sigma = (U64(1) + clz64(h << U64(p))).astype(np.uint8)
    return idx, sigma


def from_hashes(hashes: np.ndarray, p: int = DEFAULT_P) -> bytes:
    """Build a sketch from pre-hashed uint64 values in one vectorized pass."""
    _validate_p(p)
    idx, sigma = _idx_sigma(hashes, p)
    dense = np.zeros(1 << p, dtype=np.uint8)
    np.maximum.at(dense, idx, sigma)
    return _serialize_dense(p, dense)


def update(sketch: bytes, hashes: np.ndarray) -> bytes:
    """Fold a batch of pre-hashed values into an existing sketch."""
    p = precision(sketch)
    dense = registers(sketch)
    idx, sigma = _idx_sigma(hashes, p)
    np.maximum.at(dense, idx, sigma)
    return _serialize_dense(p, dense)


def group_from_hashes(
    group_codes: np.ndarray, hashes: np.ndarray, n_groups: int, p: int = DEFAULT_P
) -> list[bytes]:
    """Build one sketch per group in a single vectorized pass.

    ``group_codes`` are dense int codes in [0, n_groups). Memory is
    proportional to the number of distinct (group, register) pairs, not
    n_groups * m — this is what keeps high-cardinality groupBy sketching
    viable per partition (map-side combine).
    """
    idx, sigma = _idx_sigma(hashes, p)
    return group_from_registers(group_codes, idx, sigma, n_groups, p)


def group_from_registers(
    group_codes: np.ndarray,
    idx: np.ndarray,
    sigma: np.ndarray,
    n_groups: int,
    p: int = DEFAULT_P,
) -> list[bytes]:
    """Like group_from_hashes but over pre-split (idx, σ) pairs — the input
    shape when the register computation already ran JVM-side."""
    _validate_p(p)
    m = 1 << p
    if n_groups * m <= _DENSE_ACCUM_CAP:
        # O(n) unbuffered max-scatter into a flat group×register page —
        # ~85x faster than the sort path at 2M rows (and the common case:
        # the global aggregate and low-cardinality groupBys). Bytes are
        # identical: nonzero registers come out index-sorted either way.
        dense = np.zeros(n_groups * m, dtype=np.uint8)
        key = group_codes.astype(np.int64) * m + idx
        np.maximum.at(dense, key, sigma)
        out: list[bytes] = []
        for g in range(n_groups):
            seg = dense[g * m:(g + 1) * m]
            nz = np.flatnonzero(seg)
            out.append(_serialize(p, nz, seg[nz]))
        return out
    # high-cardinality groupings: memory ∝ distinct (group, register)
    # pairs, not n_groups × m
    key = group_codes.astype(np.int64) * m + idx
    order = np.argsort(key, kind="stable")
    k_sorted = key[order]
    s_sorted = sigma[order]
    boundaries = np.flatnonzero(np.diff(k_sorted)) + 1
    starts = np.concatenate(([0], boundaries))
    uniq_key = k_sorted[starts]
    max_rank = np.maximum.reduceat(s_sorted, starts) if len(k_sorted) else s_sorted
    g_of_key = uniq_key // m
    idx_of_key = uniq_key % m
    out: list[bytes] = []
    group_starts = np.searchsorted(g_of_key, np.arange(n_groups + 1))
    for g in range(n_groups):
        lo, hi = group_starts[g], group_starts[g + 1]
        out.append(_serialize(p, idx_of_key[lo:hi], max_rank[lo:hi]))
    return out


# ---------------------------------------------------------------- merge


def merge_many(sketches) -> bytes:
    """Register-wise max of any number of sketches (associative, commutative,
    idempotent). Mixed precisions raise, mirroring the reference's equal-m
    requirement (/root/reference/HyperLogLog/HyperLogLog.cs:740-744)."""
    sketches = [s for s in sketches if s is not None]
    if not sketches:
        raise ValueError("merge_many needs at least one sketch")
    p0 = precision(sketches[0])
    for s in sketches[1:]:
        if precision(s) != p0:
            raise ValueError(
                f"cannot merge HLL sketches of different precision: "
                f"{p0} vs {precision(s)}"
            )
    if len(sketches) == 1:
        return bytes(sketches[0])
    # Small unions stay sparse end-to-end; otherwise one dense max-reduce.
    total_pairs = sum(
        (len(s) - 6) // 3 if s[5] == MODE_SPARSE else 1 << 30 for s in sketches
    )
    if total_pairs <= sparse_max_elements(p0):
        idxs, ranks = [], []
        for s in sketches:
            _, i, r = _sparse_pairs(s)
            idxs.append(i)
            ranks.append(r)
        idx = np.concatenate(idxs)
        rank = np.concatenate(ranks)
        if len(idx) == 0:                 # all inputs empty-sparse
            return _serialize(p0, idx, rank)
        order = np.argsort(idx, kind="stable")
        i_sorted, r_sorted = idx[order], rank[order]
        starts = np.concatenate(
            ([0], np.flatnonzero(np.diff(i_sorted)) + 1)
        )
        uniq = i_sorted[starts]
        mx = np.maximum.reduceat(r_sorted, starts)
        return _serialize(p0, uniq, mx)
    acc = registers(sketches[0])
    for s in sketches[1:]:
        _, i, r = _sparse_pairs(s)
        np.maximum.at(acc, i, r)
    return _serialize_dense(p0, acc)


def merge(a: bytes, b: bytes) -> bytes:
    return merge_many([a, b])


def fold(sketch: bytes, p_target: int) -> bytes:
    """EXACTLY downgrade a sketch to a lower precision from register state
    alone — no rehash, no data. For hash h, the d = p − p' index bits that
    p' no longer consumes become the leading suffix bits, so each register
    (idx, σ) maps deterministically:

        b = idx & (2^d − 1)          # the dropped index bits
        idx' = idx >> d
        σ'   = σ + d                 if b == 0   (suffix gains d zero bits)
             = d − bit_length(b) + 1 otherwise   (b's top 1-bit decides)

    σ' is monotone in σ (b==0) or σ-independent (b≠0), so folding register
    MAXIMA yields exactly the register maxima of a direct p'-precision
    build over the same hashes: ``fold(from_hashes(h, p), p') ==
    from_hashes(h, p')`` byte-for-byte (asserted in tests). The practical
    use is merging sketches of mixed precision: fold the finer one down,
    then merge. (The reference hard-rejects mixed-m merges,
    /root/reference/HyperLogLog/HyperLogLog.cs:740-744; folding is the
    standard library extension that makes them lawful.)"""
    p = precision(sketch)
    _validate_p(p_target)
    if p_target == p:
        return bytes(sketch)
    if p_target > p:
        raise ValueError(
            f"can only fold DOWN: sketch has p={p}, target {p_target}"
        )
    d = p - p_target
    _, idx, rank = _sparse_pairs(sketch)
    if len(idx) == 0:
        return _serialize(p_target, idx, rank)
    b = idx & ((1 << d) - 1)
    idx2 = idx >> d
    # bit_length(b) for b>=1 is the frexp exponent (exact: b < 2^16 << 2^53)
    blen = np.frexp(b.astype(np.float64))[1]
    # σ = 65 is the SATURATED all-zero-suffix value (clz64(0) == 64, LZCNT
    # semantics): prepending d more zero bits keeps it saturated at 65 —
    # only finite ranks shift by d.
    r = rank.astype(np.int64)
    sigma2 = np.where(
        b == 0, np.where(r == 65, r, r + d), d - blen + 1
    ).astype(np.uint8)
    # idx is sorted and idx2 = idx >> d preserves order: segment-max per idx2
    starts = np.concatenate(([0], np.flatnonzero(np.diff(idx2)) + 1))
    return _serialize(
        p_target, idx2[starts], np.maximum.reduceat(sigma2, starts)
    )


# ---------------------------------------------------------------- estimate


def estimate(sketch: bytes) -> int:
    """HLL++ cardinality estimate (pipeline per Utils.Count, see module doc)."""
    p = precision(sketch)
    regs = registers(sketch)
    return estimate_registers(regs, p)


def estimate_registers(regs: np.ndarray, p: int) -> int:
    return estimate_histogram(np.bincount(regs, minlength=1), p)


def estimate_histogram(counts: np.ndarray, p: int) -> int:
    """The HLL++ estimate from the register-rank histogram alone
    (``counts[r]`` = number of registers holding rank r): the one-row case
    of ``estimate_histograms``."""
    row = np.zeros((1, max(RANKS, len(counts))), np.int64)
    row[0, :len(counts)] = counts
    return int(estimate_histograms(row, p)[0])


def estimate_histograms(counts: np.ndarray, p: int) -> np.ndarray:
    """The HLL++ estimates of many rank histograms in one vectorized pass
    (``counts[g, r]`` = number of registers of row g holding rank r; Heule
    et al. 2013, Ertl 2017): no m-byte register array is needed. Rounded
    half-to-even like ``round``, as float64 (no int64 overflow); the
    linear-counting log is Python's ``math.log`` per row."""
    m = 1 << p
    v = counts[:, 0].astype(np.float64)
    # zInverse = sum(2^-reg) computed per distinct register value: each
    # term counts[r] * 2^-r is exact in float64, and so is the sum while
    # every rank stays below ~40
    r_vals = np.arange(counts.shape[1], dtype=np.float64)
    zinv = (counts * np.exp2(-r_vals)).sum(axis=1)
    e = bias.alpha_m(m) * m * m / zinv
    small = e <= 5.0 * m
    e[small] = bias.correct_bias(e[small], p)
    h = e.copy()
    lc = v > 0
    h[lc] = [m * math.log(m / x) for x in v[lc].tolist()]
    return np.rint(np.where(h <= bias.THRESHOLD[p], h, e))


def error_bound(p: int) -> float:
    """Published relative standard error 1.04 / sqrt(m)."""
    return 1.04 / math.sqrt(1 << p)


def union_estimate(sketches) -> int:
    """|A ∪ B ∪ ...| — exact register-max merge then estimate (the union of
    HLL sketches is lossless: same registers as sketching the union)."""
    return estimate(merge_many(sketches))


def intersection_estimate(a: bytes, b: bytes) -> int:
    """|A ∩ B| via inclusion-exclusion. Error grows when the true
    intersection is small relative to the union (the classic HLL caveat —
    each term carries ±1.04/√m of ITS estimate); clamped at 0."""
    return max(0, estimate(a) + estimate(b) - union_estimate([a, b]))


def jaccard_estimate(a: bytes, b: bytes) -> float:
    """Jaccard similarity |A∩B| / |A∪B| from two sketches."""
    u = union_estimate([a, b])
    return intersection_estimate(a, b) / u if u else 0.0


def count_prehashed(hashes: np.ndarray, p: int = DEFAULT_P) -> int:
    """One-shot build + estimate over pre-hashed uint64 values — the
    ``Count14`` fast path (/root/reference/HyperLogLog/HyperLogLog.cs:945-991)
    semantics, without replicating its tail-loop bug (the reference's scalar
    tail never advances when ``len % 4 != 0``; vectorization has no tail)."""
    return estimate(from_hashes(hashes, p))
