"""Vectorized 64-bit hash / bit-manipulation kernels (pure numpy, uint64).

Parity notes (semantics defined by the reference, re-implemented from scratch):
- ``mix64`` reproduces the Murmur3-finalizer-style mixer the reference applies
  to fixed-width numeric inputs (/root/reference/HyperLogLog/HyperLogLog.cs:809-817,
  constants :21-22).
- ``fnv1a64_utf16le`` reproduces FNV-1a 64 folded over UTF-16 code units, the
  reference's string hash (/root/reference/HyperLogLog/HyperLogLog.cs:143-159).
- ``clz64`` is a branchless leading-zero count matching the semantics of the
  LZCNT intrinsic used by the reference's tested fast path
  (/root/reference/HyperLogLog/HyperLogLog.cs:962-965): clz64(0) == 64.

Everything operates on whole numpy arrays — zero per-row Python. All uint64
arithmetic relies on numpy's modular wraparound (matching C#'s unchecked
64-bit arithmetic).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64

# Murmur3 fmix / mixing constants (public Murmur3 constants).
_C1 = U64(0x87C37B91114253D5)
_C2 = U64(0x4CF5AD432745937F)
_FMIX = U64(0xFF51AFD7ED558CCD)

_FNV64_INIT = U64(14695981039346656037)
_FNV64_PRIME = U64(0x100000001B3)

# SWAR popcount constants
_M1 = U64(0x5555555555555555)
_M2 = U64(0x3333333333333333)
_M4 = U64(0x0F0F0F0F0F0F0F0F)
_H01 = U64(0x0101010101010101)

_ONE = U64(1)


def _as_u64(x: np.ndarray) -> np.ndarray:
    """Reinterpret (not value-convert) integer arrays as uint64."""
    x = np.asarray(x)
    if x.dtype == np.uint64:
        return x
    if x.dtype == np.int64:
        return x.view(np.uint64)
    return x.astype(np.int64).view(np.uint64)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit population count (SWAR)."""
    x = _as_u64(x).copy()
    x -= (x >> _ONE) & _M1
    x = (x & _M2) + ((x >> U64(2)) & _M2)
    x = (x + (x >> U64(4))) & _M4
    return (x * _H01) >> U64(56)


def clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros; clz64(0) == 64 (LZCNT semantics)."""
    x = _as_u64(x).copy()
    # smear the highest set bit downward, then popcount the complement
    x |= x >> _ONE
    x |= x >> U64(2)
    x |= x >> U64(4)
    x |= x >> U64(8)
    x |= x >> U64(16)
    x |= x >> U64(32)
    return U64(64) - popcount64(x)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << U64(r)) | (x >> U64(64 - r))


def mix64(values: np.ndarray) -> np.ndarray:
    """Murmur3-constant 64-bit mixer over a uint64/int64 array.

    h *= C1; h ^= rotl(h,31) * C2; h = (h ^ h>>33) * FMIX; h ^= h>>33
    (semantics per /root/reference/HyperLogLog/HyperLogLog.cs:809-817).
    """
    h = _as_u64(values).copy()
    with np.errstate(over="ignore"):
        h *= _C1
        h ^= _rotl64(h, 31) * _C2
        h = (h ^ (h >> U64(33))) * _FMIX
        h ^= h >> U64(33)
    return h


def fnv1a64_bytes_batch(buf: np.ndarray, offsets: np.ndarray, unit: str = "u1") -> np.ndarray:
    """FNV-1a 64 over variable-length slices of a flat byte buffer.

    ``buf`` is the concatenation of all inputs viewed as ``unit`` dtype
    (``'u1'`` bytes or ``'<u2'`` UTF-16-LE code units); ``offsets`` has
    n+1 entries delimiting each input's units. Vectorized across rows:
    the loop is over *positions* (max length), each step a numpy gather
    over all rows still active — no per-row Python.
    """
    units = buf.view(unit).astype(np.uint64)
    starts = offsets[:-1].astype(np.int64)
    lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
    n = len(lens)
    out = np.full(n, _FNV64_INIT, dtype=np.uint64)
    if n == 0:
        return out
    # process rows longest-first so the active set is a contiguous prefix
    order = np.argsort(-lens, kind="stable")
    s_starts, s_lens = starts[order], lens[order]
    s_out = out[order].copy()
    max_len = int(s_lens[0]) if n else 0
    # boundaries[i] = number of rows with length > i  (descending-sorted lens)
    with np.errstate(over="ignore"):
        for i in range(max_len):
            k = int(np.searchsorted(-s_lens, -i, side="left"))
            if k == 0:
                break
            u = units[s_starts[:k] + i]
            s_out[:k] ^= u
            s_out[:k] *= _FNV64_PRIME
    out[order] = s_out
    return out


def fnv1a64_utf16le(strings) -> np.ndarray:
    """Reference-parity string hash: FNV-1a 64 over UTF-16 code units.

    Accepts a pandas Series / numpy object array / list of str (None → hash of
    empty string, i.e. the FNV offset basis).
    """
    import pandas as pd

    s = pd.Series(strings, dtype="object").fillna("")
    encoded = s.str.encode("utf-16-le")
    lens = encoded.str.len().to_numpy(dtype=np.int64) // 2
    flat = np.frombuffer(b"".join(encoded.tolist()), dtype=np.uint8)
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return fnv1a64_bytes_batch(flat, offsets, unit="<u2")


def fnv1a64_binary(blobs) -> np.ndarray:
    """FNV-1a 64 over raw bytes (our byte-array hash; see SURVEY.md §2 #10 —
    we deliberately use FNV-1a here instead of the reference's weak rolling
    checksum, /root/reference/HyperLogLog/HyperLogLog.cs:220-234)."""
    import pandas as pd

    s = pd.Series(blobs, dtype="object").map(lambda b: b if b is not None else b"")
    lens = s.str.len().to_numpy(dtype=np.int64)
    flat = np.frombuffer(b"".join(s.tolist()), dtype=np.uint8)
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return fnv1a64_bytes_batch(flat, offsets, unit="u1")

