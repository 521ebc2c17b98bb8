"""Frequent-Directions DataFrame API: distributed Gram/covariance sketching
over embedding columns (array<float/double>).

    sk = fd_build(emb, "embedding", ell=128)       # driver-held bytes
    G  = fd.gram(sk)                               # d x d, certified error
    per_label = fd_agg(emb, "embedding", group_by="label", ell=64)

Rides the same two-phase skeleton as every other sketch: per-partition FD
partials (ell x d float64 buffers), then concatenate-and-reshrink merges.
The shuffle moves O(ell * d * 8)-byte rows — for ell=128, d=1024 that is
~1 MB per partition regardless of how many billion embedding rows fed it.
Unlike the hash sketches the merged bytes depend on merge order; the PSD
error certificate (delta_sum, carried in the state) does not.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import SketchAggregator, collect_merged, sketch_agg
from .sketch import fd

__all__ = ["FdAggregator", "fd_build", "fd_agg", "fd_gram_long",
           "principal_components"]


def _to_matrix(arr) -> np.ndarray:
    """Arrow list<float> -> (n, d) float64, zero python-object round trips.
    Requires a fixed dim (ragged input is a schema error for embeddings)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros((0, 0))
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    if arr.null_count:
        raise ValueError("embedding column contains nulls")
    if len(flat) % n:
        raise ValueError("ragged embedding column (dims differ across rows)")
    d = len(flat) // n
    offsets = arr.offsets.to_numpy()
    if (np.diff(offsets) != d).any():
        raise ValueError("ragged embedding column (dims differ across rows)")
    return flat.reshape(n, d)


class FdAggregator(SketchAggregator):
    name = "fd"

    def __init__(self, ell: int = fd.DEFAULT_ELL):
        fd.empty(ell)  # validate eagerly
        self.ell = ell
        self.finalize_fields = [
            T.StructField("n_rows_kept", T.LongType(), False),
            T.StructField("delta_sum", T.DoubleType(), False),
            T.StructField("fro2", T.DoubleType(), False),
        ]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        (c,) = cols
        return [F.col(c)]

    def build(self, cols, bounds) -> list[bytes]:
        mat = _to_matrix(cols[0])
        return [fd.append(fd.empty(self.ell), mat[s:e])
                for s, e in zip(bounds, bounds[1:])]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return fd.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        _, _, n, delta, fro2 = fd.params(sketch)
        return {"n_rows_kept": n, "delta_sum": delta, "fro2": fro2}


def fd_build(df: DataFrame, vec_col: str, ell: int = fd.DEFAULT_ELL,
             fan_in: int = 32) -> bytes:
    """Distributed FD build -> driver-held sketch bytes (<= 2*ell*d*8 + 22)."""
    return collect_merged(df, vec_col, FdAggregator(ell), fan_in=fan_in)


def fd_agg(
    df: DataFrame,
    vec_col: str,
    group_by: str | list[str] | None = None,
    ell: int = fd.DEFAULT_ELL,
) -> DataFrame:
    """Per-group FD sketches as a BinaryType column."""
    return sketch_agg(df, vec_col, FdAggregator(ell), group_by,
                      finalize=False)


def fd_gram_long(
    spark, sketch: bytes, dims: int | None = None
) -> DataFrame:
    """Upper-triangular Gram entries of a driver-held sketch as a DataFrame
    of (i, j, gram) rows — the inspectable/joinable form of B^T B. ``dims``
    limits output to the leading principal submatrix."""
    g = fd.gram(sketch)
    d = g.shape[0] if dims is None else min(dims, g.shape[0])
    rows = [
        (i, j, float(g[i, j])) for i in range(d) for j in range(i, d)
    ]
    schema = T.StructType([
        T.StructField("i", T.LongType(), False),
        T.StructField("j", T.LongType(), False),
        T.StructField("gram", T.DoubleType(), False),
    ])
    return spark.createDataFrame(rows, schema)


def principal_components(
    sketch: bytes, n_components: int
) -> tuple[np.ndarray, np.ndarray]:
    """Top principal directions of the sketched corpus: eigendecomposition
    of the d x d Gram estimate B^T B — (eigenvalues desc, components as
    rows). The FD certificate transfers: each estimated eigenvalue is
    within delta_sum of the true Gram eigenvalue (Weyl's inequality on the
    PSD error), so a merged sketch ships provably-bounded spectra for PCA
    whitening, LSH/IVF plane seeding, or rank diagnostics — from a d x d
    matrix instead of 10^12 rows."""
    g = fd.gram(sketch)
    if g.size == 0:
        raise ValueError("empty sketch has no spectrum (dim unknown)")
    vals, vecs = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1][:n_components]
    return vals[order], vecs[:, order].T
