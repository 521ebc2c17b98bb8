"""Scalar UDFs over stored sketch cells — the read side of a sketch table.

A stored sketch is a BinaryType cell; later queries estimate, union,
intersect, fold or probe it row by row. Every scalar sketch UDF in the
package is built here by one of two helpers, so what a NULL means is
decided once:

    cell_udf        per row, ``op`` over the row's cells as ``bytes`` /
                    Python scalars. Any NULL argument gives NULL, except
                    under ``nulls=UNION`` (a NULL side is the empty
                    sketch: the other side comes back, NULL ∪ NULL =
                    NULL) and ``nulls=LEFT`` (a NULL right side removes
                    nothing: the left side comes back).
    hash_probe_udf  per batch, ``kernel(sketch, uint64 hashes)`` against a
                    driver-side sketch; a NULL hash gives NULL, not the
                    answer for hash 0.

A NULL long reaches pandas as NaN, so NaN in a numeric argument is NULL.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANY, UNION, LEFT = "any", "union", "left"

# What a row with a NULL argument returns, per rule.
_NULL_RULES = {
    ANY: lambda *args: None,
    UNION: lambda a, b: b if a is None else a,
    LEFT: lambda a, b: a,
}

# Spark result type -> (numpy dtype of a kernel's answer, pandas dtype that
# can hold NULL); any other type is an object column.
_DTYPES = {
    T.LongType: (np.int64, "Int64"),
    T.BooleanType: (np.bool_, "boolean"),
    T.DoubleType: (np.float64, "float64"),
}


def _values(col) -> list:
    """One pandas argument column as Python values, None for NULL."""
    return [None if null else v
            for v, null in zip(col.tolist(), col.isna().tolist())]


def cell_udf(return_type: T.DataType, nulls: str = ANY):
    """Decorator: ``op(*cells) -> value`` becomes a scalar pandas UDF that
    applies ``op`` to each row with no NULL argument and the ``nulls``
    rule to every other row. The UDF keeps ``op``'s name and docstring."""
    rule = _NULL_RULES[nulls]
    dtype = _DTYPES.get(type(return_type), (None, object))[1]

    def wrap(op):
        def udf(*cols):
            import pandas as pd

            rows = zip(*map(_values, cols))
            return pd.Series(
                [rule(*r) if None in r else op(*r) for r in rows],
                dtype=dtype,
            )

        udf.__name__, udf.__doc__ = op.__name__, op.__doc__
        return F.pandas_udf(udf, return_type)

    return wrap


def hash_probe_udf(kernel, sketch: bytes, return_type: T.DataType):
    """Scalar pandas UDF: int64 hash column -> ``kernel(sketch, hashes)``,
    one vectorized call per batch with ``sketch`` as a closure constant."""
    sketch = bytes(sketch)
    np_dtype, dtype = _DTYPES[type(return_type)]

    def q(hashes):  # the name an unaliased result column shows
        import pandas as pd

        h = hashes.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        out = pd.Series(kernel(sketch, h).astype(np_dtype),
                        index=hashes.index, dtype=dtype)
        out[hashes.isna()] = None
        return out

    return F.pandas_udf(q, return_type)
