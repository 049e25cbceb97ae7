"""The one boundary a vector column crosses between Spark and NumPy.

Every vector kernel reads a Spark ``array<...>`` column as an Arrow
``list<...>`` column. :func:`vectors` flattens it zero-copy into an (n, d)
matrix, so every value keeps its bits (float32 -> float64 widening is
exact), and refuses with a ``ValueError`` naming the caller the inputs that
would reshape into a plausible wrong answer: a NULL vector or ragged widths
shift later rows onto the wrong id, ``d == 0`` makes every vector alike, and
a NULL element becomes a NaN that compares False against every threshold.
:func:`column` builds a list column from a matrix's flat buffer plus uniform
offsets, with no per-row boxing.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def vectors(data, col: str, caller: str, dtype=np.float64) -> np.ndarray:
    """(n, d) ``dtype`` matrix of list column ``col`` of a ``RecordBatch``
    or ``Table``; (0, 0) when there are no rows."""
    arr = data.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if not n:
        return np.empty((0, 0), dtype=dtype)
    if arr.null_count:
        raise ValueError(f"{caller}: {arr.null_count} NULL vector(s) in {col}")
    lens = np.diff(np.asarray(arr.offsets))
    d = int(lens[0])
    if (lens != d).any():
        raise ValueError(
            f"{caller}: ragged vectors in {col} (lengths "
            f"{int(lens.min())}..{int(lens.max())}); every vector "
            "must have the same width"
        )
    if d == 0:
        raise ValueError(f"{caller}: zero-width vectors in {col}")
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError(f"{caller}: {flat.null_count} NULL element(s) in {col}")
    return np.asarray(flat, dtype=dtype).reshape(n, d)


def column(V: np.ndarray) -> pa.ListArray:
    """``list<V.dtype>`` column with one row per row of the (n, d) ``V``."""
    n, d = V.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int64) * d, pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(V.ravel()))
