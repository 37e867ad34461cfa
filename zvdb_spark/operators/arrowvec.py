"""The engine's one vector-column format at the JVM<->Python boundary.

A vector column is an Arrow list column (``array<double>`` arrives as
``list<double>``; ``array<float>`` and PQ's ``array<smallint>`` codes
likewise) whose rows all hold ``dim`` values. Its values buffer is
already the contiguous row-major ``(n, dim)`` block every numpy kernel
reads — the layout the reference keeps as one ``[]T`` slice per vector
(``src/hnsw.zig:182-192``). ``matrix`` views that block as an ndarray
and ``list_array`` builds it back from one, so every kernel whose
input or output holds a vector column crosses the boundary through
these two functions (``mapInArrow``, ``applyInArrow``, ``arrow_udf``
and ``DataFrame.toArrow``), and no kernel walks per-row objects.

``matrix`` is also where malformed vectors are refused: a null row, a
row of another length, or a NaN/inf value raises ``ValueError`` naming
the column, before any kernel ranks by it. ``codes`` does the same for
a fixed-width ``binary`` code column (SQ8's one byte per dimension).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def matrix(col, dtype=np.float64, name: str = "vector") -> np.ndarray:
    """C-contiguous ``(n, dim)`` ndarray of ``dtype`` from a list
    column (``pa.ListArray``, ``pa.LargeListArray`` or a
    ``pa.ChunkedArray`` of either), honouring slice offsets.

    The result is a read-only view of the Arrow values buffer when no
    conversion is needed; copy it before writing into it. An empty
    column gives shape ``(0, 0)``."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if col.null_count:
        raise ValueError(f"{name}: {col.null_count} null vector row(s)")
    lengths = np.diff(col.offsets.to_numpy())
    dim = int(lengths[0]) if n else 0
    if (lengths != dim).any():
        raise ValueError(
            f"{name}: ragged vector rows ({int(lengths.min())} to "
            f"{int(lengths.max())} values; every row needs {dim})"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if flat.dtype.kind == "f" and not np.isfinite(flat).all():
        raise ValueError(f"{name}: non-finite (NaN or inf) vector value")
    return flat.reshape(n, dim).astype(dtype, copy=False)


def list_array(mat: np.ndarray) -> pa.ListArray:
    """``list<…>`` Arrow array of an ``(n, dim)`` ndarray, one row per
    list, built from offsets and the flat values (no per-row objects).
    The element type follows ``mat.dtype``."""
    n, dim = mat.shape
    offsets = np.arange(n + 1, dtype=np.int32) * dim
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(mat.reshape(-1)))


def codes(col, width: int, name: str = "code") -> np.ndarray:
    """Read-only ``(n, width)`` uint8 view of the data buffer of a
    binary column (``pa.BinaryArray``, ``pa.LargeBinaryArray`` or a
    ``pa.ChunkedArray`` of either) whose rows all hold ``width``
    bytes, honouring slice offsets. A null row, or a row of another
    width, raises ``ValueError`` naming the column: a flat reshape
    would re-cut a 3-byte and a 5-byte row into two 4-byte codes."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if col.null_count:
        raise ValueError(f"{name}: {col.null_count} null code row(s)")
    if not n:
        return np.empty((0, width), dtype=np.uint8)
    _, offsets, data = col.buffers()
    kind = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offsets = np.frombuffer(offsets, dtype=kind)[col.offset : col.offset + n + 1]
    lengths = np.diff(offsets)
    if (lengths != width).any():
        raise ValueError(
            f"{name}: code rows of {int(lengths.min())} to "
            f"{int(lengths.max())} bytes; every row needs {width}"
        )
    start = int(offsets[0])
    view = np.frombuffer(data, dtype=np.uint8)[start : start + n * width]
    view.flags.writeable = False
    return view.reshape(n, width)
