"""Vector column kernels.

The reference's single scalar kernel is squared L2 distance
(``src/hnsw.zig:182-192``): an element-wise loop, no sqrt (the
comment at ``src/hnsw.zig:191`` notes squared distance preserves
ordering), panicking on dimension mismatch (``src/hnsw.zig:183-185``).

Here the kernels are pure Catalyst higher-order-function expressions
(``zip_with`` + ``aggregate``) over ``array<double>`` columns — they
stay JVM-side inside whole-stage codegen, need no Python round-trip,
and are exactly reproducible in the DuckDB oracle (same left-to-right
double accumulation). The vectorized numpy twins run over Arrow
batches and read vectors through ``zvdb_spark/operators/arrowvec.py``:
the ``arrow_udf`` of the UDF-parity query (``queries/vector.py``) and
the GEMM kernels of ``zvdb_spark/operators/knn.py``.

Dimension mismatch: ``zip_with`` truncates nothing — it extends the
shorter array with nulls, which poisons the sum to NULL. ``dist_sq_strict``
instead raises, mirroring the reference's panic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double_array(col: ColumnOrName) -> Column:
    """Cast any numeric array (float/int) to array<double>.

    The reference is generic over element type (``src/hnsw.zig:8``,
    tests cover f32/f64/i32 at ``src/test_hnsw.zig:239-273``); one
    double-typed kernel covers all of them since the distance math is
    identical after widening (exact for f32 and i32).
    """
    return _c(col).cast("array<double>")


def dist_sq(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared L2 distance between two array<double> columns.

    Mirrors ``distance`` at ``src/hnsw.zig:182-192`` (squared, no sqrt).
    """
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dist_sq_strict(a: ColumnOrName, b: ColumnOrName) -> Column:
    """dist_sq that raises on dimension mismatch (reference panics,
    ``src/hnsw.zig:183-185``)."""
    return F.when(
        F.size(_c(a)) != F.size(_c(b)),
        F.raise_error(F.lit("dimension mismatch in dist_sq")),
    ).otherwise(dist_sq(a, b))


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: ColumnOrName) -> Column:
    """Euclidean norm of an array<double> column."""
    return F.sqrt(
        F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_sim(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity; NULL when either norm is zero."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(None)).otherwise(
        dot(a, b) / (na * nb)
    )


def unit_vector(a: ColumnOrName) -> Column:
    """L2-normalize an array<double> column; NULL for zero vectors.

    The cosine-metric bridge: on unit vectors,
    ``dist_sq = 2 - 2*cosine``, a strictly decreasing map — so every
    L2 structure in the engine (segments, graph index, PQ codes)
    serves cosine ranking by normalizing rows at ingest and queries
    at search. This is the standard trick (used by FAISS/ScaNN alike)
    rather than a second metric implementation to maintain.
    The norm must NOT be captured inside the division lambda — HOF
    lambdas are not CSE'd with their outer expression, so a captured
    norm aggregate is re-evaluated per element (O(d^2) per row, ~16k
    ops at 128-d). Instead the norm is evaluated as a plain argument
    of ``array_repeat`` (once per row) and divided in via
    ``zip_with``, whose lambda touches only its own variables. (An
    aggregate-finish-lambda formulation also binds the norm once, but
    its nested lambda capture trips a Catalyst Python-UDF-extraction
    bug in Spark 4.1 when a pandas UDF consumes the column under a
    join's null filter — measured, not hypothetical.)
    """
    arr = _c(a)
    n = l2_norm(arr)
    return F.when(n == 0, F.lit(None)).otherwise(
        F.zip_with(arr, F.array_repeat(n, F.size(arr)), lambda x, m: x / m)
    )
