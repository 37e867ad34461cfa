"""Distributed seeded k-means (Lloyd's) over an embedding column.

The coarse quantizer behind a production IVF index (queries/ann.py
uses first-k-by-id centroids for oracle checkability; this operator is
the refinement you run at scale). Standard distributed formulation:

- centroids are driver-side state (k x dim floats — tiny);
- assignment is a vectorized Pandas-UDF argmin over the broadcast
  centroid matrix (one GEMM per Arrow batch, no shuffle);
- the update step is one groupBy over (cell, dim) partial sums —
  a single shuffle per iteration carrying k x dim rows per partition.

Deterministic up to float-sum order: seeded init (first k rows by
id) and a fixed iteration count pin the algorithm, but the update
step's partial sums merge in shuffle order, so centroids can drift
by ULPs across partition layouts (enough to flip a boundary vector's
assignment). Consumers needing bit-stable assignments across runs
should fit once and persist the centroid matrix (k x dim floats) —
the shape an IVF deployment uses anyway.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zvdb_spark.operators.arrowvec import matrix

_CENTROID_FORMAT = 1

# Row-chunk size for the threaded assignment step of lloyd_local: the
# per-chunk distance block (chunk x k float64) stays ~100 MB even at
# k=4096, so the working set is bounded no matter the sample size.
_LLOYD_CHUNK = 4096

# Below this (n x k) distance-matrix size the fit runs SERIAL: the
# thread-pool fan-out costs more in lock traffic than the GEMM saves
# (measured: OPQ's 144 subspace fits at 20k x 256 spent ~5 s of a 20 s
# training loop inside futures locks). Chunk boundaries and summation
# order are identical either way, so the gate cannot change results.
_LLOYD_SERIAL_ELEMS = 1 << 23


def _lloyd_threads() -> int:
    """Driver-side thread budget for lloyd_local. BLAS is pinned to one
    thread process-wide (bench.py / session.py) so executor tasks never
    oversubscribe; the FIT, though, runs on the driver while executors
    are idle — chunk-parallel numpy (the GIL is released inside BLAS)
    recovers the machine for the one stage that is otherwise
    single-threaded. Scales with $SPARK_GRAFT_CPUS (the driver's core
    budget), never a hard-coded constant."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    cores = int(env) if env else (os.cpu_count() or 1)
    return max(1, min(cores, 64))


def assign_local(
    x: np.ndarray, c: np.ndarray, n_threads: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-local nearest-centroid pass, thread-chunked like
    lloyd_local's assignment step: returns (argmin index, min squared
    distance) per row WITHOUT materializing the full (n, k) distance
    matrix (3+ GB at 100k x 4096 — the old one-shot form). The
    distance includes the row-norm term, so the minima are true
    squared L2 (clamped at 0)."""
    from concurrent.futures import ThreadPoolExecutor

    x = np.ascontiguousarray(x, dtype=np.float64)
    cm = np.ascontiguousarray(c, dtype=np.float64)
    n = len(x)
    cn_half = (cm * cm).sum(1) * 0.5
    a = np.empty(n, dtype=np.int64)
    md = np.empty(n, dtype=np.float64)
    chunks = [(lo, min(lo + _LLOYD_CHUNK, n)) for lo in range(0, n, _LLOYD_CHUNK)]

    def _one(span):
        # argmin(cn - 2g) == argmax(g - cn/2), PROVABLY bit-identical
        # (incl. first-of-ties): x2 and /2 are exact in binary FP and
        # fl(a-b) = -fl(b-a), so both orderings compare the same
        # fl(2g - cn) values. The in-place form removes two full
        # (chunk x k) temporaries per chunk — the assignment step is
        # memory-traffic-bound, not FLOP-bound, at k >= 2500.
        lo, hi = span
        xc = x[lo:hi]
        g = xc @ cm.T
        g -= cn_half[None, :]
        idx = g.argmax(1)
        a[lo:hi] = idx
        # -2 * fl(g - cn/2) == fl(cn - 2g) exactly (scaling by -2 is
        # exact), so md matches the old d[range, idx] + ||x||^2 bitwise
        md[lo:hi] = (
            -2.0 * g[np.arange(hi - lo), idx] + (xc * xc).sum(1)
        )

    if n_threads is None and n * len(cm) <= _LLOYD_SERIAL_ELEMS:
        n_threads = 1
    n_threads = n_threads or _lloyd_threads()
    if n_threads > 1 and len(chunks) > 1:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            list(pool.map(_one, chunks))
    else:
        for s in chunks:
            _one(s)
    np.maximum(md, 0.0, out=md)
    return a, md


def lloyd_local(
    sample: np.ndarray, k: int, n_iter: int, n_threads: int | None = None
) -> np.ndarray:
    """Seeded Lloyd's over a driver-local (n, dim) float64 sample —
    THE local k-means kernel shared by kmeans_fit_sample, the graph
    index quantizer fit, and the PQ/OPQ codebook fits. Semantics are
    the classic deterministic recipe every caller already used:
    init = first k rows, fixed iteration count, empty cells keep
    their previous centroid, assignment by argmin of the
    norm-expansion distance.

    Two mechanical optimizations over the per-cluster-mask loop this
    replaces (measured 186 s -> <25 s at n=100k, k=2500, dim=128,
    4 iters on 32 cores):

    - the assignment GEMM is row-chunked and fanned over a thread
      pool (numpy releases the GIL inside BLAS; chunks write disjoint
      slices, so the result is independent of scheduling order);
    - the update step sorts rows by assignment once (stable) and
      computes every centroid sum with one ``np.add.reduceat`` pass
      instead of k boolean-mask scans (O(n log n) total instead of
      O(n·k)).

    Deterministic run-to-run: fixed chunk boundaries, stable sort,
    sequential reduceat sums. (Centroids can differ from the old
    kernel by float-summation-order ULPs — the same caveat
    kmeans_fit always documented for partition-order sums.)
    """
    from concurrent.futures import ThreadPoolExecutor

    x = np.ascontiguousarray(sample, dtype=np.float64)
    n = len(x)
    k = min(int(k), n)
    if k <= 0 or n == 0:
        return x[:0].copy()
    c = x[:k].copy()
    if n_iter <= 0:
        return c
    if n_threads is None and n * k <= _LLOYD_SERIAL_ELEMS:
        n_threads = 1  # see _LLOYD_SERIAL_ELEMS
    n_threads = n_threads or _lloyd_threads()
    chunks = [(lo, min(lo + _LLOYD_CHUNK, n)) for lo in range(0, n, _LLOYD_CHUNK)]
    a = np.empty(n, dtype=np.int64)

    def _assign(span, cmat, cn_half):
        # argmax(g - cn/2) == argmin(cn - 2g) bit-exactly (see
        # assign_local); in-place, so the memory-bound assignment
        # writes one (chunk x k) block instead of three
        lo, hi = span
        xc = x[lo:hi]
        g = xc @ cmat.T
        g -= cn_half[None, :]
        a[lo:hi] = g.argmax(1)

    pool = ThreadPoolExecutor(max_workers=n_threads) if n_threads > 1 else None
    try:
        for _ in range(n_iter):
            cn_half = (c * c).sum(1) * 0.5
            if pool is not None and len(chunks) > 1:
                list(pool.map(lambda s: _assign(s, c, cn_half), chunks))
            else:
                for s in chunks:
                    _assign(s, c, cn_half)
            order = np.argsort(a, kind="stable")
            asort = a[order]
            # one reduceat segment per OCCUPIED cluster (unique's
            # first-index array is strictly increasing and in range,
            # so segment boundaries are exact); empty clusters are
            # never touched and keep their previous centroid
            uniq, first_idx = np.unique(asort, return_index=True)
            counts = np.bincount(asort, minlength=k)
            sums = np.add.reduceat(x[order], first_idx, axis=0)
            c[uniq] = sums / counts[uniq, None]
    finally:
        if pool is not None:
            pool.shutdown()
    return c


# Fits whose sample matrix is at least this large run inside ONE
# executor task (lloyd_fit, below) instead of on the driver; smaller
# fits stay driver-side, where one job's scheduling overhead would
# exceed the fit.
_EXEC_FIT_MIN_BYTES = 8 << 20


def lloyd_fit(spark, mat: np.ndarray, k: int, n_iter: int) -> np.ndarray:
    """``lloyd_local`` with the FIT moved off the driver (guide §5:
    the driver should do almost no data work): the sample matrix is
    broadcast and the fit runs inside ONE executor task — same
    sample, same kernel, same seed, and ``lloyd_local`` is
    deterministic independent of its thread count (fixed chunk
    boundaries, disjoint chunk writes, sequential reduceat sums), so
    the centroids are IDENTICAL to a driver-side fit on the same
    machine image (pinned by test_lloyd_fit_executor_bit_identical).
    On a real cluster this frees the driver to schedule while one
    executor burns the FLOPs; in local mode it is wall-neutral (same
    cores either way — the fit stage has the machine to itself).
    Small matrices skip the job and fit driver-side: one task's
    scheduling + broadcast round-trip costs more than the fit."""
    mat = np.ascontiguousarray(mat, dtype=np.float64)
    if mat.nbytes < _EXEC_FIT_MIN_BYTES:
        return lloyd_local(mat, k, n_iter)
    sc = spark.sparkContext
    bc = sc.broadcast(mat)
    try:
        def _fit(_):
            from zvdb_spark.operators.kmeans import lloyd_local

            yield lloyd_local(bc.value, k, n_iter)

        [cents] = sc.parallelize([0], 1).mapPartitions(_fit).collect()
    finally:
        bc.destroy()
    return np.ascontiguousarray(cents)


def save_centroids(centroids: np.ndarray, path: str) -> str:
    """Persist a fitted centroid matrix so a FUTURE SESSION pins the
    same assignments bit-stably (the GraphIndex.save pattern at
    operators/graph_ann.py: npz arrays + a json manifest, written to a
    temp name and atomically renamed so a reader never sees a
    half-written file). The distributed fit's partial float sums merge
    in shuffle order, so REFITTING can drift centroids by ULPs and
    flip boundary assignments — fit once, save, and every later
    assign_cells / SemDeDup kept-set / IVF routing decision is
    bit-identical across sessions and partition layouts. k x dim
    float64 — a few KB to MB, driver-side metadata scale."""
    from zvdb_spark.operators.artifacts import save_npz_manifest

    c = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    if c.ndim != 2:
        raise ValueError(f"centroids must be 2-D (k, dim); got {c.shape}")
    save_npz_manifest(
        f"{path}.npz",
        f"{path}.json",
        {"centroids": c},
        {
            "format": _CENTROID_FORMAT,
            "k": int(c.shape[0]),
            "dim": int(c.shape[1]),
            "dtype": "float64",
        },
    )
    return path


def load_centroids(path: str) -> np.ndarray:
    """Reopen a saved centroid matrix; validates the manifest against
    the array so a truncated / mismatched pair fails with a named
    diagnostic instead of silently mis-assigning every vector."""
    from zvdb_spark.operators.artifacts import load_npz_manifest

    arrays, manifest = load_npz_manifest(
        f"{path}.npz", f"{path}.json", _CENTROID_FORMAT, "centroid"
    )
    c = arrays["centroids"]
    if c.shape != (manifest["k"], manifest["dim"]):
        raise ValueError(
            f"centroid array {path}.npz is {c.shape}, manifest says "
            f"({manifest['k']}, {manifest['dim']}) — files out of sync"
        )
    return np.ascontiguousarray(c.astype(np.float64))


def kmeans_fit(
    emb: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> np.ndarray:
    """Fit k centroids; returns (k, dim) float64 array."""
    centroids = matrix(
        emb.orderBy(id_col).limit(k).select(vec_col).toArrow()[vec_col],
        name=vec_col,
    )
    for _ in range(n_iter):
        assigned = assign_cells(emb, centroids, id_col, vec_col)
        # update: elementwise mean per cell via posexplode + two-level agg
        sums = (
            assigned.select("cell_id", F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("cell_id", "dim")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .collect()
        )
        new_c = centroids.copy()
        acc: dict[int, np.ndarray] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r.cell_id, np.zeros(centroids.shape[1]))[r.dim] = r.s
            cnt[r.cell_id] = r.c
        for cid, vec in acc.items():
            new_c[cid] = vec / cnt[cid]
        centroids = new_c  # empty cells keep their previous centroid
    return centroids


def assign_cells(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """Nearest-centroid assignment: vectorized argmin per Arrow batch
    (centroid matrix rides the task closure — k x dim floats)."""
    cmat = np.ascontiguousarray(centroids)
    cnorm = (cmat * cmat).sum(axis=1)

    @F.arrow_udf("int")
    def _cell(vs: pa.Array) -> pa.Array:
        mat = matrix(vs, name=vec_col)
        xnorm = (mat * mat).sum(axis=1)
        d = xnorm[:, None] + cnorm[None, :] - 2.0 * (mat @ cmat.T)
        return pa.array(np.argmin(d, axis=1).astype(np.int32))

    return emb.withColumn("cell_id", _cell(F.col(vec_col)))


def kmeans_fit_sample(
    emb: DataFrame,
    k: int = 256,
    n_iter: int = 8,
    sample_n: int = 50_000,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    n_rows: int | None = None,
) -> np.ndarray:
    """Sample-based k-means: fit on a bounded, deterministic sample
    driver-side (numpy Lloyd's) instead of full-corpus distributed
    iterations. The standard coarse-quantizer training recipe at
    scale — IVF centroids are estimated, not exact, and a 50k sample
    estimates k<=1024 cells as well as the full corpus does while
    costing O(sample x k x dim) FLOPs on one node instead of
    n_iter full-corpus shuffles.

    Sampling uses operators/pq.hash_sample (partitioning-independent,
    seeded; pass ``n_rows`` when known so the collect stays bounded).
    Returns (k, dim) float64. Large fits run inside one executor task
    (``lloyd_fit``) so the driver stays schedulable during the
    O(sample x k x dim) FLOP block — identical centroids either way.
    """
    from zvdb_spark.operators.pq import hash_sample

    sample = hash_sample(
        emb, sample_n, id_col=id_col, cols=(vec_col,), n_rows=n_rows
    )
    return lloyd_fit(
        emb.sparkSession, matrix(sample[vec_col], name=vec_col), k, n_iter
    )
