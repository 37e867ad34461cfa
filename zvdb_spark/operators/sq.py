"""Scalar quantization (SQ8): one uint8 code per dimension +
asymmetric search — the third compression family beside product
quantization (operators/pq.py) and the navigable graph
(operators/graph_ann.py), covering the gap between them.

Public method: the classic per-dimension affine quantizer (Faiss's
``ScalarQuantizer`` with ``QT_8bit``; also ubiquitous in int8 model
inference). Each dimension d gets an exact corpus-wide range
[lo_d, hi_d]; a value v is stored as ``round((v - lo_d) / scale_d)``
clipped to [0, 255] with ``scale_d = (hi_d - lo_d)/255``, so the
reconstruction error is at most scale_d/2 per dimension — a *bounded*,
data-independent error, unlike PQ whose error depends on how well 256
centroids cover a whole subspace.

Where it sits in the family (128-d float32 corpus, bytes/row):

- raw floats   512 B  exact            (operators/knn.py)
- SQ8          128 B  4x, recall ~1.0  (this module)
- PQ16         16 B   32x, recall via rerank budget (operators/pq.py)

The reference keeps raw f32[] and pays full memory for exactness
(``src/hnsw.zig:8-14`` stores the vectors verbatim); SQ8 is the
standard first rung down when 100 TB of raw vectors must become 25 TB
without giving up single-digit-exact recall.

Distributed shape (all stages cluster-side):

- **train**: per-dimension min/max is an associative aggregate — each
  partition emits ONE row (its elementwise lo/hi), the driver folds
  the P partials. Driver memory is O(P x dim), independent of corpus
  size; no shuffle, no sample, the range is EXACT (so the error bound
  is a theorem, not an estimate).
- **encode**: one Arrow-batched mapInArrow, no shuffle; output is a
  ``binary`` column of exactly ``dim`` bytes — the honest memory
  claim, not an array<int> that costs 4x the story.
- **search (asymmetric)**: knn.scan_topk over code partitions, with
  the reconstruction as its decode: each task views its batch's codes
  as an (n, dim) uint8 matrix (arrowvec.codes), reconstructs it
  (lo + code*scale, f32) and GEMMs it against the queries — queries
  are only rounded to f32, so the error is the corpus-side rounding.
  Per-partition top-k then the one global window merge
  (knn._rank_top_k), the same path as pq.pq_search.

Determinism: min/max is order-independent and rounding is IEEE, so
the CODES are bit-identical on any partitioning or cluster size.
Search scores in f32 (like the exact segment path), whose GEMM
blocking depends on the batch shape — top-k membership and ranks are
partitioning-invariant (pinned), distances within f32 tolerance.

Approximate distances (bounded rounding error), so this is verified
by recall against the exact path + the elementwise error bound in
tests/test_sq.py, not hash-matched (same policy as PQ/graph).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zvdb_spark.operators.arrowvec import codes as code_matrix
from zvdb_spark.operators.arrowvec import list_array, matrix
from zvdb_spark.operators.artifacts import (
    load_npz_manifest,
    save_npz_manifest,
)
from zvdb_spark.operators.knn import scan_topk

_SQ8_FORMAT = 1


def sq8_train(
    emb: DataFrame, vec_col: str = "emb"
) -> tuple[np.ndarray, np.ndarray]:
    """Exact per-dimension (lo, hi) over the whole corpus.

    Classic partial-aggregate shape: every partition reduces its rows
    to one (lo, hi) pair of dim-length arrays, the driver folds the
    P partials — the collect is bounded by the partition count (the
    same metadata-row posture as graph_ann's shard manifests), never
    by corpus rows. Exactness matters: the error bound scale/2 only
    holds if no value falls outside [lo, hi]."""

    def _part(batches):
        lo = None
        hi = None
        for batch in batches:
            if not batch.num_rows:
                continue
            v = matrix(batch[vec_col], name=vec_col)
            plo = v.min(axis=0)
            phi = v.max(axis=0)
            lo = plo if lo is None else np.minimum(lo, plo)
            hi = phi if hi is None else np.maximum(hi, phi)
        if lo is not None:
            yield pa.record_batch(
                {"lo": list_array(lo[None, :]), "hi": list_array(hi[None, :])}
            )

    parts = emb.select(vec_col).mapInArrow(
        _part, schema="lo array<double>, hi array<double>"
    ).toArrow()
    if not parts.num_rows:
        raise ValueError("sq8_train: empty corpus")
    lo = matrix(parts["lo"], name="lo").min(axis=0)
    hi = matrix(parts["hi"], name="hi").max(axis=0)
    return lo, hi


def _sq8_scale(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Per-dim step. Constant dimensions (hi == lo) get scale 1 so
    encode/decode stay finite; every value there encodes to 0 and
    reconstructs to lo exactly — zero error, not a special case."""
    scale = (hi - lo) / 255.0
    return np.where(scale > 0.0, scale, 1.0)


def sq8_encode(
    emb: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """(id, code binary) — dim bytes per row, 4x under float32.

    One Arrow pass, no shuffle; (lo, hi) ride the task closure
    (2 x dim f64 — trivial freight, same posture as PQ codebooks)."""
    lo_c = np.ascontiguousarray(lo, dtype=np.float64)
    scale = _sq8_scale(lo_c, np.ascontiguousarray(hi, dtype=np.float64))

    def _enc(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            v = matrix(batch[vec_col], name=vec_col)
            c = np.clip(np.rint((v - lo_c) / scale), 0, 255).astype(
                np.uint8
            )
            yield pa.record_batch(
                {
                    id_col: batch[id_col].cast(pa.int64()),
                    "code": [row.tobytes() for row in c],
                }
            )

    return emb.select(id_col, vec_col).mapInArrow(
        _enc, schema=f"{id_col} long, code binary"
    )


def sq8_search(
    codes: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric top-k: (query_id, vec_id, sq_dist_sq, rn), rn 1..k.

    Queries stay float (the small side, riding the closure — same
    contract as pq_search); ``knn.scan_topk`` runs the search with the
    reconstruction as its decode: each partition reconstructs its code
    batch once and scores every query chunk against it with one GEMM.
    Per-partition top-k by (dist, id), global window merge moving
    only P x k rows per query."""
    lo_c = np.ascontiguousarray(lo, dtype=np.float64)
    scale = _sq8_scale(lo_c, np.ascontiguousarray(hi, dtype=np.float64))
    q = np.ascontiguousarray(queries, dtype=np.float64)
    _, dim = q.shape
    if dim != lo_c.shape[0]:
        raise ValueError(f"query dim {dim} != trained dim {lo_c.shape[0]}")

    # f32 scoring, like the timed exact path (segments GEMM runs f32):
    # the reconstruction error (scale/2 per dim) dwarfs f32 rounding,
    # and f64 here measured ~2x the scan cost for no recall gain
    lo32 = lo_c.astype(np.float32)
    scale32 = scale.astype(np.float32)

    def decode(batch):
        raw = code_matrix(batch["code"], dim, name="code")
        vhat = lo32 + raw.astype(np.float32) * scale32  # (n, dim)
        return (batch[id_col].to_numpy().astype(np.int64, copy=False),
                vhat, (vhat * vhat).sum(axis=1))

    return scan_topk(codes, decode, q.astype(np.float32), k).select(
        "query_id",
        F.col("neighbor_id").alias(id_col),
        F.col("score").alias("sq_dist_sq"),
        "rn",
    )


def sq8_search_rerank(
    codes: DataFrame,
    corpus: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    rerank_r: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """SQ8 candidates -> exact float confirm: codes propose top-R,
    pq.exact_rerank (the shared confirm stage for every approximate
    generator) settles the true top-k. With SQ8's bounded error, R a
    few multiples of k makes missing a true neighbor require its
    rounded distance to leapfrog R-k rivals — tests pin recall 1.0 at
    the defaults on the bench corpus."""
    from zvdb_spark.operators.pq import exact_rerank

    cand = sq8_search(
        codes, lo, hi, queries, k=int(rerank_r), id_col=id_col
    ).select("query_id", id_col)
    return exact_rerank(
        cand,
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        cand_rows=len(queries) * int(rerank_r),
    )


def save_sq8(path_prefix: str, lo: np.ndarray, hi: np.ndarray) -> None:
    """Persist the trained range as npz+manifest (operators/artifacts
    discipline: atomic rename, versioned manifest)."""
    save_npz_manifest(
        path_prefix + ".npz",
        path_prefix + ".json",
        {"lo": np.asarray(lo, dtype=np.float64),
         "hi": np.asarray(hi, dtype=np.float64)},
        {"format": _SQ8_FORMAT, "dim": int(np.asarray(lo).shape[0])},
    )


def load_sq8(path_prefix: str) -> tuple[np.ndarray, np.ndarray]:
    arrays, manifest = load_npz_manifest(
        path_prefix + ".npz",
        path_prefix + ".json",
        _SQ8_FORMAT,
        "sq8 quantizer",
    )
    lo, hi = arrays["lo"], arrays["hi"]
    if lo.shape != hi.shape or lo.shape[0] != manifest["dim"]:
        raise ValueError(
            f"sq8 quantizer {path_prefix}: lo/hi shape "
            f"{lo.shape}/{hi.shape} vs manifest dim {manifest['dim']}"
        )
    return lo, hi
