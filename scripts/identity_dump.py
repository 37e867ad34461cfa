"""Bit-identity dump: one sha256 per engine output, for comparing two
checkouts of the engine on the same inputs.

Usage: python scripts/identity_dump.py --out FILE

Run it from each checkout (same machine, same ``SPARK_GRAFT_CPUS``)
and ``diff`` the two files; equal lines mean bit-identical outputs.
Each line of FILE is ``<name> <sha256>``. A DataFrame is collected
through ``toArrow()`` and sorted on its key columns; the digest covers
its rows in that order, its column names, Arrow types and nullability
(one Arrow IPC stream). An ndarray's digest covers its dtype, shape
and bytes.

Shapes:

- operators: a 4,000 x 32 Gaussian-mixture corpus (seed 7) and 600
  probes drawn from the same mixture (more than 512, so query chunking
  is exercised): PQ codes, flat and rerank search; IVF-PQ build and
  search with and without ``per_task_cap`` and with k above the cell
  size; OPQ train, codes and
  rerank search; SQ8 range, codes, search and rerank search;
  ``exact_search_blocked`` in broadcast, grid and cosine form, a
  zero-norm cosine probe; ``threshold_join_blocked``; ``knn_join``;
- graph: a 10,000 x 128 mixture and 1,000 probes at seeds 11 and 12,
  ``GraphIndex`` (m=16, ef=128) ``search`` and ``exact_search`` in
  float64 and float32.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

import numpy as np
import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def digest(obj, keys: tuple[str, ...] = ()) -> str:
    h = hashlib.sha256()
    if isinstance(obj, np.ndarray):
        h.update(f"{obj.dtype.str} {obj.shape}\n".encode())
        h.update(np.ascontiguousarray(obj).tobytes())
        return h.hexdigest()
    t = obj.toArrow()
    if keys:
        t = t.sort_by([(c, "ascending") for c in keys])
    t = t.combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def mixture(seed: int, n: int, nq: int, dim: int):
    """(corpus, probes) from one seeded Gaussian mixture."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((max(20, n // 500), dim))

    def rows(m):
        return centers[rng.integers(len(centers), size=m)] + 0.3 * (
            rng.standard_normal((m, dim))
        )

    return rows(n), rows(nq)


def frame(spark, mat: np.ndarray, id_col: str, vec_col: str):
    from zvdb_spark.operators.arrowvec import list_array

    tbl = pa.table({
        id_col: np.arange(len(mat), dtype=np.int64),
        vec_col: list_array(np.ascontiguousarray(mat, dtype=np.float64)),
    })
    return spark.createDataFrame(
        tbl, f"{id_col} long, {vec_col} array<double>"
    ).localCheckpoint(eager=True)


def operators(spark, out: dict) -> None:
    from zvdb_spark.operators import knn, pq, sq
    from zvdb_spark.operators.kmeans import kmeans_fit_sample

    x, q = mixture(7, 4000, 600, 32)
    emb = frame(spark, x, "vec_id", "emb")
    probes = frame(spark, q, "query_id", "qemb")
    search = ("query_id", "rn")
    k = 10

    books = pq.pq_train(emb, m_sub=8, k_codes=64, n_iter=5, sample_n=2000)
    codes = pq.pq_encode(emb, books).localCheckpoint(eager=True)
    out["pq.books"] = digest(books)
    out["pq.codes"] = digest(codes, ("vec_id",))
    out["pq.search"] = digest(pq.pq_search(codes, books, q, k=k), search)
    out["pq.search_rerank"] = digest(
        pq.pq_search_rerank(codes, emb, books, q, k=k, rerank_r=50), search
    )

    cents = kmeans_fit_sample(emb, k=16, n_iter=5, sample_n=2000)
    ibooks, icodes = pq.ivfpq_build(
        emb, cents, m_sub=8, k_codes=64, n_iter=5, sample_n=2000
    )
    icodes = icodes.localCheckpoint(eager=True)
    out["ivfpq.centroids"] = digest(cents)
    out["ivfpq.books"] = digest(ibooks)
    out["ivfpq.codes"] = digest(icodes, ("vec_id",))
    # k=400 exceeds every cell's row count: whole cells are emitted
    for kk, cap in ((k, None), (k, 4), (400, None)):
        out[f"ivfpq.search.k={kk}.cap={cap}"] = digest(
            pq.pq_search_ivf(icodes, ibooks, cents, q, k=kk, nprobe=4,
                             per_task_cap=cap, residual=True),
            search,
        )

    rot, obooks = pq.opq_train(
        emb, m_sub=8, k_codes=64, n_iter=5, opq_iter=3, sample_n=2000
    )
    ocodes = pq.opq_encode(emb, rot, obooks).localCheckpoint(eager=True)
    out["opq.rot"] = digest(rot)
    out["opq.books"] = digest(obooks)
    out["opq.codes"] = digest(ocodes, ("vec_id",))
    out["opq.search_rerank"] = digest(
        pq.opq_search_rerank(ocodes, emb, rot, obooks, q, k=k, rerank_r=50),
        search,
    )

    lo, hi = sq.sq8_train(emb)
    scodes = sq.sq8_encode(emb, lo, hi).localCheckpoint(eager=True)
    out["sq8.range"] = digest(np.stack([lo, hi]))
    out["sq8.codes"] = digest(scodes, ("vec_id",))
    out["sq8.search"] = digest(sq.sq8_search(scodes, lo, hi, q, k=k), search)
    out["sq8.search_rerank"] = digest(
        sq.sq8_search_rerank(scodes, emb, lo, hi, q, k=k, rerank_r=40),
        search,
    )

    out["knn.blocked.broadcast"] = digest(
        knn.exact_search_blocked(emb, probes, k), search
    )
    out["knn.blocked.grid"] = digest(
        knn.exact_search_blocked(emb, probes, k, n_shards=3, n_blocks=2),
        search,
    )
    out["knn.blocked.cosine"] = digest(
        knn.exact_search_blocked(emb, probes, k, metric="cosine"), search
    )
    zero = frame(spark, np.vstack([np.zeros((1, 32)), q[:5]]),
                 "query_id", "qemb")
    out["knn.blocked.cosine_zero_probe"] = digest(
        knn.exact_search_blocked(emb, zero, k, metric="cosine"), search
    )
    out["knn.threshold_join"] = digest(
        knn.threshold_join_blocked(emb, probes.filter("query_id < 100"), 4.0),
        ("query_id", "neighbor_id"),
    )
    out["knn.knn_join"] = digest(
        knn.knn_join(emb, probes.filter("query_id < 20"), k), search
    )


def graph(spark, out: dict, seed: int) -> None:
    from zvdb_spark.operators.graph_ann import GraphIndex

    x, q = mixture(seed, 10_000, 1000, 128)
    emb = frame(spark, x, "vec_id", "emb")
    qdf = frame(spark, q, "query_id", "qemb")
    index_dir = tempfile.mkdtemp(prefix="identity_dump_")
    try:
        g = GraphIndex(m=16, ef=128, index_dir=index_dir)
        g.build(emb, n_rows=len(x))
        g.state()
        out[f"graph.{seed}.search"] = digest(
            g.search(qdf, k=10, n_queries=len(q)),
            ("query_id", "dist_sq", "vec_id"),
        )
        for dtype in ("float64", "float32"):
            out[f"graph.{seed}.exact_search.{dtype}"] = digest(
                g.exact_search(qdf, k=10, dtype=dtype, n_queries=len(q)),
                ("query_id", "rn"),
            )
        g.retire()
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True, help="digest file to write")
    args = ap.parse_args()

    from zvdb_spark.session import get_session

    spark = get_session("identity_dump")
    out: dict[str, str] = {}
    operators(spark, out)
    for seed in (11, 12):
        graph(spark, out, seed)
    with open(args.out, "w") as f:
        for name, h in out.items():
            f.write(f"{name} {h}\n")
    print(f"{len(out)} digests -> {args.out}")


if __name__ == "__main__":
    main()
