"""Direct numpy-level tests of _beam_search_seeded — no Spark.

The beam is the engine's hottest python kernel; these pin its
contract on both branches (exhaustive fallback when the ef budget
covers the shard, sparse-visited beam otherwise) without paying a
session: result shape, ordering, dedup, sentinel handling, and
recall against brute force on a well-connected graph.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from zvdb_spark.operators.graph_ann import _beam_search_seeded


def _knn_adj(mat: np.ndarray, deg: int) -> np.ndarray:
    """Padded (n+1, deg) adjacency of each row's deg nearest others
    (pad value n), the segment format state() writes."""
    n = len(mat)
    d = ((mat[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d, np.inf)
    nb = np.argsort(d, axis=1, kind="stable")[:, :deg]
    adj = np.full((n + 1, deg), n, dtype=np.int64)
    adj[:n] = nb
    return adj


def _brute_topk(mat, ids, q, k):
    d = ((mat - q) ** 2).sum(1)
    order = np.lexsort((ids, d))[:k]
    return set(ids[order].tolist())


def test_exhaustive_branch_matches_brute_force():
    rng = np.random.default_rng(0)
    n, dim, k = 40, 8, 5
    mat = rng.random((n, dim))
    ids = np.arange(100, 100 + n, dtype=np.int64)  # non-positional ids
    adj = _knn_adj(mat, 4)
    qm = rng.random((3, dim))
    seeds = np.zeros((3, 2), dtype=np.int64)  # ef*2 >= n → exhaustive
    out = _beam_search_seeded(
        ids, mat, adj, seeds, qm, np.array([7, 8, 9]), k=k, ef=64
    )
    for qi, qid in enumerate([7, 8, 9]):
        got = out[out.query_id == qid]
        assert len(got) == k
        assert set(got["vec_id"]) == _brute_topk(mat, ids, qm[qi], k)
        assert list(got["dist_sq"]) == sorted(got["dist_sq"])


def test_exhaustive_k_gt_n_clamps():
    rng = np.random.default_rng(1)
    n, dim = 6, 4
    mat = rng.random((n, dim))
    ids = np.arange(n, dtype=np.int64)
    adj = _knn_adj(mat, 2)
    out = _beam_search_seeded(
        ids, mat, adj,
        np.zeros((1, 1), dtype=np.int64),
        rng.random((1, dim)), np.array([0]), k=50, ef=8,
    )
    assert len(out) == n  # k > N clamps (src/test_hnsw.zig:121-125)


def test_beam_branch_contract_and_recall():
    rng = np.random.default_rng(2)
    n, dim, k, nq = 400, 16, 10, 20
    mat = rng.random((n, dim))
    ids = np.arange(1000, 1000 + n, dtype=np.int64)
    adj = _knn_adj(mat, 12)
    qm = rng.random((nq, dim))
    # seeds: 4 random distinct rows per query, plus a -1 pad column
    seeds = rng.integers(0, n, (nq, 4)).astype(np.int64)
    seeds = np.concatenate(
        [seeds, np.full((nq, 1), -1, dtype=np.int64)], axis=1
    )
    qids = np.arange(nq, dtype=np.int64)
    out = _beam_search_seeded(ids, mat, adj, seeds, qm, qids, k=k, ef=64)
    hits = 0
    for qi in range(nq):
        got = out[out.query_id == qi]
        assert len(got) == k
        vals = got["vec_id"].to_numpy()
        assert len(set(vals)) == k  # no duplicates
        assert (vals >= 1000).all()  # no sentinel/padding leaked
        d = got["dist_sq"].to_numpy()
        assert (np.diff(d) >= 0).all()  # ascending
        # distances are exact for the returned ids
        pos = vals - 1000
        np.testing.assert_allclose(
            d, ((mat[pos] - qm[qi]) ** 2).sum(1), rtol=1e-12
        )
        hits += len(set(vals.tolist()) & _brute_topk(mat, ids, qm[qi], k))
    # dense 12-NN graph + 4 seeds: beam must find nearly everything
    assert hits / (nq * k) >= 0.9


def test_beam_all_seeds_missing_returns_empty():
    rng = np.random.default_rng(3)
    n, dim = 300, 8
    mat = rng.random((n, dim))
    ids = np.arange(n, dtype=np.int64)
    adj = _knn_adj(mat, 4)
    seeds = np.full((2, 3), -1, dtype=np.int64)  # every seed missing
    out = _beam_search_seeded(
        ids, mat, adj, seeds, rng.random((2, dim)),
        np.array([0, 1]), k=5, ef=32,
    )
    assert len(out) == 0


def test_farthest_point_seeds_cover_merged_clusters(tmp_path):
    """If k-means merges two separated clusters into one cell, the
    cell's seeds must cover BOTH modes — the defect class behind the
    1M recall-0.0 tail (queries whose cell was correctly routed but
    whose every seed sat in the other cluster, unreachable over a
    k-NN graph with no cross-cluster edges)."""
    from zvdb_spark.operators.graph_ann import _write_segment

    rng = np.random.default_rng(5)
    n_half, dim = 200, 16
    a = rng.normal(0.0, 0.05, (n_half, dim))
    b = rng.normal(5.0, 0.05, (n_half, dim))  # far-separated mode
    mat = np.concatenate([a, b])
    # interleave ids so row-order striding would NOT trivially cover
    ids = np.arange(2 * n_half, dtype=np.int64)
    cells = np.zeros(2 * n_half, dtype=np.int64)  # one merged cell
    newm = np.ones(2 * n_half, dtype=bool)
    cmat = mat.mean(0, keepdims=True)  # centroid between the modes
    out_cells, out_seeds = _write_segment(
        str(tmp_path / "seg"), ids, mat, cells, newm, cmat, spc=4
    )
    assert out_cells == [0]
    seeds = out_seeds[0]
    assert 2 <= len(seeds) <= 4
    seed_modes = {int(s) >= n_half for s in seeds}
    assert seed_modes == {False, True}, (
        f"seeds {seeds} cover only one of two separated modes"
    )


def test_group_seeds_by_pid_matches_dict_loop():
    """The search task's vectorized seed grouping must reproduce the
    per-row dict loop it replaced: pid-ascending groups,
    nearest-cell-first seed order within a pid, per-cell slot order,
    empty rows and all-padding cells contributing nothing. The flat
    (row, pid, seed) output is sorted by (pid, row)."""
    from zvdb_spark.operators.graph_ann import _group_seeds_by_pid

    def as_dicts(rows, pids, seeds, nq):
        assert np.all(np.diff(pids * (nq + 1) + rows) >= 0)  # (pid, row)
        out = [[] for _ in range(nq)]
        for r, p, s in zip(rows.tolist(), pids.tolist(), seeds.tolist()):
            if out[r] and out[r][-1]["pid"] == p:
                out[r][-1]["seeds"].append(s)
            else:
                out[r].append({"pid": p, "seeds": [s]})
        return out

    def dict_loop(near, cell_shard, cell_seeds):
        out = []
        for row in near:
            by_pid: dict[int, list[int]] = {}
            for c in row:
                sds = [int(s) for s in cell_seeds[c] if s >= 0]
                if sds:
                    by_pid.setdefault(int(cell_shard[c]), []).extend(sds)
            out.append(
                [{"pid": p, "seeds": s} for p, s in sorted(by_pid.items())]
            )
        return out

    rng = np.random.default_rng(0)
    for trial in range(200):
        n_cells = int(rng.integers(1, 40))
        spc = int(rng.integers(1, 6))
        n_shard = int(rng.integers(1, 8))
        nq = int(rng.integers(0, 50))
        ns = int(rng.integers(1, min(n_cells, 12) + 1))
        cell_shard = rng.integers(0, n_shard, n_cells).astype(np.int32)
        cell_seeds = rng.integers(-1, 100, (n_cells, spc)).astype(np.int64)
        cell_seeds[rng.random(n_cells) < 0.2] = -1  # all-padding cells
        near = (
            np.stack([rng.choice(n_cells, ns, replace=False)
                      for _ in range(nq)]).astype(np.int64)
            if nq else np.empty((0, ns), dtype=np.int64)
        )
        rows, pids, seeds = _group_seeds_by_pid(near, cell_shard, cell_seeds)
        assert as_dicts(rows, pids, seeds, nq) == (
            dict_loop(near, cell_shard, cell_seeds)
        ), f"trial {trial}"
