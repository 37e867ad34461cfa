"""Direct numpy-level tests of _beam_search_seeded — no Spark.

The beam is the engine's hottest python kernel; these pin its
contract on both branches (exhaustive fallback when the ef budget
covers the shard, sparse-visited beam otherwise) without paying a
session: result shape, ordering, dedup, sentinel handling, recall
against brute force on a well-connected graph, and bit-identical
output against the keep-every-row kernel it replaced.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from zvdb_spark.operators.graph_ann import _beam_search_seeded
from zvdb_spark.operators.knn import _pair_scores


# The engine's top-k helper as it stood before it selected by a
# column-block bound: an argpartition, with the rows whose boundary
# ties straddle kk re-resolved by (distance, id) lexsort. Rows come
# back in argpartition order. It is the oracle of the surviving helper
# (tests/test_kernels.py::test_topk_matches_reference) and the top-k
# of the beam oracle below.
def _topk_reference(d, ids, kk: int):
    """Per-row indices of the kk smallest (distance, id) pairs.

    argpartition fast path; when ties straddle the k-th boundary the
    affected rows are re-resolved exactly by (distance, id) lexsort,
    so shard-level membership matches the declared
    ``ORDER BY d, neighbor_id`` contract even with duplicate vectors
    (duplicates are distinct rows, src/test_hnsw.zig:104-119).
    """
    import numpy as np

    if kk >= d.shape[1]:
        return np.broadcast_to(np.arange(d.shape[1]), d.shape).copy()
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    boundary = np.take_along_axis(d, part, axis=1).max(axis=1)
    ambiguous = np.nonzero((d <= boundary[:, None]).sum(axis=1) > kk)[0]
    for r in ambiguous:
        cand = np.nonzero(d[r] <= boundary[r])[0]
        order = np.lexsort((ids[cand], d[r, cand]))
        part[r] = cand[order[:kk]]
    return part


# The kernel as it stood before it kept a per-step top-k and chunked
# its distances: it keeps every explored row and sorts them all. It is
# the oracle for the surviving kernel, which must return the same rows,
# in the same order, with the same dtypes.
def _beam_reference(
    ids: np.ndarray,
    mat: np.ndarray,
    adj: np.ndarray,
    seeds_per_q: np.ndarray,
    qm: np.ndarray,
    qids: np.ndarray,
    k: int,
    ef: int,
) -> pd.DataFrame:
    """Batched best-first beam from per-query seed rows — the
    vectorized twin of the reference's heap loop
    (``src/hnsw.zig:211-224``): each step expands the beams of ALL
    queries in one numpy batch; the explored set is ef-bounded;
    results are the best k explored, ascending (distance, id)."""
    n = len(ids)
    nb = len(qm)
    budget = max(ef, k)
    if budget * 2 >= n:
        # budget touches (nearly) the whole shard: score exhaustively
        # instead — exact, preserving the k > N clamp
        # (src/test_hnsw.zig:121-125). Rank with the norm-expansion
        # GEMM, then RESCORE the selected nb x kk pairs as diff² so
        # reported distances match the beam path exactly (the GEMM
        # form loses ~1e-16 to cancellation — a self-match must be
        # 0.0, not 6.7e-16) and re-sort by the exact (dist, id).
        mat_arr = np.asarray(mat)
        d = _pair_scores(qm, mat_arr, (mat_arr * mat_arr).sum(axis=1),
                         "l2_sq")
        kk = min(k, n)
        part = _topk_reference(d, ids, kk)
        sel = mat_arr[part]  # (nb, kk, dim) gather
        diff = sel - qm[:, None, :]
        dex = np.einsum("ijk,ijk->ij", diff, diff)
        ids_sel = np.asarray(ids)[part]
        r = np.repeat(np.arange(nb), kk)
        fo = np.lexsort((ids_sel.ravel(), dex.ravel(), r)).reshape(nb, kk)
        col = fo - np.arange(nb)[:, None] * kk
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, kk),
                "vec_id": np.take_along_axis(ids_sel, col, axis=1).ravel(),
                "dist_sq": np.take_along_axis(dex, col, axis=1).ravel(),
            }
        )
    ns = seeds_per_q.shape[1]
    beam_width = max(8, budget // 8, ns)
    max_steps = max(3, -(-budget // beam_width))
    # visited as a SORTED key array (key = q * (n+1) + node), not a
    # dense (nb, n) bitmap: the bitmap was O(queries x shard_rows)
    # memory *zeroed per task* — 313 MB per 313-query block on a
    # 1M-row shard, which made per-task cost linear in shard size and
    # inverted the ANN-vs-exact trend at 1M (measured 535 q/s ANN vs
    # 749 q/s exact before; the docstring's "ef-bounded, independent
    # of shard rows" only holds with O(explored) state).
    stride = n + 1
    sq = seeds_per_q.copy()
    sq[sq < 0] = n  # sentinel for missing seeds (empty cells)
    sqr = sq.ravel()
    visited_keys = np.unique(
        np.repeat(np.arange(nb, dtype=np.int64), ns) * stride + sqr
    )
    d0 = np.full(len(sqr), np.inf)
    live = sqr < n
    diff = mat[sqr[live]] - np.repeat(qm, ns, axis=0)[live]
    d0[live] = np.einsum("ij,ij->i", diff, diff)
    acc_q = [np.repeat(np.arange(nb, dtype=np.int64), ns)]
    acc_p = [sqr.astype(np.int64)]
    acc_d = [d0]
    beam = np.full((nb, beam_width), n, dtype=np.int64)
    beam[:, :ns] = sq
    active = np.ones(nb, dtype=bool)
    for _ in range(max_steps):
        if not active.any():
            break
        aq = np.nonzero(active)[0]
        cand = adj[beam[aq]].reshape(len(aq), -1)
        qidx = np.repeat(aq, cand.shape[1])
        cf = cand.ravel()
        real = cf < n  # drop adjacency padding (node n)
        qidx, cf = qidx[real], cf[real]
        if not len(qidx):
            break
        key = qidx * stride + cf
        _, u = np.unique(key, return_index=True)
        qidx, cf = qidx[u], cf[u]
        key = qidx * stride + cf  # sorted ascending (unique's order)
        pos = np.searchsorted(visited_keys, key)
        seen = np.zeros(len(key), dtype=bool)
        inb = pos < len(visited_keys)
        seen[inb] = visited_keys[pos[inb]] == key[inb]
        qidx, cf, key = qidx[~seen], cf[~seen], key[~seen]
        if not len(qidx):
            break
        # both inputs sorted: concatenate + sort is a cheap merge of
        # O(explored) keys, never O(shard_rows)
        visited_keys = np.sort(np.concatenate([visited_keys, key]))
        diff = mat[cf] - qm[qidx]
        dd = np.einsum("ij,ij->i", diff, diff)
        acc_q.append(qidx)
        acc_p.append(cf)
        acc_d.append(dd)
        order = np.lexsort((cf, dd, qidx))
        qs_, ps_ = qidx[order], cf[order]
        starts = np.searchsorted(qs_, np.arange(nb + 1))
        rank = np.arange(len(qs_)) - starts[qs_]
        keep = rank < beam_width
        beam = np.full((nb, beam_width), n, dtype=np.int64)
        beam[qs_[keep], rank[keep]] = ps_[keep]
        active = np.zeros(nb, dtype=bool)
        active[qs_] = True
    pall, dall, qall = map(np.concatenate, (acc_p, acc_d, acc_q))
    ok = pall < n  # drop sentinel seeds
    pall, dall, qall = pall[ok], dall[ok], qall[ok]
    order = np.lexsort((pall, dall, qall))
    qs_, ps_, ds_ = qall[order], pall[order], dall[order]
    # dedupe (query, node): seeds may also be re-found via edges
    kq = qs_ * (n + 1) + ps_
    first = np.ones(len(kq), dtype=bool)
    first[1:] = kq[1:] != kq[:-1]
    qs_, ps_, ds_ = qs_[first], ps_[first], ds_[first]
    order = np.lexsort((ps_, ds_, qs_))
    qs_, ps_, ds_ = qs_[order], ps_[order], ds_[order]
    starts = np.searchsorted(qs_, np.arange(nb + 1))
    out_q, out_v, out_d = [], [], []
    ids_arr = np.asarray(ids)
    for qi in range(nb):
        lo = starts[qi]
        hi = min(starts[qi + 1], lo + k)
        out_q.append(np.full(hi - lo, qids[qi], dtype=np.int64))
        out_v.append(ids_arr[ps_[lo:hi]])
        out_d.append(ds_[lo:hi])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q) if out_q else [],
            "vec_id": np.concatenate(out_v) if out_v else [],
            "dist_sq": np.concatenate(out_d) if out_d else [],
        }
    )



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


@pytest.fixture(scope="module")
def beam_corpus():
    """A clustered 3,000 x 16 corpus whose last 100 rows duplicate
    earlier rows under their own ids, its 12-NN graph, and 48 queries:
    16 perturbed corpus rows, 16 exact corpus rows (self-match
    distance 0.0) and 16 duplicated rows (two rows at distance 0.0)."""
    rng = np.random.default_rng(7)
    n_base, n_dup, dim = 2_900, 100, 16
    centers = rng.normal(0.0, 4.0, (20, dim))
    base = centers[rng.integers(0, 20, n_base)] + rng.normal(
        0.0, 1.0, (n_base, dim)
    )
    dup_src = rng.choice(n_base, n_dup, replace=False)
    mat = np.concatenate([base, base[dup_src]])
    n = len(mat)
    ids = np.arange(n, dtype=np.int64) * 3 + 5  # non-positional ids
    sq = (mat * mat).sum(1)
    d = sq[:, None] + sq[None, :] - 2.0 * (mat @ mat.T)
    np.fill_diagonal(d, np.inf)
    adj = np.full((n + 1, 12), n, dtype=np.int64)
    adj[:n] = np.argsort(d, axis=1, kind="stable")[:, :12]
    qm = np.concatenate([
        mat[rng.choice(n_base, 16, replace=False)]
        + rng.normal(0.0, 0.3, (16, dim)),
        mat[rng.choice(n_base, 16, replace=False)],
        mat[n_base + rng.choice(n_dup, 16, replace=False)],
    ])
    seeds = rng.integers(0, n, (len(qm), 8)).astype(np.int64)
    seeds[:, 7] = seeds[:, 0]  # a seed reached through two cells
    qids = np.arange(len(qm), dtype=np.int64) * 7 + 1
    return ids, mat, adj, seeds, qm, qids


@pytest.fixture(scope="module")
def tie_corpus():
    """A 345 x 8 corpus on a random out-degree-12 graph: 300 random rows,
    40 copies of one vector (so far more than beam_width + 1 new pairs
    of one step tie exactly at a query's selection boundary) and a
    5-row clique joined to nothing else. 18 queries: 8 at the copied
    vector itself (distance 0.0 ties), 4 near it, 4 random and 2
    seeded only inside the clique, which run out of new pairs (fewer
    than beam_width per step) while the others still expand."""
    rng = np.random.default_rng(11)
    n_rand, n_copy, n_clq, dim = 300, 40, 5, 8
    v = rng.normal(0.0, 1.0, dim)
    mat = np.concatenate([
        rng.normal(0.0, 1.0, (n_rand, dim)),
        np.repeat(v[None, :], n_copy, axis=0),
        rng.normal(100.0, 0.1, (n_clq, dim)),
    ])
    n = len(mat)
    ids = np.arange(n, dtype=np.int64) * 3 + 5
    m = n_rand + n_copy
    adj = np.full((n + 1, 12), n, dtype=np.int64)
    adj[:m] = rng.integers(0, m, (m, 12))
    for i in range(n_clq):
        adj[m + i, : n_clq - 1] = [m + j for j in range(n_clq) if j != i]
    qm = np.concatenate([
        np.repeat(v[None, :], 8, axis=0),
        v + rng.normal(0.0, 0.01, (4, dim)),
        rng.normal(0.0, 1.0, (4, dim)),
        mat[m : m + 2] + 0.01,
    ])
    seeds = rng.integers(0, m, (len(qm), 4)).astype(np.int64)
    seeds[-2:] = [[m, -1, -1, -1], [m + 1, m + 2, -1, -1]]
    qids = np.arange(len(qm), dtype=np.int64) * 7 + 1
    return ids, mat, adj, seeds, qm, qids


@pytest.mark.parametrize("drop", [0.0, 0.3])
@pytest.mark.parametrize("ef", [8, 32, 128, 600, 2000])
@pytest.mark.parametrize("k", [1, 10, 40, 100, 700])
def test_beam_matches_reference_kernel(beam_corpus, tie_corpus, k, ef, drop):
    """The per-step selection, chunked-distance kernel returns exactly
    the reference kernel's rows, order and dtypes: on both branches
    (ef=2000 and k=700 with ef=2000 take the exhaustive one), with
    seeds missing, and with self-match and duplicate-vector ties. The
    larger beams expand more than one ``_DIST_CHUNK`` of pairs per
    step, and k >= 40 keeps more than one step's rows per query. On
    ``tie_corpus`` a step's boundary ties reach past the selected
    max(k, beam_width) pairs (the full-row-sort fallback), and
    clique queries have fewer new pairs than beam_width (the padded
    selection)."""
    for ids, mat, adj, seeds, qm, qids in (beam_corpus, tie_corpus):
        seeds = seeds.copy()
        rng = np.random.default_rng(int(drop * 10))
        seeds[rng.random(seeds.shape) < drop] = -1
        seeds[0] = -1  # one query with no seed at all
        got = _beam_search_seeded(ids, mat, adj, seeds, qm, qids, k=k, ef=ef)
        want = _beam_reference(ids, mat, adj, seeds, qm, qids, k=k, ef=ef)
        assert list(got.columns) == list(want.columns)
        assert list(got.dtypes) == list(want.dtypes)
        pd.testing.assert_frame_equal(got, want, check_exact=True)
