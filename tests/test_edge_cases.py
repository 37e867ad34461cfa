"""Regression tests for edge cases flagged in round-1 review:

- short documents (< n tokens) must yield empty shingle sets, not
  throw (INVALID_ARRAY_INDEX_IN_ELEMENT_AT from a descending
  sequence());
- per-shard top-k must keep the smallest ids among distance ties
  (duplicate vectors are distinct rows, src/test_hnsw.zig:104-119),
  on both plans of the blocked operators;
- an over-size probe side is never collected onto the driver;
- salted_join rejects join types it cannot preserve;
- the default driver heap is capped at 60% of the host's memory.
"""

from __future__ import annotations

import numpy as np
import pytest


def test_shingles_short_docs(spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["one", "two words", "", "a b c"],
            "source": ["t"] * 4,
            "lang": ["en"] * 4,
            "n_chars": [3, 9, 0, 5],
        }
    )
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{d}/documents.parquet"
    )
    from zvdb_spark.queries.dedup import _shingles_spark

    rows = {
        r.doc_id: r.shingles
        for r in _shingles_spark(spark, d, 2).collect()
    }
    assert rows[0] == []  # 1 token, 2-shingles -> empty
    assert rows[1] == ["two_words"]
    assert rows[2] == []  # empty text -> [''] token -> still < 2
    assert rows[3] == ["a_b", "b_c"]
    # 3-gram path on the same frame
    rows3 = {
        r.doc_id: r.shingles
        for r in _shingles_spark(spark, d, 3).collect()
    }
    assert rows3[1] == []
    assert rows3[3] == ["a_b_c"]


def test_topk_tie_break_prefers_small_ids():
    from zvdb_spark.operators.knn import _topk_by_dist_id

    # row 0: four candidates tied at d=1.0 — keep the two smallest ids
    # even though argpartition alone could keep any two
    d = np.array([[1.0, 1.0, 1.0, 1.0, 5.0], [0.1, 0.2, 0.3, 0.4, 0.5]])
    ids = np.array([40, 10, 30, 20, 1])
    part = _topk_by_dist_id(d, ids, 2)
    assert set(ids[part[0]]) == {10, 20}
    assert list(ids[part[1]]) == [40, 10]
    # kk >= n keeps everything
    full = _topk_by_dist_id(d, ids, 5)
    assert full.shape == (2, 5)


def test_topk_tie_at_boundary_partial():
    from zvdb_spark.operators.knn import _topk_by_dist_id

    # ties straddle the boundary: d = [0, 1, 1, 1], k=2 -> keep 0 and
    # the smallest-id of the tied group
    d = np.array([[0.0, 1.0, 1.0, 1.0]])
    ids = np.array([5, 9, 2, 7])
    part = _topk_by_dist_id(d, ids, 2)
    assert set(ids[part[0]]) == {5, 2}


def test_declared_queries_never_collect_table_data():
    """Scale contract: no declared query may pull table data to the
    driver. ``.collect()`` is banned from the whole queries package —
    the only sanctioned driver-side reads are O(1) scalar parameters
    (``head()`` of a 1-row probe), counts, and lines explicitly
    marked ``driver-bounded(n_shards)``: per-shard metadata a
    maintenance commit must serialize into its JSON manifest (at most
    n_shards rows — the shard count, not the table size; audited
    here to exactly one such site). (operators/kmeans.py holds
    k x dim centroid state driver-side by design and is not a
    declared query path.)"""
    import pathlib

    import zvdb_spark.queries as qpkg

    qdir = pathlib.Path(qpkg.__file__).parent
    offenders = []
    marked = 0
    for p in qdir.glob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if ".collect()" not in line:
                continue
            if "driver-bounded(n_shards)" in line:
                marked += 1
                continue
            offenders.append(f"{p.name}:{i}")
    assert offenders == [], f".collect() found in queries: {offenders}"
    # the marker is a scalpel, not a loophole: exactly the one
    # commit-metadata site may carry it
    assert marked == 1, f"driver-bounded marker count drifted: {marked}"


_GRIDS = {"broadcast": {}, "cogroup": {"n_shards": 4, "n_blocks": 3}}


@pytest.fixture(scope="module")
def dup_vectors(spark):
    """200 random 8-d rows plus the first 40 again under shifted ids:
    duplicate vectors are distinct rows (src/test_hnsw.zig:104-119),
    so equal scores must fall back to the neighbor-id tie-break."""
    rng = np.random.default_rng(3)
    mat = rng.random((200, 8))
    ids = np.concatenate([np.arange(200), 1000 + np.arange(40)])
    mat = np.vstack([mat, mat[:40]])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, emb array<double>",
    ).localCheckpoint(eager=True)
    probes = df.select(df.vec_id.alias("query_id"), df.emb.alias("qemb"))
    return df, probes, ids, mat


def _pair_tau(scores, frac):
    """A threshold between two observed pair scores, no pair within
    1e-9 of it, with about ``frac`` of the pairs below it."""
    u = np.unique(scores)
    lo = int(frac * len(u))
    gap = np.nonzero(np.diff(u[lo:]) > 2e-9)[0][0] + lo
    return (u[gap] + u[gap + 1]) / 2


@pytest.mark.parametrize("metric", ["l2_sq", "cosine"])
@pytest.mark.parametrize("grid", sorted(_GRIDS))
@pytest.mark.parametrize(
    "op", ["exact_search_blocked", "threshold_join_blocked"]
)
def test_blocked_paths_match_reference(spark, dup_vectors, op, grid, metric):
    """Both plans of both blocked operators against a reference: the
    crossJoin knn_join for top-k (rank for rank, id tie-break
    included), a numpy brute force for the threshold join."""
    import pandas as pd

    from zvdb_spark.operators import knn

    df, probes, ids, mat = dup_vectors
    kw = _GRIDS[grid]
    if op == "exact_search_blocked":
        cols = ["query_id", "neighbor_id", "rn"]
        got = knn.exact_search_blocked(df, probes, k=5, metric=metric, **kw)
        ref = knn.knn_join(df, probes, k=5, metric=metric)
        got, ref = (
            f.toPandas().sort_values(cols, ignore_index=True)
            for f in (got, ref)
        )
        pd.testing.assert_frame_equal(got[cols], ref[cols])
        assert np.allclose(got["score"], ref["score"], atol=1e-9)
        return

    if metric == "l2_sq":
        s = ((mat[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
        tau = _pair_tau(s, 0.02)
        keep = s < tau
    else:
        norm = np.sqrt((mat * mat).sum(axis=1))
        s = (mat @ mat.T) / np.outer(norm, norm)
        tau = _pair_tau(s, 0.98)
        keep = s >= tau
    for upper_only in (False, True):
        mask = keep & (ids[None, :] > ids[:, None]) if upper_only else keep
        r, c = np.nonzero(mask)
        ref = pd.DataFrame(
            {"query_id": ids[r], "neighbor_id": ids[c], "score": s[r, c]}
        ).sort_values(["query_id", "neighbor_id"], ignore_index=True)
        got = (
            knn.threshold_join_blocked(
                df, probes, tau=tau, metric=metric, upper_only=upper_only,
                **kw,
            )
            .toPandas()
            .sort_values(["query_id", "neighbor_id"], ignore_index=True)
        )
        assert len(ref) > len(ids)  # more than the self pairs
        pd.testing.assert_frame_equal(
            got[["query_id", "neighbor_id"]], ref[["query_id", "neighbor_id"]]
        )
        assert np.allclose(got["score"], ref["score"], atol=1e-9)


@pytest.mark.parametrize("grid", sorted(_GRIDS))
def test_blocked_cosine_zero_norm_probe_matches_reference(
    spark, dup_vectors, grid
):
    """A zero-norm probe scores NaN against every row. Each task's
    top-k then takes its smallest ids (finite scores first, NaN ones
    by id), so both blocked plans return the neighbors knn_join ranks
    for it: NULL scores, ordered by neighbor id."""
    import pandas as pd

    from zvdb_spark.operators import knn

    df, _, _, mat = dup_vectors
    probes = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [float(x) for x in mat[5]])],
        "query_id long, qemb array<double>",
    )
    cols = ["query_id", "neighbor_id", "rn"]
    got, ref = (
        f.toPandas()[cols].sort_values(cols, ignore_index=True)
        for f in (
            knn.exact_search_blocked(
                df, probes, k=5, metric="cosine", **_GRIDS[grid]
            ),
            knn.knn_join(df, probes, k=5, metric="cosine"),
        )
    )
    pd.testing.assert_frame_equal(got, ref)
    assert got[got.query_id == 0].neighbor_id.tolist() == [0, 1, 2, 3, 4]


def test_oversize_probe_side_never_reaches_driver(spark, dup_vectors,
                                                  monkeypatch):
    """The byte gate (rows x dim x 8) runs before any collect: a probe
    side over _BCAST_PROBE_BYTES takes the cogroup grid without ever
    being pulled onto the driver, whether or not its count is
    supplied, and still matches the crossJoin reference."""
    import pandas as pd

    from zvdb_spark.operators import knn

    def _no_collect(*args, **kwargs):
        raise AssertionError("probe side collected past the byte gate")

    monkeypatch.setattr(knn, "_BCAST_PROBE_BYTES", 1)
    monkeypatch.setattr(knn, "_collect_probe_matrix", _no_collect)
    df, probes, ids, _ = dup_vectors
    cols = ["query_id", "neighbor_id", "rn"]
    ref = (
        knn.knn_join(df, probes, k=5)
        .toPandas()
        .sort_values(cols, ignore_index=True)
    )
    for n_probes in (None, len(ids)):
        got = (
            knn.exact_search_blocked(df, probes, k=5, n_probes=n_probes)
            .toPandas()
            .sort_values(cols, ignore_index=True)
        )
        pd.testing.assert_frame_equal(got[cols], ref[cols])


def test_salted_join_rejects_right_full(spark):
    from zvdb_spark.operators.skew import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(df, df, "k", how=how)


def test_vector_index_schema_uniform(spark):
    """search() returns one schema on every path (exact/approx/empty)."""
    from zvdb_spark.api import VectorIndex

    cols = ["query_id", "neighbor_id", "score", "rn"]
    idx = VectorIndex(spark, seed=7)
    assert idx.search([0.0, 0.0], k=3).columns == cols

    rng = np.random.default_rng(0)
    pdf = [
        (int(i), [float(x) for x in rng.random(4)]) for i in range(40)
    ]
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    idx.insert_batch(df).build()
    exact = idx.search([0.5, 0.5, 0.5, 0.5], k=3)
    approx = idx.search([0.5, 0.5, 0.5, 0.5], k=3, approximate=True)
    assert exact.columns == cols
    assert approx.columns == cols
    assert approx.count() <= 3


def test_default_driver_memory_is_sized_to_the_host(tmp_path):
    from zvdb_spark.session import _default_driver_memory

    def host(total_kb: int) -> str:
        f = tmp_path / "meminfo"
        f.write_text(
            f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
        )
        return _default_driver_memory(str(f))

    assert host(15 * 1024 * 1024) == "9216m"  # 60% of a 15 GB host
    assert host(256 * 1024 * 1024) == "49152m"  # 48g cap on a big host
    assert _default_driver_memory(str(tmp_path / "missing")) == "49152m"
