"""Seeded Lloyd's k-means: determinism + monotone objective."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.kmeans import assign_cells, kmeans_fit
from zvdb_spark.sources.tables import load


def sse(emb, centroids: np.ndarray, vec_col: str = "emb") -> float:
    """Within-cluster sum of squared distances (the Lloyd's objective;
    must be non-increasing over iterations)."""
    cmat = np.ascontiguousarray(centroids)
    cnorm = (cmat * cmat).sum(axis=1)

    @F.pandas_udf("double")
    def _mind(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy()).astype(np.float64)
        xnorm = (mat * mat).sum(axis=1)
        d = xnorm[:, None] + cnorm[None, :] - 2.0 * (mat @ cmat.T)
        return pd.Series(np.maximum(d.min(axis=1), 0.0))

    return emb.select(F.sum(_mind(F.col(vec_col)))).head()[0]


def _emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )


def test_kmeans_deterministic(spark, sf_dir):
    e = _emb(spark, sf_dir)
    c1 = kmeans_fit(e, k=8, n_iter=3)
    c2 = kmeans_fit(e, k=8, n_iter=3)
    assert np.array_equal(c1, c2)


def test_kmeans_objective_decreases(spark, sf_dir):
    e = _emb(spark, sf_dir)
    prev = None
    for it in (0, 1, 3):
        c = kmeans_fit(e, k=8, n_iter=it)
        cur = sse(e, c)
        if prev is not None:
            assert cur <= prev + 1e-9, f"SSE rose at iter {it}"
        prev = cur


def test_assignment_covers_all_rows(spark, sf_dir):
    e = _emb(spark, sf_dir)
    c = kmeans_fit(e, k=8, n_iter=2)
    a = assign_cells(e, c)
    assert a.count() == e.count()
    cells = {r.cell_id for r in a.select("cell_id").distinct().collect()}
    assert cells.issubset(set(range(8))) and len(cells) > 1


def test_kmeans_fit_sample_deterministic_and_useful(spark, sf_dir):
    """Sample-based quantizer: deterministic under the seeded hash
    sample, and its SSE beats the trivial first-k-rows quantizer it
    initializes from (Lloyd's must improve the objective)."""
    from zvdb_spark.operators.kmeans import kmeans_fit_sample

    e = _emb(spark, sf_dir)
    c1 = kmeans_fit_sample(e, k=8, n_iter=5, sample_n=200)
    c2 = kmeans_fit_sample(e, k=8, n_iter=5, sample_n=200)
    assert np.array_equal(c1, c2)
    assert c1.shape[0] == 8
    c0 = kmeans_fit_sample(e, k=8, n_iter=0, sample_n=200)
    assert sse(e, c1) <= sse(e, c0)


def test_centroid_save_load_roundtrip(spark, sf_dir, tmp_path):
    """fit -> save -> load is bit-exact, and the loaded matrix pins
    identical assignments + an identical SemDeDup kept set — the
    cross-session bit-stability contract (a fresh session loading the
    npz sees exactly these bytes; no Spark state is involved in the
    load path)."""
    from zvdb_spark.operators.kmeans import load_centroids, save_centroids
    from zvdb_spark.queries.dedup import semantic_dedup_with_centroids

    e = _emb(spark, sf_dir)
    c = kmeans_fit(e, k=8, n_iter=3)
    p = str(tmp_path / "cents")
    assert save_centroids(c, p) == p
    c2 = load_centroids(p)
    assert np.array_equal(c, c2) and c2.dtype == np.float64

    a1 = {(r.vec_id, r.cell_id) for r in assign_cells(e, c).collect()}
    a2 = {(r.vec_id, r.cell_id) for r in assign_cells(e, c2).collect()}
    assert a1 == a2

    k1 = {
        tuple(r) for r in
        semantic_dedup_with_centroids(spark, sf_dir, c)
        .select("cell_id", "n_kept", "kept_id_sum").collect()
    }
    k2 = {
        tuple(r) for r in
        semantic_dedup_with_centroids(spark, sf_dir, c2)
        .select("cell_id", "n_kept", "kept_id_sum").collect()
    }
    assert k1 == k2


def test_centroid_load_rejects_corruption(tmp_path):
    import json

    import pytest

    from zvdb_spark.operators.kmeans import load_centroids, save_centroids

    p = str(tmp_path / "c")
    save_centroids(np.ones((4, 3)), p)
    m = json.load(open(f"{p}.json"))
    m["dim"] = 99
    json.dump(m, open(f"{p}.json", "w"))
    with pytest.raises(ValueError, match="out of sync"):
        load_centroids(p)
    m["dim"] = 3
    m["format"] = 0
    json.dump(m, open(f"{p}.json", "w"))
    with pytest.raises(ValueError, match="format"):
        load_centroids(p)


def test_lloyd_fit_executor_bit_identical(spark):
    """lloyd_fit (round 14: the coarse-quantizer fit moved into one
    executor task, guide §5) must return bit-identical centroids to
    the driver-side lloyd_local on the same sample — the broadcast /
    one-task job is pure placement, never numerics. Forces the
    executor path by dropping the size gate."""
    from zvdb_spark.operators import kmeans as KM

    rng = np.random.default_rng(3)
    mat = rng.random((5000, 24))
    mat[100:140] = mat[0]  # duplicate rows: tie-heavy assignment
    want = KM.lloyd_local(mat, k=64, n_iter=4)
    saved = KM._EXEC_FIT_MIN_BYTES
    KM._EXEC_FIT_MIN_BYTES = 0
    try:
        got = KM.lloyd_fit(spark, mat, k=64, n_iter=4)
    finally:
        KM._EXEC_FIT_MIN_BYTES = saved
    assert got.shape == want.shape
    assert np.array_equal(got, want)  # bitwise, not allclose
