"""Kernel-level parity tests mirroring the reference's remaining
unit tests (src/test_hnsw.zig)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from zvdb_spark.functions.vector import (
    as_double_array,
    cosine_sim,
    dist_sq,
    dist_sq_strict,
    dot,
    l2_norm,
)


def test_different_data_types(spark):
    """f32 / f64 / i32 element types all work through one widened
    kernel (src/test_hnsw.zig:239-273; HNSW(T) comptime generic at
    src/hnsw.zig:8 -> one array<double> kernel here)."""
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "a array<float>, b array<float>"
    )
    f32 = df.select(dist_sq(as_double_array("a"), as_double_array("b"))).head()[0]
    df64 = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    f64 = df64.select(dist_sq("a", "b")).head()[0]
    di = spark.createDataFrame([([1, 2], [3, 4])], "a array<int>, b array<int>")
    i32 = di.select(dist_sq(as_double_array("a"), as_double_array("b"))).head()[0]
    assert f32 == f64 == i32 == 8.0


def test_dim_mismatch_raises(spark):
    """The reference panics on dimension mismatch (src/hnsw.zig:183-185);
    the strict kernel raises analysis-time-checkable errors."""
    df = spark.createDataFrame(
        [([1.0, 2.0], [1.0, 2.0, 3.0])], "a array<double>, b array<double>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        df.select(dist_sq_strict("a", "b")).collect()


def test_kernel_math(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0], [4.0, 3.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dist_sq("a", "b").alias("d"),
        dot("a", "b").alias("p"),
        l2_norm("a").alias("n"),
        cosine_sim("a", "b").alias("c"),
    ).head()
    assert row.d == 2.0 and row.p == 24.0 and row.n == 5.0
    assert math.isclose(row.c, 24.0 / 25.0)


def test_cosine_zero_norm_null(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 1.0])], "a array<double>, b array<double>"
    )
    assert df.select(cosine_sim("a", "b")).head()[0] is None


def test_auto_grid_uses_supplied_counts_without_scanning():
    """When cardinalities are supplied, _auto_grid must not touch the
    DataFrames at all (None stands in: any access would raise) — the
    count() fallback costs a full scan per side at 100 TB — and counts
    only the sides whose value it uses."""
    from zvdb_spark.operators.knn import _auto_grid

    n_shards, n_blocks = _auto_grid(
        None, None, None, None, n_corpus=5000, n_probes=100,
        parallelism=32,
    )
    assert n_blocks == 1  # small probe side: corpus crosses ONCE
    assert n_shards == 5  # ceil(5000/_MIN_CELL_ROWS)
    # an explicit block count needs no probe count at all
    assert _auto_grid(
        None, None, None, 3, n_corpus=10_000, parallelism=32
    ) == (10, 3)  # ceil(10_000/_MIN_CELL_ROWS)


def test_auto_grid_minimizes_replication():
    """The grid splits the BIG side and replicates the small one:
    shuffle volume is C x B + Q x P rows, so B grows with sqrt(Q/C).
    The round-4 fixed-cell sizing replicated the 1M-row corpus 5x at
    the bench's 1M x 10k shape; the new grid must keep B = 1 there."""
    from zvdb_spark.operators.knn import _auto_grid

    # 1M corpus, 10k probes, 32 cores: one probe block, corpus
    # shuffled once, shards sized to ~4096-row cells (the measured
    # straggler-robust task granularity)
    p, b = _auto_grid(None, None, None, None,
                      n_corpus=1_000_000, n_probes=10_000, parallelism=32)
    assert b == 1
    assert p == 245  # ceil(1M / _TARGET_CELL_ROWS)
    # symmetric shape splits both sides
    p, b = _auto_grid(None, None, None, None,
                      n_corpus=100_000, n_probes=100_000, parallelism=32)
    assert b > 1 and p > 1
    assert abs(p - b) <= max(p, b)  # both sides split, neither huge
    # giant corpora hit the grid cap (per-task memory stays bounded
    # by the chunked in-cell GEMM, not by making more cells)
    p, b = _auto_grid(None, None, None, None,
                      n_corpus=50_000_000, n_probes=1_000, parallelism=32)
    assert b == 1
    assert p == 256
    # explicit values are always respected verbatim
    assert _auto_grid(None, None, 7, 3, n_corpus=10, n_probes=10) == (7, 3)


def test_unit_vector_cosine_bridge(spark, sf_dir):
    """unit_vector makes every L2 path a cosine path:
    dist_sq(unit(a), unit(b)) == 2 - 2*cosine(a, b) (monotone map),
    so L2 top-k over normalized vectors IS cosine top-k."""
    from pyspark.sql import functions as F

    from zvdb_spark.functions.vector import (
        as_double_array,
        cosine_sim,
        dist_sq,
        unit_vector,
    )
    from zvdb_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qemb"))
    both = (
        e.join(F.broadcast(q))
        .select(
            "vec_id",
            dist_sq(unit_vector("emb"), unit_vector("qemb")).alias("d_unit"),
            cosine_sim("emb", "qemb").alias("cos"),
        )
        .limit(200)
        .collect()
    )
    for r in both:
        assert abs(r.d_unit - (2.0 - 2.0 * r.cos)) < 1e-9, r


def test_graph_index_serves_cosine_via_normalization(spark, sf_dir):
    """End-to-end: GraphIndex built on normalized vectors answers
    cosine top-k — its L2 results, ranked, match the exact cosine
    ranking of q_ann_bruteforce's contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from zvdb_spark.functions.vector import as_double_array, unit_vector
    from zvdb_spark.operators.graph_ann import GraphIndex
    from zvdb_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", unit_vector(as_double_array("embedding")).alias("emb")
    )
    idx = GraphIndex(m=8, ef=64, cell_target_rows=100, seed=42).build(e)
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.emb) for r in rows])  # unit rows
    probe_ids = ids[:10]
    q = spark.createDataFrame(
        [
            (int(i), [float(x) for x in mat[np.nonzero(ids == i)[0][0]]])
            for i in probe_ids
        ],
        "query_id long, qemb array<double>",
    )
    got = idx.search_routed(q, k=5, n_queries=10).toPandas()
    hits = 0
    for qi in probe_ids:
        qv = mat[np.nonzero(ids == qi)[0][0]]
        cos = mat @ qv  # unit vectors: dot == cosine
        order = np.lexsort((ids, -cos))[:5]  # cosine DESC, id ASC
        truth = set(ids[order])
        pred = set(got[got.query_id == qi].vec_id)
        assert len(pred) == 5
        hits += len(truth & pred)
    assert hits / (len(probe_ids) * 5) >= 0.9


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_topk_matches_reference(dtype):
    """The bound-prefiltered top-k selects the reference helper's
    index set on every row and returns it in (distance, id) order:
    random rows, few-valued rows whose duplicates straddle the kk
    boundary, all-equal rows, widths that are not a multiple of kk,
    and kk of 1, 10, width - 1, width and width + 3. A row with fewer
    than kk finite entries (NaN scores, as a zero-norm cosine gives)
    returns its finite entries by (distance, id), then its NaN
    entries by id; the reference leaves that order to argpartition."""
    import numpy as np

    from tests.test_beam_unit import _topk_reference
    from zvdb_spark.operators.knn import _topk_by_dist_id

    rng = np.random.default_rng(9)
    nq = 24
    for width in (1, 7, 10, 33, 100, 257):
        ids = rng.permutation(width).astype(np.int64) * 2 + 1
        cases = {
            "random": rng.random((nq, width)),
            "dups": rng.integers(0, 4, (nq, width)) / 4.0,
            "equal": np.full((nq, width), 0.5),
        }
        nan = rng.random((nq, width))
        nan[rng.random((nq, width)) < 0.7] = np.nan
        nan[:, 0] = np.nan  # a column of zero-norm scores
        cases["nan"] = nan
        for case, d in cases.items():
            d = d.astype(dtype)
            for kk in sorted({1, 10, width - 1, width, width + 3} - {0}):
                got = _topk_by_dist_id(d, ids, kk)
                want = _topk_reference(d, ids, kk)
                assert got.shape == want.shape, (case, width, kk)
                assert np.issubdtype(got.dtype, np.integer)
                for i in range(nq):
                    fin = np.flatnonzero(~np.isnan(d[i]))
                    if len(fin) >= min(kk, width):
                        w = want[i]
                        w = w[np.lexsort((ids[w], d[i, w]))]
                    else:
                        fin = fin[np.lexsort((ids[fin], d[i, fin]))]
                        nn = np.flatnonzero(np.isnan(d[i]))
                        w = np.r_[fin, nn[np.argsort(ids[nn])]][:kk]
                        assert set(fin) <= set(want[i])
                    assert got[i].tolist() == w.tolist(), (case, width, kk, i)
