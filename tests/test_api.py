"""VectorIndex facade: the reference's init/insert/search contract."""

from __future__ import annotations

import pytest

from zvdb_spark.api import VectorIndex
from zvdb_spark.sources.tables import load


@pytest.fixture(scope="module")
def idx(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return VectorIndex(spark, m=16).insert_batch(emb).build()


def test_count_matches_inserts(idx, spark, sf_dir):
    assert idx.count() == load(spark, sf_dir, "embeddings").count()


def test_exact_search_matches_declared_query(idx, spark, sf_dir):
    from zvdb_spark.queries.vector import q_knn_exact

    qvec = (
        load(spark, sf_dir, "embeddings")
        .filter("vec_id = 0")
        .head()["embedding"]
    )
    got = {
        (r.neighbor_id, round(r.score, 4))
        for r in idx.search([float(x) for x in qvec], k=10).collect()
    }
    want = {
        (r.vec_id, r.dist_sq) for r in q_knn_exact(spark, sf_dir).collect()
    }
    assert got == want


def test_approximate_search_returns_k(idx, spark, sf_dir):
    qvec = (
        load(spark, sf_dir, "embeddings").filter("vec_id = 0").head()["embedding"]
    )
    res = idx.search([float(x) for x in qvec], k=10, approximate=True).collect()
    assert len(res) == 10


def test_empty_index_empty_result(spark, sf_dir):
    empty = VectorIndex(spark)
    assert empty.search([1.0, 2.0], k=5).count() == 0
    assert empty.count() == 0
    # a zero-row batch is an empty index too
    zero = VectorIndex(spark).insert_batch(
        load(spark, sf_dir, "embeddings").limit(0)
    )
    out = zero.search([0.0] * 64, k=5)
    assert out.columns == ["query_id", "neighbor_id", "score", "rn"]
    assert out.count() == 0


def test_incremental_append(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    half1 = emb.filter("vec_id % 2 = 0")
    half2 = emb.filter("vec_id % 2 = 1")
    idx2 = VectorIndex(spark).insert_batch(half1)
    n1 = idx2.count()
    idx2.insert_batch(half2)
    assert idx2.count() == n1 + half2.count() == emb.count()


def test_approx_distinct_error_bound(spark, sf_dir):
    """q_agg_approx_distinct has no SQL oracle (engine-specific HLL
    sketch); bound its relative error against the exact count here."""
    from zvdb_spark.queries.registry import all_queries

    rows = all_queries()["q_agg_approx_distinct"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        err = abs(r.approx_parts - r.exact_parts) / max(r.exact_parts, 1)
        assert err <= 0.1, f"{r.l_returnflag}: {err}"


def test_approx_percentile_rank_error_bound(spark, sf_dir):
    """q_agg_approx_percentile has no SQL oracle (engine-specific GK
    summary); pin its rank error here: with accuracy=10000 the sketch
    value's TRUE rank must sit within n/10000 (+1 for edge slack) of
    the requested rank, per group and per percentile. Value-distance
    is the wrong check (a tiny rank slip can move the value a lot in
    a sparse tail) — rank is what GK guarantees."""
    from zvdb_spark.queries.registry import all_queries
    from zvdb_spark.sources.tables import load

    rows = (
        all_queries()["q_agg_approx_percentile"].fn(spark, sf_dir).collect()
    )
    assert rows
    li = load(spark, sf_dir, "lineitem")
    for r in rows:
        vals = sorted(
            x.l_extendedprice
            for x in li.filter(
                li.l_returnflag == r.l_returnflag
            ).select("l_extendedprice").collect()
        )
        n = len(vals)
        assert n == r.n
        for p, got in (
            (0.5, r.approx_p50), (0.95, r.approx_p95), (0.99, r.approx_p99)
        ):
            import bisect

            # rank window of the returned value in the sorted group
            lo = bisect.bisect_left(vals, got - 0.005)
            hi = bisect.bisect_right(vals, got + 0.005)
            target = p * (n - 1)
            slack = n / 10_000 + 1
            assert lo - slack <= target <= hi + slack, (
                r.l_returnflag, p, got, lo, hi, target
            )


def test_frame_sampling_invariants(spark, sf_dir):
    """4 frames per media row, each exactly frame_size bytes."""
    from zvdb_spark.operators.multimodal import documents_as_media, sample_frames
    from zvdb_spark.sources.tables import load

    media = documents_as_media(load(spark, sf_dir, "documents"))
    frames = sample_frames(media, n_frames=4, frame_size=16)
    n_media = media.count()
    assert frames.count() == 4 * n_media
    from pyspark.sql import functions as F

    bad = frames.filter(F.octet_length("frame") != 16).count()
    assert bad == 0


def test_deinit_releases_and_index_is_reusable(spark, sf_dir):
    """R9 parity (src/hnsw.zig:64-71): deinit retires the segment
    files and empties the index; a fresh insert_batch + build works
    on the same object."""
    import glob
    import time as _t

    import zvdb_spark.operators.segments as S
    from zvdb_spark.api import VectorIndex
    from zvdb_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").limit(200)
    idx = VectorIndex(spark, m=8).insert_batch(emb).build()
    own = [p for p, _, _ in idx._graph._vec_meta.values()]
    assert own and all(glob.glob(f"{p}.*") for p in own)
    idx.deinit()
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    assert not any(glob.glob(f"{p}.*") for p in own)
    assert idx.count() == 0
    assert idx.search([0.0] * 64, k=3).count() == 0  # empty contract
    idx.insert_batch(emb).build()
    assert idx.count() == 200


def test_facade_save_load_roundtrip(spark, sf_dir, tmp_path):
    """VectorIndex.save/load: the persisted index answers identically
    in a 'new session' (same Spark here, but zero shared driver
    state) and remains appendable."""
    from pyspark.sql import functions as F

    from zvdb_spark.api import VectorIndex
    from zvdb_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").limit(300)
    idx = VectorIndex(spark, m=8).insert_batch(emb).build()
    probe = [float(x) for x in emb.orderBy("vec_id").head()["embedding"]]
    want = idx.search(probe, k=5).toPandas()

    path = str(tmp_path / "vidx")
    idx.save(path)
    idx2 = VectorIndex.load(spark, path)
    assert idx2.count() == 300
    got = idx2.search(probe, k=5).toPandas()
    key = ["query_id", "rn"]
    assert got.sort_values(key, ignore_index=True)[
        ["neighbor_id", "rn"]
    ].equals(want.sort_values(key, ignore_index=True)[["neighbor_id", "rn"]])
    # still appendable after reopen
    delta = emb.select(
        (F.col("vec_id") + F.lit(5_000_000)).alias("vec_id"), "embedding"
    ).limit(10)
    idx2.insert_batch(delta)
    assert idx2.count() == 310
