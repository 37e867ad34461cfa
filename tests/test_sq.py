"""Scalar-quantization operator (operators/sq.py) invariants: the
elementwise scale/2 reconstruction-error bound (a theorem, given the
exact min/max train pass), recall against the exact path (raw
asymmetric floor + the re-ranked production shape), determinism
across repartitionings, the 1-byte-per-dim compression arithmetic,
and quantizer persistence round-trip."""

from __future__ import annotations

import numpy as np
import pytest

from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.sq import (
    _sq8_scale,
    load_sq8,
    save_sq8,
    sq8_encode,
    sq8_search,
    sq8_search_rerank,
    sq8_train,
)
from zvdb_spark.sources.tables import load

K = 10


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_array("embedding").alias("emb"))
        .cache()
    )


@pytest.fixture(scope="module")
def lohi(emb):
    return sq8_train(emb)


@pytest.fixture(scope="module")
def ground_truth(emb):
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.emb) for r in rows])
    return ids, mat


def _true_topk(ids, mat, qv, k):
    d = ((mat - qv) ** 2).sum(1)
    return set(ids[np.lexsort((ids, d))[:k]])


def test_train_exact_range(lohi, ground_truth):
    """The train pass is an exact corpus min/max, not a sample: the
    partial-aggregate fold must equal the single-machine answer."""
    ids, mat = ground_truth
    lo, hi = lohi
    assert np.allclose(lo, mat.min(axis=0))
    assert np.allclose(hi, mat.max(axis=0))


def test_train_partitioning_invariant(emb, lohi):
    """min/max is associative+commutative: any partitioning folds to
    the same range (the determinism claim in the module docstring)."""
    lo, hi = lohi
    lo7, hi7 = sq8_train(emb.repartition(7))
    assert np.array_equal(lo, lo7) and np.array_equal(hi, hi7)


def test_encode_compression_and_error_bound(emb, lohi, ground_truth):
    """Codes are exactly dim bytes (the 4x-under-float32 claim), and
    every reconstructed value sits within scale/2 of the original —
    the bound that makes SQ8's error a theorem, not an estimate."""
    ids, mat = ground_truth
    lo, hi = lohi
    scale = _sq8_scale(lo, hi)
    pdf = sq8_encode(emb, lo, hi).toPandas().set_index("vec_id")
    dim = mat.shape[1]
    assert {len(b) for b in pdf["code"]} == {dim}
    codes = np.stack(
        [np.frombuffer(pdf.loc[i, "code"], dtype=np.uint8) for i in ids]
    ).astype(np.float64)
    vhat = lo + codes * scale
    err = np.abs(vhat - mat)
    # rint() rounds to the NEAREST level: half a step, plus float fuzz
    assert err.max() <= scale.max() / 2 + 1e-9, err.max()


def test_raw_search_recall_floor(emb, lohi, ground_truth):
    """Pure asymmetric SQ8 (no re-rank) over 20 probes. With a
    bounded per-dim error the raw ranking should already be nearly
    exact on this corpus — a much higher floor than pure-ADC PQ."""
    ids, mat = ground_truth
    lo, hi = lohi
    q = mat[:20]
    codes = sq8_encode(emb, lo, hi)
    got = sq8_search(codes, lo, hi, q, k=K).toPandas()
    hits = 0
    for qi in range(len(q)):
        want = _true_topk(ids, mat, q[qi], K)
        have = set(got[got.query_id == qi].vec_id)
        hits += len(want & have)
    recall = hits / (len(q) * K)
    assert recall >= 0.9, f"raw SQ8 recall collapsed: {recall}"


def test_rerank_recall_exact(spark, emb, lohi, ground_truth):
    """SQ8 top-50 + exact re-rank: the deployment shape. The bounded
    rounding error makes candidate misses require a 40-rank leapfrog;
    on this corpus the re-ranked answer must be fully exact."""
    ids, mat = ground_truth
    lo, hi = lohi
    q = mat[:20]
    codes = sq8_encode(emb, lo, hi)
    got = sq8_search_rerank(codes, emb, lo, hi, q, k=K, rerank_r=50).toPandas()
    for qi in range(len(q)):
        want = _true_topk(ids, mat, q[qi], K)
        have = set(got[got.query_id == qi].vec_id)
        assert want == have, f"query {qi}: {want ^ have}"


def test_search_equals_f32_reference_topk(emb, lohi, ground_truth):
    """sq8_search keeps each query's k best (f32 distance, id) pairs
    over the reconstruction: its (query_id, vec_id, rn) rows equal a
    numpy f32 top-k. Fifty code rows are duplicated under larger ids,
    so exact distance ties exist and must resolve by id; all rows sit
    in one partition, so twins meet in one GEMM (across GEMMs of other
    shapes, equal rows can score an ULP apart)."""
    from pyspark.sql import functions as F

    from zvdb_spark.operators.arrowvec import codes as code_matrix

    _, mat = ground_truth
    lo, hi = lohi
    codes = sq8_encode(emb, lo, hi)
    codes = codes.union(
        codes.filter("vec_id < 50").withColumn(
            "vec_id", F.col("vec_id") + 100_000
        )
    ).coalesce(1)
    tbl = codes.toArrow()
    ids = tbl["vec_id"].to_numpy()
    vhat = lo.astype(np.float32) + code_matrix(
        tbl["code"], len(lo)
    ).astype(np.float32) * _sq8_scale(lo, hi).astype(np.float32)
    q = mat[:20].astype(np.float32)
    d = (
        (q * q).sum(1)[:, None]
        + (vhat * vhat).sum(1)[None, :]
        - 2.0 * (q @ vhat.T)
    )
    top = np.lexsort((np.broadcast_to(ids, d.shape), d))[:, :K]
    want = [
        (qi, int(ids[c]), r + 1)
        for qi in range(len(q))
        for r, c in enumerate(top[qi])
    ]
    got = sq8_search(codes, lo, hi, mat[:20], k=K).orderBy(
        "query_id", "rn"
    ).collect()
    assert [(r.query_id, r.vec_id, r.rn) for r in got] == want
    tied = [w for w in want if w[1] >= 100_000]
    assert tied  # the duplicates reach the top-k, after their twins
    assert all((w[0], w[1] - 100_000, w[2] - 1) in want for w in tied)


def test_search_determinism_across_partitionings(emb, lohi, ground_truth):
    """Same codes, different partition layout => same top-k members
    and ranks (the window merge is keyed by (dist, id), never arrival
    order). Distances are compared with tolerance, not bit-equality:
    the scoring GEMM's blocking depends on the partition's batch
    shape, so the same row's distance can move by ULPs when the
    corpus is re-partitioned — membership and rank survive because
    real neighbors are separated by far more than an ULP."""
    ids, mat = ground_truth
    lo, hi = lohi
    q = mat[5:8]
    a = (
        sq8_search(sq8_encode(emb, lo, hi), lo, hi, q, k=K)
        .orderBy("query_id", "rn")
        .collect()
    )
    b = (
        sq8_search(sq8_encode(emb.repartition(13), lo, hi), lo, hi, q, k=K)
        .orderBy("query_id", "rn")
        .collect()
    )
    assert [(r.query_id, r.vec_id, r.rn) for r in a] == [
        (r.query_id, r.vec_id, r.rn) for r in b
    ]
    assert np.allclose(
        [r.sq_dist_sq for r in a],
        [r.sq_dist_sq for r in b],
        rtol=1e-5,
        atol=1e-4,  # f32 scoring: batch-shape-dependent blocking
    )


def test_constant_dim_and_query_dim_guard(spark, lohi):
    """A constant dimension (hi == lo) encodes to 0 and reconstructs
    exactly; a wrong-dim query fails loudly."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"vec_id": [0, 1], "emb": [[1.0, 5.0], [1.0, 9.0]]}
    )
    df = spark.createDataFrame(pdf, schema="vec_id long, emb array<double>")
    lo, hi = sq8_train(df)
    assert lo[0] == hi[0] == 1.0
    codes = sq8_encode(df, lo, hi).toPandas().set_index("vec_id")
    assert np.frombuffer(codes.loc[0, "code"], dtype=np.uint8)[0] == 0
    res = sq8_search(
        sq8_encode(df, lo, hi), lo, hi, np.array([[1.0, 5.0]]), k=1
    ).collect()
    assert res[0].vec_id == 0 and res[0].sq_dist_sq == 0.0
    with pytest.raises(ValueError, match="query dim"):
        sq8_search(sq8_encode(df, lo, hi), lo, hi, np.ones((1, 3)), k=1)


def test_persistence_roundtrip(tmp_path, emb, lohi, ground_truth):
    """save/load round-trips the exact arrays, a format-version
    mismatch fails loudly, and a search from loaded state equals the
    in-memory one bit-for-bit."""
    import json

    ids, mat = ground_truth
    lo, hi = lohi
    prefix = str(tmp_path / "sq8")
    save_sq8(prefix, lo, hi)
    llo, lhi = load_sq8(prefix)
    assert np.array_equal(lo, llo) and np.array_equal(hi, lhi)
    q = mat[:3]
    a = (
        sq8_search(sq8_encode(emb, lo, hi), lo, hi, q, k=K)
        .orderBy("query_id", "rn")
        .collect()
    )
    b = (
        sq8_search(sq8_encode(emb, llo, lhi), llo, lhi, q, k=K)
        .orderBy("query_id", "rn")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    with open(prefix + ".json") as f:
        m = json.load(f)
    m["format"] = 99
    with open(prefix + ".json", "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="format"):
        load_sq8(prefix)


def test_declared_query_runs(spark, sf_dir):
    """q_ann_sq8 end-to-end: probe is vec_id 0's own vector, so the
    exact re-rank must surface vec_id 0 at rank 1 with dist 0."""
    from zvdb_spark.queries.ann import q_ann_sq8

    rows = q_ann_sq8(spark, sf_dir).collect()
    assert len(rows) == K
    assert rows[0].vec_id == 0 and rows[0].dist_sq == 0.0
    assert [r.rn for r in rows] == list(range(1, K + 1))
