"""Product-quantization operator (operators/pq.py) invariants:
recall against the exact path (pure ADC floor + the re-ranked
production shape), determinism, compression arithmetic, and the
k>N / tie-break contracts shared with the exact search."""

from __future__ import annotations

import numpy as np
import pytest

from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.pq import (
    pq_encode,
    pq_search,
    pq_search_rerank,
    pq_train,
)
from zvdb_spark.sources.tables import load

K = 10
M_SUB, K_CODES = 16, 64  # 64-d -> 16 subspaces of 4 dims


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_array("embedding").alias("emb"))
        .cache()
    )


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, m_sub=M_SUB, k_codes=K_CODES, n_iter=8, sample_n=4096)


@pytest.fixture(scope="module")
def ground_truth(emb):
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.emb) for r in rows])
    return ids, mat


def _true_topk(ids, mat, qv, k):
    d = ((mat - qv) ** 2).sum(1)
    return set(ids[np.lexsort((ids, d))[:k]])


def test_codebook_shape_and_determinism(emb, books):
    assert books.shape == (M_SUB, K_CODES, 64 // M_SUB)
    again = pq_train(emb, m_sub=M_SUB, k_codes=K_CODES, n_iter=8, sample_n=4096)
    assert np.array_equal(books, again)


def test_encode_compression(emb, books):
    codes = pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes[:50]:
        assert len(r.code) == M_SUB  # 64 f32 (256 B) -> 16 B of codes
        assert all(0 <= c < K_CODES for c in r.code)


def test_adc_recall_floor(spark, emb, books, ground_truth):
    """Pure ADC (no re-rank) recall@10 over 20 probes. The synthetic
    corpus is near-uniform — the hard case for quantization — so this
    pins a floor, not a product claim; the production number is the
    re-ranked one below."""
    ids, mat = ground_truth
    q = mat[:20]
    codes = pq_encode(emb, books)
    got = pq_search(codes, books, q, k=K).toPandas()
    hits = sum(
        len(
            _true_topk(ids, mat, q[qi], K)
            & set(got[got.query_id == qi].vec_id)
        )
        for qi in range(len(q))
    )
    recall = hits / (len(q) * K)
    assert recall >= 0.5, f"pure-ADC recall collapsed: {recall}"


def test_rerank_recall(spark, emb, books, ground_truth):
    """ADC top-50 + exact re-rank: the deployment shape. Exact
    distances on the survivors, so results carry true dist_sq and
    recall is limited only by candidate coverage."""
    ids, mat = ground_truth
    q = mat[:20]
    codes = pq_encode(emb, books)
    got = pq_search_rerank(codes, emb, books, q, k=K, rerank_r=50).toPandas()
    hits = 0
    for qi in range(len(q)):
        pred = got[got.query_id == qi]
        assert len(pred) == K
        assert pred.sort_values("rn").dist_sq.is_monotonic_increasing
        hits += len(_true_topk(ids, mat, q[qi], K) & set(pred.vec_id))
    recall = hits / (len(q) * K)
    assert recall >= 0.9, f"re-ranked recall: {recall}"


def test_adc_distance_approximates_true(emb, books, ground_truth):
    """ADC distance = distance to the PQ reconstruction, so it must
    correlate strongly with the true distance (sanity that the LUT
    accumulation computes what it claims)."""
    ids, mat = ground_truth
    q = mat[:1]
    codes = pq_encode(emb, books)
    got = pq_search(codes, books, q, k=50).toPandas()
    by_id = dict(zip(ids, mat))
    true_d = np.array([((by_id[v] - q[0]) ** 2).sum() for v in got.vec_id])
    cc = np.corrcoef(true_d, got.adc_dist_sq.to_numpy())[0, 1]
    assert cc > 0.8, f"ADC vs true distance correlation {cc}"


def test_adc_distance_equals_reconstruction_distance(
    spark, emb, books, ground_truth
):
    """The identity the GEMM search kernel rests on: emitted
    adc_dist_sq is the f32 cast of the f64 norm-expansion squared L2
    between the query and the row's PQ reconstruction — pinned
    against an independent per-row numpy decode (rtol only absorbs
    BLAS dot-vs-gemm accumulation-order ulps)."""
    _, mat = ground_truth
    q = mat[:3]
    codes_df = pq_encode(emb, books).toPandas()
    code_by_id = dict(zip(codes_df.vec_id, codes_df.code))
    got = pq_search(pq_encode(emb, books), books, q, k=20).toPandas()
    m_sub, _, dsub = books.shape
    for r in got.itertuples():
        code = np.asarray(code_by_id[r.vec_id], dtype=np.int64)
        recon = np.concatenate([books[m][code[m]] for m in range(m_sub)])
        qv = q[int(r.query_id)]
        d64 = (qv * qv).sum() + (recon * recon).sum() - 2.0 * (qv @ recon)
        assert np.isclose(
            np.float32(d64), np.float32(r.adc_dist_sq), rtol=1e-5, atol=0
        ), f"adc {r.adc_dist_sq} != recon dist {d64}"


def test_k_clamp_and_determinism(spark, emb, books):
    small = emb.limit(5)
    codes = pq_encode(small, books)
    q = np.stack([np.asarray(r.emb) for r in small.collect()])[:2]
    got = pq_search(codes, books, q, k=100).toPandas()
    assert sorted(got.groupby("query_id").size()) == [5, 5]  # k>N -> N
    again = pq_search(codes, books, q, k=100).toPandas()
    assert got.sort_values(["query_id", "rn"], ignore_index=True).equals(
        again.sort_values(["query_id", "rn"], ignore_index=True)
    )


def test_declared_query_runs(spark, sf_dir):
    from zvdb_spark.queries.ann import q_ann_pq

    pdf = q_ann_pq(spark, sf_dir).toPandas()
    assert len(pdf) == K
    assert list(pdf.rn) == list(range(1, K + 1))
    assert pdf.dist_sq.is_monotonic_increasing
    # probe is vec_id 0's own vector: exact re-rank must surface the
    # self-match at distance 0 (src/test_hnsw.zig:55-68 semantics)
    assert pdf.iloc[0].vec_id == 0 and pdf.iloc[0].dist_sq == 0.0


def test_ivfpq_recall_and_pruning(spark, emb, books, ground_truth):
    """IVF+PQ: per-query work is bounded by the probed cells (the
    selectivity axis) while recall stays useful after exact re-rank.
    nprobe=C degenerates to the flat path — exact same candidates."""
    from zvdb_spark.operators.kmeans import assign_cells, kmeans_fit
    from zvdb_spark.operators.pq import exact_rerank, pq_search_ivf

    ids, mat = ground_truth
    cents = kmeans_fit(emb, k=8, n_iter=4)
    codes = pq_encode(emb, books).join(
        assign_cells(emb, cents).select("vec_id", "cell_id"), "vec_id"
    ).cache()
    q = mat[:20]

    # full-probe == flat ADC (same candidate set, same order)
    full = pq_search_ivf(codes, books, cents, q, k=K, nprobe=8).toPandas()
    flat = pq_search(codes.select("vec_id", "code"), books, q, k=K).toPandas()
    key = ["query_id", "rn"]
    assert (
        full.sort_values(key, ignore_index=True)[["query_id", "vec_id", "rn"]]
        .equals(flat.sort_values(key, ignore_index=True)[["query_id", "vec_id", "rn"]])
    )

    # pruned probe + exact re-rank: recall floor on the near-uniform
    # fixture (cells are weak there — this pins it doesn't collapse)
    cand = pq_search_ivf(codes, books, cents, q, k=50, nprobe=4)
    got = exact_rerank(cand, emb, q, k=K).toPandas()
    hits = 0
    for qi in range(len(q)):
        pred = got[got.query_id == qi]
        assert len(pred) == K
        hits += len(_true_topk(ids, mat, q[qi], K) & set(pred.vec_id))
    recall = hits / (len(q) * K)
    assert recall >= 0.35, f"IVF+PQ recall collapsed: {recall}"

    # determinism
    again = exact_rerank(
        pq_search_ivf(codes, books, cents, q, k=50, nprobe=4), emb, q, k=K
    ).toPandas()
    assert got.sort_values(key, ignore_index=True).equals(
        again.sort_values(key, ignore_index=True)
    )


def test_ivfpq_declared_query(spark, sf_dir):
    from zvdb_spark.queries.ann import q_ann_ivfpq

    pdf = q_ann_ivfpq(spark, sf_dir).toPandas()
    assert len(pdf) == K
    assert list(pdf.rn) == list(range(1, K + 1))
    assert pdf.iloc[0].vec_id == 0 and pdf.iloc[0].dist_sq == 0.0


def test_pq_plan_shapes(spark, emb, books):
    """Scale-shape pins: encode is shuffle-free (one Arrow projection
    over the scan), and the ADC search plan moves only the candidate
    rows through a single query-keyed exchange into the window merge
    — no cartesian anywhere."""
    from zvdb_spark.plans import plan_audit

    enc = plan_audit(pq_encode(emb, books))
    assert enc["n_exchanges"] == 0, enc["plan"]

    q = np.stack([np.asarray(r.emb) for r in emb.limit(2).collect()])
    srch = plan_audit(pq_search(pq_encode(emb, books), books, q, k=5))
    assert "CartesianProduct" not in srch["plan"]
    assert srch["n_exchanges"] <= 2  # candidate->window merge only


def test_empty_corpus_returns_empty(spark, emb, books):
    """Empty-index contract (src/test_hnsw.zig:43-53): searching zero
    rows returns zero rows, no error — through encode, flat ADC and
    the rerank path."""
    empty = emb.limit(0)
    codes = pq_encode(empty, books)
    assert codes.count() == 0
    q = np.zeros((2, 64))
    assert pq_search(codes, books, q, k=5).count() == 0
    assert pq_search_rerank(codes, empty, books, q, k=5).count() == 0


def test_ivfpq_encode_rejects_ragged_rows(spark):
    """Row lengths 3 and 5 average to dim 4: a flat reshape of the
    values would re-cut them into two 4-vectors and encode garbage,
    so the encode refuses the column instead."""
    from zvdb_spark.operators.pq import residual_encode

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0, 6.0, 7.0, 8.0])],
        "vec_id long, emb array<double>",
    ).coalesce(1)  # both rows in one Arrow batch
    codes = residual_encode(df, np.zeros((2, 4)), np.zeros((2, 2, 2)))
    with pytest.raises(Exception, match="emb: ragged"):
        codes.collect()


def _clustered_corpus(spark, n=4000, dim=32, n_clust=40, seed=7):
    import pandas as pd

    def _gen(batches):
        centers = np.random.default_rng(seed).random((n_clust, dim))
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                r = np.random.default_rng(seed + 1 + int(i))
                c = int(r.integers(0, n_clust))
                rows.append(centers[c] + 0.05 * r.standard_normal(dim))
            yield pd.DataFrame({"vec_id": ids, "emb": rows})

    return (
        spark.range(n)
        .repartition(8)
        .mapInPandas(_gen, "vec_id long, emb array<double>")
        .localCheckpoint(eager=True)
    )


def test_residual_ivfpq_beats_raw_codes_on_clusters(spark):
    """The IVFPQ design point: on a tightly-clustered corpus,
    raw-vector codes degenerate (every row of a cell shares nearly
    the same code, so within-cell ADC is noise) while residual codes
    stay informative. Same centroids, budgets and corpus — only the
    encoding differs; residual recall must clearly beat raw."""
    from zvdb_spark.operators.kmeans import assign_cells, kmeans_fit_sample
    from zvdb_spark.operators.pq import (
        exact_rerank,
        ivfpq_build,
        pq_search_ivf,
        pq_train,
    )

    emb = _clustered_corpus(spark)
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.emb) for r in rows])
    q = mat[:30]
    cents = kmeans_fit_sample(emb, k=64, n_iter=5, sample_n=2000)

    def _recall(got):
        hits = 0
        for qi in range(len(q)):
            hits += len(
                _true_topk(ids, mat, q[qi], K)
                & set(got[got.query_id == qi].vec_id)
            )
        return hits / (len(q) * K)

    # raw-vector codes (the degenerate configuration)
    raw_books = pq_train(emb, m_sub=8, k_codes=64, n_iter=5, sample_n=2000)
    raw_codes = pq_encode(emb, raw_books).join(
        assign_cells(emb, cents).select("vec_id", "cell_id"), "vec_id"
    )
    raw = exact_rerank(
        pq_search_ivf(raw_codes, raw_books, cents, q, k=40, nprobe=8),
        emb, q, k=K,
    ).toPandas()

    # residual codes (ivfpq_build), same budgets
    res_books, res_codes = ivfpq_build(
        emb, cents, m_sub=8, k_codes=64, n_iter=5, sample_n=2000
    )
    res = exact_rerank(
        pq_search_ivf(
            res_codes, res_books, cents, q, k=40, nprobe=8, residual=True
        ),
        emb, q, k=K,
    ).toPandas()

    r_raw, r_res = _recall(raw), _recall(res)
    assert r_res >= 0.85, f"residual IVFPQ recall too low: {r_res}"
    assert r_res >= r_raw + 0.1, (
        f"residual ({r_res}) must clearly beat raw codes ({r_raw})"
    )


def test_ivfpq_build_single_scan_plan(spark, emb):
    """ivfpq_build's 100 TB contract: the codes frame is ONE map pass
    over the vectors — no Exchange, no join, exactly one Python map
    node (the round-4 form re-executed a distributed residualize ~3x
    and shuffled two corpus-sized frames on the id join). Round 13
    moved the pass from MapInPandas to MapInArrow (zero-copy list
    column -> matrix); the plan contract is unchanged."""
    from zvdb_spark.operators.kmeans import kmeans_fit_sample
    from zvdb_spark.operators.pq import ivfpq_build
    from zvdb_spark.plans import explain_str, plan_audit

    cents = kmeans_fit_sample(emb, k=8, n_iter=2, sample_n=1000)
    _, codes = ivfpq_build(
        emb, cents, m_sub=8, k_codes=16, n_iter=2, sample_n=1000
    )
    a = plan_audit(codes)
    assert a["n_exchanges"] == 0, a["plan"]
    assert a["n_sortmerge_joins"] == 0 and a["n_broadcast_joins"] == 0
    simple = explain_str(codes, "simple")
    assert simple.count("MapInArrow") == 1, simple
    assert "MapInPandas" not in simple, simple


def test_ivfpq_build_codes_match_two_pass(spark, emb):
    """The fused residual_encode equals the unfused two-pass form
    (assign cell, then PQ-encode the residual) row for row."""
    import pandas as pd

    from zvdb_spark.operators.kmeans import assign_cells, kmeans_fit_sample
    from zvdb_spark.operators.pq import ivfpq_build, pq_encode

    cents = kmeans_fit_sample(emb, k=8, n_iter=2, sample_n=1000)
    books, codes = ivfpq_build(
        emb, cents, m_sub=8, k_codes=16, n_iter=2, sample_n=1000
    )
    got = codes.toPandas().sort_values("vec_id", ignore_index=True)
    # unfused twin: residual vectors via assign_cells + array math
    cells = assign_cells(emb, cents).toPandas()
    cmap = dict(zip(cells.vec_id, cells.cell_id))
    res_pdf = emb.toPandas()
    res_pdf["cell_id"] = res_pdf.vec_id.map(cmap)
    res_pdf["emb"] = [
        (np.asarray(v) - cents[c]).tolist()
        for v, c in zip(res_pdf.emb, res_pdf.cell_id)
    ]
    res_df = spark.createDataFrame(
        res_pdf[["vec_id", "emb"]], "vec_id long, emb array<double>"
    )
    twin = pq_encode(res_df, books).toPandas().sort_values(
        "vec_id", ignore_index=True
    )
    assert list(got.vec_id) == list(twin.vec_id)
    assert got.cell_id.tolist() == res_pdf.sort_values("vec_id").cell_id.tolist()
    assert all(
        list(a) == list(b) for a, b in zip(got.code, twin.code)
    )
    assert isinstance(got, pd.DataFrame)


def test_hash_sample_huge_sparse_ids(spark):
    """Regression (round-4 advice): ids past 2^32 must not overflow
    the hash under ANSI semantics, and the sample must stay
    deterministic across repartitioning."""
    from pyspark.sql import functions as F

    from zvdb_spark.operators.pq import hash_sample

    df = spark.range(0, 2000).select(
        (F.col("id") * F.lit(7) + F.lit(2**40)).alias("vec_id"),
        F.col("id").cast("double").alias("v"),
    )
    rows = hash_sample(df, 100, id_col="vec_id", cols=("v",), n_rows=2000)
    assert len(rows) == 100
    again = hash_sample(
        df.repartition(13), 100, id_col="vec_id", cols=("v",), n_rows=2000
    )
    assert rows["vec_id"].to_pylist() == again["vec_id"].to_pylist()


def test_hash_sample_widening_fallback_stays_bounded(spark):
    """When n_rows wildly overestimates the corpus, the threshold
    undershoots; the fallback must widen the threshold (never rerun
    the unbounded TakeOrdered) and still return the correct sample."""
    from pyspark.sql import functions as F

    from zvdb_spark.operators.pq import hash_sample

    df = spark.range(0, 2000).select(
        F.col("id").alias("vec_id"), F.col("id").cast("double").alias("v")
    )
    rows = hash_sample(df, 500, id_col="vec_id", cols=("v",), n_rows=10**9)
    assert len(rows) == 500
    # same sample as the honest-n_rows call (threshold only filters)
    exact = hash_sample(df, 500, id_col="vec_id", cols=("v",), n_rows=2000)
    assert rows["vec_id"].to_pylist() == exact["vec_id"].to_pylist()


def test_ivf_layout_partition_pruning(spark, emb, tmp_path):
    """The persisted inverted-file layout: cells are parquet
    partitions, probes are partition-pruned scans. Pins (a) the
    planner prunes at directory level — only the probed cells' files
    are read — and (b) search over the pruned scan equals search over
    the full in-memory codes."""
    from zvdb_spark.operators.kmeans import kmeans_fit_sample
    from zvdb_spark.operators.pq import (
        ivfpq_build,
        pq_search_ivf,
        probed_cells,
        read_ivf_cells,
        write_ivf_layout,
    )
    from zvdb_spark.plans import plan_audit

    cents = kmeans_fit_sample(emb, k=8, n_iter=3, sample_n=1000)
    books, codes = ivfpq_build(
        emb, cents, m_sub=8, k_codes=16, n_iter=2, sample_n=1000
    )
    path = str(tmp_path / "ivf")
    write_ivf_layout(codes, path)

    # 2 queries x nprobe=2 => at most 4 of the 8 cells probed, so a
    # strict partition subset is guaranteed
    q = np.stack(
        [np.asarray(r.emb) for r in emb.orderBy("vec_id").limit(2).collect()]
    )
    cells = probed_cells(cents, q, nprobe=2)
    assert 0 < len(cells) <= 4
    pruned = read_ivf_cells(spark, path, cells)

    # (a) directory-level pruning: the planner carries the predicate
    # as a PartitionFilter, and execution actually touches only the
    # probed cells' files (input_file_name over the executed scan —
    # behavioral, not just the plan's promise)
    import re

    from pyspark.sql import functions as F

    audit = plan_audit(pruned)
    pfs = re.findall(r"PartitionFilters: \[[^\]]*\]", audit["plan"])
    assert any("cell_id" in pf for pf in pfs), audit["plan"]
    files_read = [
        r.f
        for r in pruned.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    n_all = len(spark.read.parquet(path).inputFiles())
    assert 0 < len(files_read) < n_all
    assert len(files_read) <= len(cells)  # repartition => 1 file/cell
    assert all(
        any(f"cell_id={c}/" in f for c in cells) for f in files_read
    ), files_read

    # (b) value parity with the in-memory path, same probes/budgets
    key = ["query_id", "rn"]
    got = (
        pq_search_ivf(pruned, books, cents, q, k=5, nprobe=2, residual=True)
        .toPandas().sort_values(key, ignore_index=True)
    )
    want = (
        pq_search_ivf(codes, books, cents, q, k=5, nprobe=2, residual=True)
        .toPandas().sort_values(key, ignore_index=True)
    )
    assert got[["query_id", "vec_id", "rn"]].equals(
        want[["query_id", "vec_id", "rn"]]
    )


def test_ivfpq_per_task_cap_bounds_merge(spark, emb, books, ground_truth):
    """per_task_cap: capped candidate generation still recalls after
    re-rank, and emits at most cap rows per (query, task)."""
    from zvdb_spark.operators.kmeans import assign_cells, kmeans_fit
    from zvdb_spark.operators.pq import exact_rerank, pq_search_ivf

    ids, mat = ground_truth
    cents = kmeans_fit(emb, k=8, n_iter=4)
    codes = pq_encode(emb, books).join(
        assign_cells(emb, cents).select("vec_id", "cell_id"), "vec_id"
    )
    q = mat[:10]
    cand = pq_search_ivf(
        codes, books, cents, q, k=50, nprobe=8, per_task_cap=20
    )
    got = exact_rerank(cand, emb, q, k=K).toPandas()
    hits = sum(
        len(_true_topk(ids, mat, q[qi], K) & set(got[got.query_id == qi].vec_id))
        for qi in range(len(q))
    )
    assert hits / (len(q) * K) >= 0.3  # bounded budget, floor not collapse


def test_persisted_ivfpq_declared_query(spark, sf_dir):
    from zvdb_spark.queries.ann import q_ann_ivfpq, q_ann_ivfpq_persisted

    pdf = q_ann_ivfpq_persisted(spark, sf_dir).toPandas()
    assert len(pdf) == K
    assert list(pdf.rn) == list(range(1, K + 1))
    assert pdf.iloc[0].vec_id == 0 and pdf.iloc[0].dist_sq == 0.0
    # the persisted path must answer exactly like the in-memory path
    mem = q_ann_ivfpq(spark, sf_dir).toPandas()
    assert pdf[["vec_id", "rn"]].equals(mem[["vec_id", "rn"]])


def test_ivf_layout_append_is_delta_scoped(spark, emb, tmp_path):
    """Appending a delta to the persisted layout touches only the
    cells the delta lands in (standing files untouched), and search
    over the appended layout equals search over the in-memory union
    — codebooks frozen, per-row state, no rebuild."""
    import glob
    import os

    from zvdb_spark.operators.kmeans import kmeans_fit_sample
    from zvdb_spark.operators.pq import (
        append_ivf_layout,
        ivfpq_build,
        pq_search_ivf,
        residual_encode,
        write_ivf_layout,
    )

    base = emb.filter("vec_id < 400")
    delta = emb.filter("vec_id >= 400")
    cents = kmeans_fit_sample(base, k=8, n_iter=3, sample_n=1000)
    books, base_codes = ivfpq_build(
        base, cents, m_sub=8, k_codes=16, n_iter=2, sample_n=1000
    )
    path = str(tmp_path / "ivf")
    write_ivf_layout(base_codes, path)
    before = {
        d: set(os.listdir(d))
        for d in glob.glob(path + "/cell_id=*")
    }

    # delta encoded under the FROZEN quantizer + codebooks
    delta_codes = residual_encode(delta, cents, books)
    append_ivf_layout(delta_codes, path)

    touched = {
        int(r.cell_id) for r in delta_codes.select("cell_id").distinct().collect()
    }
    for d, files in before.items():
        cell = int(d.rsplit("=", 1)[1])
        now = set(os.listdir(d))
        if cell in touched:
            assert files < now  # gained file(s), old ones untouched
        else:
            assert files == now  # untouched cell: byte-for-byte same dir

    # search parity: appended layout == in-memory union
    q = np.stack(
        [np.asarray(r.emb) for r in emb.orderBy("vec_id").limit(3).collect()]
    )
    key = ["query_id", "rn"]
    got = (
        pq_search_ivf(
            spark.read.parquet(path), books, cents, q, k=5, nprobe=8,
            residual=True,
        ).toPandas().sort_values(key, ignore_index=True)
    )
    want = (
        pq_search_ivf(
            base_codes.unionByName(delta_codes), books, cents, q, k=5,
            nprobe=8, residual=True,
        ).toPandas().sort_values(key, ignore_index=True)
    )
    assert got[["query_id", "vec_id", "rn"]].equals(
        want[["query_id", "vec_id", "rn"]]
    )


def test_ivf_quantizer_persists_with_layout(spark, emb, tmp_path):
    """The layout directory + _quantizer files form the COMPLETE
    durable index: save the quantizer inside the layout, reload it
    (bit-exact), and probe using ONLY (path, loaded arrays) — the
    fresh-session contract. The parquet scan must not see the
    underscore-prefixed quantizer files."""
    from zvdb_spark.operators.kmeans import kmeans_fit_sample
    from zvdb_spark.operators.pq import (
        ivfpq_build,
        load_ivf_quantizer,
        pq_search_ivf,
        probed_cells,
        read_ivf_cells,
        save_ivf_quantizer,
        write_ivf_layout,
    )

    cents = kmeans_fit_sample(emb, k=8, n_iter=3, sample_n=1000)
    books, codes = ivfpq_build(
        emb, cents, m_sub=8, k_codes=16, n_iter=2, sample_n=1000
    )
    path = str(tmp_path / "ivf")
    write_ivf_layout(codes, path)
    save_ivf_quantizer(path, cents, books)

    c2, b2 = load_ivf_quantizer(path)
    assert np.array_equal(c2, cents) and np.array_equal(b2, books)

    # scan still reads cleanly (hidden files ignored) and a probe
    # from persisted state alone matches the in-memory probe
    q = np.stack(
        [np.asarray(r.emb) for r in emb.orderBy("vec_id").limit(2).collect()]
    )
    cells = probed_cells(c2, q, nprobe=2)
    pruned = read_ivf_cells(spark, path, cells)
    got = {
        tuple(r)
        for r in pq_search_ivf(
            pruned, b2, c2, q, k=10, nprobe=2, residual=True
        ).collect()
    }
    want = {
        tuple(r)
        for r in pq_search_ivf(
            codes, books, cents, q, k=10, nprobe=2, residual=True
        ).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_quantizer_rejects_corruption(tmp_path):
    import json
    import os

    import pytest

    from zvdb_spark.operators.pq import (
        load_ivf_quantizer,
        save_ivf_quantizer,
    )

    d = str(tmp_path)
    save_ivf_quantizer(d, np.ones((4, 16)), np.ones((2, 3, 8)))
    m = json.load(open(os.path.join(d, "_quantizer.json")))
    m["k_codes"] = 99
    json.dump(m, open(os.path.join(d, "_quantizer.json"), "w"))
    with pytest.raises(ValueError, match="out of sync"):
        load_ivf_quantizer(d)
    with pytest.raises(ValueError, match="do not tile"):
        save_ivf_quantizer(d, np.ones((4, 16)), np.ones((2, 3, 5)))


def test_layout_overwrite_preserves_quantizer(spark, emb, tmp_path):
    """write_ivf_layout's mode=overwrite truncates the directory; the
    quantizer state saved inside it must survive an in-place rewrite
    (compaction / re-partition), or 'path alone is the durable index'
    silently breaks on the first rewrite."""
    from zvdb_spark.operators.kmeans import kmeans_fit_sample
    from zvdb_spark.operators.pq import (
        ivfpq_build,
        load_ivf_quantizer,
        save_ivf_quantizer,
        write_ivf_layout,
    )

    cents = kmeans_fit_sample(emb, k=8, n_iter=2, sample_n=500)
    books, codes = ivfpq_build(
        emb, cents, m_sub=8, k_codes=16, n_iter=2, sample_n=500
    )
    path = str(tmp_path / "ivf")
    write_ivf_layout(codes, path)
    save_ivf_quantizer(path, cents, books)
    write_ivf_layout(codes, path)  # in-place rewrite
    c2, b2 = load_ivf_quantizer(path)
    assert np.array_equal(c2, cents) and np.array_equal(b2, books)


# --------------------- OPQ (Ge et al. 2013)


def _correlated_corpus(n=1500, dim=64, seed=11):
    """Anisotropic Gaussian mixed by a fixed dense rotation — the
    regime plain PQ is blind to: strong directions smeared across
    every coordinate subspace."""
    rng = np.random.default_rng(seed)
    scales = 1.0 / np.sqrt(1.0 + np.arange(dim))  # decaying spectrum
    z = rng.standard_normal((n, dim)) * scales
    q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    return z @ q


def _corr_df(spark, mat):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(len(mat), dtype=np.int64),
             "emb": list(mat.astype(np.float64))}
        ),
        schema="vec_id long, emb array<double>",
    )


def test_opq_rotation_is_orthogonal_and_deterministic(spark):
    from zvdb_spark.operators.pq import opq_train

    df = _corr_df(spark, _correlated_corpus())
    rot1, books1 = opq_train(
        df, m_sub=M_SUB, k_codes=16, n_iter=4, opq_iter=4, sample_n=800
    )
    assert np.allclose(rot1.T @ rot1, np.eye(rot1.shape[0]), atol=1e-8)
    rot2, books2 = opq_train(
        df, m_sub=M_SUB, k_codes=16, n_iter=4, opq_iter=4, sample_n=800
    )
    assert np.array_equal(rot1, rot2) and np.array_equal(books1, books2)


def test_opq_cuts_quantization_error_on_correlated_corpus(spark):
    """The training objective itself: on a corpus with cross-subspace
    correlation, OPQ's rotated-space codes reconstruct with lower MSE
    than plain PQ at the identical code budget."""
    from zvdb_spark.operators.pq import _pq_reconstruct, opq_train

    mat = _correlated_corpus()
    df = _corr_df(spark, mat)
    books_pq = pq_train(
        df, m_sub=M_SUB, k_codes=16, n_iter=8, sample_n=1500
    )
    rot, books_opq = opq_train(
        df, m_sub=M_SUB, k_codes=16, n_iter=8, opq_iter=6, sample_n=1500
    )
    mse_pq = ((mat - _pq_reconstruct(mat, books_pq)) ** 2).mean()
    xr = mat @ rot
    mse_opq = ((xr - _pq_reconstruct(xr, books_opq)) ** 2).mean()
    # rotation is an isometry, so the two MSEs are directly comparable
    assert mse_opq < 0.9 * mse_pq, (mse_opq, mse_pq)


def test_opq_recall_at_least_matches_pq_on_correlated_corpus(spark):
    from zvdb_spark.operators.pq import opq_encode, opq_train

    mat = _correlated_corpus()
    df = _corr_df(spark, mat).cache()
    queries = mat[:40]
    # exact ground truth
    d = ((queries[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    gt = {qi: set(np.argsort(d[qi])[:K]) for qi in range(len(queries))}

    def _recall(top):
        hits = 0
        for r in top.collect():
            if r.vec_id in gt[r.query_id]:
                hits += 1
        return hits / (len(queries) * K)

    books_pq = pq_train(df, m_sub=M_SUB, k_codes=16, n_iter=8, sample_n=1500)
    rot, books_opq = opq_train(
        df, m_sub=M_SUB, k_codes=16, n_iter=8, opq_iter=6, sample_n=1500
    )
    r_pq = _recall(pq_search(pq_encode(df, books_pq), books_pq, queries, k=K))
    r_opq = _recall(
        pq_search(
            opq_encode(df, rot, books_opq), books_opq, queries @ rot, k=K
        )
    )
    assert r_opq >= r_pq, (r_opq, r_pq)
    df.unpersist()


def test_opq_save_load_roundtrip_and_guards(spark, tmp_path):
    from zvdb_spark.operators.pq import load_opq, opq_train, save_opq

    df = _corr_df(spark, _correlated_corpus(n=600))
    rot, books = opq_train(
        df, m_sub=M_SUB, k_codes=16, n_iter=4, opq_iter=3, sample_n=600
    )
    p = str(tmp_path / "opq")
    save_opq(p, rot, books)
    rot2, books2 = load_opq(p)
    assert np.array_equal(rot, rot2) and np.array_equal(books, books2)
    with pytest.raises(ValueError, match="square"):
        save_opq(p, rot[:, :-1], books)
    with pytest.raises(ValueError, match="codebook dim"):
        save_opq(p, np.eye(32), books)


def test_q_ann_opq_exact_rerank_contract(spark, sf_dir):
    """The declared query returns K exactly-scored rows in rank order,
    and its rank-1 neighbor is the true nearest (rerank_r=50 makes a
    rank-1 miss on the test corpus a quantizer catastrophe, not
    noise)."""
    from zvdb_spark.functions.vector import as_double_array as _ada
    from zvdb_spark.queries.ann import ANN_K, QUERY_VEC_ID, q_ann_opq

    got = q_ann_opq(spark, sf_dir).collect()
    assert len(got) == ANN_K
    dists = [r.dist_sq for r in got]
    assert dists == sorted(dists)
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _ada("embedding").alias("emb")
    )
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.emb, dtype=np.float64) for r in rows])
    qv = mat[list(ids).index(QUERY_VEC_ID)]
    exact_order = np.lexsort((ids, ((mat - qv) ** 2).sum(1)))
    assert got[0].vec_id == ids[exact_order[0]]
