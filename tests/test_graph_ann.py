"""GraphIndex (operators/graph_ann.py) invariants.

Ports the reference's test battery (src/test_hnsw.zig) onto the
round-2 kNN-graph index: k-clamp and empty-index semantics (:104-126),
determinism (:275-316), row conservation under partitioned ingest
(:154-209), plus the round-2 acceptance criterion: append-after-build
matches a full rebuild within recall tolerance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.graph_ann import GraphIndex, _cell_neighbors
from zvdb_spark.operators.knn import exact_search_blocked
from zvdb_spark.sources.tables import load


def _emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )


def _queries(spark, emb, n=20):
    return (
        emb.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    idx = GraphIndex(m=8, ef=64).build(emb)
    return emb, idx


def _recall(res_pdf, exact_pdf, k):
    hits = 0
    qids = exact_pdf.query_id.unique()
    for q in qids:
        got = set(res_pdf[res_pdf.query_id == q].vec_id)
        want = set(exact_pdf[exact_pdf.query_id == q].neighbor_id)
        hits += len(got & want)
    return hits / (len(qids) * k)


def test_recall_vs_exact(spark, sf_dir, built):
    emb, idx = built
    q = _queries(spark, emb)
    res = idx.search(q, k=5, n_queries=20).toPandas()
    ex = exact_search_blocked(emb, q, k=5).toPandas()
    assert _recall(res, ex, 5) >= 0.9


def test_results_ascending_and_self_match(spark, sf_dir, built):
    emb, idx = built
    q = _queries(spark, emb, n=5)
    res = idx.search(q, k=5, n_queries=5).toPandas()
    for qid, grp in res.groupby("query_id"):
        d = grp.sort_values(["dist_sq", "vec_id"]).dist_sq.to_numpy()
        assert (np.diff(d) >= 0).all()
        assert grp.dist_sq.min() == 0.0  # self-match, src/test_hnsw.zig:55-68


def test_k_clamp(spark, sf_dir, built):
    emb, idx = built
    q = _queries(spark, emb, n=2)
    n = emb.count()
    res = idx.search(q, k=n + 100, n_queries=2).toPandas()
    assert (res.groupby("query_id").size() == n).all()


def test_deterministic(spark, sf_dir, built):
    emb, idx = built
    idx2 = GraphIndex(m=8, ef=64).build(emb)
    e1 = idx.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    e2 = idx2.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    assert e1[["src", "dst"]].equals(e2[["src", "dst"]])


def test_append_matches_rebuild(spark, sf_dir):
    """Round-2 acceptance: build on 90%, append 10%, search must match
    a full rebuild within recall tolerance — the incremental-ingest
    twin of the reference's insert (src/hnsw.zig:73-117)."""
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    inc = GraphIndex(m=8, ef=64).build(base).append(delta)
    full = GraphIndex(m=8, ef=64).build(emb)
    # row conservation (the Concurrent Access analog, :154-209)
    assert inc.sharded.count() == emb.count()
    q = _queries(spark, emb)
    ex = exact_search_blocked(emb, q, k=5).toPandas()
    r_inc = _recall(inc.search(q, k=5, n_queries=20).toPandas(), ex, 5)
    r_full = _recall(full.search(q, k=5, n_queries=20).toPandas(), ex, 5)
    assert r_inc >= r_full - 0.05, (r_inc, r_full)
    # appended ids are reachable: searching an appended vector's own
    # embedding must return it at distance 0
    probe = delta.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    res = inc.search(probe, k=1, n_queries=3).toPandas()
    assert (res.dist_sq == 0.0).all()
    assert set(res.vec_id) == set(res.query_id)


def test_double_append_row_conservation_and_reachability(spark, sf_dir):
    """Two successive appends: the delta-pack rewrites each touched
    shard's new-row mask, and the edge work list covers only cells
    receiving rows — a stale mask from an EARLIER append must never
    re-probe (or hide) rows in a later one. Row conservation and
    distance-0 self-reachability for BOTH deltas pin that."""
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    base = emb.filter(F.col("vec_id") % 3 == 0)
    d1 = emb.filter(F.col("vec_id") % 3 == 1)
    d2 = emb.filter(F.col("vec_id") % 3 == 2)
    idx = GraphIndex(m=8, ef=64).build(base).append(d1).append(d2)
    assert idx.sharded.count() == emb.count()
    assert idx.n_rows == emb.count()
    for delta in (d1, d2):
        probe = delta.orderBy("vec_id").limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
        )
        res = idx.search(probe, k=1, n_queries=3).toPandas()
        assert (res.dist_sq == 0.0).all()
        assert set(res.vec_id) == set(res.query_id)


def test_structure_routing(spark, sf_dir):
    """search_routed picks the path the corpus actually supports:
    uniform high-dim data (distance concentration — the graph's
    documented adversarial case) must serve the full-recall exact
    GEMM; the testdata embeddings (structured) take the graph beam.
    Both return the same (query_id, vec_id, dist_sq) contract."""
    import numpy as np

    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    rng = np.random.default_rng(7)
    uni = spark.createDataFrame(
        [
            (int(i), [float(x) for x in rng.random(16)])
            for i in range(2000)
        ],
        "vec_id long, emb array<double>",
    ).localCheckpoint(eager=True)
    uidx = GraphIndex(m=8, ef=64).build(uni, n_rows=2000)
    assert uidx.structure_ratio >= uidx.ROUTE_THRESHOLD
    q = uni.orderBy("vec_id").limit(20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    ).localCheckpoint(eager=True)
    routed = uidx.search_routed(q, k=5, n_queries=20).toPandas()
    assert list(routed.columns) == ["query_id", "vec_id", "dist_sq"]
    ex = uidx.exact_search(q, k=5, dtype="float64", n_queries=20).toPandas()
    hits = sum(
        len(
            set(routed[routed.query_id == qq].vec_id)
            & set(ex[ex.query_id == qq].neighbor_id)
        )
        for qq in range(20)
    )
    assert hits == 20 * 5  # exact path: full recall on uniform data


@pytest.mark.parametrize("dim", [64, 256])
def test_structure_routing_across_dims(spark, dim):
    """The routing cut must hold away from its original 128-d
    calibration: at each dim, a uniform corpus must measure above
    ROUTE_THRESHOLD and serve the EXACT path (full recall by
    construction — f64, parity with exact_search), and a clustered
    corpus must measure below it and keep graph recall ≥ 0.9."""
    n, ncl, k = 3000, 30, 5
    rng = np.random.default_rng(100 + dim)
    centers = rng.random((ncl, dim))
    cl = centers[rng.integers(0, ncl, n)] + 0.08 * rng.standard_normal(
        (n, dim)
    )
    uni = rng.random((n, dim))
    for kind, mat in (("clustered", cl), ("uniform", uni)):
        df = spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
            "vec_id long, emb array<double>",
        ).localCheckpoint(eager=True)
        idx = GraphIndex(
            m=8, ef=64, seed=7, cell_target_rows=100
        ).build(df, n_rows=n)
        if kind == "uniform":
            assert idx.structure_ratio >= idx.ROUTE_THRESHOLD, (
                dim, idx.structure_ratio,
            )
        else:
            assert idx.structure_ratio < idx.ROUTE_THRESHOLD, (
                dim, idx.structure_ratio,
            )
        q = df.orderBy("vec_id").limit(20).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
        ).localCheckpoint(eager=True)
        routed = idx.search_routed(q, k=k, n_queries=20).toPandas()
        ex = idx.exact_search(
            q, k=k, dtype="float64", n_queries=20
        ).toPandas()
        r = _recall(routed, ex, k)
        if kind == "uniform":
            assert r == 1.0, (dim, r)  # exact path: parity
        else:
            assert r >= 0.9, (dim, r)


def test_build_rejects_empty_input(spark, sf_dir):
    """An empty input frame is rejected by name before any sampling,
    whether build counts it or the caller passes n_rows=0."""
    empty = _emb(spark, sf_dir).limit(0)
    for n_rows in (None, 0):
        with pytest.raises(ValueError, match="no rows"):
            GraphIndex(m=8, ef=64).build(empty, n_rows=n_rows)


def test_nan_vectors_are_rejected(spark):
    """A NaN distance ranks behind the beam's +inf padding and would
    silently drop out of a result set, so NaN vectors never reach the
    kernels: build refuses a NaN row and search a NaN probe, naming
    the column."""
    rng = np.random.default_rng(3)
    rows = [(i, rng.random(4).tolist()) for i in range(200)]
    good = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    bad = spark.createDataFrame(
        rows[:-1] + [(199, [0.5, float("nan"), 0.5, 0.5])],
        "vec_id long, emb array<double>",
    )
    with pytest.raises(ValueError, match="emb: non-finite"):
        GraphIndex(m=4, ef=16, cell_target_rows=50).build(bad)
    idx = GraphIndex(m=4, ef=16, cell_target_rows=50).build(good)
    q = spark.createDataFrame(
        [(0, [0.5, 0.5, float("nan"), 0.5])], "query_id long, qemb array<double>"
    )
    with pytest.raises(Exception, match="qemb: non-finite"):
        idx.search(q, k=3, n_queries=1).collect()
    idx.retire()


def test_rebuild_replaces_previous_build(spark, sf_dir):
    """build() on a built index starts from an empty one: the old
    build's vector, adjacency and edge segments are retired, and
    search, n_rows and celled see only the new input."""
    import zvdb_spark.operators.segments as S

    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = GraphIndex(m=8, ef=64).build(a)
    idx.state()
    old = (
        {p for p, _, _ in idx._vec_meta.values()}
        | {ap for *_, ap in idx._adj_meta.values() if ap}
        | {e for e in idx._edge_meta.values() if e}
    )
    assert len(old) >= 3
    idx.build(b)
    nb = b.count()
    assert idx.n_rows == nb
    assert idx.celled.count() == nb
    retired = {p for _, p in S._retired}
    assert old <= retired
    assert not {p for p, _, _ in idx._vec_meta.values()} & retired
    q = _queries(spark, emb)  # ids of both halves
    res = idx.search(q, k=5, n_queries=20).toPandas()
    assert len(res) == 100
    assert (res.vec_id % 2 == 1).all()
    idx.retire()


def test_append_repacks_only_dirty_shards(spark):
    """Delta-cost state() on a 4-shard index. After build + state()
    every shard has adjacency. After an append whose rows all land in
    one cell, state() re-packs exactly the dirty shards (that cell's
    shard plus the shards of its r_build nearest cells): they get new
    adjacency and edge segments, the receiving shard a new vector
    segment, and every other shard keeps all three prefixes
    verbatim."""
    rng = np.random.default_rng(3)
    n, dim = 2000, 16
    centers = 4.0 * rng.normal(size=(40, dim))
    x = centers[rng.integers(0, 40, n)] + 0.5 * rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(x)],
        "vec_id long, emb array<double>",
    )
    idx = GraphIndex(m=4, ef=64, cell_target_rows=50, n_shards=4).build(
        emb, n_rows=n
    )
    idx.state()
    assert len(idx._vec_meta) == 4
    assert set(idx._adj_meta) == set(idx._vec_meta)
    vec0, adj0 = dict(idx._vec_meta), dict(idx._adj_meta)
    edge0 = dict(idx._edge_meta)
    # copies of one cell's members under fresh ids land in that cell
    cells = idx.celled.toPandas().sort_values("vec_id")
    cell = int(cells.cell_id.iloc[0])
    rows = cells[cells.cell_id == cell].head(5)
    delta = spark.createDataFrame(
        [(int(i) + n, [float(v) for v in e])
         for i, e in zip(rows.vec_id, rows.emb)],
        "vec_id long, emb array<double>",
    )
    idx.append(delta)
    home = int(idx.cell_shard[cell])
    # dirty by definition: the shards of the cell and its r_build
    # nearest cells
    nbrs = _cell_neighbors(idx.centroids, idx.r_build)[cell]
    dirty = {int(idx.cell_shard[g]) for g in nbrs}
    assert home in dirty and dirty < set(vec0), dirty
    idx.state()
    assert idx.n_rows == n + len(rows)
    for p in vec0:
        assert (idx._vec_meta[p] == vec0[p]) == (p != home), p
        if p in dirty:
            assert idx._adj_meta[p][4] != adj0[p][4], p
            assert idx._edge_meta[p] != edge0[p], p
        else:
            assert idx._adj_meta[p] == adj0[p], p
            assert idx._edge_meta[p] == edge0[p], p
    idx.retire()


def _graph_snapshot(idx, q):
    """What a stated graph index serves: its capped edges, its k=5 ANN
    rows for ``q`` and its per-cell seeds."""
    edges = idx.edges.toPandas().sort_values(
        ["pid", "src", "dst"], ignore_index=True
    )
    rows = idx.search(q, k=5, n_queries=q.count()).toPandas().sort_values(
        ["query_id", "dist_sq", "vec_id"], ignore_index=True
    )
    return edges, rows, idx.cell_seeds.copy()


def test_unstated_appends_give_the_stated_graph(spark):
    """Appends with no state() in between give the same graph as
    stating after every step, on a 4-shard index: each batch's edges
    come from the segments of its own time, and the capped merge makes
    the order of the merges irrelevant. Edges, search rows and cell
    seeds must be equal."""
    rng = np.random.default_rng(5)
    dim = 16
    centers = 4.0 * rng.normal(size=(40, dim))

    def frame(lo, n):
        x = centers[rng.integers(0, 40, n)] + 0.5 * rng.normal(size=(n, dim))
        return spark.createDataFrame(
            [(lo + i, v.tolist()) for i, v in enumerate(x)],
            "vec_id long, emb array<double>",
        ).localCheckpoint(eager=True)

    base, d1, d2 = frame(0, 2000), frame(2000, 150), frame(2150, 150)
    q = frame(10_000, 20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )

    def index():
        return GraphIndex(m=4, ef=64, cell_target_rows=50, n_shards=4).build(
            base, n_rows=2000
        )

    stated = index()
    stated.state()
    stated.append(d1).state()
    after_d1 = _graph_snapshot(stated, q)
    stated.append(d2).state()
    after_d2 = _graph_snapshot(stated, q)
    stated.retire()

    for deltas, want in (((d1,), after_d1), ((d1, d2), after_d2)):
        idx = index()
        for d in deltas:
            idx.append(d)
        idx.state()
        got = _graph_snapshot(idx, q)
        idx.retire()
        assert len(got[0]) > 0 and len(got[1]) == 100
        pd.testing.assert_frame_equal(got[0], want[0])
        pd.testing.assert_frame_equal(got[1], want[1])
        np.testing.assert_array_equal(got[2], want[2])


def test_empty_query_side(spark, sf_dir, built):
    emb, idx = built
    q = _queries(spark, emb, n=1).filter(F.col("query_id") < 0)
    assert idx.search(q, k=3, n_queries=0).count() == 0


def test_multi_shard_path(spark, sf_dir):
    """Force P > 1 search shards (the 100 TB layout: cells grouped
    into spatial shards, queries routed to the shards holding their
    seed cells, graph cut at shard boundaries). The default
    shard_target_rows never triggers this at test scale, so pin it:
    recall must survive the boundary cuts, append must land in the
    right shards, and every shard must actually exist as a segment."""
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    idx = GraphIndex(
        m=8, ef=64, cell_target_rows=40, shard_target_rows=120
    ).build(emb)
    # multiple real segments materialized, covering every row
    assert len(idx._vec_meta) >= 3
    assert sum(n for _, n, _ in idx._vec_meta.values()) == emb.count()
    q = _queries(spark, emb)
    res = idx.search(q, k=5, n_queries=20).toPandas()
    ex = exact_search_blocked(emb, q, k=5).toPandas()
    assert _recall(res, ex, 5) >= 0.75  # boundary cuts cost some recall
    # self-match must survive sharding: a corpus vector's own query
    # routes to its own shard
    assert (res.groupby("query_id").dist_sq.min() == 0.0).all()
    # append under P > 1: new rows join existing shards incrementally
    delta = emb.filter(F.col("vec_id") % 7 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    idx.append(delta)
    probe = delta.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    # the appended rows duplicate existing vectors: k=2 must surface
    # BOTH copies at distance 0, original first ((dist, id) ties)
    out = idx.search(probe, k=2, n_queries=3).toPandas()
    assert (out.dist_sq == 0.0).all()
    for qid, grp in out.groupby("query_id"):
        assert set(grp.vec_id) == {qid - 1_000_000, qid}


def test_answer_independent_of_query_batch(spark):
    """A query's ANN rows must not depend on which other queries share
    its task. The beam's width and step count derive from the width
    of the seed matrix, so it must be the index's fixed nseed x
    seeds_per_cell, never the widest row of the block. On a 4-shard
    index, where rows route different seed counts to each shard,
    n_qblocks=1 vs 4 and a query searched alone vs inside the batch
    must give identical rows."""
    rng = np.random.default_rng(2)
    n, dim = 2000, 16
    centers = rng.normal(size=(40, dim))
    x = centers[rng.integers(0, 40, n)] + 0.5 * rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(x)],
        "vec_id long, emb array<double>",
    )
    idx = GraphIndex(m=4, ef=64, cell_target_rows=50, n_shards=4).build(
        emb, n_rows=n
    )
    qx = centers[rng.integers(0, 40, 200)] + rng.normal(size=(200, dim))
    q = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(qx)],
        "query_id long, qemb array<double>",
    ).localCheckpoint(eager=True)

    def run(df, nq, n_qblocks):
        return (
            idx.search(df, k=10, n_queries=nq, n_qblocks=n_qblocks)
            .toPandas()
            .sort_values(["query_id", "dist_sq", "vec_id"], ignore_index=True)
        )

    one = run(q, 200, 1)
    assert len(idx._adj_meta) == 4
    assert len(one) == 2000
    assert one.equals(run(q, 200, 4))
    for qid in range(0, 200, 20):
        alone = run(q.filter(F.col("query_id") == qid), 1, 1)
        assert alone.equals(
            one[one.query_id == qid].reset_index(drop=True)
        ), qid
    idx.retire()


def test_deterministic_multi_shard(spark, sf_dir):
    """Same data + seed => identical edges, independent of shard
    count context (src/test_hnsw.zig:275-316 consistency analog)."""
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    a = GraphIndex(m=8, ef=64, cell_target_rows=40,
                   shard_target_rows=120).build(emb)
    b = GraphIndex(m=8, ef=64, cell_target_rows=40,
                   shard_target_rows=120).build(emb)
    ea = a.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    eb = b.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    assert ea[["src", "dst"]].equals(eb[["src", "dst"]])


def test_n_shards_override_controls_build_parallelism(spark, sf_dir):
    """The explicit n_shards knob (the bench insert-ladder's
    parallelism axis) forces the shard count past the auto-sizing
    floor, and the index built at any forced width still answers with
    full fidelity to its own exact path."""
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    for p in (2, 5):
        idx = GraphIndex(m=8, ef=64, cell_target_rows=60, n_shards=p).build(emb)
        n_used = len(set(idx.cell_shard.tolist()))
        assert n_used <= p, (p, n_used)
        q = _queries(spark, emb, n=10)
        res = idx.search(q, k=5, n_queries=10).toPandas()
        ex = exact_search_blocked(emb, q, k=5).toPandas()
        assert _recall(res, ex, 5) >= 0.9, f"n_shards={p}"


def test_retire_reclaims_segment_files(spark, sf_dir):
    """Public R9 teardown: retire() + reap past the grace window
    unlinks every file the index owned; a separate live index is
    untouched (two-index isolation)."""
    import glob
    import time as _t

    import zvdb_spark.operators.segments as S

    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    idx = GraphIndex(m=8, ef=64).build(emb)
    idx.state()  # fully packed: vectors + edges + adjacency on disk
    other = GraphIndex(m=8, ef=64, seed=7).build(emb)
    other.state()
    own = [p for p, _, _ in idx._vec_meta.values()]
    keep = [p for p, _, _ in other._vec_meta.values()]
    assert own and keep
    assert all(glob.glob(f"{p}.*") for p in own)

    idx.retire()
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    assert not any(glob.glob(f"{p}.*") for p in own)
    assert all(glob.glob(f"{p}.*") for p in keep)  # live index intact
    q = _queries(spark, emb, n=5)
    assert other.search(q, k=3, n_queries=5).count() == 15


def test_save_load_roundtrip(spark, sf_dir, tmp_path):
    """Persistence (absent from the reference, whose index dies with
    the process): save() writes a KB-scale manifest next to the
    segment files; load() reopens without running a job, and every
    surface — graph search, exact search, append — answers
    identically to the original index."""
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    idx = GraphIndex(m=8, ef=64, cell_target_rows=60).build(emb)
    q = _queries(spark, emb, n=10)
    want = idx.search(q, k=5, n_queries=10).toPandas()
    want_ex = idx.exact_search(q, k=5, n_queries=10).toPandas()

    path = str(tmp_path / "idx")
    idx.save(path)
    idx2 = GraphIndex.load(spark, path)
    assert idx2.n_rows == idx.n_rows
    key = ["query_id", "vec_id"]
    got = idx2.search(q, k=5, n_queries=10).toPandas()
    assert got.sort_values(key, ignore_index=True)[key].equals(
        want.sort_values(key, ignore_index=True)[key]
    )
    kex = ["query_id", "neighbor_id"]
    got_ex = idx2.exact_search(q, k=5, n_queries=10).toPandas()
    assert got_ex.sort_values(kex, ignore_index=True)[kex].equals(
        want_ex.sort_values(kex, ignore_index=True)[kex]
    )

    # the reopened index is live: append works and search sees the rows
    delta = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "emb"
    ).limit(20).localCheckpoint(eager=True)
    idx2.append(delta)
    idx2.state()
    assert idx2.n_rows == idx.n_rows + 20


def test_saved_index_survives_retire_and_purge(spark, sf_dir, tmp_path):
    """Ownership handoff: save() pins the segment files, so neither
    retire()+reap (the normal persist-and-release flow) nor the 24h
    dead-build purge can destroy a persisted index — load() still
    answers afterwards. This is the contract 'an index outlives its
    driver' actually requires; without pins any later activity in the
    shared segment dir would garbage-collect the save."""
    import glob
    import os
    import time as _t

    import zvdb_spark.operators.segments as S

    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    # isolated segment dir: the future-clock purge below sweeps the
    # WHOLE directory it is pointed at, and on the shared default dir
    # it reaped every other live (unpinned) index in the module —
    # including the module-scoped fixture any later test still uses
    idx = GraphIndex(
        m=8, ef=64, index_dir=str(tmp_path / "segs")
    ).build(emb)
    idx.state()
    own = [p for p, _, _ in idx._vec_meta.values()]
    d = os.path.dirname(own[0])
    path = str(tmp_path / "saved")
    idx.save(path)
    assert all(S._pin_markers(p) for p in own)

    # persist-and-release: retire + forced reap must NOT touch pins
    idx.retire()
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    assert all(glob.glob(f"{p}.ids.npy") for p in own)

    # the 24h dead-build purge must skip pinned prefixes too
    S.purge_stale(d, _t.time() + 25 * 3600)
    assert all(glob.glob(f"{p}.ids.npy") for p in own)

    idx2 = GraphIndex.load(spark, path)
    q = _queries(spark, emb, n=5)
    assert idx2.search(q, k=3, n_queries=5).count() == 15


def test_resave_unpins_superseded_generation(spark, sf_dir, tmp_path):
    """The save/append/save cycle must not leak: after an append
    re-packs touched shards under fresh prefixes, a re-save to the
    SAME path unpins the prior generation's files (no manifest
    references them anymore) so they are actually deleted — not
    immortal pinned orphans skipped by every GC path forever. A
    second manifest holding the same prefixes keeps them alive
    (owner refcount)."""
    import glob
    import os

    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    idx = GraphIndex(m=8, ef=64).build(emb)
    idx.state()
    path = str(tmp_path / "gen")
    other_path = str(tmp_path / "other")
    idx.save(path)
    gen1 = {p for p, _, _ in idx._vec_meta.values()}

    delta = emb.select(
        (F.col("vec_id") + F.lit(2_000_000)).alias("vec_id"), "emb"
    ).limit(20).localCheckpoint(eager=True)
    idx.append(delta)
    idx.state()
    gen2 = {p for p, _, _ in idx._vec_meta.values()}
    superseded = gen1 - gen2
    assert superseded, "append should have re-packed at least one shard"

    # a second manifest also claims the CURRENT generation: the
    # refcount must keep shared prefixes alive across the re-save
    idx.save(other_path)

    idx.save(path)  # re-save: prior generation loses its last owner...
    # ...except prefixes other_path also pinned (none of `superseded`,
    # which predates other_path's save). Release is RETIRE, not
    # unlink: markers go now, files only after the grace window, so
    # lazy plans still reading the old generation stay re-executable.
    import time as _t

    import zvdb_spark.operators.segments as S

    for p in superseded:
        assert not S._pin_markers(p), p
        assert glob.glob(f"{p}.*"), f"grace window should protect: {p}"
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    for p in superseded:
        assert not glob.glob(f"{p}.*"), f"leaked superseded files: {p}"
    for p in gen2:
        assert glob.glob(f"{p}.ids.npy"), p

    # both manifests still load and answer
    q = _queries(spark, emb, n=5)
    assert GraphIndex.load(spark, path).search(
        q, k=3, n_queries=5
    ).count() == 15
    assert GraphIndex.load(spark, other_path).search(
        q, k=3, n_queries=5
    ).count() == 15


def test_retired_index_raises_cleanly(spark, sf_dir):
    """After retire(), every entry point must fail with the clean
    'build() first' ValueError — not an AttributeError off stale
    quantizer arrays (retire resets centroids/cell_shard/cell_seeds
    too)."""
    import pytest

    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    idx = GraphIndex(m=8, ef=64).build(emb)
    q = _queries(spark, emb, n=2)
    idx.retire()
    assert idx.centroids is None and idx.cell_seeds is None
    with pytest.raises(ValueError, match="build"):
        idx.search(q, k=3, n_queries=2)
    with pytest.raises(ValueError, match="build"):
        idx.exact_search(q, k=3, n_queries=2)
    with pytest.raises(ValueError, match="build"):
        idx.append(emb.limit(5))


def test_shared_pin_format_migration(tmp_path):
    """Upgrade path for the retired shared-pin format (owner lines in
    one <prefix>.pin): unpin must MIGRATE the lines to per-owner
    atomic markers before releasing, so an index persisted under the
    old format can still release its superseded generation — not
    become an immortal pinned orphan. A ZERO-byte bare .pin (the real
    owner=None legacy marker) stays untouchable."""
    import os
    import time as _t

    import zvdb_spark.operators.segments as S

    pref = str(tmp_path / "seg_0001")
    with open(f"{pref}.ids.npy", "wb") as f:
        f.write(b"x")
    owner_a = str(tmp_path / "a.json")
    owner_b = str(tmp_path / "b.json")
    with open(f"{pref}.pin", "w") as f:
        f.write(owner_a + "\n" + owner_b + "\n")

    # releasing owner_a migrates the shared file: bare marker gone,
    # owner_b's per-owner marker survives, files stay (refcount > 0)
    S.unpin_prefixes([pref], owner=owner_a)
    assert not os.path.exists(f"{pref}.pin")
    assert S._pin_markers(pref) == [S._pin_marker(pref, owner_b)]
    assert os.path.exists(f"{pref}.ids.npy")

    # last owner out: retired, reaped after the grace window
    S.unpin_prefixes([pref], owner=owner_b)
    assert not S._pin_markers(pref)
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    assert not os.path.exists(f"{pref}.ids.npy")

    # zero-byte bare marker = owner=None legacy: immortal to named owners
    pref2 = str(tmp_path / "seg_0002")
    with open(f"{pref2}.ids.npy", "wb") as f:
        f.write(b"x")
    open(f"{pref2}.pin", "a").close()
    S.unpin_prefixes([pref2], owner=owner_a)
    assert os.path.exists(f"{pref2}.pin")
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    assert os.path.exists(f"{pref2}.ids.npy")


def test_cross_process_load_reproduces_search(spark, sf_dir, tmp_path):
    """The persistence claim taken literally: a FRESH process (its own
    Python, its own JVM/SparkSession — nothing inherited from the
    session that built the index) loads the saved layout and must
    answer the same queries with the exact same (query_id, vec_id,
    dist_sq) rows. In-process roundtrips can't catch state that
    accidentally rides in driver memory instead of the manifest; this
    is the test the save/load docstrings' 'future session' promise
    stands on."""
    import json
    import subprocess
    import sys

    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    idx = GraphIndex(m=8, ef=64, cell_target_rows=60).build(emb)
    idx.state()
    q = _queries(spark, emb, n=10)
    want = (
        idx.search(q, k=5, n_queries=10)
        .toPandas()
        .sort_values(["query_id", "vec_id"], ignore_index=True)
    )
    path = str(tmp_path / "xproc_idx")
    idx.save(path)

    child = tmp_path / "child_load.py"
    child.write_text(
        """
import json, sys
sys.path.insert(0, sys.argv[4])
from pyspark.sql import functions as F
from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.graph_ann import GraphIndex
from zvdb_spark.session import get_session
from zvdb_spark.sources.tables import load

path, sf_dir, out = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_session("xproc_child", cpus=4)
idx = GraphIndex.load(spark, path)
q = (
    load(spark, sf_dir, "embeddings")
    .select("vec_id", as_double_array("embedding").alias("emb"))
    .orderBy("vec_id").limit(10)
    .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
    .localCheckpoint(eager=True)
)
rows = idx.search(q, k=5, n_queries=10).collect()
with open(out, "w") as f:
    json.dump(
        sorted([r.query_id, r.vec_id, round(r.dist_sq, 9)] for r in rows),
        f,
    )
spark.stop()
"""
    )
    out = tmp_path / "child_out.json"
    import os as _os

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    env = dict(_os.environ, SPARK_GRAFT_DRIVER_MEM="4g")
    r = subprocess.run(
        [sys.executable, str(child), path, sf_dir, str(out), repo],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.load(open(out))
    expect = sorted(
        [int(rw.query_id), int(rw.vec_id), round(float(rw.dist_sq), 9)]
        for rw in want.itertuples()
    )
    assert got == expect


# --------------------- round 11: predicate-aware (filtered) search


def _exact_filtered(emb, q, pred_col, k):
    """Ground truth: exact pre-filtered top-k per query."""
    allowed = emb.filter(pred_col)
    return exact_search_blocked(
        allowed, q, k=k
    ).toPandas()


def test_filtered_search_recall_and_purity(spark, sf_dir, built):
    """Moderate selectivity (~50%): post-filter with adaptive ef
    reaches >= 0.9 recall vs the exact pre-filtered ground truth, and
    every returned row passes the predicate."""
    emb, idx = built
    q = _queries(spark, emb)
    pred = F.col("vec_id") % 2 == 0
    allowed = emb.filter(pred).select("vec_id")
    res = idx.search_filtered(q, allowed, k=5, n_queries=20)
    pdf = res.toPandas()
    assert (pdf.vec_id % 2 == 0).all()
    assert pdf.groupby("query_id").size().max() <= 5
    ex = _exact_filtered(emb, q, pred, 5)
    assert _recall(pdf, ex, 5) >= 0.9


def test_filtered_search_selective_predicate_grows_ef(spark, sf_dir, built):
    """~5% selectivity: the first fetch can't hold 5 survivors per
    query, so the adaptive rounds must kick in — full k is still
    delivered for every query and recall stays high."""
    emb, idx = built
    q = _queries(spark, emb, n=8)
    pred = F.col("vec_id") % 20 == 0
    allowed = emb.filter(pred).select("vec_id")
    res = idx.search_filtered(
        q, allowed, k=5, ef0=20, ef_cap=100_000, n_queries=8
    )
    pdf = res.toPandas()
    assert (pdf.vec_id % 20 == 0).all()
    assert (pdf.groupby("query_id").size() == 5).all()
    ex = _exact_filtered(emb, q, pred, 5)
    assert _recall(pdf, ex, 5) >= 0.9


def test_filtered_search_cap_returns_best_effort(spark, sf_dir, built):
    """An impossible predicate (no corpus row passes) terminates at
    the ef cap with an empty result — bounded rounds, no spin."""
    emb, idx = built
    q = _queries(spark, emb, n=4)
    allowed = emb.filter(F.col("vec_id") < 0).select("vec_id")
    res = idx.search_filtered(q, allowed, k=5, ef0=16, ef_cap=64,
                              n_queries=4)
    assert res.count() == 0


def test_filtered_search_ascending_per_query(spark, sf_dir, built):
    emb, idx = built
    q = _queries(spark, emb, n=6)
    allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    pdf = (
        idx.search_filtered(q, allowed, k=5, n_queries=6)
        .orderBy("query_id", "dist_sq", "vec_id")
        .toPandas()
    )
    for _, g in pdf.groupby("query_id"):
        d = g.dist_sq.to_numpy()
        assert (np.diff(d) >= -1e-12).all()
