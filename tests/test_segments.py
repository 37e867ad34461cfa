"""SegmentCorpus / exact_search_segments (operators/segments.py).

The segment exact path must reproduce the declared exact-kNN
contract bit-for-bit in rank terms: same (score, id)-ordered
neighbors as the crossJoin reference (knn_join), k > N clamps
(src/test_hnsw.zig:121-125), duplicate rows are distinct neighbors
(:104-119), and the multi-shard merge is exact.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.graph_ann import GraphIndex
from zvdb_spark.operators.knn import knn_join
from zvdb_spark.operators.segments import SegmentCorpus
from zvdb_spark.sources.tables import load


def _emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )


def _queries(emb, n=17):
    return (
        emb.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    return emb, _queries(emb)


def _sorted(pdf):
    return pdf.sort_values(["query_id", "rn"], ignore_index=True)


def test_matches_crossjoin_reference(spark, corpus):
    emb, q = corpus
    ref = _sorted(knn_join(emb, q, k=5).toPandas())
    got = _sorted(
        SegmentCorpus().pack(emb).exact_search(q, k=5, dtype="float64").toPandas()
    )
    pd.testing.assert_frame_equal(
        ref[["query_id", "neighbor_id", "rn"]],
        got[["query_id", "neighbor_id", "rn"]],
    )
    assert (ref.score - got.score).abs().max() < 1e-9


def test_multi_shard_merge_exact(spark, corpus):
    emb, q = corpus
    ref = _sorted(knn_join(emb, q, k=5).toPandas())
    sc = SegmentCorpus(shard_target_rows=20).pack(emb)
    assert len(sc.meta) > 3  # actually multi-shard
    got = _sorted(sc.exact_search(q, k=5, dtype="float64").toPandas())
    pd.testing.assert_frame_equal(
        ref[["query_id", "neighbor_id", "rn"]],
        got[["query_id", "neighbor_id", "rn"]],
    )


def test_cross_group_merge_exact(spark, corpus, monkeypatch):
    """Each task scans every segment group for its queries and merges
    their candidates itself. Force >= 3 groups, with 40 vectors
    duplicated under shifted ids so exact (score, id) ties span
    groups: rows, order and rn must equal both a numpy brute force
    and the crossJoin reference."""
    import numpy as np

    from zvdb_spark.operators import segments

    emb, q = corpus
    dups = (
        emb.orderBy("vec_id").limit(40)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )
    full = emb.unionByName(dups).localCheckpoint(eager=True)
    monkeypatch.setattr(segments, "_GROUP_TARGET", 150)
    sc = SegmentCorpus(shard_target_rows=60).pack(full)
    groups = segments._group_segments(sc.meta, segments._GROUP_TARGET)
    assert len(groups) >= 3
    group_of = {
        int(i): g
        for g, segs in enumerate(groups)
        for _, prefix, _, _ in segs
        for i in np.load(f"{prefix}.ids.npy")
    }
    assert any(
        group_of[i] != group_of[i + 1_000_000]
        for i in group_of if i < 1_000_000 and i + 1_000_000 in group_of
    )
    k = 5
    got = _sorted(sc.exact_search(q, k=k, dtype="float64").toPandas())
    ref = _sorted(knn_join(full, q, k=k).toPandas())
    pd.testing.assert_frame_equal(
        ref[["query_id", "neighbor_id", "rn"]],
        got[["query_id", "neighbor_id", "rn"]],
        check_dtype=False,
    )
    cpdf = full.toPandas()
    ids = cpdf.vec_id.to_numpy()
    x = np.stack(cpdf.emb.to_numpy())
    rows = []
    for r in q.toPandas().itertuples(index=False):
        d = ((x - np.asarray(r.qemb)) ** 2).sum(1)
        for rn, j in enumerate(np.lexsort((ids, d))[:k], start=1):
            rows.append((r.query_id, ids[j], d[j], rn))
    want = _sorted(
        pd.DataFrame(rows, columns=["query_id", "neighbor_id", "score", "rn"])
    )
    assert (want.neighbor_id.to_numpy() == got.neighbor_id.to_numpy()).all()
    assert (want.rn.to_numpy() == got.rn.to_numpy()).all()
    assert np.abs(want.score.to_numpy() - got.score.to_numpy()).max() < 1e-9
    # the duplicated queries find their copy at distance 0, after the
    # original on the id tie-break
    assert (got[got.score == 0.0].groupby("query_id").size() >= 2).any()


def test_f32_rank_parity(spark, corpus):
    emb, q = corpus
    ref = _sorted(knn_join(emb, q, k=5).toPandas())
    got = _sorted(
        SegmentCorpus().pack(emb).exact_search(q, k=5, dtype="float32").toPandas()
    )
    # f32 scoring may flip near-ties; id sets must still agree almost
    # everywhere on well-separated testdata
    agree = (ref.neighbor_id.to_numpy() == got.neighbor_id.to_numpy()).mean()
    assert agree > 0.95


def test_k_clamp_over_small_corpus(spark, corpus):
    emb, q = corpus
    small = emb.limit(3).localCheckpoint(eager=True)
    got = SegmentCorpus().pack(small).exact_search(q, k=100, dtype="float64")
    sizes = got.toPandas().groupby("query_id").size()
    assert (sizes == 3).all()


def test_graph_index_exact_search_delegates(spark, corpus):
    emb, q = corpus
    ref = _sorted(knn_join(emb, q, k=5).toPandas())
    idx = GraphIndex(m=4, ef=32, seed=7).build(emb)
    got = _sorted(idx.exact_search(q, k=5, dtype="float64").toPandas())
    pd.testing.assert_frame_equal(
        ref[["query_id", "neighbor_id", "rn"]],
        got[["query_id", "neighbor_id", "rn"]],
    )


def test_repack_retires_then_reaps_segments(spark, corpus):
    import glob
    import time

    from zvdb_spark.operators import segments as S

    emb, q = corpus
    sc = SegmentCorpus().pack(emb)
    first = [p for _, p, _, _ in sc.meta]
    sc.pack(emb)
    # superseded files survive a grace window (already-returned lazy
    # DataFrames must stay re-executable), then the reap unlinks them
    for p in first:
        assert glob.glob(f"{p}.*")
    S.reap_retired(now=time.time() + S._RETIRE_GRACE_SECS + 1)
    for p in first:
        assert not glob.glob(f"{p}.*")
    got = sc.exact_search(q, k=3, dtype="float64").toPandas()
    assert len(got) == 3 * q.count()


def test_duplicate_vectors_exact_ties_and_zero_self_distance(spark, corpus):
    """Duplicate points are distinct rows (src/test_hnsw.zig:104-119):
    with every vector duplicated under shifted ids, ranks must follow
    the exact (distance, id) contract — self-match and its twin both
    at score EXACTLY 0.0 — matching the crossJoin reference."""
    emb, q = corpus
    n = emb.count()
    doubled = emb.unionAll(
        emb.select((F.col("vec_id") + n).alias("vec_id"), "emb")
    ).localCheckpoint(eager=True)
    ref = _sorted(knn_join(doubled, q, k=4).toPandas())
    got = _sorted(
        SegmentCorpus(shard_target_rows=50)
        .pack(doubled)
        .exact_search(q, k=4, dtype="float64")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        ref[["query_id", "neighbor_id", "rn"]],
        got[["query_id", "neighbor_id", "rn"]],
    )
    self_rows = got[got.rn == 1]
    assert (self_rows.score == 0.0).all()  # exactly zero, not 1e-16
    twin_rows = got[got.rn == 2]
    assert (twin_rows.score == 0.0).all()


def test_two_live_indexes_share_index_dir_without_reaping_each_other(
    spark, sf_dir, tmp_path
):
    """Multi-round segment hygiene: two live indexes in ONE index_dir,
    interleaved build/append/search, then a FORCED grace-expiry reap —
    only superseded (retired) files may be unlinked, never the other
    index's live segments. Both indexes must still answer self-match
    queries at distance 0 after the reap."""
    import time as _time

    from zvdb_spark.operators import segments as seg

    d = str(tmp_path / "shared_idx")
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    base_a = emb.filter(F.col("vec_id") % 2 == 0)
    base_b = emb.filter(F.col("vec_id") % 2 == 1)
    a = GraphIndex(m=8, ef=64, index_dir=d).build(base_a)
    b = GraphIndex(m=8, ef=64, index_dir=d).build(base_b)
    # interleave: append to a (retires a's superseded files), search b,
    # append to b, search a — each index's retirements must only ever
    # name its own superseded prefixes
    delta_a = base_b.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    a.append(delta_a)
    delta_b = base_a.withColumn("vec_id", F.col("vec_id") + 2_000_000)
    b.append(delta_b)

    def _self_match(idx, src):
        probe = src.orderBy("vec_id").limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
        )
        res = idx.search(probe, k=1, n_queries=3).toPandas()
        assert (res.dist_sq == 0.0).all()
        assert set(res.vec_id) == set(res.query_id)

    _self_match(a, delta_a)
    _self_match(b, base_b)
    # force every pending retirement past its grace window and reap
    seg.reap_retired(now=_time.time() + seg._RETIRE_GRACE_SECS + 60)
    # live segments must have survived the reap on BOTH indexes
    _self_match(a, base_a)
    _self_match(b, delta_b)


def test_unpin_durable_retire_marker_cross_process_purge(tmp_path):
    """The on-disk <prefix>.retired marker makes the grace window
    cross-process: if the unpinning process dies (simulated by
    clearing the in-memory queue), another process's purge_stale
    finishes the reap once the marker's grace expires — and never
    reaps INSIDE the grace window, even when the data files' own
    mtimes are >24h old."""
    import os
    import time as _t

    import zvdb_spark.operators.segments as S

    pref = str(tmp_path / "seg_0001")
    with open(f"{pref}.ids.npy", "wb") as f:
        f.write(b"x")
    owner = str(tmp_path / "m.json")
    S.pin_prefixes([pref], owner=owner)
    S.unpin_prefixes([pref], owner=owner)
    assert os.path.exists(f"{pref}.retired")
    S._retired.clear()  # "the retiring process died here"
    # inside grace: protected even though the file LOOKS 25h dead
    old = _t.time() - 25 * 3600
    os.utime(f"{pref}.ids.npy", (old, old))
    S.purge_stale(str(tmp_path), _t.time())
    assert os.path.exists(f"{pref}.ids.npy")
    # past grace: another process's sweep finishes the reap
    S.purge_stale(str(tmp_path), _t.time() + S._RETIRE_GRACE_SECS + 1)
    assert not os.path.exists(f"{pref}.ids.npy")
    assert not os.path.exists(f"{pref}.retired")


def test_repin_during_grace_clears_retire_marker(tmp_path):
    """A prefix re-pinned inside the grace window must survive every
    reaper: pin_prefixes removes the durable marker, and pins win
    over any marker a concurrent unpin re-writes."""
    import os
    import time as _t

    import zvdb_spark.operators.segments as S

    pref = str(tmp_path / "seg_0001")
    with open(f"{pref}.ids.npy", "wb") as f:
        f.write(b"x")
    owner = str(tmp_path / "m.json")
    S.pin_prefixes([pref], owner=owner)
    S.unpin_prefixes([pref], owner=owner)
    assert os.path.exists(f"{pref}.retired")
    S.pin_prefixes([pref], owner=owner)  # re-claimed inside grace
    assert not os.path.exists(f"{pref}.retired")
    S._retired.clear()
    S.purge_stale(str(tmp_path), _t.time() + S._RETIRE_GRACE_SECS + 1)
    assert os.path.exists(f"{pref}.ids.npy")
    # in-process reap also re-checks pins
    S.retire_prefixes([pref])
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    assert os.path.exists(f"{pref}.ids.npy")


def test_concurrent_unpin_race_reaped_by_any_purge(tmp_path):
    """Two owners release concurrently and 'each still sees the
    other's marker': every unpin writes the durable marker anyway
    (pins are re-checked at delete time), so the files are reaped by
    ANY later sweep instead of leaking until the 24h rule."""
    import os
    import time as _t

    import zvdb_spark.operators.segments as S

    pref = str(tmp_path / "seg_0001")
    with open(f"{pref}.ids.npy", "wb") as f:
        f.write(b"x")
    a = str(tmp_path / "a.json")
    b = str(tmp_path / "b.json")
    S.pin_prefixes([pref], owner=a)
    S.pin_prefixes([pref], owner=b)
    S.unpin_prefixes([pref], owner=a)
    assert os.path.exists(f"{pref}.retired")  # written despite b's pin
    # past grace but still pinned by b: every reaper leaves it alone
    S.purge_stale(str(tmp_path), _t.time() + S._RETIRE_GRACE_SECS + 1)
    S.reap_retired(now=_t.time() + S._RETIRE_GRACE_SECS + 1)
    assert os.path.exists(f"{pref}.ids.npy")
    S.unpin_prefixes([pref], owner=b)
    S._retired.clear()  # "process died before its in-process reap"
    S.purge_stale(str(tmp_path), _t.time() + S._RETIRE_GRACE_SECS + 1)
    assert not os.path.exists(f"{pref}.ids.npy")
    assert not os.path.exists(f"{pref}.retired")


def test_unpin_writes_marker_before_releasing_pin(tmp_path, monkeypatch):
    """The no-unprotected-window invariant: at the instant the pin
    marker is unlinked, the durable retire marker must already exist
    (otherwise a concurrent purge sees neither claim and applies the
    24h rule to the bare files)."""
    import os

    import zvdb_spark.operators.segments as S

    pref = str(tmp_path / "seg_0001")
    with open(f"{pref}.ids.npy", "wb") as f:
        f.write(b"x")
    owner = str(tmp_path / "m.json")
    S.pin_prefixes([pref], owner=owner)
    real_unlink = os.unlink
    seen = {}

    def guarded(path, *a, **kw):
        if ".pin." in str(path):
            seen["marker_present"] = os.path.exists(f"{pref}.retired")
        return real_unlink(path, *a, **kw)

    monkeypatch.setattr(S.os, "unlink", guarded)
    S.unpin_prefixes([pref], owner=owner)
    assert seen["marker_present"] is True


def test_purge_removes_retire_marker_after_data_files(tmp_path, monkeypatch):
    """Crash-safe sweep ordering: the retire marker goes LAST, so a
    sweep that dies mid-reap leaves the marker for the next sweep to
    finish the job."""
    import os
    import time as _t

    import zvdb_spark.operators.segments as S

    pref = str(tmp_path / "seg_0001")
    with open(f"{pref}.ids.npy", "wb") as f:
        f.write(b"x")
    owner = str(tmp_path / "m.json")
    S.pin_prefixes([pref], owner=owner)
    S.unpin_prefixes([pref], owner=owner)
    S._retired.clear()
    order = []
    real_unlink = os.unlink

    def rec(path, *a, **kw):
        order.append(str(path))
        return real_unlink(path, *a, **kw)

    monkeypatch.setattr(S.os, "unlink", rec)
    S.purge_stale(str(tmp_path), _t.time() + S._RETIRE_GRACE_SECS + 1)
    assert len(order) == 2, order
    assert order[0].endswith(".ids.npy")
    assert order[1].endswith(".retired")


def _gc_storm_worker(d: str, out_d: str, i: int, stop_ts: float) -> None:
    """Worker for the concurrent-GC stress: loop pin -> hostile
    purge -> unpin -> hostile purge on fresh prefixes. The purge
    clock sits past BOTH the 24h file age AND the retire grace, so
    every file in the dir is delete-eligible by age alone and ONLY
    the pin checks keep a claimed prefix alive — losing a pin check
    anywhere in purge_stale fails the assert. Prefixes are pinned
    BEFORE their files are written so a file is never observable
    unpinned. Bookkeeping goes to out_d, which the hostile purges
    never scan."""
    import os
    import time

    import zvdb_spark.operators.segments as S

    owner = os.path.join(out_d, f"owner_{i}.json")
    hostile = S._PURGE_AGE_SECS + S._RETIRE_GRACE_SECS + 2
    n = 0
    while time.time() < stop_ts or n == 0:  # at least one cycle each
        pref = os.path.join(d, f"wseg_{i}_{n}")
        n += 1
        S.pin_prefixes([pref], owner=owner)  # claim BEFORE the file
        with open(f"{pref}.ids.npy", "wb") as f:
            f.write(b"x")
        S.purge_stale(d, time.time() + hostile)
        assert os.path.exists(f"{pref}.ids.npy"), "pinned file lost"
        S.unpin_prefixes([pref], owner=owner)
        S.purge_stale(d, time.time() + hostile)
    with open(os.path.join(out_d, f"cycles_{i}.txt"), "w") as f:
        f.write(str(n))


def test_concurrent_gc_storm_never_loses_pinned_files(tmp_path):
    """Four real processes hammer a shared segment dir with
    pin/unpin/HOSTILE-purge cycles (purge clock past the 24h age AND
    the retire grace — every file is delete-eligible by age, only
    pin checks protect it) while a long-lived pinned prefix sits in
    the middle: the pinned prefix must survive the storm untouched,
    every worker's own pinned file must exist at its check, and one
    final hostile sweep must converge the dir to empty (no immortal
    markers, no leaked files)."""
    import multiprocessing as mp
    import os
    import time

    import zvdb_spark.operators.segments as S

    d = str(tmp_path / "segs")
    out_d = str(tmp_path / "out")  # bookkeeping, never purged
    os.makedirs(d)
    os.makedirs(out_d)
    keep = os.path.join(d, "kseg_keep")
    S.pin_prefixes([keep], owner=os.path.join(out_d, "keeper.json"))
    for name in ("ids", "vecs"):
        with open(f"{keep}.{name}.npy", "wb") as f:
            f.write(b"k")

    stop = time.time() + 6
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_gc_storm_worker, args=(d, out_d, i, stop))
        for i in range(4)
    ]
    for p in procs:
        p.start()
    try:
        for p in procs:
            p.join(timeout=120)
            assert p.exitcode is not None, "worker hung (not a GC loss)"
            assert p.exitcode == 0, "a worker lost a pinned file mid-storm"
    finally:
        for p in procs:
            if p.is_alive():
                p.terminate()

    assert os.path.exists(f"{keep}.ids.npy")
    assert os.path.exists(f"{keep}.vecs.npy")
    cycles = sum(
        int(open(os.path.join(out_d, f"cycles_{i}.txt")).read())
        for i in range(4)
    )
    assert cycles >= 4  # the storm actually ran (≥1 cycle per worker)
    # convergence: one more hostile sweep reaps every released prefix
    # AND its marker (markers go last, so dead sweeps finish); only
    # the still-pinned keeper survives
    time.sleep(0.1)
    S.purge_stale(
        d, time.time() + S._PURGE_AGE_SECS + S._RETIRE_GRACE_SECS + 2
    )
    leftovers = [f for f in os.listdir(d) if f.startswith("wseg_")]
    assert leftovers == [], leftovers
    assert os.path.exists(f"{keep}.ids.npy")  # pin still wins


def test_age_purge_rechecks_pins_created_after_snapshot(
    tmp_path, monkeypatch
):
    """The 24h age path must re-check pins at DELETE time, like the
    retired path's _reap_ok: simulate a save() pinning a >24h-old
    prefix between purge_stale's listdir snapshot and the unlink by
    serving purge a snapshot taken before the pin landed."""
    import os
    import time as _t

    import zvdb_spark.operators.segments as S

    d = str(tmp_path)
    old = _t.time() - S._PURGE_AGE_SECS - 3600
    f = os.path.join(d, "seg_idle.vec.npy")
    open(f, "wb").write(b"x")
    os.utime(f, (old, old))

    stale_snapshot = os.listdir(d)  # no pin visible yet
    S.pin_prefixes({os.path.join(d, "seg_idle")}, owner=f"{d}/m.json")

    real_listdir = os.listdir
    monkeypatch.setattr(
        S.os,
        "listdir",
        lambda p: stale_snapshot if p == d else real_listdir(p),
    )
    S.purge_stale(d, _t.time())
    assert os.path.exists(f), (
        "age-path unlink ignored a pin created after the snapshot"
    )
