"""Immutable mmap index segments — the storage layer shared by the
exact GEMM search path and the graph ANN path (operators/graph_ann).

The reference holds its corpus as per-node heap copies behind one
mutex (``src/hnsw.zig:24-26``, ``:74``); production vector engines
instead ship immutable index segments to shared storage and mmap
them. This module implements that pattern for local[n] / shared-FS
clusters:

- ``pack``: one groupBy(pid) shuffle writes each shard's (sorted id
  vector, f64 matrix, f32 matrix) as ``.npy`` files, executor-side,
  atomic rename. The corpus crosses the JVM<->Python boundary exactly
  once, at pack time.
- ``exact_search``: queries stay a DataFrame; query blocks fan out
  round-robin across cores, each task ``np.load(mmap_mode="r")``s
  every shard and runs a chunked norm-expansion GEMM top-k, merging
  its queries' per-shard candidates itself — no row of the corpus and
  no per-shard partial result crosses an exchange. Per-search cost is
  the query shuffle + the GEMM; the index bytes stay in the shared OS
  page cache across searches.

Scale posture: shard size bounds task state (``DEFAULT_SHARD_TARGET``
rows); query-block count bounds task memory on the probe side; both
grow linearly with cluster size. ``index_dir`` must be host-shared
storage (NFS/EFS-style) on a multi-node cluster; the tmpdir default
is correct for local[n].
"""

from __future__ import annotations

import math
import os
import re
import tempfile
import time
import uuid
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zvdb_spark.operators.arrowvec import matrix

DEFAULT_SHARD_TARGET = 2_000_000  # rows per segment (task state bound)

_PURGE_AGE_SECS = 24 * 3600
_RETIRE_GRACE_SECS = 600

# superseded builds awaiting reclaim: (retired_at, prefix). A repack
# RETIRES its predecessor instead of unlinking it so that already-
# returned lazy DataFrames stay re-executable (Spark may legally
# re-run a stage) for a grace window; the next pack reaps anything
# past the grace.
_retired: list[tuple[float, str]] = []


@contextmanager
def no_aqe_coalesce(spark):
    """Disable AQE partition coalescing for the enclosed action. The
    per-shard pack jobs group by pid — a handful of groups whose
    shuffle is a few MB, which AQE's advisory size would coalesce
    into ONE task, serializing every shard's numpy merge behind a
    single core (measured: the adjacency re-pack of 12 shards ran
    ~4x slower coalesced). Session-wide conf flip, restored in
    finally — safe in a single-driver engine; concurrent jobs in the
    same session would briefly skip coalescing, which only costs
    them some empty tasks."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset -> Spark default
        prev = "true"
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def retire_prefixes(prefixes, durable: bool = False) -> None:
    """Queue prefixes for grace-window reaping. ``durable=True``
    additionally drops an on-disk ``<prefix>.retired`` marker (direct
    atomic create; its mtime is the retire clock) so that ANOTHER
    process's purge_stale can finish the reap if this process dies
    after the last unpin — and so purge_stale never unlinks inside
    the grace window even when the data files' own mtimes are >24h
    old. Best-effort: a failed marker write degrades to the old
    process-local behavior (bounded leak until the 24h sweep, never
    data loss)."""
    now = time.time()
    _retired.extend((now, p) for p in prefixes)
    if durable:
        for p in prefixes:
            try:
                # direct create: the marker's NAME + mtime are the
                # contract (content is debuggability); a tmp+rename
                # staging name would itself be purge-eligible
                with open(f"{p}.retired", "w") as fh:
                    fh.write(f"{now}\n")
            except OSError:
                pass


def reap_retired(now: float | None = None) -> None:
    """Unlink retired segment files whose grace window has passed.
    POSIX-safe under concurrent readers: an open mmap holds the
    inode, so in-flight tasks on the old build finish unharmed."""
    now = time.time() if now is None else now
    keep: list[tuple[float, str]] = []
    for t, p in _retired:
        if now - t > _RETIRE_GRACE_SECS:
            unlink_prefixes([p])
        else:
            keep.append((t, p))
    _retired[:] = keep


def touch_prefixes(prefixes) -> None:
    """Refresh segment mtimes so the 24h dead-build purge never reaps
    a live index's files — every search touches its own segments."""
    import glob as _glob

    for p in prefixes:
        for f in _glob.glob(f"{p}.*"):
            try:
                os.utime(f)
            except OSError:
                pass


def seg_dir(index_dir: str | None = None) -> str:
    """Resolve (and lazily create) the segment directory, reaping
    files older than 24h from dead builds on the way."""
    d = index_dir or os.path.join(tempfile.gettempdir(), "zvdb_graph_idx")
    os.makedirs(d, exist_ok=True)
    purge_stale(d, time.time())
    reap_retired()
    return d


def save_npy(prefix: str, name: str, arr: np.ndarray) -> None:
    """Atomic .npy write (tmp + rename) so readers never see a
    partial segment."""
    tmp = f"{prefix}.{name}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        np.save(fh, arr)
    os.replace(tmp, f"{prefix}.{name}.npy")


def _pin_marker(prefix: str, owner: str) -> str:
    """Per-owner pin marker path. One FILE per (prefix, owner) — not
    one line in a shared file — so pin and unpin are a single atomic
    create/unlink with no read-modify-write: two sessions saving
    manifests that share prefixes over NFS can never interleave a
    read-filter-replace and drop each other's claim."""
    import hashlib

    h = hashlib.sha1(owner.encode("utf-8")).hexdigest()[:16]
    return f"{prefix}.pin.{h}"


def _pin_markers(prefix: str) -> list[str]:
    """Every live pin marker for a prefix: the bare legacy
    ``<prefix>.pin`` plus any per-owner ``<prefix>.pin.<sha1-16>``."""
    import glob as _glob

    return [
        f
        for f in _glob.glob(f"{prefix}.pin*")
        if f == f"{prefix}.pin" or _PIN_SUFFIX_RE.search(f)
    ]


_PIN_SUFFIX_RE = re.compile(r"\.pin\.[0-9a-f]{16}$")


def _migrate_shared_pin(prefix: str) -> None:
    """One-time migration of the retired shared-pin format: an older
    save wrote owner PATHS as lines into one ``<prefix>.pin`` file
    (read-modify-write refcount). Without migration that file now
    reads as a bare legacy marker no named owner can release, so
    re-saving an index persisted under the old format leaks its
    superseded generation forever. Convert each line to the
    per-owner atomic marker it would have today, then drop the
    shared file. A ZERO-byte ``<prefix>.pin`` is the real legacy
    owner=None marker and stays immortal. Idempotent and safe under
    concurrent migrators (marker writes are atomic replaces, the
    second unlink just fails); a concurrent OLD-format writer could
    still lose a just-appended line, but old-format writers no
    longer exist — this is a one-time upgrade path."""
    marker = f"{prefix}.pin"
    try:
        with open(marker) as fh:
            owners = [ln.strip() for ln in fh if ln.strip()]
    except OSError:
        return
    if not owners:
        return  # zero-byte bare marker: owner=None legacy, immortal
    try:
        for ow in owners:
            pin_prefixes([prefix], owner=ow)
    except OSError:
        # Best-effort: migration runs inside RELEASE paths
        # (unpin_prefixes), which must never raise after the caller's
        # save already succeeded. Leaving the shared marker in place
        # keeps the files protected; the next unpin retries.
        return
    try:
        os.unlink(marker)
    except OSError:
        pass


def pin_prefixes(prefixes, owner: str | None = None) -> None:
    """Mark segment prefixes as OWNED BY A SAVED INDEX: a tiny
    pin marker makes both deletion paths — unlink_prefixes (the
    retire/reap lifecycle) and purge_stale (the 24h dead-build
    sweep) — skip every file of the prefix. Without this,
    GraphIndex.save's manifest would point at files the shared
    segment dir is free to garbage-collect: any later build in the
    dir would purge a >24h-old saved index, and retire()/deinit()
    after save() would queue the saved files for reaping. Pins are
    touched on load() like any live segment.

    ``owner`` (the manifest path doing the pinning) gets its OWN
    marker file ``<prefix>.pin.<sha1-16-of-owner>`` — a refcount
    where each claim is an independent atomic create, so two
    manifests may pin the same prefix concurrently (even over NFS)
    and unpin_prefixes releases files only when the LAST owner's
    marker is gone. ``owner=None`` touches the bare legacy
    ``<prefix>.pin`` marker, which no named owner can ever release.
    Pin failures RAISE (after attempting every prefix): a save()
    that returns success with some files unpinned would let the 24h
    purge silently eat part of a "persisted" index, so the
    durability contract demands the error surface."""
    errs: list[str] = []
    for p in prefixes:
        marker = f"{p}.pin" if owner is None else _pin_marker(p, owner)
        try:
            if owner is None:
                with open(marker, "a"):
                    pass
            else:
                # direct create — the NAME is the claim and appears
                # atomically; the owner line inside is debuggability
                # only. (A tmp+rename staging file here is itself a
                # purgeable <prefix>.* name: a concurrent sweep with a
                # skewed clock can unlink it between write and rename
                # and kill the pin mid-creation — found by the
                # hostile-clock GC storm test.)
                with open(marker, "w") as fh:
                    fh.write(owner + "\n")
        except OSError as e:
            errs.append(f"{marker}: {e}")
            continue
        # a (re-)claimed prefix is no longer retired: drop the durable
        # retire marker AFTER the pin exists, so no window is open in
        # which purge_stale sees neither
        try:
            os.unlink(f"{p}.retired")
        except OSError:
            pass
    if errs:
        raise OSError(
            f"failed to pin {len(errs)} segment prefix(es); the index "
            f"is NOT durably saved: " + "; ".join(errs[:3])
        )


def unpin_prefixes(prefixes, owner: str) -> None:
    """Release ``owner``'s claim on segment prefixes (the inverse of
    pin_prefixes with an owner): unlink the owner's marker file —
    atomic, no read-modify-write. When the LAST marker goes, the
    segment files are RETIRED (grace-window reap, not immediate
    unlink): lazy DataFrames or another live GraphIndex may still be
    reading the superseded generation, and Spark may legally re-run
    a stage against it — retire_prefixes gives those readers the
    same protection the normal repack lifecycle provides, and
    reap-time unlink_prefixes re-checks pins, so a prefix re-pinned
    during the grace window survives. ZERO-byte bare legacy
    ``<prefix>.pin`` markers are never touched and keep the files
    alive forever — a pre-refcount owner=None pin may reference
    them; a NON-empty bare marker is the retired shared-line format
    and is migrated to per-owner markers first
    (``_migrate_shared_pin``), so old-format saves stay releasable.

    Cross-process grace: every unpin drops a durable
    ``<prefix>.retired`` marker (atomic create, never a
    read-modify-write ledger) REGARDLESS of whether other owners'
    markers remain — safe because both reapers re-check pins at
    delete time (unlink_prefixes directly; purge_stale skips pinned
    prefixes), and pin_prefixes removes the marker when a prefix is
    (re-)claimed. So if this process dies after the last unpin, or
    two owners unpin concurrently and each still sees the other's
    marker, any later process's purge_stale finishes the reap once
    the marker's grace expires — no immortal leak, and no purge
    inside the grace window either."""
    for p in prefixes:
        _migrate_shared_pin(p)
        marker = _pin_marker(p, owner)
        if not os.path.isfile(marker):
            continue
        # ORDER MATTERS: write the durable retire marker BEFORE
        # unlinking our pin, so no instant exists in which a
        # concurrent purge_stale sees neither claim (with the pin
        # still present the prefix is purge-proof; with the retire
        # marker present it is grace-protected). Safe even though
        # other owners may still hold pins: pins are re-checked at
        # every delete site, and a (re-)pin removes the marker.
        retire_prefixes([p], durable=True)
        try:
            os.unlink(marker)
        except OSError:
            pass


def unlink_prefixes(prefixes) -> None:
    """Remove superseded segment files. POSIX-safe under concurrent
    readers: an mmap holds the inode, so in-flight searches on the
    old build finish unharmed. Pinned prefixes (saved indexes) are
    skipped — a manifest owns them now. Pins are re-checked HERE, at
    reap time, so a last-owner unpin followed by a fresh pin inside
    the retire grace window does not lose the re-pinned files."""
    import glob as _glob

    for p in prefixes:
        if _pin_markers(p):
            continue
        for f in _glob.glob(f"{p}.*"):
            try:
                os.unlink(f)
            except OSError:
                pass


def purge_stale(d: str, now: float) -> None:
    """Opportunistic reap of segments older than 24h (dead builds
    from past sessions). Live indexes re-pack far more often than
    that; the per-build token keeps names unique. Pinned prefixes
    (saved indexes) and the pin markers themselves — bare legacy
    ``.pin`` or per-owner ``.pin.<sha1-16>`` — are never purged:
    persistence must survive arbitrary idle gaps.

    Prefixes carrying a durable ``<prefix>.retired`` marker (written
    by unpin_prefixes) use the RETIRE clock instead of the 24h file
    age, in both directions: their files are reaped once the
    marker's grace expires — even if the retiring process died, and
    even if the files are minutes old — and are NEVER reaped inside
    the grace window, even if their own mtimes are >24h old (a
    long-idle save released moments ago may still have readers).
    Pins win over retire markers, and because the grace path makes
    minutes-old files eligible, eligibility is RE-CHECKED at delete
    time against the live filesystem (marker still present, its
    CURRENT mtime past grace, no pin re-claimed the prefix) — the
    listdir snapshot only nominates candidates. Markers are removed
    LAST, after their data files, so a sweep that dies mid-reap is
    finished by the next one. (Lock-free GC keeps one epsilon: a pin
    that lands between the re-check and the unlink can still lose a
    file — re-claiming a released prefix is guaranteed only INSIDE
    the grace window, which every real flow satisfies; after grace,
    save to a fresh prefix.)"""
    import glob as _glob

    try:
        entries = os.listdir(d)
    except OSError:
        return

    def _is_marker(f: str) -> bool:
        return f.endswith(".pin") or bool(_PIN_SUFFIX_RE.search(f))

    pinned = tuple(
        {
            os.path.join(d, f[: f.rindex(".pin")]) + "."
            for f in entries
            if _is_marker(f)
        }
    )
    # segment prefixes are dot-free basenames (seg_*/xseg_* tokens),
    # so the first dot splits <prefix>.<rest> — O(1) lookup per file
    retired: set[str] = {
        os.path.join(d, f[: -len(".retired")])
        for f in entries
        if f.endswith(".retired")
    }

    def _reap_ok(prefix: str) -> bool:
        """Delete-time re-check: the marker must still exist (a
        re-claiming pin removes it), its CURRENT mtime must be past
        grace (an overlapping unpin refreshes it), and no pin may
        have re-claimed the prefix since the snapshot."""
        try:
            mt = os.path.getmtime(f"{prefix}.retired")
        except OSError:
            return False
        if now - mt <= _RETIRE_GRACE_SECS:
            return False
        return not _pin_markers(prefix)

    for f in entries:
        path = os.path.join(d, f)
        if (
            _is_marker(f)
            or f.endswith(".retired")
            or (pinned and path.startswith(pinned))
        ):
            continue
        prefix = os.path.join(d, f.split(".", 1)[0])
        try:
            if prefix in retired:
                if _reap_ok(prefix):
                    os.unlink(path)
            elif now - os.path.getmtime(path) > _PURGE_AGE_SECS:
                # delete-time pin re-check, mirroring _reap_ok's
                # discipline on the retired path: a save() can pin
                # this prefix between the listdir snapshot above and
                # this unlink (a long-idle in-memory index persisted
                # just as another process sweeps) — the getmtime in
                # the elif is already a current read, the pin set
                # must be too
                if not _pin_markers(prefix):
                    os.unlink(path)
        except OSError:
            pass
    for prefix in retired:
        remaining = [
            g
            for g in _glob.glob(f"{prefix}.*")
            if not g.endswith(".retired")
        ]
        if not remaining and _reap_ok(prefix):
            try:
                os.unlink(f"{prefix}.retired")
            except OSError:
                pass


_SEARCH_SCHEMA = "query_id long, neighbor_id long, score double"
_QCHUNK = 128  # query rows per GEMM (bounds the distance matrix)
_CCHUNK = 1 << 18  # corpus rows per GEMM chunk
_GROUP_TARGET = 2_000_000  # segment rows per exact-search work group


def _group_segments(
    meta: list[tuple[int, str, int, int]], target: int
) -> list[list[tuple[int, str, int, int]]]:
    """Bundle segments into groups of ~target rows (first-fit over
    size-sorted segments). A group is the unit of exact-search work:
    one query·group item GEMMs ~target corpus rows, so the task count
    scales with nq x total_rows / target, and many small graph shards
    count as one group instead of shrinking the work estimate."""
    groups: list[tuple[int, list]] = []
    for seg in sorted(meta, key=lambda s: -s[2]):
        for i, (rows, members) in enumerate(groups):
            if rows + seg[2] <= target:
                groups[i] = (rows + seg[2], members + [seg])
                break
        else:
            groups.append((seg[2], [seg]))
    return [members for _, members in groups]


def write_vectors(prefix: str, ids: np.ndarray, mat: np.ndarray) -> None:
    """Write one shard's vector files — the ones exact_search_segments
    reads: sorted ``ids``, the f64 ``mat`` and its row norms ``xn``,
    and f32 copies of both (``mat32``, ``xn32``)."""
    xn = (mat * mat).sum(axis=1)
    save_npy(prefix, "ids", ids)
    save_npy(prefix, "mat", mat)
    save_npy(prefix, "mat32", mat.astype(np.float32))
    save_npy(prefix, "xn", xn)
    save_npy(prefix, "xn32", xn.astype(np.float32))


def exact_search_segments(
    queries: DataFrame,
    meta: list[tuple[int, str, int, int]],
    k: int,
    dtype: str = "float32",
    n_queries: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "qemb",
) -> DataFrame:
    """Exact batched k-NN over packed segments: (query_id,
    neighbor_id, score, rn), rn in 1..k, ascending (score, id) with
    exact tie handling — the reference's search contract
    (``src/hnsw.zig:194-236``; k > N clamps, src/test_hnsw.zig:121-125)
    at full recall.

    ``meta`` rows are (pid, prefix, n, dim) — driver-side scalars,
    like the reference's entry-point state. f32 default matches the
    reference's element type (its benchmarks run f32 vectors);
    pass "float64" for bitwise-f64 ground truth.
    """
    spark = queries.sparkSession
    if not meta:
        return spark.createDataFrame([], _SEARCH_SCHEMA + ", rn int")
    touch_prefixes(p for _, p, _, _ in meta)  # live index: never purged
    np_dtype = np.dtype(dtype)
    f32 = np_dtype == np.float32
    mat_name, xn_name = ("mat32", "xn32") if f32 else ("mat", "xn")
    n_groups = len(_group_segments(meta, _GROUP_TARGET))
    kk = min(k, sum(n for _, _, n, _ in meta))
    if n_queries is None:
        n_queries = queries.count()
    par = spark.sparkContext.defaultParallelism
    # ≥64 query·group work items per task, capped at ONE WAVE of
    # tasks (defaultParallelism = the cluster's total cores) and at
    # one query per task. Extra waves were measured slower: per-task
    # fixed costs — python worker dispatch, Arrow batch framing,
    # first-touch mmap page-in — dominate them. At 100k x 128-d,
    # nq=10k, 32 cores: 1 wave 2.10 s best / 2.24 s median, 2 waves
    # 2.69 s, 4 waves 3.91 s, 8 waves 3.97 s. Most of the dispatch
    # cost was each task re-reading $SPARK_HOME's zip directories,
    # which zvdb_spark._daemon now avoids; the cap predates that fix.
    n_tasks = max(
        1, min(par, -(-n_queries * n_groups // 64), n_queries)
    )

    from zvdb_spark.operators.knn import _topk_by_dist_id

    def _task(batches):
        cache: dict[str, tuple] = {}

        def seg(pref: str):
            if pref not in cache:
                ids = np.load(f"{pref}.ids.npy", mmap_mode="r")
                mat = np.load(f"{pref}.{mat_name}.npy", mmap_mode="r")
                xn = np.load(f"{pref}.{xn_name}.npy", mmap_mode="r")
                cache[pref] = (np.asarray(ids), mat, xn)
            return cache[pref]

        for batch in batches:
            if not kk:
                continue
            qids_all = batch[query_id].to_numpy().astype(np.int64)
            qm_all = matrix(batch[query_vec], np_dtype, name=query_vec)
            qn_all = (
                qm_all.astype(np.float64) ** 2
            ).sum(axis=1).astype(np_dtype)
            for lo in range(0, len(qids_all), _QCHUNK):
                qm = qm_all[lo : lo + _QCHUNK]
                qn = qn_all[lo : lo + _QCHUNK]
                qids = qids_all[lo : lo + _QCHUNK]
                # every segment is GEMMed in corpus chunks; kk
                # candidates kept per chunk, RESCORED as exact
                # diff-squared (the norm-expansion GEMM loses ~1e-16 to
                # cancellation — a self-match must be 0.0, not
                # 6.7e-16, and ties must resolve by the true (distance,
                # id) order), then resolved exactly across chunks and
                # segments — any global top-k member is top-k in its
                # chunk
                c_ids, c_d = [], []
                qm64 = qm.astype(np.float64)
                for _, pref, n_seg, _dim in meta:
                    ids, mat, xn = seg(pref)
                    for clo in range(0, n_seg, _CCHUNK):
                        cm = np.ascontiguousarray(mat[clo : clo + _CCHUNK])
                        cid = ids[clo : clo + _CCHUNK]
                        d = (
                            qn[:, None]
                            + xn[clo : clo + _CCHUNK][None, :]
                            - 2.0 * (qm @ cm.T)
                        )
                        ck = min(kk, len(cid))
                        part = _topk_by_dist_id(d, cid, ck)
                        sel = np.asarray(cm)[part].astype(np.float64)
                        diff = sel - qm64[:, None, :]
                        dex = np.einsum("ijk,ijk->ij", diff, diff)
                        c_ids.append(cid[part])
                        c_d.append(dex)
                cand_i = np.concatenate(c_ids, axis=1)
                cand_d = np.concatenate(c_d, axis=1)
                # one lexsort by (row, d, id): exact (d, id) resolve
                # of each row's rescored per-chunk winners (also
                # re-sorts the single-chunk case, whose GEMM-order
                # selection may disagree with the rescored order on
                # ties)
                nq_c, width = cand_d.shape
                row = np.repeat(np.arange(nq_c), width)
                cand_i, cand_d = cand_i.ravel(), cand_d.ravel()
                sel = np.lexsort((cand_i, cand_d, row))
                sel = sel.reshape(nq_c, width)[:, :kk]
                cand_i, cand_d = cand_i[sel], cand_d[sel]
                yield pa.record_batch(
                    {
                        "query_id": np.repeat(qids, kk),
                        "neighbor_id": cand_i.ravel(),
                        "score": cand_d.ravel(),
                        "rn": np.tile(
                            np.arange(1, kk + 1, dtype=np.int32), len(qids)
                        ),
                    }
                )

    # round-robin: AQE respects a fixed partition count, and every
    # query's answer is complete inside its task, so no merge exchange
    # follows the fan-out
    return (
        queries.select(query_id, query_vec)
        .repartition(n_tasks)
        .mapInArrow(_task, _SEARCH_SCHEMA + ", rn int")
    )


class SegmentCorpus:
    """Pack a (vec_id, emb) DataFrame into immutable mmap segments and
    search them exactly. The exact-path twin of GraphIndex: same
    storage layer, no graph — full recall, GEMM-bound.

    Replaces the reference's in-memory node map + linear probe
    (``src/hnsw.zig:45``, ``:194-236``) with shared-nothing shards:
    build is one shuffle + linear IO; search shuffles only the query
    batch, once.
    """

    def __init__(
        self,
        shard_target_rows: int = DEFAULT_SHARD_TARGET,
        index_dir: str | None = None,
    ) -> None:
        self.shard_target_rows = shard_target_rows
        self.index_dir = index_dir
        self.meta: list[tuple[int, str, int, int]] = []
        self.n_rows = 0

    def pack(
        self,
        emb: DataFrame,
        n_rows: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "emb",
    ) -> "SegmentCorpus":
        if n_rows is None:
            n_rows = emb.count()
        self.n_rows = n_rows
        n_shards = max(1, math.ceil(n_rows / self.shard_target_rows))
        d = seg_dir(self.index_dir)
        token = uuid.uuid4().hex[:12]

        def _pack(key, shard):
            pid = key[0].as_py()
            ids = shard["vec_id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            mat = matrix(shard["emb"], name=vec_col)[order]
            prefix = os.path.join(d, f"xseg_{token}_{pid}")
            write_vectors(prefix, ids, mat)
            return pa.table({
                "pid": pa.array([pid], pa.int32()),
                "prefix": [prefix],
                "n": pa.array([len(ids)], pa.int64()),
                "dim": pa.array([mat.shape[1]], pa.int32()),
            })

        with no_aqe_coalesce(emb.sparkSession):
            rows = (
                emb.select(
                    F.col(id_col).cast("long").alias("vec_id"),
                    F.col(vec_col).alias("emb"),
                    (F.crc32(F.col(id_col).cast("string")) % n_shards)
                    .cast("int")
                    .alias("pid"),
                )
                .groupBy("pid")
                .applyInArrow(_pack, "pid int, prefix string, n long, dim int")
                .collect()
            )
        retire_prefixes(p for _, p, _, _ in self.meta)
        self.meta = [(r.pid, r.prefix, r.n, r.dim) for r in rows]
        return self

    def exact_search(
        self,
        queries: DataFrame,
        k: int = 10,
        dtype: str = "float32",
        n_queries: int | None = None,
        query_id: str = "query_id",
        query_vec: str = "qemb",
    ) -> DataFrame:
        return exact_search_segments(
            queries, self.meta, k, dtype, n_queries, query_id, query_vec
        )
