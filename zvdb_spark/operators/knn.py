"""Exact k-NN operators — the engine's public similarity-search API
(the reference's ``search``, ``src/hnsw.zig:194-236``, as DataFrame
operators).

``knn_join`` is the crossJoin + window reference: quadratic by
contract, scored by the Catalyst kernels of functions/vector.py, and
the oracle the scaled operators are tested against.
``exact_search_blocked`` (top-k) and ``threshold_join_blocked`` (all
pairs under a threshold) are the scaled operators. Both run one pair
producer, ``_scored_pairs``: a shard-local numpy GEMM per task whose
kept pairs are then (top-k only) merged k rows per query — the
partition-then-merge shape of distributed top-k.

``scan_topk`` runs the same per-task kernel over any row format that
decodes to a matrix: PQ (operators/pq.py) and SQ8 (operators/sq.py)
search supply only a ``decode`` callback. ``_rank_top_k`` is the one
per-query merge window behind every top-k operator.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import cosine_sim, dist_sq
from zvdb_spark.operators.arrowvec import matrix


def _score(metric: str, a: str, b: str) -> tuple[Column, bool]:
    """Return (score column, ascending?) for a metric name."""
    if metric == "l2_sq":
        return dist_sq(a, b), True
    if metric == "cosine":
        return cosine_sim(a, b), False
    raise ValueError(f"unknown metric {metric!r}; use 'l2_sq' or 'cosine'")


def _rank_top_k(pairs: DataFrame, k: int, score_col: str = "score",
                id_col: str = "neighbor_id", asc: bool = True) -> DataFrame:
    """Each ``query_id``'s k best pairs, numbered ``rn`` 1..k by
    ``score_col``, ties broken by ``id_col`` for determinism
    (src/test_hnsw.zig:275-316 consistency test)."""
    score = F.col(score_col).asc() if asc else F.col(score_col).desc()
    w = W.partitionBy("query_id").orderBy(score, F.col(id_col).asc())
    return pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2_sq",
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
) -> DataFrame:
    """Exact batched k-NN: (query_id, neighbor_id, score, rn) with
    rn in 1..k per query, deterministic tie-break on neighbor id.

    Mirrors the reference's search contract: k > N returns N rows
    (src/test_hnsw.zig:121-125), empty corpus returns empty
    (src/test_hnsw.zig:43-53), ties broken by id for determinism
    (src/test_hnsw.zig:275-316 consistency test).
    """
    score, asc = _score(metric, corpus_vec, query_vec)
    pairs = queries.crossJoin(corpus).select(
        F.col(query_id).alias("query_id"),
        F.col(corpus_id).alias("neighbor_id"),
        score.alias("score"),
    )
    return _rank_top_k(pairs, k, asc=asc).withColumnRenamed(
        "query_id", query_id
    )


def _topk_by_dist_id(d, ids, kk: int):
    """Per-row column indices of the kk smallest (distance, id) pairs,
    each row in (distance, id) order (column index breaks exact ties).

    Selection, not a full sort: the kk-th smallest of a row's strided
    column-block minima bounds its kk-th smallest value from above (kk
    distinct entries lie at or below it), so only the pairs at or
    below that bound are lexsorted by (row, distance, id). Ties that
    straddle the boundary resolve exactly by id, so shard-level
    membership matches the declared ``ORDER BY d, neighbor_id``
    contract even with duplicate vectors (duplicates are distinct
    rows, src/test_hnsw.zig:104-119). A row with fewer than kk pairs at or
    below its bound (only NaN scores cause that) takes every column:
    its finite entries come first, then its NaN entries by id.
    Returns (rows, min(kk, width)) indices.
    """
    nq, w = d.shape
    kk = min(kk, w)
    if kk < w:
        # strided blocks: column j goes to block j % nb, so a run of
        # near columns (rows packed by cell) spreads over every block
        nb = min(w, 8 * kk)
        mins = d[:, : w // nb * nb].reshape(nq, w // nb, nb).min(axis=1)
        bound = np.partition(mins, kk - 1, axis=1)[:, kk - 1]
        mask = d <= bound[:, None]
    else:
        mask = np.ones(d.shape, dtype=bool)
    r, c = np.divmod(np.flatnonzero(mask), w)
    cnt = np.bincount(r, minlength=nq)
    if (cnt < kk).any():  # NaN scores: those rows take every column
        mask[cnt < kk] = True
        r, c = np.divmod(np.flatnonzero(mask), w)
        cnt = np.bincount(r, minlength=nq)
    c = c[np.lexsort((np.asarray(ids)[c], d[r, c], r))]
    return c[(np.cumsum(cnt) - cnt)[:, None] + np.arange(kk)]


def _topk_emit(k: int, asc: bool = True):
    """``emit`` of a per-task top-k: each query's min(k, width) best
    (score, id) pairs of one scored chunk, in no particular order (the
    merge window ranks them)."""
    def emit(qi, ids, d):
        if k >= len(ids):  # every pair is kept: nothing to select
            return np.repeat(qi, len(ids)), np.tile(ids, len(qi)), d.ravel()
        part = _topk_by_dist_id(d if asc else -d, ids, k)
        return (np.repeat(qi, k), ids[part.ravel()],
                np.take_along_axis(d, part, axis=1).ravel())

    return emit


def _pair_scores(qarr, mat, xn, metric: str):
    """Vectorized query-block x corpus-shard scores (one GEMM); ``xn``
    holds the squared row norms of ``mat``.

    l2_sq: squared L2 (ascending-better); cosine: cosine similarity
    (descending-better), NaN where either norm is zero (matches the
    NULL semantics of functions.vector.cosine_sim).
    """
    if metric == "l2_sq":
        qn = (qarr * qarr).sum(axis=1)
        # the GEMM stays an unnamed temporary, so numpy scales and
        # subtracts it in place: one (queries x rows) buffer fewer
        return qn[:, None] + xn[None, :] - 2.0 * (qarr @ mat.T)
    if metric == "cosine":
        g = qarr @ mat.T
        qn = np.sqrt((qarr * qarr).sum(axis=1))
        denom = qn[:, None] * np.sqrt(xn)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom > 0, g / denom, np.nan)
    raise ValueError(f"unknown metric {metric!r}")


def _replicated_cogroup(
    corpus: DataFrame,
    probes: DataFrame,
    fn,
    out_schema,
    n_shards: int,
    n_blocks: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
) -> DataFrame:
    """Block-matrix fan-out of probes x corpus with BOTH sides as
    DataFrames — no driver-side collect of table data anywhere.

    The corpus is hash-sharded into P shards and replicated across B
    probe blocks; probes are hash-blocked into B blocks and replicated
    across P shards; a cogrouped applyInArrow task then sees exactly
    one (probe-block, corpus-shard) cell. Shuffle volume is
    |corpus| x B + |probes| x P rows — the block nested-loop join
    shape that scales: task memory is bounded by (|corpus|/P +
    |probes|/B) regardless of total size, and P/B tune the
    replication-vs-parallelism tradeoff (at 100 TB you raise both; the
    driver never holds a row).
    """
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(corpus_vec).alias("emb"),
        (F.crc32(F.col(corpus_id).cast("string")) % n_shards).cast("int").alias(
            "pid"
        ),
    )
    # replicate a side ONLY when it is actually split more than one
    # way: with one probe block the corpus crosses the exchange
    # exactly once (the round-13 grid change — the old fixed-size
    # cells replicated the CORPUS B times; at the 1M x 10k bench
    # shape that was 5 corpus copies through the shuffle)
    if n_blocks > 1:
        c = c.withColumn(
            "bid", F.explode(F.array(*[F.lit(b) for b in range(n_blocks)]))
        )
    else:
        c = c.withColumn("bid", F.lit(0))
    q = probes.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(query_vec).alias("qemb"),
        (F.crc32(F.col(query_id).cast("string")) % n_blocks).cast("int").alias(
            "bid"
        ),
    )
    if n_shards > 1:
        q = q.withColumn(
            "pid", F.explode(F.array(*[F.lit(p) for p in range(n_shards)]))
        )
    else:
        q = q.withColumn("pid", F.lit(0))
    # explicit pre-partitioning on the cogroup keys: the cogroup's own
    # shuffle would be AQE-coalesced by byte size, collapsing the
    # B x P GEMM grid into a few tasks; a fixed partition count is
    # respected and EnsureRequirements reuses it (no second shuffle)
    nparts = min(1024, max(n_shards * n_blocks, 1))
    return (
        q.repartition(nparts, "bid", "pid")
        .groupBy("bid", "pid")
        .cogroup(
            c.repartition(nparts, "bid", "pid").groupBy("bid", "pid")
        )
        .applyInArrow(fn, out_schema)
    )


_PAIR_SCHEMA = "query_id long, neighbor_id long, score double"

# Grid bounds. Shuffle volume is |corpus| x B + |probes| x P rows:
# the probe-block count B is chosen to MINIMIZE total replicated rows
# (the round-4 fixed 2048-row cells made B grow with the probe count
# and replicated the corpus B times through the exchange — 5 corpus
# copies at the 1M x 10k bench shape), while the corpus-shard count P
# keeps cells near _TARGET_CELL_ROWS. Fine corpus granularity is a
# MEASURED choice, not a memory one (the in-cell GEMM is query-
# chunked, _CELL_CHUNK_ELEMS): an interleaved 1M x 2k sweep on this
# host put 3906- and 5208-row cells at 6-11 s wall but 7812- and
# 10416-row cells at 36-61 s — bigger tasks lose to stragglers under
# fluctuating CPU, and at 100 TB the same granularity bounds the
# blast radius of one slow executor.
_MAX_GRID = 256
_MIN_CELL_ROWS = 1024      # don't make tasks smaller than this
_TARGET_CELL_ROWS = 4096   # measured straggler-robust cell size
_MAX_SIDE_ROWS = 65536     # per-task matrix bound (64 MB at 128-d f64)
_CELL_CHUNK_ELEMS = 1 << 24  # distance-matrix elements (128 MB f64)

# Broadcast-probe gate (round 14): a probe side at or below this many
# ROWS and _BCAST_PROBE_BYTES of float64 payload (rows x dim x 8,
# checked BEFORE anything is collected) rides an executor BROADCAST
# instead of being replicated through the exchange. At the 1M x 10k
# bench shape the
# exploded probe side was 245 copies x 10k rows x ~1.1 KB ≈ 2.7 GB of
# shuffle write+read plus one Arrow decode of the full probe batch
# PER TASK; the same 10 MB probe matrix broadcasts once
# per executor. Above the gate (e.g. corpus-scale self-joins) the
# blocked cogroup fan-out below remains THE path — its task memory
# stays bounded at any probe count, which a broadcast cannot promise.
_BCAST_PROBE_ROWS = 65536
_BCAST_PROBE_BYTES = 1 << 27  # 128 MB of f64 probe matrix


def _pair_batch(q, n, s):
    """One (query_id, neighbor_id, score) batch; a NaN score (cosine
    with a zero-norm side) is emitted as NULL, like ``cosine_sim``."""
    return pa.record_batch({
        "query_id": q, "neighbor_id": n,
        "score": pa.array(s, mask=np.isnan(s)),
    })


def _decode_vectors(batch):
    """knn's ``decode``: the (``vec_id``, ``emb``) corpus columns as
    ids, f64 matrix and squared row norms."""
    mat = matrix(batch["emb"], name="emb")
    return batch["vec_id"].to_numpy(), mat, (mat * mat).sum(axis=1)


def _score_chunks(qids, qarr, batch, decode, metric: str, emit):
    """The per-task scan-and-score kernel: ``decode(batch)`` gives one
    batch's (ids, matrix, squared row norms), each query chunk is
    scored against it with one GEMM, and the (query_id, neighbor_id,
    score) batch ``emit`` keeps from each chunk is yielded. The
    matrix's dtype is the score dtype (``qarr`` must match it).
    Chunking bounds the distance matrix to _CELL_CHUNK_ELEMS however
    big the batch is; rows are independent, so it changes nothing but
    peak memory."""
    if not len(batch):
        return
    ids, mat, xn = decode(batch)
    qchunk = max(256, _CELL_CHUNK_ELEMS // len(ids))
    for lo in range(0, len(qarr), qchunk):
        yield _pair_batch(*emit(
            qids[lo : lo + qchunk], ids,
            _pair_scores(qarr[lo : lo + qchunk], mat, xn, metric),
        ))


_F32_PAIR_SCHEMA = "query_id long, neighbor_id long, score float"


def _merge_f32(cand: DataFrame, k: int) -> DataFrame:
    """The global merge of f32 candidates (``_F32_PAIR_SCHEMA``): the
    candidates cross the merge Exchange as float, and the score widens
    to double after the ``rn <= k`` filter (an exact cast — same
    values, half the shuffled score bytes)."""
    return _rank_top_k(cand, k).withColumn(
        "score", F.col("score").cast("double")
    )


def scan_topk(codes: DataFrame, decode, queries: np.ndarray, k: int,
              per_part_cap: int | None = None) -> DataFrame:
    """Each probe's k nearest rows of ``codes`` by squared L2:
    (query_id, neighbor_id, score, rn), rn in 1..k, ``query_id`` the
    probe's row in ``queries``.

    One mapInArrow over the code partitions runs ``_score_chunks``
    with ``decode`` (the generator's row format: a batch to ids, a
    matrix in the score dtype of ``queries``, and its squared row
    norms); each task keeps its top-k by (score, id) in float32, then
    one window merges them (``_merge_f32``). The probe batch is the
    small side by contract and rides the task closure.

    ``per_part_cap`` bounds each partition's emission below k. Unset,
    the global top-k is exact (every partition surrenders its full
    top-k); a rerank sets it, since a candidate budget R needs only
    ~R/P rows from each of P hash-spread partitions."""
    kk = int(k)
    qids = np.arange(len(queries), dtype=np.int64)
    top = _topk_emit(kk if per_part_cap is None
                     else min(kk, int(per_part_cap)))

    def emit(qi, ids, d):
        # f32 d ranks identically to its f64 widening
        return top(qi, ids, d.astype(np.float32, copy=False))

    def _task(batches):
        for batch in batches:
            yield from _score_chunks(qids, queries, batch, decode,
                                     "l2_sq", emit)

    return _merge_f32(codes.mapInArrow(_task, _F32_PAIR_SCHEMA), kk)


def _collect_probe_matrix(probes: DataFrame, query_id: str,
                          query_vec: str):
    """(int64 ids, matrix) of a SMALL probe side via one ``toArrow``
    (guide: Arrow for driver transfers; the driver holds only the
    gate-bounded probe batch, never corpus rows)."""
    t = probes.select(query_id, query_vec).toArrow()
    return (t[query_id].to_numpy().astype(np.int64, copy=False),
            matrix(t[query_vec], name=query_vec))


def _bcast_probe_map(corpus: DataFrame, fn, n_shards: int,
                     corpus_id: str, corpus_vec: str) -> DataFrame:
    """One hash repartition of the corpus into ``n_shards``
    near-balanced _TARGET_CELL_ROWS-grained tasks (the measured
    straggler granularity — see the grid constants; an interleaved
    probe with the corpus left on its 32 input partitions ran ~2x
    slower — fat tasks straggle under fluctuating CPU), then ``fn``
    per task with the probe matrix arriving via broadcast. The corpus
    still crosses the exchange exactly once (as in the B=1 blocked
    grid); the probe side now crosses ZERO times. The partition key is
    a deterministic 64x-oversampled id hash: deterministic = retry-
    safe (unlike rand()), 64 subkeys per partition = no P-keys-into-
    P-partitions collision skew, and a HASH exchange skips the local
    sort every keyless round-robin repartition pays
    (spark.sql.execution.sortBeforeRepartition)."""
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(corpus_vec).alias("emb"),
    )
    key = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(64 * n_shards))
    return c.repartition(n_shards, key).mapInArrow(fn, _PAIR_SCHEMA)




def _auto_grid(corpus: DataFrame, probes: DataFrame,
               n_shards: int | None, n_blocks: int | None,
               n_corpus: int | None = None,
               n_probes: int | None = None,
               parallelism: int | None = None) -> tuple[int, int]:
    """Pick the (shards x blocks) GEMM grid from row counts. Callers
    that know their cardinalities (e.g. from parquet footer metadata,
    sources/tables.py:table_row_count) pass them via
    ``n_corpus``/``n_probes`` — the ``count()`` fallback costs an
    extra Spark job per side, which at 100 TB means a full scan before
    any real work, so a side is counted only when its count is used:
    the corpus whenever a value is picked, the probes only for
    ``n_blocks``.

    Sizing: shuffle volume is C x B + Q x P rows. The block count is
    the replication-minimizing split under a task budget
    T = 4 x parallelism (B ~ sqrt(T*Q/C)): B stays 1 whenever the
    probe side is much smaller than the corpus, so the corpus crosses
    the exchange exactly once. The shard count then targets
    _TARGET_CELL_ROWS-row cells (measured straggler-robust task
    granularity — see the constants' comment), floored at T/B so a
    small corpus still fills the cluster. Both are clamped so no task
    is smaller than _MIN_CELL_ROWS (overhead) or holds more than
    _MAX_SIDE_ROWS of either matrix (memory; the distance matrix
    itself is chunk-bounded independently)."""
    import math
    import os

    if n_shards is not None and n_blocks is not None:
        return n_shards, n_blocks
    if parallelism is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        parallelism = int(env) if env else (os.cpu_count() or 8)
    rows_c = max(int(n_corpus if n_corpus is not None else corpus.count()), 1)
    t = 4 * max(int(parallelism), 1)

    def _clamp(v: int, rows: int) -> int:
        v = max(1, min(v, _MAX_GRID, -(-rows // _MIN_CELL_ROWS)))
        return max(v, min(_MAX_GRID, -(-rows // _MAX_SIDE_ROWS)))

    if n_blocks is None:
        rows_q = max(int(n_probes if n_probes is not None
                         else probes.count()), 1)
        b0 = int(round(math.sqrt(t * rows_q / rows_c))) or 1
        n_blocks = _clamp(b0, rows_q)
    if n_shards is None:
        p0 = max(-(-rows_c // _TARGET_CELL_ROWS), -(-t // n_blocks))
        n_shards = _clamp(p0, rows_c)
    return n_shards, n_blocks


def _scored_pairs(corpus: DataFrame, probes: DataFrame, metric: str, emit,
                  n_shards: int | None, n_blocks: int | None,
                  corpus_id: str, corpus_vec: str, query_id: str,
                  query_vec: str, n_corpus: int | None,
                  n_probes: int | None) -> DataFrame:
    """(query_id, neighbor_id, score) rows of every probe x corpus
    pair that ``emit`` keeps, each task scoring its pairs with
    ``_score_chunks``. ``emit(query_ids, corpus_ids, scores)`` maps
    one chunk's score matrix to the three arrays it keeps.

    The plan is picked by probe-side size. A probe side of at most
    _BCAST_PROBE_ROWS rows and _BCAST_PROBE_BYTES of float64 payload
    is collected once and broadcast, and the corpus crosses one hash
    exchange (``_bcast_probe_map``). Anything larger — or a caller
    asking for more than one probe block — takes the blocked cogroup
    grid (``_replicated_cogroup``), whose task memory stays bounded at
    any probe count. The probe count (and the vector width the byte
    gate needs) is read before anything is collected: one job folds
    both when ``n_probes`` is not supplied, one single-row job reads
    the width when it is. A caller that pins the whole grid without
    ``n_probes`` is never counted and goes straight to the grid.
    """
    spark = corpus.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    if n_blocks is None or (
        n_blocks == 1 and (n_shards is None or n_probes is not None)
    ):
        dim = None
        if n_probes is None:
            n_probes, dim = probes.agg(
                F.count(F.lit(1)), F.max(F.size(query_vec))
            ).head()
        elif n_probes <= _BCAST_PROBE_ROWS:
            row = probes.select(F.size(query_vec)).head()
            dim = row[0] if row else None
        if (n_probes <= _BCAST_PROBE_ROWS
                and n_probes * (dim or 0) * 8 <= _BCAST_PROBE_BYTES):
            qids, qarr = _collect_probe_matrix(probes, query_id, query_vec)
            if not len(qids):
                return spark.createDataFrame([], _PAIR_SCHEMA)
            n_shards, _ = _auto_grid(corpus, probes, n_shards, 1, n_corpus,
                                     len(qids), parallelism)
            # Lifetime: the returned plan pins this broadcast (the task
            # closure holds ``bq``) and every action on the lazy result
            # re-reads it, so it is not unpersisted here. Once the caller
            # drops the DataFrame and everything derived from it, Spark's
            # ContextCleaner frees the driver and executor copies on the
            # next JVM GC.
            bq = spark.sparkContext.broadcast((qids, qarr))

            def _task(batches):
                qi, qa = bq.value
                for batch in batches:
                    yield from _score_chunks(qi, qa, batch, _decode_vectors,
                                             metric, emit)

            return _bcast_probe_map(corpus, _task, n_shards, corpus_id,
                                    corpus_vec)

    n_shards, n_blocks = _auto_grid(corpus, probes, n_shards, n_blocks,
                                    n_corpus, n_probes, parallelism)

    def _cell(probe, corpus):
        qi = probe["query_id"].to_numpy()
        qa = matrix(probe["qemb"], name=query_vec)
        empty = np.empty(0, np.int64)
        return pa.Table.from_batches(
            list(_score_chunks(qi, qa, corpus, _decode_vectors, metric,
                               emit))
            or [_pair_batch(empty, empty, np.empty(0))]
        )

    return _replicated_cogroup(
        corpus, probes, _cell, _PAIR_SCHEMA, n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec,
    )


def exact_search_blocked(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    metric: str = "l2_sq",
    n_shards: int | None = None,
    n_blocks: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
    n_corpus: int | None = None,
    n_probes: int | None = None,
) -> DataFrame:
    """Exact batched k-NN where the probe side is a DataFrame: each
    task computes a GEMM top-k with exact (distance, id) tie handling,
    then a global per-query top-k merge carries only k candidate rows
    per task and query — never the corpus. Returns (query_id,
    neighbor_id, score, rn), rn in 1..k.

    Small probe sides ride a broadcast, larger ones the blocked
    cogroup grid (see ``_scored_pairs``). Per-task top-k is lossless
    for the global top-k under any partitioning (a row dropped past
    local rank k has k better rows in its task), so both plans select
    the same (query, neighbor, rn) rows. Scores carry the standard
    GEMM-shape caveat: BLAS summation order varies with matrix shape,
    so a pair's f64 score can move by ~1e-15 across partitionings
    (equal VECTORS still tie exactly within a run — identical columns
    of one GEMM — so the id tie-break is stable). Pinned by the
    oracled q_knn_batch hash and test_blocked_paths_match_reference.
    """
    asc = metric == "l2_sq"
    pairs = _scored_pairs(
        corpus, probes, metric, _topk_emit(k, asc), n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec, n_corpus, n_probes,
    )
    return _rank_top_k(pairs, k, asc=asc)


def threshold_join_blocked(
    corpus: DataFrame,
    probes: DataFrame,
    tau: float,
    metric: str = "l2_sq",
    upper_only: bool = False,
    n_shards: int | None = None,
    n_blocks: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
    n_corpus: int | None = None,
    n_probes: int | None = None,
) -> DataFrame:
    """All-pairs similarity join under a threshold with the probe side
    as a DataFrame (same plans as exact_search_blocked). Pairs passing
    the threshold are emitted directly from each task — no candidate
    materialization, no merge stage. l2_sq keeps score < tau; cosine
    keeps score >= tau; upper_only emits only neighbor_id > query_id.

    The mask has no cross-pair dependence, so the plan cannot change
    the emitted pairs except for a pair whose f64 score sits within
    ~1e-15 of tau (the GEMM-shape caveat described in
    exact_search_blocked — far below any sensible threshold margin;
    pinned by the oracled q_sim_join_threshold / q_dedup_vectors /
    q_dedup_embedding hashes).
    """
    def _emit_pairs(qi, ids, s):
        mask = s < tau if metric == "l2_sq" else s >= tau
        if upper_only:
            mask &= ids[None, :] > qi[:, None]
        r, c = np.nonzero(mask)
        return qi[r], ids[c], s[r, c]

    return _scored_pairs(
        corpus, probes, metric, _emit_pairs, n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec, n_corpus, n_probes,
    )
