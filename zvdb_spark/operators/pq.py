"""Product quantization (PQ): compressed vectors + asymmetric-distance
search — the memory path the reference's roadmap gestures at
("cache-friendly layout", benchmarks/benchmark.md:37-47) taken to its
standard conclusion (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public method).

Why it matters at 100 TB: raw 128-d float32 vectors are 512 B/row; PQ
with 16 subspaces x 256 centroids stores 16 B/row — a 32x compression
that turns a 100 TB vector corpus into ~3 TB of codes that fit hot in
cluster memory, while search never touches the raw vectors.

Distributed shape (all stages cluster-side):

- **train**: a bounded, seeded sample (``sample_n`` rows — driver
  memory is O(sample_n x dim), independent of corpus size) fits one
  numpy Lloyd's per subspace. Codebooks are m x k x dsub floats
  (16x256x8 f64 = 256 KB) — task-closure freight, like the IVF
  centroids in operators/kmeans.py.
- **encode**: one Arrow-batched arrow_udf, argmin GEMM per subspace;
  no shuffle, output is ``array<smallint>`` codes.
- **search (ADC)**: knn.scan_topk over code partitions, with the
  codebook gather as its decode. ADC distance to
  a coded row IS the exact distance to its reconstruction (subspaces
  concatenate orthogonally: sum_m ||q_m - b_{c_m}||^2 =
  ||q - recon||^2), so each task decodes its batch's codes once
  (m gathers into the codebooks, a batch-bounded (rows, dim) matrix)
  and scores every (query, row) pair with ONE GEMM — measured 4x over
  the per-m LUT-gather form this replaces (the LUT form wrote
  O(queries x m x k) table bytes per cell and did m gathers per pair;
  BLAS moves strictly less memory). REGIME CAVEAT: the GEMM form
  raises per-pair FLOPs from O(m) lookups to O(dim) = O(m x dsub);
  the measured 2-4x win covers dim=128, m=16, dsub=8 (and the 4x
  flat-path figure the 100k bench shape) against numpy's fancy-gather
  LUT — a materially larger dsub, or a native LUT kernel, can invert
  it, so re-run the interleaved A/B before inheriting the GEMM form
  into a different dim/m split. Per-partition top-k, then a
  global window merge carrying only P x k rows per query — the one
  merge of every top-k operator (knn._rank_top_k). Emitted distances are
  float32 casts of the f64-exact ADC quantity (the LUT form emitted
  f32 partial sums of the same quantity — agreement to ~3e-7
  relative; candidate selection can differ only on sub-1e-6 near-ties
  at the cap boundary, confirmed by exact re-rank downstream).

Determinism: seeded sample order + fixed iteration count => identical
codebooks, codes, and results on any cluster size.

ADC returns *approximate* distances (quantization error), so this is
bench/pytest-verified by recall against the exact path, not
hash-matched (same policy as the graph-ANN path).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zvdb_spark.operators.arrowvec import list_array, matrix
from zvdb_spark.operators.knn import (
    _F32_PAIR_SCHEMA,
    _merge_f32,
    _pair_batch,
    _pair_scores,
    _rank_top_k,
    _topk_emit,
    scan_topk,
)

# Hash range for the deterministic pseudo-shuffle of ids used by the
# training sample (NOT rand(): same sample on any partitioning; NOT
# rand(seed) either — that is partition-layout-dependent). The hash
# itself is xxhash64 folded into [0, 2^32): overflow-free for ANY
# bigint id under ANSI SQL semantics (a raw multiplicative hash
# ``id * A`` overflows — and throws — for ids >= ~3.5e9, exactly the
# id range a 100 TB corpus has).
_HASH_M = 2**32


def hash_sample(
    emb: DataFrame,
    sample_n: int,
    id_col: str = "vec_id",
    cols: tuple[str, ...] = ("emb",),
    n_rows: int | None = None,
) -> pa.Table:
    """First ``sample_n`` rows under a value hash of the id:
    deterministic, partitioning-independent, spread across the corpus
    (unlike head-N, which at 100 TB is one possibly-skewed file).
    Returned as an Arrow table via ``toArrow()``, so a vector column
    becomes a matrix through ``arrowvec.matrix`` with no per-row
    objects — the row-pickling ``collect()`` this replaced cost ~75 s
    of driver time for a 100k x 128-d sample (measured: the Row
    transfer plus the per-Row ``np.asarray`` loop in every consumer)
    vs ~2 s through Arrow; same rows, same order, bit-identical
    float64 values.

    ``n_rows`` (when the caller knows the corpus size — parquet
    footer, range count) enables the scale-safe path: a hash
    THRESHOLD filter keeps ~4x sample_n rows before the TakeOrdered,
    so per-task collected results stay bounded. Without it, the sort
    alone collects each task's local top-sample_n — fine for small
    samples, but 32 tasks x 50k x 1 KB rows blows
    spark.driver.maxResultSize at 1M rows (measured).

    If the threshold undershoots (an unlucky hash tail, or n_rows
    overestimating the corpus), it is WIDENED x4 and retried — every
    retry is still threshold-bounded, never the unbounded TakeOrdered
    the bounded path exists to avoid; at threshold = full range the
    filter is a no-op and the collect terminates with whatever rows
    exist (correctness floor).
    """
    h = F.pmod(F.xxhash64(F.col(id_col)), F.lit(_HASH_M))
    d = emb.select(id_col, *cols, h.alias("__h"))
    if n_rows is None or n_rows <= 4 * sample_n:
        return (
            d.orderBy("__h", id_col).limit(sample_n).drop("__h").toArrow()
        )
    need = min(sample_n, n_rows)
    frac = 4.0 * sample_n / n_rows
    while True:
        thresh = int(_HASH_M * min(1.0, frac))
        tbl = (
            d.filter(F.col("__h") < thresh)
            .orderBy("__h", id_col)
            .limit(sample_n)
            .drop("__h")
            .toArrow()
        )
        if tbl.num_rows >= need or frac >= 1.0:
            return tbl
        frac *= 4.0


def pq_train(
    emb: DataFrame,
    m_sub: int,
    k_codes: int = 256,
    n_iter: int = 10,
    sample_n: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    n_rows: int | None = None,
) -> np.ndarray:
    """Fit PQ codebooks; returns (m_sub, k_codes, dsub) float64.

    Trained on the deterministic ``hash_sample`` (pass ``n_rows``
    when known so the sample collect stays bounded at any corpus
    size).
    """
    sample = hash_sample(
        emb, sample_n, id_col=id_col, cols=(vec_col,), n_rows=n_rows
    )
    mat = matrix(sample[vec_col], name=vec_col)
    return _fit_codebooks(mat, m_sub=m_sub, k_codes=k_codes, n_iter=n_iter)


def _fit_codebooks(
    mat: np.ndarray, m_sub: int, k_codes: int, n_iter: int
) -> np.ndarray:
    """Driver-side per-subspace Lloyd's over an (n, dim) sample matrix;
    returns (m_sub, k, dsub) float64. Deterministic: first-k init,
    fixed iteration count, empty cells keep their centroid — the
    shared thread-chunked kernel (operators/kmeans.lloyd_local) run
    once per subspace, replacing a k-mask update loop that cost
    O(n·k) per iteration per subspace."""
    from zvdb_spark.operators.kmeans import lloyd_local

    n, dim = mat.shape
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub
    k = min(k_codes, n)
    books = np.empty((m_sub, k, dsub))
    for m in range(m_sub):
        x = np.ascontiguousarray(mat[:, m * dsub : (m + 1) * dsub])
        books[m] = lloyd_local(x, k, n_iter)
    return books


def _pq_codes(mat: np.ndarray, books: np.ndarray,
              cnorm: np.ndarray) -> np.ndarray:
    """(n, m) int16 codes: each subspace's nearest centroid by one
    argmin GEMM (``cnorm`` = (books * books).sum(2); the row's own
    ||x||² is constant per row and left out)."""
    m_sub, _, dsub = books.shape
    out = np.empty((mat.shape[0], m_sub), dtype=np.int16)
    for m in range(m_sub):
        x = mat[:, m * dsub : (m + 1) * dsub]
        d = cnorm[m][None, :] - 2.0 * (x @ books[m].T)
        out[:, m] = d.argmin(1).astype(np.int16)
    return out


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """(id, code array<smallint>): nearest centroid per subspace.
    One vectorized argmin GEMM per subspace per Arrow batch; no
    shuffle, codes stay co-partitioned with their source rows."""
    books = np.ascontiguousarray(codebooks)
    cnorm = (books * books).sum(2)  # (m, k)

    @F.arrow_udf("array<smallint>")
    def _code(vs: pa.Array) -> pa.Array:
        return list_array(_pq_codes(matrix(vs, name=vec_col), books, cnorm))

    return emb.select(F.col(id_col), _code(F.col(vec_col)).alias("code"))


def _pq_decode(codebooks: np.ndarray, id_col: str):
    """``decode`` of a PQ code batch: ids, the codes gathered into
    their f64 reconstruction (m gathers, a batch-bounded (rows, dim)
    matrix) and its ``einsum`` squared norms. ADC dist == exact dist
    to the reconstruction (module docstring), so scoring is one GEMM
    per query chunk instead of m LUT gathers per pair."""
    books = np.ascontiguousarray(codebooks)
    m_sub, _, dsub = books.shape

    def decode(batch):
        c = matrix(batch["code"], np.int64, name="code")  # (n, m)
        recon = np.empty((len(c), m_sub * dsub), dtype=np.float64)
        for m in range(m_sub):
            recon[:, m * dsub : (m + 1) * dsub] = books[m][c[:, m]]
        return (batch[id_col].to_numpy().astype(np.int64), recon,
                np.einsum("ij,ij->i", recon, recon))

    return decode


def _adc_columns(ranked: DataFrame, id_col: str) -> DataFrame:
    """(query_id, ``id_col``, adc_dist_sq, rn) of a merged top-k."""
    return ranked.select(
        "query_id",
        F.col("neighbor_id").alias(id_col),
        F.col("score").alias("adc_dist_sq"),
        "rn",
    )


def pq_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    per_part_cap: int | None = None,
) -> DataFrame:
    """ADC top-k: (query_id, vec_id, adc_dist_sq, rn), rn in 1..k.

    ``queries`` is an (nq, dim) ndarray riding the task closure — the
    probe batch is the small side by contract (same posture as the
    exact GEMM path). ``knn.scan_topk`` runs the search with the
    codebook gather as its decode: each partition decodes its codes
    once, scores every query chunk with one GEMM, keeps its top-k by
    (dist, id), and the global merge moves only P x k rows per query.

    ``per_part_cap`` bounds the PER-PARTITION emission below k. With
    it unset the global top-k is exact (each partition must surrender
    its full top-k — the default, and the flat-search contract). The
    rerank path sets it: when k is really a candidate budget R, exact
    global top-R is overkill — hash-spread rows put ~R/P of the true
    top-R in each partition, so a 2R/P-ish cap keeps the merge at
    O(nq x 2R) rows instead of O(nq x P x R) while the downstream
    exact re-rank absorbs the (rare, tail-only) candidate misses."""
    m_sub, _, dsub = np.shape(codebooks)
    q = np.ascontiguousarray(queries, dtype=np.float64)
    _, dim = q.shape
    if dim != m_sub * dsub:
        raise ValueError(f"query dim {dim} != codebook dim {m_sub * dsub}")
    return _adc_columns(
        scan_topk(codes, _pq_decode(codebooks, id_col), q, k, per_part_cap),
        id_col,
    )


def pq_search_rerank(
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    rerank_r: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """PQ as candidate generator + exact re-rank — the production
    deployment shape (codes prune, floats confirm):

    1. ADC top-``rerank_r`` per query over the compressed codes (the
       cheap pass that touches only 16 B/row);
    2. join the surviving nq x R candidate ids back to the raw
       vectors and score them exactly (squared L2, HOF kernel);
    3. window top-k by (exact dist, id).

    At 100 TB step 2 reads R rows per query instead of the corpus —
    the selectivity the reference's graph traversal provides, obtained
    relationally. Returns (query_id, vec_id, dist_sq, rn); exact
    distances, approximate candidate set (recall gap only where a true
    neighbor's ADC rank fell below R — pytest pins the measured floor).
    """
    return _adc_rerank(codes, corpus, codebooks, queries, queries, k,
                       rerank_r, id_col, vec_col)


def _adc_rerank(codes: DataFrame, corpus: DataFrame, codebooks: np.ndarray,
                adc_queries: np.ndarray, exact_queries: np.ndarray, k: int,
                rerank_r: int, id_col: str, vec_col: str) -> DataFrame:
    """The PQ/OPQ rerank body: ADC top-R of ``adc_queries`` over the
    codes, exact re-rank of the survivors against ``exact_queries``
    (the same probes, in the space of the raw vectors)."""
    # R is a candidate budget, not a ranking contract: cap what each
    # partition surrenders at ~2R/P (floor 32) so the merge handles
    # O(nq x 2R) rows, not O(nq x P x R) — see pq_search docstring.
    n_parts = max(1, codes.rdd.getNumPartitions())
    cap = max(32, -(-2 * int(rerank_r) // n_parts))
    cand = pq_search(
        codes, codebooks, adc_queries, k=int(rerank_r), id_col=id_col,
        per_part_cap=cap,
    ).select("query_id", id_col)
    return exact_rerank(
        cand, corpus, exact_queries, k=k, id_col=id_col, vec_col=vec_col,
        cand_rows=len(exact_queries) * int(rerank_r),
    )


# Broadcast gate for the candidate frame in exact_rerank: rows are
# two longs (query_id, id), so 16 M rows ~ 256 MB serialized — safe to
# ship to every executor, and far past the nq x R any caller produces
# (bench max 10k x 400 = 4 M). Past the gate — or when the caller
# passes NO bound — the join falls back to shuffle: broadcast is
# opt-in-with-evidence, never the default for an unbounded set.
RERANK_BROADCAST_CAP_ROWS = 16_000_000


def exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    cand_rows: int | None = None,
) -> DataFrame:
    """Exact squared-L2 re-rank of a (query_id, id) candidate frame
    against the raw vectors: the confirm stage shared by every
    approximate candidate generator (flat PQ, IVF+PQ, LSH buckets).
    Join candidates -> raw rows, broadcast the query batch, HOF
    distance, window top-k by (dist, id).

    The candidate frame is nq x R id pairs — small BY CONTRACT (that
    selectivity is the whole point of the candidate generator) — so
    callers that bound the candidate count pass ``cand_rows``
    (= nq*R) and get an explicit broadcast: the corpus side must
    never shuffle on ``id_col`` (at 100 TB that re-moves the raw
    vectors the ADC stage existed to avoid touching). ``cand_rows``
    past ``RERANK_BROADCAST_CAP_ROWS`` — or OMITTED — falls back to
    a shuffle join: an unbounded candidate set must never default
    into an executor-OOM broadcast, so the gate fails SAFE and the
    fast path is opt-in-with-evidence. Plan-pinned by
    tests/test_plan_quality.py (no corpus-side Exchange when
    cand_rows is under the cap)."""
    from zvdb_spark.functions.vector import dist_sq as _dist_sq

    spark = cand.sparkSession
    q = np.ascontiguousarray(queries, dtype=np.float64)
    # Arrow-backed conversion: ~5x faster than list-of-tuples for a
    # 10k x 128 probe batch (measured 0.8 s vs 4.5 s) — this runs
    # inside every timed rerank, so the constant matters
    qdf = spark.createDataFrame(
        pa.table(
            {"query_id": np.arange(len(q), dtype=np.int64), "qemb": list_array(q)}
        ),
        schema="query_id long, qemb array<double>",
    )
    cand_ids = cand.select("query_id", id_col)
    if cand_rows is not None and cand_rows <= RERANK_BROADCAST_CAP_ROWS:
        cand_ids = F.broadcast(cand_ids)
    scored = (
        cand_ids
        .join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            _dist_sq(vec_col, "qemb").alias("dist_sq"),
        )
    )
    return _rank_top_k(scored, int(k), "dist_sq", id_col)


def _spatial_cell_groups(cents: np.ndarray, n_groups: int) -> np.ndarray:
    """Group cell centroids into spatially-contiguous groups by
    recursive bisection (split the largest group along its widest
    axis at the median) — the same driver-side C x dim metadata work
    GraphIndex._assign_shards does for its search shards. Returns a
    (C,) group id per cell.

    Why: a query probes its ``nprobe`` NEAREST cells, which are
    spatially adjacent — grouping adjacent cells into the same task
    means each query's candidates concentrate in a handful of tasks
    instead of scattering across all of them (hash partitioning put
    ~every query in ~every task, so the global merge carried
    O(n_tasks x cap) rows per query; spatially grouped it carries
    O(groups_probed x cap), measured 4-6x fewer merge rows at the 1M
    bench shape)."""
    c = len(cents)
    n_groups = max(1, min(int(n_groups), c))
    groups: list[np.ndarray] = [np.arange(c)]
    while len(groups) < n_groups:
        sizes = [len(g) if len(g) > 1 else -1 for g in groups]
        i = int(np.argmax(sizes))
        if sizes[i] < 0:
            break
        g = groups.pop(i)
        axis = int(np.argmax(cents[g].var(axis=0)))
        order = g[np.argsort(cents[g, axis], kind="stable")]
        cut = len(order) // 2
        groups.append(order[:cut])
        groups.append(order[cut:])
    out = np.zeros(c, dtype=np.int64)
    for gi, g in enumerate(groups):
        out[g] = gi
    return out


def pq_search_ivf(
    codes_with_cell: DataFrame,
    codebooks: np.ndarray,
    centroids: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    per_task_cap: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ composition (the classic inverted-file-with-PQ-codes
    layout, Jégou et al. 2011 §V): a coarse quantizer prunes WHICH
    rows are scored (selectivity axis), PQ codes shrink WHAT is read
    per row (memory axis). Input rows carry ``cell_id`` (from
    operators/kmeans.assign_cells over the same centroids).

    Each query probes its ``nprobe`` nearest cells only, so scored
    rows ~= nprobe/C of the corpus and each of them costs m table
    lookups on a 16 B code — the two axes multiply. Executed as one
    mapInArrow over the codes with cells grouped per task
    (repartition on cell_id): each batch is decoded as in pq_search,
    per cell only the queries probing that cell are scored,
    per-(query, partition) top-k, then the same global window merge
    of P x k rows per query.

    At 100 TB the per-call repartition disappears: codes are WRITTEN
    once partitioned by cell_id (the IVF layout), probes become
    partition-pruned scans, and AQE's skew split handles hot cells —
    here the shuffle moves 16 B/row codes, never the float vectors,
    so even the naive form is cheap.

    ``per_task_cap`` bounds what each TASK (not each cell) sends to
    the global merge; cells still rank top-k locally, the task keeps
    its best ``cap`` per query across its cells, and the merge sees
    O(nq x P x cap) rows. The DEFAULT is ``k`` — LOSSLESS for the
    global top-k (a row a task drops past local rank k has k better
    rows in that task, so it cannot enter the global top-k) while
    bounding the merge independent of nprobe; an unbounded mode
    (every probed cell surrendering its full top-k, an
    O(nq x nprobe x k) merge at deep probes) existed before round 5
    and is deliberately gone — the lossless cap strictly dominates
    it. Caps BELOW k trade recall for merge size:
    they starve queries whose candidates concentrate in few cells
    (measured: cap=32 under budget 100 plateaued recall at 0.63-0.68
    where the lossless default gives 0.82-0.94). NOTE: a sub-k cap's
    candidate pool depends on TASK COMPOSITION (which cells share a
    task), so its recall varies with spark.sql.shuffle.partitions /
    the 4x task-granularity rule below — sub-k cap recall points are
    reproducible only at a stated task count (the bench annotates its
    cap-sweep points accordingly); the lossless default is
    composition-invariant.

    ``residual=True`` declares the codes RESIDUAL-encoded
    (ivfpq_build): per probed cell the query residual
    q - centroid(cell) is scored, so ADC approximates
    ||(q-c) - (x-c)||^2 = the true distance — within-cell ranking
    stays informative where raw-vector codes degenerate (see
    residual_encode). Returns (query_id, vec_id, adc_dist_sq, rn);
    compose with the exact re-rank of pq_search_rerank by passing
    rerank_r as k here and window-merging downstream.
    """
    m_sub, _, dsub = np.shape(codebooks)
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    q = np.ascontiguousarray(queries, dtype=np.float64)
    _, dim = q.shape
    if dim != m_sub * dsub:
        raise ValueError(f"query dim {dim} != codebook dim {m_sub * dsub}")
    kk = int(k)
    decode = _pq_decode(codebooks, id_col)
    # probe table: cell -> indices of queries probing it
    probed = _probes(cents, q, nprobe)
    probe_of_cell: dict[int, np.ndarray] = {}
    for c in np.unique(probed):
        probe_of_cell[int(c)] = np.nonzero((probed == c).any(axis=1))[0]

    cap = kk if per_task_cap is None else int(per_task_cap)
    # a task's top-cap can take at most cap rows from any one cell, so
    # per-cell emission is also capped — without this, every probed
    # cell materializes its full top-k per query and the task-local
    # concat grows O(nprobe x k) per query before the cap trims it
    # (measured: 6x task-frame blowup at 1M rows, 1024 cells)
    cell_top = _topk_emit(min(kk, cap))

    def _part(batches):
        # Per-cell routing over the flat path's decode: only the
        # queries probing a cell score its rows (one GEMM per probed
        # cell, residual probes shifted by the cell's centroid;
        # measured ~2x over the per-cell LUT + m-gather form at the
        # 1M/cap400 task shape, same quantity), the
        # per-cell scores accumulate as flat arrays, ONE lexsort ranks
        # (query, dist, id), and the task-local cap keeps rank < cap
        # per query. Distances stay float32 through the shuffle; f32
        # casts of the f64-exact ADC value.
        acc = []  # (query, id, dist) arrays of each probed cell
        for batch in batches:
            if not batch.num_rows:
                continue
            # decode once per Arrow batch — recon stays batch-bounded
            # ((rows, dim) f64) however large the task partition is
            ids_all, recon, rn2 = decode(batch)
            cells_all = batch["cell_id"].to_numpy()
            # group the batch's rows by cell via one stable sort
            # (replaces an O(n_rows) boolean scan per cell)
            order_c = np.argsort(cells_all, kind="stable")
            cs = cells_all[order_c]
            uniq, starts = np.unique(cs, return_index=True)
            bounds = np.append(starts, len(cs))
            for ui, cell in enumerate(uniq):
                qidx = probe_of_cell.get(int(cell))
                if qidx is None:
                    continue
                rows = order_c[bounds[ui] : bounds[ui + 1]]
                ids = ids_all[rows]
                rsel = np.ascontiguousarray(recon[rows])
                qb = q[qidx] - cents[cell] if residual else q[qidx]
                d = (
                    np.einsum("ij,ij->i", qb, qb)[:, None]
                    + rn2[rows][None, :]
                    - 2.0 * (qb @ rsel.T)
                ).astype(np.float32)
                # f32 d ranks identically to its f64 widening
                acc.append(cell_top(qidx, ids, d))
        if acc:
            qall, iall, dall = (np.concatenate(a) for a in zip(*acc))
            order = np.lexsort((iall, dall, qall))
            qs, is_, ds = qall[order], iall[order], dall[order]
            starts = np.searchsorted(qs, qs, side="left")
            rank = np.arange(len(qs)) - starts
            keep = rank < cap
            yield _pair_batch(qs[keep], is_[keep], ds[keep])

    # Spatial task layout: adjacent cells share a task (broadcast-join
    # the driver-computed cell->group map, shuffle the 16 B/row codes
    # once on the group id — same single shuffle as the old
    # repartition("cell_id"), but each query's probed cells now land
    # in a few tasks instead of all of them, so the merge Exchange
    # carries O(groups_probed x cap) rows per query, not
    # O(n_tasks x cap). Partitioning cannot change the answer: the
    # default per-task cap (= k) is lossless for the global top-k
    # under ANY task composition (a row dropped past local rank k has
    # k better rows in its task).
    #
    # Task count is 4x the shuffle-partition setting (capped by the
    # cell count so tiny indexes don't schedule empty tasks): probing
    # load is skewed — clustered corpora concentrate both rows AND
    # query probes in hot regions (measured 3x spread in per-task
    # (query, row) scoring pairs at the 1M bench shape) — and finer
    # tasks let later waves back-fill behind the hot ones. Interleaved
    # A/B at 1M x 10k, cap 400: 1x parts 59-159 s, 2x parts 71-91 s,
    # 4x parts 38-65 s — 4x won every round (~1.5x over 1x
    # round-for-round). Scale-adaptive: derived from
    # spark.sql.shuffle.partitions, never a local core constant.
    spark = codes_with_cell.sparkSession
    shuffle_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    n_parts = max(1, min(4 * shuffle_parts, len(cents)))
    grp = _spatial_cell_groups(cents, 4 * n_parts)
    gmap = spark.createDataFrame(
        [(int(i), int(g)) for i, g in enumerate(grp)],
        "cell_id int, _grp int",
    )
    cand = (
        codes_with_cell.join(F.broadcast(gmap), "cell_id")
        .repartition(n_parts, "_grp")
        .mapInArrow(_part, _F32_PAIR_SCHEMA)
    )
    return _adc_columns(_merge_f32(cand, kk), id_col)


def write_ivf_layout(codes_with_cell: DataFrame, path: str) -> None:
    """Persist (id, cell_id, code) partitioned BY CELL — the inverted
    file made literal in the storage layout (one directory per cell,
    Jégou et al. 2011 §V's list structure as parquet partitions).

    This is the layout every pq_search_ivf docstring promises for
    100 TB: probes stop being a filter over a monolithic table and
    become PARTITION-PRUNED scans — the planner never opens, lists,
    or reads a non-probed cell's files, so search I/O is
    nprobe/C of the corpus by construction (and the codes are 16 B/row
    to begin with). Write-side repartition keeps it one file per cell
    instead of n_input_tasks x C small files — the small-files
    problem is the classic failure mode of partitioned layouts.

    An in-place rewrite PRESERVES the quantizer files
    (save_ivf_quantizer's underscore-hidden state): Spark's static
    overwrite truncates the whole directory, which would silently
    break the 'path alone is the complete durable index' contract
    for a compaction that never touched the quantizer — so the
    quantizer bytes are carried across the overwrite."""
    import os

    keep: dict[str, bytes] = {}
    for f in ("_quantizer.npz", "_quantizer.json"):
        p = os.path.join(path, f)
        if os.path.exists(p):
            with open(p, "rb") as fh:
                keep[f] = fh.read()
    (
        codes_with_cell.repartition("cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(path)
    )
    for f, data in keep.items():
        tmp = os.path.join(path, f + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(path, f))


def append_ivf_layout(new_codes_with_cell: DataFrame, path: str) -> None:
    """Append a delta's codes into an existing cell-partitioned
    layout. PQ state is PER ROW (codebooks and coarse centroids are
    frozen at train time, as in production), so append touches
    exactly the arriving rows: one 16 B/row shuffle groups the delta
    by cell, and dynamic-partition append writes at most one new
    file into each cell directory the delta actually touches —
    standing cells' files are never rewritten, listed, or read.
    The compressed-path analog of GraphIndex.append's dirty-shard
    scoping (and of the reference's incremental ``insert``,
    src/hnsw.zig:73-117); re-training codebooks would be a rebuild,
    not an append."""
    (
        new_codes_with_cell.repartition("cell_id")
        .write.mode("append")
        .partitionBy("cell_id")
        .parquet(path)
    )


_QUANTIZER_FORMAT = 1


def save_ivf_quantizer(
    path: str, centroids: np.ndarray, codebooks: np.ndarray
) -> str:
    """Persist the quantizer state (coarse centroids + PQ codebooks)
    INSIDE the cell-partitioned layout directory, as
    ``_quantizer.npz`` + ``_quantizer.json`` — Spark's FileIndex
    hides underscore-prefixed files (the _SUCCESS convention), so the
    parquet scan never sees them and the layout directory becomes the
    complete durable index: a FRESH SESSION needs nothing but the
    path to probe it. Without this, the layout's codes are
    unreadable garbage to anyone who didn't keep the fitting
    process alive — the same gap GraphIndex.save closes for the
    graph path and kmeans.save_centroids for bare assignments.
    Atomic rename per file; a few hundred KB regardless of corpus
    size (k x dim + m x k x dsub float64)."""
    import os

    from zvdb_spark.operators.artifacts import save_npz_manifest

    c = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    b = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    if c.ndim != 2 or b.ndim != 3:
        raise ValueError(
            f"centroids must be (C, dim), codebooks (m, k, dsub); got "
            f"{c.shape} and {b.shape}"
        )
    if b.shape[0] * b.shape[2] != c.shape[1]:
        raise ValueError(
            f"codebooks {b.shape} do not tile centroid dim {c.shape[1]}"
        )
    save_npz_manifest(
        os.path.join(path, "_quantizer.npz"),
        os.path.join(path, "_quantizer.json"),
        {"centroids": c, "codebooks": b},
        {
            "format": _QUANTIZER_FORMAT,
            "n_cells": int(c.shape[0]),
            "dim": int(c.shape[1]),
            "m_sub": int(b.shape[0]),
            "k_codes": int(b.shape[1]),
            "dsub": int(b.shape[2]),
        },
    )
    return path


def load_ivf_quantizer(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Reopen a layout's quantizer: (centroids, codebooks), validated
    against the manifest so truncated/mismatched files fail with a
    named diagnostic instead of silently mis-scoring every probe."""
    import os

    from zvdb_spark.operators.artifacts import load_npz_manifest

    arrays, manifest = load_npz_manifest(
        os.path.join(path, "_quantizer.npz"),
        os.path.join(path, "_quantizer.json"),
        _QUANTIZER_FORMAT,
        "quantizer",
    )
    c, b = arrays["centroids"], arrays["codebooks"]
    if c.shape != (manifest["n_cells"], manifest["dim"]) or b.shape != (
        manifest["m_sub"],
        manifest["k_codes"],
        manifest["dsub"],
    ):
        raise ValueError(
            f"quantizer arrays in {path} are {c.shape}/{b.shape}, "
            f"manifest says ({manifest['n_cells']}, {manifest['dim']})/"
            f"({manifest['m_sub']}, {manifest['k_codes']}, "
            f"{manifest['dsub']}) — files out of sync"
        )
    return np.ascontiguousarray(c), np.ascontiguousarray(b)


def read_ivf_cells(spark, path: str, cells: list[int]) -> DataFrame:
    """Scan ONLY the probed cells of a persisted IVF layout. The
    isin() predicate on the partition column becomes a PartitionFilter
    — directory-level pruning, verified by plan test
    (tests/test_pq.py::test_ivf_layout_partition_pruning)."""
    return spark.read.parquet(path).filter(
        F.col("cell_id").isin([int(c) for c in cells])
    )


def probed_cells(
    centroids: np.ndarray, queries: np.ndarray, nprobe: int
) -> list[int]:
    """The union of each query's nprobe nearest cells (driver-side
    argpartition over nq x C centroid distances — metadata-sized).
    This is the partition-pruning predicate for read_ivf_cells."""
    return sorted(int(c) for c in np.unique(_probes(centroids, queries,
                                                     nprobe)))


def _probes(centroids: np.ndarray, queries: np.ndarray,
            nprobe: int) -> np.ndarray:
    """(nq, nprobe) indices of each query's nprobe nearest cells
    (driver-side argpartition over nq x C centroid distances —
    metadata only)."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    q = np.ascontiguousarray(queries, dtype=np.float64)
    dq = _pair_scores(q, cents, (cents * cents).sum(1), "l2_sq")
    npb = min(int(nprobe), len(cents))
    return np.argpartition(dq, npb - 1, axis=1)[:, :npb]


def residual_encode(
    emb: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """(id, cell_id, code) in ONE Arrow pass over the vectors: nearest
    coarse cell, residual x - centroid(cell), PQ code of the residual
    — fused, so the corpus is scanned once, nothing is shuffled, and
    cell_id rides along with the code instead of being joined back.

    Residual encoding is the IVFPQ preprocessing step (Jégou et al.
    2011 §V-A): codebooks trained/applied on residuals model
    WITHIN-cell variation, which is exactly what ranking inside a
    probed cell needs — raw-vector codes degenerate when a cell's
    rows are tighter than the quantization error (measured on the
    clustered fixture: raw-code IVFPQ recall 0.30-0.42 vs residual
    >=0.9 under the same budgets; see scripts/pq_scale.py)."""
    cmat = np.ascontiguousarray(centroids, dtype=np.float64)
    cnorm = (cmat * cmat).sum(axis=1)
    books = np.ascontiguousarray(codebooks)
    bnorm = (books * books).sum(2)  # (m, k)

    def _enc(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            mat = matrix(rb[vec_col], name=vec_col)
            cell = _pair_scores(mat, cmat, cnorm, "l2_sq").argmin(1)
            yield pa.RecordBatch.from_arrays(
                [
                    rb[id_col].cast(pa.int64()),
                    pa.array(cell.astype(np.int32)),
                    list_array(_pq_codes(mat - cmat[cell], books, bnorm)),
                ],
                names=[id_col, "cell_id", "code"],
            )

    return emb.select(id_col, vec_col).mapInArrow(
        _enc,
        schema=f"{id_col} long, cell_id int, code array<smallint>",
    )


def ivfpq_build(
    emb: DataFrame,
    centroids: np.ndarray,
    m_sub: int,
    k_codes: int = 256,
    n_iter: int = 8,
    sample_n: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    n_rows: int | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """Residual-encoded IVFPQ build: returns (codebooks, codes) where
    codes carries (id, cell_id, code) — codebooks are trained on
    RESIDUALS and codes encode residuals.

    Scan accounting (the 100 TB contract, plan-pinned by
    tests/test_pq.py::test_ivfpq_build_single_scan_plan): one bounded
    ``hash_sample`` collect of raw vectors (threshold-pruned at the
    source when ``n_rows`` is known — O(sample_n) rows of driver
    traffic), residuals + codebooks fit driver-side on that sample,
    then the corpus is scanned EXACTLY ONCE by ``residual_encode`` —
    no join, no shuffle, no re-derived lineage. (The round-4 form
    trained on a distributed residualize frame, which re-executed the
    full-corpus residual GEMM ~3x and shuffled two corpus-sized
    frames on the id join.)"""
    cmat = np.ascontiguousarray(centroids, dtype=np.float64)
    sample = hash_sample(
        emb, sample_n, id_col=id_col, cols=(vec_col,), n_rows=n_rows
    )
    mat = matrix(sample[vec_col], name=vec_col)
    d = _pair_scores(mat, cmat, (cmat * cmat).sum(1), "l2_sq")
    res_mat = mat - cmat[d.argmin(1)]
    books = _fit_codebooks(
        res_mat, m_sub=m_sub, k_codes=k_codes, n_iter=n_iter
    )
    codes = residual_encode(
        emb, cmat, books, id_col=id_col, vec_col=vec_col
    )
    return books, codes


# --------------------- OPQ (optimized product quantization)
#
# Ge et al. 2013 (non-parametric OPQ): learn an orthogonal rotation R
# so the rotated space's coordinate subspaces carry balanced,
# decorrelated variance before PQ chops them up — plain PQ's blind
# spot is cross-subspace correlation (a direction split across two
# subspaces costs quantization error in both). Alternating
# minimization on the driver-side hash sample: fit codebooks on X R,
# reconstruct, solve the orthogonal Procrustes problem
# min_R ||X R - Y||_F (SVD of X^T Y), repeat. Everything distributed
# stays the existing PQ machinery: encode rotates inside the same
# Arrow batch GEMM (one fused pass, no extra scan), search rotates
# the probe batch driver-side (R is orthogonal, so ADC in rotated
# space estimates the SAME squared-L2 the exact re-rank confirms).


def _pq_reconstruct(xr: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Nearest-centroid reconstruction of an already-rotated sample —
    the Y of the Procrustes step. Row-chunked over a thread pool with
    the per-row expression unchanged (rows are independent, so the
    output is bit-identical to the single-shot form; the full
    (n, k) distance temporaries it replaces were ~2 GB of memory
    traffic per call — half of opq_train's profile)."""
    from concurrent.futures import ThreadPoolExecutor

    from zvdb_spark.operators.kmeans import _LLOYD_CHUNK, _lloyd_threads

    m_sub, _, dsub = books.shape
    out = np.empty_like(xr)
    n = len(xr)
    cnorms = [(books[m] * books[m]).sum(1) for m in range(m_sub)]

    def _one(span):
        lo, hi = span
        for m in range(m_sub):
            xm = xr[lo:hi, m * dsub : (m + 1) * dsub]
            d = _pair_scores(xm, books[m], cnorms[m], "l2_sq")
            out[lo:hi, m * dsub : (m + 1) * dsub] = books[m][d.argmin(1)]

    chunks = [(lo, min(lo + _LLOYD_CHUNK, n)) for lo in range(0, n, _LLOYD_CHUNK)]
    n_threads = _lloyd_threads()
    if n_threads > 1 and len(chunks) > 1:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            list(pool.map(_one, chunks))
    else:
        for s in chunks:
            _one(s)
    return out


def opq_train(
    emb: DataFrame,
    m_sub: int,
    k_codes: int = 256,
    n_iter: int = 10,
    opq_iter: int = 8,
    sample_n: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    n_rows: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Fit (rotation, codebooks): R is (dim, dim) orthogonal, books
    are PQ codebooks in the ROTATED space. Deterministic (identity
    init, fixed iteration counts, the same hash sample as pq_train);
    the inner codebook fits run short (4 Lloyd rounds) and the final
    fit runs the full ``n_iter``."""
    sample = hash_sample(
        emb, sample_n, id_col=id_col, cols=(vec_col,), n_rows=n_rows
    )
    x = matrix(sample[vec_col], name=vec_col)
    dim = x.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    rot = np.eye(dim)
    for _ in range(int(opq_iter)):
        books = _fit_codebooks(x @ rot, m_sub=m_sub, k_codes=k_codes, n_iter=4)
        y = _pq_reconstruct(x @ rot, books)
        u, _, vt = np.linalg.svd(x.T @ y)
        rot = u @ vt
    books = _fit_codebooks(
        x @ rot, m_sub=m_sub, k_codes=k_codes, n_iter=n_iter
    )
    return rot, books


def opq_encode(
    emb: DataFrame,
    rot: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """PQ-encode in the rotated space: the rotation GEMM runs inside
    the SAME Arrow batch as the per-subspace argmin (one fused pass
    over the corpus, no extra scan or shuffle — delta over pq_encode
    is one (batch x dim) @ (dim x dim) matmul per Arrow batch)."""
    books = np.ascontiguousarray(codebooks)
    r = np.ascontiguousarray(np.asarray(rot, dtype=np.float64))
    m_sub, _, dsub = books.shape
    if r.shape != (m_sub * dsub, m_sub * dsub):
        raise ValueError(
            f"rotation {r.shape} does not match codebook dim "
            f"{m_sub * dsub}"
        )
    cnorm = (books * books).sum(2)

    @F.arrow_udf("array<smallint>")
    def _code(vs: pa.Array) -> pa.Array:
        return list_array(_pq_codes(matrix(vs, name=vec_col) @ r, books,
                                    cnorm))

    return emb.select(F.col(id_col), _code(F.col(vec_col)).alias("code"))


def opq_search_rerank(
    codes: DataFrame,
    corpus: DataFrame,
    rot: np.ndarray,
    codebooks: np.ndarray,
    queries: np.ndarray,
    k: int = 10,
    rerank_r: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """pq_search_rerank with the probe batch rotated driver-side for
    the ADC pass (codes live in the rotated space) and the ORIGINAL
    queries kept for the exact re-rank (the corpus floats are
    unrotated; R orthogonal means both spaces rank by the same true
    squared-L2, so the confirm stage needs no inverse rotation)."""
    q = np.ascontiguousarray(queries, dtype=np.float64)
    return _adc_rerank(codes, corpus, codebooks,
                       q @ np.asarray(rot, dtype=np.float64), q, k,
                       rerank_r, id_col, vec_col)


_OPQ_FORMAT = 1


def save_opq(path: str, rot: np.ndarray, codebooks: np.ndarray) -> str:
    """Persist the OPQ quantizer (rotation + rotated-space codebooks)
    under ``path`` as ``_opq.npz`` + ``_opq.json`` — the same
    underscore-hidden npz+manifest discipline as save_ivf_quantizer,
    so a code layout directory carries everything a fresh session
    needs to encode or probe it."""
    import os

    from zvdb_spark.operators.artifacts import save_npz_manifest

    r = np.ascontiguousarray(np.asarray(rot, dtype=np.float64))
    b = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    if r.ndim != 2 or r.shape[0] != r.shape[1] or b.ndim != 3:
        raise ValueError(
            f"rotation must be square (dim, dim), codebooks "
            f"(m, k, dsub); got {r.shape} and {b.shape}"
        )
    if r.shape[0] != b.shape[0] * b.shape[2]:
        raise ValueError(
            f"rotation dim {r.shape[0]} != codebook dim "
            f"{b.shape[0] * b.shape[2]}"
        )
    os.makedirs(path, exist_ok=True)
    save_npz_manifest(
        os.path.join(path, "_opq.npz"),
        os.path.join(path, "_opq.json"),
        {"rot": r, "codebooks": b},
        {
            "format": _OPQ_FORMAT,
            "dim": int(r.shape[0]),
            "m_sub": int(b.shape[0]),
            "k_codes": int(b.shape[1]),
        },
    )
    return path


def load_opq(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Read back (rotation, codebooks) written by save_opq."""
    import os

    from zvdb_spark.operators.artifacts import load_npz_manifest

    arrays, _ = load_npz_manifest(
        os.path.join(path, "_opq.npz"),
        os.path.join(path, "_opq.json"),
        _OPQ_FORMAT,
        "OPQ quantizer",
    )
    return arrays["rot"], arrays["codebooks"]
