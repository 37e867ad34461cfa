"""The workloads. Each drives the engine only through its public
entry points (``GraphIndex`` and the declared-query registry), from
one client in a closed loop: an operation starts when the previous
one has finished. Outputs are checked outside the timed regions; a
mismatch counts as a failed operation.

A workload object makes its inputs when it is created (untimed), then
the runner calls ``setup_step`` ``SETUP_REPS`` times, ``measure`` once
and ``finish`` once. Set-up time is the session start plus the median
set-up step plus the workload's ``warm_s``. In a traced run, timed operations alternate
between tracing off and on, so one run of one length gives both the
per-layer numbers and the tracing overhead.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from statistics import median

import numpy as np

import inputs
from stats import content_hash, percentile, tail_percentile

K = 10
DIM = 128
N_CORPUS = 10_000
N_QUERIES = 1_000  # one search batch
N_PROBE = 200  # queries whose results are checked against numpy
N_DELTA = N_CORPUS // 20  # one append: 5% of the corpus
N_APPENDS = 1
SETUP_REPS = 2
MIN_OPS = 3
RECALL_FLOOR = 0.99
TIE_TOL = 1e-9
SF = 0.01

# One declared query per registry module (the modules bench.py's
# HEADLINE list covers), the cheapest HEADLINE query of each, so that
# a cold pass and a warm pass fit one run. The per-module layer
# metrics are keyed by these modules.
PIPELINE_QUERIES = {
    "vector": "q_knn_batch",
    "ann": "q_ann_bruteforce",
    "relational": "q_filter_pred",
    "aggregates": "q_agg_rollup",
    "joins": "q_join_inner",
    "windows": "q_window_rank",
    "setops": "q_set_ops",
    "scalar": "q_json_extract",
    "streaming_twins": "q_stream_session",
    "text": "q_text_tokens",
    "dedup": "q_dedup_embedding",
    "multimodal": "q_multimodal_features",
    "pipeline": "q_pipeline_training_data",
    "curation": "q_quality_signals",
    "vocab": "q_vocab_topk",
    "export": "q_export_shards",
    "profile": "q_table_stats",
    "retrieval": "q_text_bm25",
}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    scratch: str
    trace: bool


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — the run must go on and report
            self.failed += 1
            print(f"[perfbench] {what} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, what: str, ok: bool) -> None:
        """A failed output check turns the last attempt into a failure."""
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what}", file=sys.stderr)


@dataclass
class Samples:
    """Timed operations of one tracing mode."""

    op_s: list = field(default_factory=list)  # one wall per operation
    items: int = 0  # work items those operations completed
    walls: dict = field(default_factory=dict)  # kind -> walls

    def add(self, kind: str, seconds: float) -> None:
        self.walls.setdefault(kind, []).append(seconds)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def to_pandas(df):
    return df.toPandas()


def op_loop(ctx: Ctx, op, min_ops: int) -> None:
    """Call ``op(i, traced)`` until ``ctx.seconds`` have passed and at
    least ``min_ops`` calls were made. In a traced run every second
    call runs traced, inside a top-level ``op`` span."""
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        traced = ctx.trace and i % 2 == 1
        ctx.tracer.enabled = traced
        try:
            with ctx.tracer.span("op"):
                op(i, traced)
        finally:
            ctx.tracer.enabled = ctx.trace
        i += 1


# -- vector checks -----------------------------------------------------


def truth(corpus: np.ndarray, ids: np.ndarray, q: np.ndarray):
    """numpy f64 brute force: (top-k ids, their squared distances),
    ascending by (distance, id)."""
    d = (q * q).sum(1)[:, None] - 2.0 * (q @ corpus.T) + (corpus * corpus).sum(1)
    top = np.argpartition(d, K, axis=1)[:, : K + 8]
    out_ids = np.empty((len(q), K), dtype=np.int64)
    out_d = np.empty((len(q), K))
    for r in range(len(q)):
        cand = top[r]
        exact = ((corpus[cand] - q[r]) ** 2).sum(1)
        order = np.lexsort((ids[cand], exact))[:K]
        out_ids[r], out_d[r] = ids[cand[order]], exact[order]
    return out_ids, out_d


def exact_matches(pdf, corpus, ids, q, t_d) -> bool:
    """Exact top-k equals the truth, except swaps between neighbours
    whose distances tie within ``TIE_TOL``."""
    pos = {int(v): i for i, v in enumerate(ids)}
    got = pdf.sort_values(["query_id", "rn"]).groupby("query_id")["neighbor_id"]
    seen = 0
    for qid, nbrs in got:
        nb = nbrs.to_numpy()
        if len(nb) != K or len(set(nb.tolist())) != K:
            return False
        rows = corpus[[pos[int(v)] for v in nb]]
        d = ((rows - q[int(qid)]) ** 2).sum(1)
        if np.any(np.abs(d - t_d[int(qid)]) > TIE_TOL):
            return False
        seen += 1
    return seen == len(q)


def recall(pdf, t_ids) -> float:
    got = pdf.groupby("query_id")["vec_id"].apply(set).to_dict()
    hits = sum(len(got.get(i, set()) & set(t_ids[i].tolist())) for i in range(len(t_ids)))
    return hits / t_ids.size


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class VectorIndex:
    """One index, built during set-up (``SETUP_REPS`` times, each into
    its own directory; the last one is used) and warmed with one read
    round. Each timed operation is a read round over that fixed index:
    the same ``N_QUERIES``-query k=10 batch answered exactly (f64) and
    by graph ANN, alternating which goes first so neither always pays
    the first-position cost. Its items are the queries answered.

    After the timed loop come ``N_APPENDS`` appends of 5% of the
    corpus each, with ids disjoint from every earlier row, each
    followed by an ANN read of the same batch whose recall is
    checked. The number of appends is fixed, so every run ends on an
    index of the same size whatever ``--seconds`` is. In a traced run
    every append is traced."""

    def __init__(self, ctx: Ctx, out: Outcome):
        self.ctx, self.out = ctx, out
        mix = inputs.mixture_for(ctx.seed, N_CORPUS, DIM)
        self.ids, self.x = inputs.corpus(mix, N_CORPUS)
        self.q = inputs.queries(mix, N_QUERIES)
        self.probe = self.q[:N_PROBE]
        self.t_ids, self.t_d = truth(self.x, self.ids, self.probe)
        self.deltas = inputs.deltas(mix, N_CORPUS, N_DELTA, N_APPENDS)
        self.emb = inputs.to_frame(ctx.spark, self.ids, self.x, "vec_id", "emb")
        self.qdf = inputs.to_frame(
            ctx.spark, np.arange(N_QUERIES), self.q, "query_id", "qemb"
        )
        self.dfs = [
            inputs.to_frame(ctx.spark, i, x, "vec_id", "emb") for i, x in self.deltas
        ]
        self.samples = {False: Samples(), True: Samples()}
        self.build_s: list[float] = []
        self.warm_s = 0.0
        self.recalls: list[float] = []
        self.g = None

    def setup_step(self, r: int) -> None:
        """Build + state."""
        from zvdb_spark.operators.graph_ann import GraphIndex

        g = GraphIndex(m=16, ef=128, index_dir=os.path.join(self.ctx.scratch, "index", str(r)))
        t0 = time.perf_counter()
        with self.ctx.tracer.span("graph_ann.build"):
            g.build(self.emb, n_rows=N_CORPUS)
        with self.ctx.tracer.span("graph_ann.state"):
            g.state()
        self.build_s.append(time.perf_counter() - t0)
        self.g = g

    def exact(self):
        with self.ctx.tracer.span("graph_ann.exact_search"):
            return self.g.exact_search(
                self.qdf, k=K, dtype="float64", n_queries=N_QUERIES
            ).toPandas()

    def ann(self):
        with self.ctx.tracer.span("graph_ann.search"):
            return self.g.search(self.qdf, k=K, n_queries=N_QUERIES).toPandas()

    def read_round(self, i: int, ann_first: bool) -> dict | None:
        reads = [("exact", self.exact), ("ann", self.ann)]
        if ann_first:
            reads.reverse()
        lap, got = {}, {}
        for what, fn in reads:
            t0 = time.perf_counter()
            pdf = self.out.attempt(what, fn)
            if pdf is None:
                return None
            lap[what] = time.perf_counter() - t0
            got[what] = pdf[pdf["query_id"] < N_PROBE]
        self.out.check(
            f"round {i}: exact top-10 vs numpy",
            exact_matches(got["exact"], self.x, self.ids, self.probe, self.t_d),
        )
        rec = recall(got["ann"], self.t_ids)
        self.out.check(f"round {i}: ann recall {rec:.4f} >= {RECALL_FLOOR}", rec >= RECALL_FLOOR)
        return lap

    def measure(self) -> None:
        with self.ctx.tracer.span("setup"):
            t0 = time.perf_counter()
            self.read_round(0, ann_first=False)
            self.warm_s = time.perf_counter() - t0

        def op(i: int, traced: bool) -> None:
            s = self.samples[traced]
            # alternate the order within each tracing mode
            lap = self.read_round(i + 1, ann_first=len(s.op_s) % 2 == 1)
            if lap is None:
                return
            s.op_s.append(lap["exact"] + lap["ann"])
            s.items += 2 * N_QUERIES
            s.add("exact", lap["exact"])
            s.add("ann", lap["ann"])

        op_loop(self.ctx, op, MIN_OPS)
        self.append_all()

    def append_all(self) -> None:
        ctx, g = self.ctx, self.g
        all_ids, all_x = [self.ids], [self.x]

        def append(frame):
            with ctx.tracer.span("graph_ann.append"):
                g.append(frame)
            with ctx.tracer.span("graph_ann.state"):
                g.state()
            return True

        for i, ((d_ids, d_x), frame) in enumerate(zip(self.deltas, self.dfs)):
            with ctx.tracer.span("append"):
                t0 = time.perf_counter()
                ok = self.out.attempt(f"append {i}", lambda: append(frame))
                t_append = time.perf_counter() - t0
                got = None if ok is None else self.out.attempt(
                    f"read after append {i}", self.ann
                )
            if got is None:
                return
            self.samples[ctx.trace].add("append", t_append)
            all_ids.append(d_ids)
            all_x.append(d_x)
            t_ids, _ = truth(np.concatenate(all_x), np.concatenate(all_ids), self.probe)
            rec = recall(got[got["query_id"] < N_PROBE], t_ids)
            self.recalls.append(rec)
            self.out.check(
                f"append {i}: ann recall {rec:.4f} >= {RECALL_FLOOR}", rec >= RECALL_FLOOR
            )
        rows = sum(len(a) for a in all_ids)
        self.bytes_ratio = dir_bytes(g.index_dir) / (rows * DIM * 8)

    def bounded(self) -> Samples:
        return self.samples[False]

    def finish(self) -> None:
        """Results are checked as they arrive."""

    def report(self, s: Samples) -> dict:
        ex, an, ap = (s.walls.get(k, []) for k in ("exact", "ann", "append"))
        out = {
            "search_qps": (N_QUERIES / median(ex), "q/s", len(ex)),
            "ann_search_qps": (N_QUERIES / median(an), "q/s", len(an)),
        }
        if ap:
            out["append_pts_per_s"] = (N_DELTA / median(ap), "pts/s", len(ap))
        return out

    def final(self) -> dict:
        out = {"insert_pts_per_s": (N_CORPUS / median(self.build_s), "pts/s", len(self.build_s))}
        if self.recalls:
            out["ann_recall_at_10"] = (self.recalls[-1], "fraction", N_PROBE)
            out["index_bytes_per_vector_byte"] = (self.bytes_ratio, "ratio", 1)
        return out


def _oracle_match(sdf, odf) -> bool:
    """Sorted columns, sorted rows, 1e-6 float tolerance."""
    import pandas as pd

    cols = sorted(sdf.columns)
    if cols != sorted(odf.columns) or len(sdf) != len(odf):
        return False
    s = sdf[cols].sort_values(by=cols, ignore_index=True)
    o = odf[cols].sort_values(by=cols, ignore_index=True)
    for c in cols:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a):
            ok = ((a - b).abs().fillna(0) <= 1e-6).all()
        else:
            ok = (a.astype(str) == b.astype(str)).all()
        if not ok:
            return False
    return True


class PipelineQueries:
    """One declared query per registry module on generated tables. The
    timed operations are the cold pass, in a fixed order: each query's
    first execution in the fresh session (the query function call plus
    collecting the result, which the checks use), as a batch job that
    runs each query once per session pays it. Its items are queries.

    A traced run adds warm passes of ``noop`` writes, each in a seeded
    order and alternately untraced and traced, for the per-module
    layer numbers and the tracing overhead; the cold pass itself always
    runs untraced. The fixed cold order keeps each query's share of
    the session's first-use costs the same from seed to seed."""

    def __init__(self, ctx: Ctx, out: Outcome):
        from zvdb_spark.queries.registry import all_queries

        self.ctx, self.out = ctx, out
        self.sf_dir = inputs.write_tables(ctx.seed, SF, os.path.join(ctx.scratch, "tables"))
        registry = all_queries()
        self.qs = []
        for module, name in PIPELINE_QUERIES.items():
            q = registry[name]
            if q.fn.__module__.rsplit(".", 1)[1] != module:
                raise RuntimeError(f"{name} moved out of queries.{module}")
            self.qs.append((module, q))
        self.cold = Samples()
        self.samples = {False: Samples(), True: Samples()}  # warm passes
        self.first: dict[str, object] = {}
        self.warm_s = 0.0

    def setup_step(self, r: int) -> None:
        """Resolve every table's schema."""
        for t in TABLES:
            self.ctx.spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).schema

    def run(self, module, q, sink):
        with self.ctx.tracer.span(f"queries.{module}.plan"):
            df = q.fn(self.ctx.spark, self.sf_dir)
        with self.ctx.tracer.span(f"queries.{module}.exec"):
            return sink(df)

    def bounded(self) -> Samples:
        return self.cold

    def measure(self) -> None:
        ctx = self.ctx
        ctx.tracer.enabled = False
        try:
            t_pass = time.perf_counter()
            for module, q in self.qs:
                t0 = time.perf_counter()
                pdf = self.out.attempt(q.name, lambda: self.run(module, q, to_pandas))
                if pdf is not None:
                    self.cold.op_s.append(time.perf_counter() - t0)
                    self.cold.items += 1
                    self.first[q.name] = pdf
            self.cold.add("pass", time.perf_counter() - t_pass)
        finally:
            ctx.tracer.enabled = ctx.trace
        if not ctx.trace:
            return

        # whole warm passes until the time is up, at least one each way
        rng = np.random.default_rng([ctx.seed, 7])
        t_end = time.perf_counter() + ctx.seconds
        i = 0
        while i < 2 or time.perf_counter() < t_end:
            traced = ctx.trace and i % 2 == 1
            s = self.samples[traced]
            ctx.tracer.enabled = traced
            try:
                t_pass = time.perf_counter()
                for j in rng.permutation(len(self.qs)):
                    module, q = self.qs[j]
                    t0 = time.perf_counter()
                    with ctx.tracer.span("op"):
                        done = self.out.attempt(q.name, lambda: self.run(module, q, noop) or True)
                    if done:
                        s.op_s.append(time.perf_counter() - t0)
                        s.items += 1
                s.add("pass", time.perf_counter() - t_pass)
            finally:
                ctx.tracer.enabled = ctx.trace
            i += 1

    def finish(self) -> None:
        """Oracled queries against DuckDB on the same tables; rows-only
        queries against their own first (cold) result. Untraced."""
        import duckdb

        self.ctx.tracer.enabled = False
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for module, q in self.qs:
                if q.name not in self.first:
                    continue
                if q.oracle is not None:
                    odf = con.execute(q.oracle).df()
                    self.out.check(f"{q.name} vs DuckDB", _oracle_match(self.first[q.name], odf))
                    continue
                again = self.out.attempt(q.name, lambda: self.run(module, q, to_pandas))
                if again is not None:
                    self.out.check(
                        f"{q.name} repeats its first result",
                        content_hash(again) == content_hash(self.first[q.name]),
                    )
        finally:
            con.close()
            self.ctx.tracer.enabled = self.ctx.trace

    def report(self, s: Samples) -> dict:
        n = len(s.op_s)
        passes = s.walls.get("pass", [])
        if not passes:
            return {}
        out = {
            "mix_pass_s": (median(passes), "s", len(passes)),
            "query_p50_s": (median(s.op_s), "s", n),
        }
        tail = tail_percentile(n)
        if tail is not None and tail > 0.5:
            out[f"query_p{round(tail * 100)}_s"] = (percentile(s.op_s, tail), "s", n)
        return out

    def final(self) -> dict:
        return {"cold_pass_s": (self.cold.walls["pass"][0], "s", 1)}


WORKLOADS = {
    "vector_index": VectorIndex,
    "pipeline_queries": PipelineQueries,
}
