"""Plan-shape regression tests: the 100 TB story, pinned.

Each assertion encodes a scale property argued in SURVEY.md §4:
filters reach the parquet scan, column pruning holds, dimension joins
broadcast, top-k compiles to TakeOrderedAndProject (per-partition
heaps, no global sort), single-probe kNN needs no shuffle of the
corpus.
"""

from __future__ import annotations

from zvdb_spark.plans import plan_audit
from zvdb_spark.queries.registry import all_queries


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    a = plan_audit(all_queries()["q_filter_pred"].fn(spark, sf_dir))
    assert a["has_pushed_filters"], "compound predicate must push to parquet"
    joined = " ".join(a["pushed_filters"])
    assert "l_shipdate" in joined and "l_quantity" in joined


def test_column_pruning(spark, sf_dir):
    from zvdb_spark.queries.relational import _topk_orders

    a = plan_audit(_topk_orders(spark, sf_dir))
    # only the 3 projected columns may be read from the 6-column table
    assert a["read_schemas"], "no ReadSchema found"
    rs = a["read_schemas"][0]
    assert "o_orderkey" in rs and "o_totalprice" in rs
    assert "o_orderpriority" not in rs and "o_orderstatus" not in rs


def test_topk_is_take_ordered(spark, sf_dir):
    # both branches of the merged declared query keep the heap plan
    a = plan_audit(all_queries()["q_topk_sort"].fn(spark, sf_dir))
    assert a["has_take_ordered"], "orderBy+limit must compile to TakeOrderedAndProject"


def test_knn_exact_no_corpus_shuffle(spark, sf_dir):
    """Single-probe kNN: broadcast of the 1-row probe + top-k heaps.
    The corpus itself must not shuffle (no Exchange above the scan
    other than the broadcast side / final single-partition merge)."""
    a = plan_audit(all_queries()["q_knn_exact"].fn(spark, sf_dir))
    assert a["has_take_ordered"]
    # 1-row probe joins via broadcast (nested-loop: no equi-key needed)
    assert "BroadcastNestedLoopJoin" in a["plan"] or a["n_broadcast_joins"] >= 1
    assert a["n_sortmerge_joins"] == 0


def test_dimension_joins_broadcast(spark, sf_dir):
    """orders⋈customer⋈nation⋈region: nation/region (and at test SF,
    customer) must go broadcast; no join may degrade to a cartesian."""
    a = plan_audit(all_queries()["q_join_inner"].fn(spark, sf_dir))
    assert a["n_broadcast_joins"] >= 2
    assert "CartesianProduct" not in a["plan"]


def test_explicit_broadcast_zero_shuffle_joins(spark, sf_dir):
    a = plan_audit(all_queries()["q_join_broadcast"].fn(spark, sf_dir))
    assert a["n_broadcast_joins"] == 2
    assert a["n_sortmerge_joins"] == 0


def test_knn_batch_probe_side_crosses_no_exchange(spark, sf_dir):
    """Batched exact kNN at fixture size takes the broadcast-probe
    plan: the probe matrix rides a broadcast, so the plan holds no
    cogroup and no probe replication (Generate). The corpus crosses
    one Exchange into the GEMM tasks and the k-row merge window one
    more — which Spark drops when the corpus lands in one partition,
    as q_knn_batch's fixture corpus does. The probe side crosses
    none."""
    from pyspark.sql import functions as F

    from zvdb_spark.operators.knn import exact_search_blocked
    from zvdb_spark.queries.vector import _emb

    e = _emb(spark, sf_dir)
    probes = e.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    for df, n_exchanges in (
        (all_queries()["q_knn_batch"].fn(spark, sf_dir), 1),
        (exact_search_blocked(e, probes, k=5, n_shards=4), 2),
    ):
        a = plan_audit(df)
        assert "MapInArrow" in a["plan"], a["plan"]
        assert "FlatMapCoGroupsIn" not in a["plan"], a["plan"]
        assert "Generate" not in a["plan"], a["plan"]
        assert a["n_exchanges"] == n_exchanges, a["plan"]


_MERGE_OPERATORS = (
    "Window", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
    "ArrowEvalPython", "SortMergeJoin",
)


def _assert_one_task_per_query_plan(df):
    """The plan of a search answered inside one task per query block:
    the query side crosses one round-robin Exchange into a
    MapInArrow, and nothing merges, joins or re-evaluates Python
    afterwards."""
    a = plan_audit(df)
    assert "MapInArrow" in a["plan"], a["plan"]
    assert a["n_exchanges"] == 1, a["plan"]
    for op in _MERGE_OPERATORS:
        assert op not in a["plan"], (op, a["plan"])


def _graph_index_and_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    from zvdb_spark.functions.vector import as_double_array
    from zvdb_spark.operators.graph_ann import GraphIndex
    from zvdb_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    ).localCheckpoint(eager=True)
    idx = GraphIndex(m=8, ef=32, cell_target_rows=100).build(emb)
    q = emb.limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    ).localCheckpoint(eager=True)
    return idx, q


def test_graph_search_moves_no_index_data(spark, sf_dir):
    """Graph ANN search plan: index bytes live in mmap segments and
    shard metadata rides the task closure, so the plan touches only
    the query DataFrame — one Exchange fanning query blocks out, no
    broadcast of the metadata, no routing UDF and no top-k window."""
    idx, q = _graph_index_and_queries(spark, sf_dir)
    _assert_one_task_per_query_plan(idx.search(q, k=3, n_queries=4))


def _sql_plans(spark, run):
    """Run ``run()``; return (its result, the physical plan of every
    SQL execution it started)."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    out = run()
    return out, [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > seen
    ]


def test_graph_index_vector_plans_hold_no_pandas_node(spark, sf_dir):
    """Vector columns cross the JVM<->Python boundary as Arrow: every
    plan ``build`` runs (the segment pack among them), the segment
    read-back ``celled`` and ``search`` hold no ``InPandas`` node."""
    from zvdb_spark.plans.audit import explain_str

    (idx, q), plans = _sql_plans(
        spark, lambda: _graph_index_and_queries(spark, sf_dir)
    )
    assert any("FlatMapGroupsInArrow" in p for p in plans), plans
    for p in plans:
        assert "InPandas" not in p, p
    for df in (idx.celled, idx.search(q, k=3, n_queries=4)):
        simple = explain_str(df, "simple")
        assert "MapInArrow" in simple, simple
        assert "InPandas" not in simple, simple
    idx.retire()


def _count_jobs(spark, name, run):
    """Run ``run()`` under its own job group; return (its result, the
    number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-jobs-{name}"
    sc.setJobGroup(group, name, False)
    try:
        out = run()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_planning_infers_no_table_schema(spark, sf_dir):
    """Planning a query again in the same session runs no parquet
    schema inference job (``parquet at ...``): each table load passes
    back the schema Spark inferred the first time. One HEADLINE query
    per registry module, the first listed, each planned twice. Export
    is left out: its plan writes its output directory and reads those
    new files back, and those jobs carry the same ``parquet at`` call
    site."""
    import bench

    queries = all_queries()
    per_module: dict[str, str] = {}
    for name in bench.HEADLINE:
        per_module.setdefault(queries[name].fn.__module__, name)
    per_module.pop("zvdb_spark.queries.export")
    for name in per_module.values():
        queries[name].fn(spark, sf_dir)
    st = spark.sparkContext.statusTracker()
    inferring = {}
    for name in per_module.values():
        group = f"test-replan-{name}"
        spark.sparkContext.setJobGroup(group, name, False)
        try:
            queries[name].fn(spark, sf_dir)
        finally:
            spark.sparkContext._jsc.clearJobGroup()
        stages = [
            st.getStageInfo(s)
            for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds
        ]
        n = sum(s is not None and s.name.startswith("parquet at") for s in stages)
        if n:
            inferring[name] = n
    assert len(per_module) == 17
    assert inferring == {}, inferring


def test_vector_searches_run_two_jobs(spark, sf_dir):
    """With n_queries supplied and the index state built, each search
    collects in exactly 2 Spark jobs: the query-block exchange and the
    result stage."""
    idx, q = _graph_index_and_queries(spark, sf_dir)
    idx.state()
    for name, run in (
        ("search", lambda: idx.search(q, k=3, n_queries=4)),
        ("exact_search", lambda: idx.exact_search(q, k=3, n_queries=4)),
    ):
        n_rows, n_jobs = _count_jobs(
            spark, name, lambda: len(run().toPandas())
        )
        assert n_rows == 12
        assert n_jobs == 2, name


def test_edge_plan_runs_one_gemm_in_both_directions(spark, sf_dir):
    """The edge plan ``state()`` runs: one MapInArrow (the edge GEMM)
    and no Union, whose rows carry each edge in both directions —
    every (a, b, score) row has its (b, a, score) twin."""
    from zvdb_spark.operators.graph_ann import _cell_neighbors
    from zvdb_spark.plans.audit import explain_str

    idx, _ = _graph_index_and_queries(spark, sf_dir)
    edges = idx._edges_from_segments(
        sorted(idx._pending_cells), _cell_neighbors(idx.centroids, idx.r_build)
    )
    simple = explain_str(edges, "simple")
    assert simple.count("MapInArrow") == 1, simple
    assert "Union" not in simple, simple
    pdf = edges.toPandas()
    assert len(pdf) > 0
    fwd = set(zip(pdf.src, pdf.dst, pdf.score))
    assert fwd == set(zip(pdf.dst, pdf.src, pdf.score))
    idx.retire()


def test_graph_write_path_job_counts(spark, sf_dir, monkeypatch):
    """The write path's Spark job counts with n_rows supplied, pinned
    at their measured values: build 7, state 3, append 3, state 3.
    Build is an append into an empty index; sharing the pack path
    must not cost it a job. An append over a batch that has not been
    stated runs that state() first (3 jobs) and then its own pack (3),
    and nothing on the write path checkpoints."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from zvdb_spark.functions.vector import as_double_array
    from zvdb_spark.operators.graph_ann import GraphIndex
    from zvdb_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    base = emb.filter(F.col("vec_id") % 10 != 0).localCheckpoint(eager=True)
    delta = emb.filter(F.col("vec_id") % 10 == 0).localCheckpoint(eager=True)
    n_base = base.count()
    checkpoints = []
    monkeypatch.setattr(
        DataFrame, "localCheckpoint",
        lambda df, *a, **kw: checkpoints.append(df),
    )
    idx = GraphIndex(m=8, ef=32, cell_target_rows=100)
    counts = [
        _count_jobs(spark, name, run)[1]
        for name, run in (
            ("build", lambda: idx.build(base, n_rows=n_base)),
            ("state", idx.state),
            ("append", lambda: idx.append(delta)),
            ("state-after-append", idx.state),
        )
    ]
    assert counts == [7, 3, 3, 3], counts
    unstated = [
        _count_jobs(spark, name, run)[1]
        for name, run in (
            ("rebuild", lambda: idx.build(base, n_rows=n_base)),
            ("append-unstated", lambda: idx.append(delta)),
            ("state-after-unstated", idx.state),
        )
    ]
    assert unstated == [7, 6, 3], unstated
    assert checkpoints == []
    idx.retire()


def test_window_frame_runs_on_aggregate(spark, sf_dir):
    """q_window_frame's global (unpartitioned) windows are safe ONLY
    because they run over the day-level AGGREGATE — a frame bounded by
    the calendar, invariant to data scale — never over raw orders. In
    the printed tree (parents first) the Window node must therefore
    sit ABOVE the HashAggregate; a refactor that pushed the window
    below the groupBy would flip that order and become a silent
    scale-killer (a total-order sort of the fact table)."""
    from zvdb_spark.plans import explain_str
    from zvdb_spark.queries.registry import all_queries

    simple = explain_str(
        all_queries()["q_window_frame"].fn(spark, sf_dir), "simple"
    )
    assert "Window" in simple and "HashAggregate" in simple
    assert simple.index("Window") < simple.index("HashAggregate"), simple


def test_segment_exact_search_moves_no_corpus(spark, sf_dir):
    """Segment exact search plan: the corpus lives in mmap segments
    and every task scans all of them, so the plan contains only the
    query side — one round-robin Exchange fanning query blocks out,
    no group-id broadcast, no top-k window and no join or scan of
    anything corpus-sized."""
    from pyspark.sql import functions as F

    from zvdb_spark.functions.vector import as_double_array
    from zvdb_spark.operators.segments import SegmentCorpus
    from zvdb_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    corp = SegmentCorpus(shard_target_rows=100).pack(emb)
    q = emb.limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    ).localCheckpoint(eager=True)
    _assert_one_task_per_query_plan(corp.exact_search(q, k=3, n_queries=4))


def test_embedding_lsh_candidates_equi_join(spark, sf_dir):
    """The hyperplane-LSH candidate stage must stay a band-key
    EQUI-join: sub-quadratic because only signature-colliding rows
    meet. A refactor that degrades it to CartesianProduct or
    BroadcastNestedLoopJoin (e.g. by breaking the key expression into
    a non-equi predicate) would silently reinstate the all-pairs scan
    the LSH path exists to avoid."""
    from zvdb_spark.functions.vector import as_double_array
    from zvdb_spark.queries.dedup import _embedding_lsh_candidates
    from zvdb_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    dim = len(e.select("emb").head()[0])
    a = plan_audit(_embedding_lsh_candidates(e, dim))
    assert "CartesianProduct" not in a["plan"]
    assert "BroadcastNestedLoopJoin" not in a["plan"]
    assert a["n_sortmerge_joins"] + a["n_broadcast_joins"] >= 1, a["plan"]


def test_pack_sequences_window_is_bucket_partitioned(spark, sf_dir):
    """The packing cumsum must never run over a global total order: a
    window without a partition key compiles to Exchange
    SinglePartition — one task at any scale. The plan must shuffle on
    the bucket key instead."""
    a = plan_audit(all_queries()["q_pack_sequences"].fn(spark, sf_dir))
    assert "SinglePartition" not in a["plan"], a["plan"]
    assert "bucket" in a["plan"]


def test_exact_rerank_no_corpus_shuffle(spark, sf_dir):
    """exact_rerank is the confirm stage of the whole PQ/IVFPQ family:
    the nq x R candidate id-pairs are small BY CONTRACT, so they must
    ride a broadcast — the raw-vector corpus must never shuffle on
    vec_id (at 100 TB that re-moves the very bytes the ADC stage
    existed to avoid touching). Pinned: no SortMergeJoin, and the only
    shuffle Exchange is the top-k window's hash partition on query_id."""
    import numpy as np
    import pandas as pd

    from zvdb_spark.functions.vector import as_double_array
    from zvdb_spark.operators.pq import exact_rerank
    from zvdb_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    dim = len(emb.select("emb").head()[0])
    ids = [r[0] for r in emb.select("vec_id").limit(40).collect()]
    cand = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.repeat(np.arange(4, dtype=np.int64), 10),
                "vec_id": np.asarray(ids, dtype=np.int64),
            }
        ),
        schema="query_id long, vec_id long",
    )
    q = np.zeros((4, dim))
    a = plan_audit(exact_rerank(cand, emb, q, k=3, cand_rows=40))
    assert a["n_sortmerge_joins"] == 0, a["plan"]
    assert a["n_broadcast_joins"] >= 2, a["plan"]  # cand AND query batch
    assert a["n_exchanges"] <= 1, a["plan"]  # the window's, nothing else

    # The gate fails SAFE: an UNBOUNDED candidate frame (cand_rows
    # omitted) must NOT get the broadcast HINT — only size-aware
    # auto-broadcast (statistics) or the always-nq-bounded query
    # batch may broadcast. Simulate "statistics say too big" by
    # disabling auto-broadcast: the cand join must then plan as a
    # shuffle join, never an executor-OOM forced broadcast.
    thresh = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thresh)
    spark.conf.set(thresh, "-1")
    try:
        a2 = plan_audit(exact_rerank(cand, emb, q, k=3))
    finally:
        spark.conf.set(thresh, prev)
    assert a2["n_broadcast_joins"] <= 1, a2["plan"]  # query batch only


def test_sample_stratified_no_rand_no_extra_shuffle(spark, sf_dir):
    """The sample is a hash predicate, not rand() (rand(seed) is
    partition-layout-dependent), and the only exchange is the report
    aggregation's."""
    a = plan_audit(all_queries()["q_sample_stratified"].fn(spark, sf_dir))
    assert "rand(" not in a["plan"].lower()
    assert a["n_exchanges"] <= 1, a["plan"]


def test_decontaminate_single_training_scan(spark, sf_dir):
    """The training side is ONE shingle pass: exactly two scans of
    documents total (eval branch + training branch), so a refactor
    that re-derives the training shingles for a second lineage use
    (the denominator's original shape) re-fails here. No cartesian
    anywhere: the eval membership check is an equi-join on the gram."""
    import re

    a = plan_audit(all_queries()["q_decontaminate"].fn(spark, sf_dir))
    plan = a["plan"]
    # count scan NODES via the formatted detail headers "(N) Scan
    # parquet" — path-based counting breaks when maxMetadataStringLength
    # truncates long Location lines. The query reads only documents,
    # so every scan node is a documents scan.
    n_doc_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_doc_scans == 2, f"{n_doc_scans} document scans:\n{plan}"
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injected_on_fact_side(spark, sf_dir):
    """The 100 TB fact⋈selective-dim shape with broadcast off (the
    regime where the dim side is too big to broadcast but still
    selective): Catalyst's InjectRuntimeFilter must build a bloom
    filter from the dim side's join keys and apply it as a
    might_contain predicate on the fact side BEFORE the join's
    shuffle — rows that cannot match never leave the scan stage. The
    thresholds are lowered to make the small test corpus look like
    that regime; the rewrite itself is what's pinned (plus result
    invariance vs the unfiltered join)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
        "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        pt = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
            F.col("p_brand") == "Brand#23"
        )
        j = (
            li.join(pt, li.l_partkey == pt.p_partkey)
            .groupBy("p_brand")
            .agg(F.sum("l_quantity").alias("q"))
        )
        a = plan_audit(j)
        assert "bloom_filter_agg" in a["plan"], a["plan"][:2000]
        assert "might_contain" in a["plan"], a["plan"][:2000]
        got = {tuple(r) for r in j.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # invariance: the runtime filter only prunes non-matching rows
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pt = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_brand") == "Brand#23"
    )
    want = {
        tuple(r)
        for r in li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum("l_quantity").alias("q"))
        .collect()
    }
    assert got == want
