"""Vector-core declared queries — the reference's actual surface.

The reference's entire query capability is: insert points, then
``search(query, k)`` = top-k by squared L2 distance
(``src/hnsw.zig:194-236``). These queries re-express that as exact,
oracle-checkable Spark plans:

- q_knn_exact      — one probe vector vs the whole table (R6+R7)
- q_knn_batch      — every vector vs every vector, per-query top-k
- q_udf_distance   — same as q_knn_exact but with the Arrow/numpy
                     Pandas-UDF kernel; must hash-match the native one
- q_sim_join_threshold — all pairs under a distance threshold
- q_dedup_vectors  — near-duplicate canonicalization (min-id rep)
- q_vector_array_funcs — norm/dot/cosine kernels (superset of R6)
                     plus the array scalar-function pack
- q_knn_eltypes    — k-NN over int-quantized / f32 vector columns
                     (element-type parity, src/test_hnsw.zig:239-273)

Scale notes: the exact k-NN path is a scan + TakeOrderedAndProject
(per-partition heaps, then a k-row merge on the driver) — O(N) work,
O(k) result, no shuffle of the data itself. The batch variant is a
crossJoin that is quadratic by definition (the declared contract is
exact); the sub-quadratic path for big N is the LSH/blocking family in
``zvdb_spark/queries/dedup.py`` and the ANN operators in
``zvdb_spark/operators/ann.py``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import as_double_array, cosine_sim, dist_sq, dot, l2_norm
from zvdb_spark.operators.arrowvec import matrix
from zvdb_spark.queries.registry import register
from zvdb_spark.sources.tables import load

QUERY_VEC_ID = 0
KNN_K = 10
BATCH_K = 5
SIM_TAU = 1.3  # testdata min pairwise dist_sq ~1.0; 0.1% quantile ~1.24

# DuckDB squared-L2 between two DOUBLE[] expressions (same left-to-right
# double accumulation as Spark's aggregate fold).
_DD = "list_sum(list_transform(list_zip({a}, {b}), x -> (x[1]-x[2])*(x[1]-x[2])))"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb"), "label"
    )


def _probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("emb").alias("qemb"))
    )


@register(
    "q_knn_exact",
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
d AS (
  SELECT e.vec_id, e.label,
         {_DD.format(a="e.embedding::DOUBLE[]", b="q.qemb")} AS d
  FROM embeddings e, q
)
SELECT vec_id, label, round(d, 4) AS dist_sq
FROM d ORDER BY d, vec_id LIMIT {KNN_K}
""",
    tags=("vector", "flagship"),
)
def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN of one probe vector: the reference's ``search``
    (``src/hnsw.zig:194-236``) with exact instead of graph-guided
    traversal. Self-match included (cf. ``src/test_hnsw.zig:55-68``).

    Plan: parquet scan -> broadcast 1-row probe -> HOF distance ->
    TakeOrderedAndProject (orderBy+limit). No shuffle of the table.
    """
    emb = _emb(spark, sf_dir)
    q = _probe(spark, sf_dir)
    return (
        emb.join(F.broadcast(q))
        .select("vec_id", "label", dist_sq("emb", "qemb").alias("d"))
        .orderBy("d", "vec_id")
        .limit(KNN_K)
        .select("vec_id", "label", F.round("d", 4).alias("dist_sq"))
    )


@register(
    "q_knn_batch",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
d AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_DD.format(a="a.emb", b="b.emb")} AS d
  FROM e a, e b
),
r AS (
  SELECT query_id, neighbor_id, d,
         row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rn
  FROM d
)
SELECT query_id, neighbor_id, round(d, 4) AS dist_sq, rn
FROM r WHERE rn <= {BATCH_K}
""",
    tags=("vector",),
)
def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query k-NN: every vector's top-k neighbors
    (self included, dist 0 — mirrors reference self-match semantics).

    Implementation: exact search with BOTH sides as DataFrames
    (operators/knn.py:exact_search_blocked). At fixture sizes the
    probe side is under the broadcast gate: its matrix is collected
    once and broadcast, the corpus crosses one hash exchange into
    mapInArrow tasks that each compute one GEMM top-k, and the global
    merge carries only k candidates per task per query. Probe sides
    over the gate take the blocked cogroup grid instead, with no
    driver-side collect and task memory bounded at any size. This is
    the columnar/SIMD execution the reference lists as future work
    (benchmarks/benchmark.md:37-47); float64 GEMM, so the 1e-15
    accumulation-order difference vs the HOF kernel vanishes under
    round(4).
    """
    from zvdb_spark.operators.knn import exact_search_blocked
    from zvdb_spark.sources.tables import table_row_count

    e = _emb(spark, sf_dir)
    n = table_row_count(sf_dir, "embeddings")  # footer read, no scan job
    probes = e.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    return exact_search_blocked(
        e, probes, k=BATCH_K, n_corpus=n, n_probes=n
    ).select(
        "query_id",
        "neighbor_id",
        F.round("score", 4).alias("dist_sq"),
        "rn",
    )


@register(
    "q_udf_distance",
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
d AS (
  SELECT e.vec_id, e.label,
         {_DD.format(a="e.embedding::DOUBLE[]", b="q.qemb")} AS d
  FROM embeddings e, q
)
SELECT vec_id, label, round(d, 4) AS dist_sq
FROM d ORDER BY d, vec_id LIMIT {KNN_K}
""",
    tags=("vector", "udf"),
)
def q_udf_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_knn_exact, but the distance kernel is a
    numpy ``arrow_udf`` over Arrow batches — the vectorized twin of the
    reference's scalar loop (``src/hnsw.zig:187-190``). Must
    hash-match the native HOF result exactly (rounded at 4dp).

    The probe vector is a scalar query parameter (one driver-side row,
    like the reference's ``search(query, ...)`` argument), captured in
    the UDF closure — O(1) driver traffic regardless of table size.
    """
    qvec = np.asarray(
        _probe(spark, sf_dir).head()[0], dtype=np.float64
    )

    @F.arrow_udf("double")
    def udf_dist_sq(embs: pa.Array) -> pa.Array:
        d = matrix(embs, name="emb") - qvec
        return pa.array(np.einsum("ij,ij->i", d, d))

    emb = _emb(spark, sf_dir)
    return (
        emb.select("vec_id", "label", udf_dist_sq("emb").alias("d"))
        .orderBy("d", "vec_id")
        .limit(KNN_K)
        .select("vec_id", "label", F.round("d", 4).alias("dist_sq"))
    )


@register(
    "q_sim_join_threshold",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_DD.format(a="a.emb", b="b.emb")}, 4) AS dist_sq
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND {_DD.format(a="a.emb", b="b.emb")} < {SIM_TAU}
""",
    tags=("vector", "simjoin"),
)
def q_sim_join_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity join: all unordered pairs with dist_sq < tau.

    This is the all-pairs generalization of the reference's single
    probe. Threshold join with both sides as DataFrames
    (operators/knn.py:threshold_join_blocked, same plans as
    q_knn_batch): each task evaluates one GEMM and emits only pairs
    passing the threshold — pairs are emitted, never the cross
    product, and no corpus data touches the driver. At 100 TB
    additionally pre-prune candidates with the LSH band pattern
    (q_dedup_minhash).
    """
    from zvdb_spark.operators.knn import threshold_join_blocked
    from zvdb_spark.sources.tables import table_row_count

    e = _emb(spark, sf_dir)
    n = table_row_count(sf_dir, "embeddings")  # footer read, no scan job
    probes = e.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    return threshold_join_blocked(
        e, probes, tau=SIM_TAU, metric="l2_sq", upper_only=True,
        n_corpus=n, n_probes=n,
    ).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.round("score", 4).alias("dist_sq"),
    )


@register(
    "q_dedup_vectors",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr
  FROM e a, e b
  WHERE {_DD.format(a="a.emb", b="b.emb")} < {SIM_TAU}
)
SELECT vec_id, min(nbr) AS rep_id, count(*) AS group_size
FROM pairs GROUP BY vec_id
""",
    tags=("vector", "dedup"),
)
def q_dedup_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector near-duplicate canonicalization: each vector's
    representative is the minimum vec_id within distance tau
    (self included, so every row has a rep). One-hop min-id
    canonicalization — the deterministic, SQL-checkable core of
    near-dup grouping (full transitive closure is q_dedup_groups).
    Same DataFrame-native threshold-join kernel as
    q_sim_join_threshold.
    """
    from zvdb_spark.operators.knn import threshold_join_blocked
    from zvdb_spark.sources.tables import table_row_count

    e = _emb(spark, sf_dir)
    n = table_row_count(sf_dir, "embeddings")  # footer read, no scan job
    probes = e.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    return (
        threshold_join_blocked(
            e, probes, tau=SIM_TAU, metric="l2_sq", upper_only=False,
            n_corpus=n, n_probes=n,
        )
        .groupBy(F.col("query_id").alias("vec_id"))
        .agg(
            F.min("neighbor_id").alias("rep_id"),
            F.count("*").alias("group_size"),
        )
    )


@register(
    "q_vector_array_funcs",
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id,
       round(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x*x))), 4) AS l2_norm,
       round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qemb), x -> x[1]*x[2])), 4) AS dot_q,
       round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qemb), x -> x[1]*x[2]))
             / (sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x*x)))
                * sqrt(list_sum(list_transform(q.qemb, x -> x*x)))), 4) AS cos_q,
       len(e.embedding) AS dim,
       round(e.embedding[1]::DOUBLE, 4) AS first_elem,
       round(list_max(e.embedding)::DOUBLE, 4) AS max_elem,
       round(list_min(e.embedding)::DOUBLE, 4) AS min_elem,
       round(list_sort(e.embedding)[2]::DOUBLE, 4) AS second_smallest,
       len(list_filter(e.embedding, x -> x > 0)) AS n_positive
FROM embeddings e, q
""",
    tags=("vector", "scalar-math", "scalar-array"),
)
def q_vector_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector scalar-math pack (L2 norm / dot / cosine vs the probe —
    generalizing the reference's one kernel, ``src/hnsw.zig:182-192``)
    plus the array-function pack (size / element access / min / max /
    sort_array / filter), one row per vector in a single projection."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding"), as_double_array("embedding").alias("emb")
    )
    q = _probe(spark, sf_dir)
    e = F.col("embedding")
    return emb.join(F.broadcast(q)).select(
        "vec_id",
        F.round(l2_norm("emb"), 4).alias("l2_norm"),
        F.round(dot("emb", "qemb"), 4).alias("dot_q"),
        F.round(cosine_sim("emb", "qemb"), 4).alias("cos_q"),
        F.size(e).alias("dim"),
        F.round(F.element_at(e, 1).cast("double"), 4).alias("first_elem"),
        F.round(F.array_max(e).cast("double"), 4).alias("max_elem"),
        F.round(F.array_min(e).cast("double"), 4).alias("min_elem"),
        F.round(F.element_at(F.sort_array(e), 2).cast("double"), 4).alias(
            "second_smallest"
        ),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "q_knn_eltypes",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS emb_f,
         list_transform(embedding::DOUBLE[], x -> x / 3.0) AS emb_d,
         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS emb_i
  FROM embeddings
),
q AS (SELECT emb_f AS qemb_f, emb_d AS qemb_d, emb_i AS qemb_i FROM e WHERE vec_id = {QUERY_VEC_ID}),
d AS (
  SELECT e.vec_id,
         CAST(list_sum(list_transform(list_zip(e.emb_i, q.qemb_i),
              x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS d_i32,
         {_DD.format(a="e.emb_f", b="q.qemb_f")} AS d_f,
         {_DD.format(a="e.emb_d", b="q.qemb_d")} AS d_d
  FROM e, q
)
SELECT vec_id, d_i32, round(d_f, 4) AS dist_sq_f32, round(d_d, 4) AS dist_sq_f64
FROM d ORDER BY d_i32, vec_id LIMIT {KNN_K}
""",
    tags=("vector", "eltypes"),
)
def q_knn_eltypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-type parity, end to end: the reference instantiates its
    generic index over f32 / f64 / i32 (``src/test_hnsw.zig:239-273``).
    This query runs k-NN with all three element types side by side:

    * i64-quantized (fixed-point, floor(x*1000)) with an exact integer
      squared-L2 kernel — the ranking key, reproducible bit-for-bit;
    * f32 storage distance (cast to double; f32 values are exactly
      representable, so both engines agree bitwise);
    * a true f64 path over values derived as x/3.0 — NOT representable
      in f32, so the kernel genuinely runs at double precision (IEEE
      division is deterministic, so Spark and DuckDB derive identical
      doubles).
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double_array("embedding").alias("emb_f"),
        F.expr(
            "transform(cast(embedding as array<double>), x -> x / 3.0d)"
        ).alias("emb_d"),
        F.expr(
            "transform(cast(embedding as array<double>),"
            " x -> cast(floor(x * 1000) as bigint))"
        ).alias("emb_i"),
    )
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb_f").alias("qemb_f"),
        F.col("emb_d").alias("qemb_d"),
        F.col("emb_i").alias("qemb_i"),
    )
    d_i = F.expr(
        "aggregate(zip_with(emb_i, qemb_i, (x, y) -> (x-y)*(x-y)),"
        " 0L, (acc, v) -> acc + v)"
    )
    return (
        e.join(F.broadcast(q))
        .select(
            "vec_id",
            d_i.cast("bigint").alias("d_i32"),
            dist_sq("emb_f", "qemb_f").alias("d_f"),
            dist_sq("emb_d", "qemb_d").alias("d_d"),
        )
        .orderBy("d_i32", "vec_id")
        .limit(KNN_K)
        .select(
            "vec_id",
            "d_i32",
            F.round("d_f", 4).alias("dist_sq_f32"),
            F.round("d_d", 4).alias("dist_sq_f64"),
        )
    )


# ------------------------------------------------------- filtered k-NN

# Metadata predicate for the filtered search: a label band plus a key
# parity cut — compound, so the plan shows BOTH predicates pushed to
# the parquet scan (PushedFilters), not applied post-distance.
FILTER_LABEL_LO, FILTER_LABEL_HI = 2, 7

# DuckDB twin for the pytest parity check (tests/test_pipeline_queries
# .py). Registered oracle is None: the query sits past the driver's
# 50-entry check cap, where the ordering contract forbids oracled
# entries (tests/test_registry_order.py) — the parity suite runs the
# same comparison locally instead.
FILTERED_ORACLE = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
d AS (
  SELECT e.vec_id, e.label,
         {_DD.format(a="e.embedding::DOUBLE[]", b="q.qemb")} AS d
  FROM embeddings e, q
  WHERE e.label BETWEEN {FILTER_LABEL_LO} AND {FILTER_LABEL_HI}
    AND e.vec_id % 2 = 0
)
SELECT vec_id, label, round(d, 4) AS dist_sq
FROM d ORDER BY d, vec_id LIMIT {KNN_K}
"""


@register("q_knn_filtered", tags=("vector", "filtered"))
def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (hybrid) k-NN: metadata predicate + vector search —
    top-k among only the rows passing ``label BETWEEN 2 AND 7 AND
    vec_id % 2 = 0``. The reference has no notion of attribute
    filtering (its Node carries no payload, ``src/hnsw.zig:12-16``);
    for a real vector store this is the headline hard case: graph
    indexes degrade under selective filters (the filtered-ANN
    problem), while the relational engine gets it for free as
    PRE-filtering.

    Plan: the predicate is applied below the distance projection, so
    Catalyst pushes the label range into the parquet scan
    (PushedFilters) and row groups outside the band are never read —
    then the usual HOF distance + TakeOrderedAndProject over the
    survivors. Distance work is O(selectivity x N), not O(N) with a
    post-filter that can under-deliver k (the failure mode of
    post-filtered graph search). At 100 TB the scan prunes on
    partition/row-group stats before any vector math runs.
    Deterministic: exact path, ordered by (dist_sq, vec_id).
    """
    emb = _emb(spark, sf_dir).filter(
        F.col("label").between(FILTER_LABEL_LO, FILTER_LABEL_HI)
        & (F.col("vec_id") % 2 == 0)
    )
    q = _probe(spark, sf_dir)
    return (
        emb.join(F.broadcast(q))
        .select("vec_id", "label", dist_sq("emb", "qemb").alias("d"))
        .orderBy("d", "vec_id")
        .limit(KNN_K)
        .select("vec_id", "label", F.round("d", 4).alias("dist_sq"))
    )
