"""Reference-parity API facade.

The reference's entire public API is three calls (``src/zvdb.zig:1``
exports ``HNSW``): ``init(allocator, m, ef_construction)``,
``insert(point)``, ``search(query, k)`` (``src/hnsw.zig:52,73,194``).
``VectorIndex`` offers the same shape to a user switching from the
reference, backed by the engine's DataFrame operators:

    idx = VectorIndex(spark, m=16, ef_construction=200)   # R1 init
    idx.insert_batch(df)        # R2 ingest (batch, not point-at-a-time)
    idx.build()                 # partitioned graph build (R2-R5)
    idx.search(vec, k=10)       # R7 exact (oracle semantics)
    idx.search(vec, k=10, approximate=True)  # R7 ANN (graph path)
    idx.count()                 # nodes.count() analog

Differences from the reference, each deliberate (SURVEY §2.1):
- ingest is batch-oriented (DataFrames), not a locked single-point
  insert; row identity comes from the caller's id column, not a global
  counter under a mutex (src/hnsw.zig:77);
- all randomness is seeded -> same data + seed = same index, unlike
  the reference's CSPRNG build (src/hnsw.zig:176);
- ``ef_construction`` is accepted for signature parity but unused —
  faithfully mirroring the reference, where it is stored and never
  read (src/hnsw.zig:52-62, dead parameter).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.arrowvec import list_array
from zvdb_spark.operators.graph_ann import GraphIndex


class VectorIndex:
    """Append-only vector index (the reference is append-only too:
    insert + search, no delete/update — src/hnsw.zig:73,194)."""

    def __init__(
        self,
        spark: SparkSession,
        m: int = 16,
        ef_construction: int = 200,
        seed: int = 42,
    ) -> None:
        self.spark = spark
        self.m = m
        self.ef_construction = ef_construction  # parity: stored, unused
        self.seed = seed
        self._vectors: DataFrame | None = None
        self._graph: GraphIndex | None = None

    # -- ingest (R2) -------------------------------------------------
    def insert_batch(
        self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> "VectorIndex":
        """Append a batch of vectors. Duplicate points are distinct
        rows as in the reference (src/test_hnsw.zig:104-119); ids must
        be caller-unique.

        Before ``build()`` the batch just accumulates; after it, the
        batch is INSERTED INCREMENTALLY into the existing index —
        exact-path shards extend and the ANN graph absorbs the delta
        via GraphIndex.append (per-new-point connect + local re-prune,
        the reference's incremental ``insert``, src/hnsw.zig:73-117 —
        never a rebuild)."""
        batch = df.select(
            F.col(id_col).cast("long").alias("vec_id"),
            as_double_array(vec_col).alias("emb"),
        )
        if self._vectors is None:
            self._vectors = batch
            return self
        self._vectors = self._vectors.unionAll(batch)
        if self._graph is not None:
            self._graph.append(batch)
        return self

    def build(self) -> "VectorIndex":
        """Materialize the index (bulk form of R2-R5; subsequent
        insert_batch calls append incrementally instead of
        invalidating). One build serves both paths: the graph for ANN
        search and its mmap vector segments for exact search — no
        second copy of the corpus exists anywhere. The graph edges are
        built eagerly even for exact-only callers: that is the
        reference's own contract (insert always builds the graph,
        src/hnsw.zig:73-117); exact-only pipelines that want to skip
        the edge cost should use operators/segments.SegmentCorpus
        directly."""
        if self._vectors is None:
            raise ValueError("insert_batch first: index is empty")
        self._graph = GraphIndex(m=self.m, seed=self.seed).build(self._vectors)
        return self

    # -- search (R7) -------------------------------------------------
    def search(
        self, query, k: int = 10, approximate: bool = False
    ) -> DataFrame:
        """Top-k by squared L2 (ascending; squared distances as the
        reference returns, src/hnsw.zig:191). k > N returns N rows;
        empty index returns empty.

        One schema for every path (exact / approximate / empty):
        (query_id, neighbor_id, score, rn).
        """
        # a batch of zero rows is an empty index too (build() rejects it)
        if self._vectors is None or (
            self._graph is None and self._vectors.isEmpty()
        ):
            return self.spark.createDataFrame(
                [], "query_id long, neighbor_id long, score double, rn int"
            )
        if self._graph is None:
            self.build()
        q = np.atleast_2d(np.asarray(query, dtype=np.float64))
        qdf = self._qdf(q)
        if approximate:
            from pyspark.sql import Window as W

            out = self._graph.search(qdf, k=k, n_queries=len(q))
            out = out.withColumnsRenamed(
                {"vec_id": "neighbor_id", "dist_sq": "score"}
            )
            w = W.partitionBy("query_id").orderBy("score", "neighbor_id")
            return out.withColumn("rn", F.row_number().over(w))
        return self._graph.exact_search(
            qdf, k=k, dtype="float64", n_queries=len(q)
        )

    def _qdf(self, q: np.ndarray) -> DataFrame:
        return self.spark.createDataFrame(
            pa.table({"query_id": np.arange(len(q)), "qemb": list_array(q)}),
            "query_id long, qemb array<double>",
        )

    # -- misc --------------------------------------------------------
    def count(self) -> int:
        return 0 if self._vectors is None else self._vectors.count()

    def edges(self) -> DataFrame | None:
        return self._graph.edges if self._graph is not None else None

    # -- persistence (engine extra: the reference has no storage) ----
    def save(self, path: str) -> str:
        """Persist the index (builds first if needed); reopen in any
        later session with ``VectorIndex.load``. Forwarded to
        GraphIndex.save — a KB-scale manifest beside the mmap segment
        files, no corpus movement."""
        if self._graph is None:
            self.build()
        return self._graph.save(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VectorIndex":
        """Reopen a saved index without running a job; the vector
        frame is lazily re-derived from the segments (the
        authoritative snapshot), so search/insert_batch/count all
        work as if built in this session."""
        g = GraphIndex.load(spark, path)
        idx = cls(spark, m=g.m, seed=g.seed)
        idx._graph = g
        # reuse the graph's own segment-read frame — one lineage, not
        # two independent plans over the same files
        idx._vectors = g.celled.select("vec_id", "emb")
        return idx

    # -- teardown (R9) -----------------------------------------------
    def deinit(self) -> None:
        """R9 teardown (``deinit``, src/hnsw.zig:64-71): retire the
        graph's segment files (unlinked after the grace window —
        in-flight readers survive, GraphIndex.retire) and drop every
        reference. The index is reusable: insert_batch starts fresh.
        Unlike the reference there is no allocator to free — the
        vector DataFrames are GC'd lineage, not owned memory."""
        if self._graph is not None:
            self._graph.retire()
            self._graph = None
        self._vectors = None
