"""zvdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference vector database
(``allisoneer/zvdb``, an in-memory HNSW index: ``src/hnsw.zig``).

The reference exposes three operations — ``init`` / ``insert`` /
``search`` (``src/hnsw.zig:52,73,194``) over dense numeric vectors.
This engine re-expresses those semantics (exact and approximate k-NN,
distance kernels, top-k, index build) as idiomatic Spark DataFrame /
SQL plans, and extends the surface with the relational, text-analysis,
deduplication, similarity-search and streaming operators a large-scale
training-data pipeline needs.

Layout:
    session     — SparkSession builder tuned for the engine
    sources     — Parquet table loaders / view registration
    functions   — column-level kernels (vector math, text, hashing)
    operators   — composite operators (knn, sim-join, dedup, as-of, ...)
    queries     — the declared query inventory (name -> Spark fn + oracle SQL)
    streaming   — Structured Streaming variants of the batch twins
    plans       — plan-inspection helpers (explain, shuffle audit)
"""

__version__ = "0.1.0"

__all__ = ["get_session"]


def __getattr__(name: str):
    # Lazy, so ``import zvdb_spark`` stays pyspark-free: the worker
    # daemon stub (``zvdb_spark._daemon``) imports this package before
    # it execs pyspark's daemon, and must not load pyspark to do it.
    if name == "get_session":
        from zvdb_spark.session import get_session

        return get_session
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
