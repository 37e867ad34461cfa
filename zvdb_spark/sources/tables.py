"""Parquet table sources.

The reference engine has no sources at all — data enters only via
``insert(point)`` from process memory (``src/hnsw.zig:73``). Here every
table is a Parquet scan through Spark's DataSource V2 path, which gives
predicate pushdown, column pruning and partition pruning for free; at
100 TB these tables would be directory-partitioned (e.g. orders by
month) and the same ``spark.read.parquet`` call prunes partitions.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
DIM_TABLES = ("region", "nation", "supplier")


# Expected column dtypes after load() normalization. Values are sets of
# acceptable Spark simpleString dtypes — fixtures have drifted between
# rounds (events.ts was nanos-as-long, now TIMESTAMP(MICROS)), so the
# loader diagnoses drift with a named error instead of failing later
# inside some query's analysis.
EXPECTED_SCHEMAS: dict[str, dict[str, set[str]]] = {
    "region": {"r_regionkey": {"int"}, "r_name": {"string"}},
    "nation": {
        "n_nationkey": {"int"},
        "n_name": {"string"},
        "n_regionkey": {"int"},
    },
    "customer": {
        "c_custkey": {"bigint"},
        "c_name": {"string"},
        "c_nationkey": {"int"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string"},
    },
    "supplier": {
        "s_suppkey": {"bigint"},
        "s_name": {"string"},
        "s_nationkey": {"int"},
        "s_acctbal": {"double"},
    },
    "part": {
        "p_partkey": {"bigint"},
        "p_name": {"string"},
        "p_brand": {"string"},
        "p_type": {"string"},
        "p_size": {"int"},
        "p_retailprice": {"double"},
    },
    "orders": {
        "o_orderkey": {"bigint"},
        "o_custkey": {"bigint"},
        "o_orderstatus": {"string"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp_ntz", "timestamp", "date"},
        "o_orderpriority": {"string"},
    },
    "lineitem": {
        "l_orderkey": {"bigint"},
        "l_partkey": {"bigint"},
        "l_suppkey": {"bigint"},
        "l_linenumber": {"int"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string"},
        "l_linestatus": {"string"},
        "l_shipdate": {"timestamp_ntz", "timestamp", "date"},
    },
    "events": {
        "event_id": {"bigint"},
        "ts": {"timestamp"},  # after normalization below
        "user_id": {"bigint"},
        "event_type": {"string"},
        "value": {"double"},
        "props": {"string"},
    },
    "documents": {
        "doc_id": {"bigint"},
        "text": {"string"},
        "lang": {"string"},
        "source": {"string"},
        "n_chars": {"bigint"},
    },
    "embeddings": {
        "vec_id": {"bigint"},
        "embedding": {"array<float>", "array<double>"},
        "label": {"int"},
    },
}


def _check_schema(name: str, df: DataFrame) -> None:
    """Fail fast, naming the table/column/dtype, when the fixture drifts."""
    expected = EXPECTED_SCHEMAS[name]
    actual = dict(df.dtypes)
    for col, ok in expected.items():
        got = actual.get(col)
        if got is None:
            raise ValueError(
                f"table {name!r}: expected column {col!r} missing; "
                f"present: {sorted(actual)}"
            )
        if got not in ok:
            raise ValueError(
                f"table {name!r}: column {col!r} has dtype {got!r}, "
                f"expected one of {sorted(ok)} — the testdata fixture "
                f"changed; update sources/tables.py normalization"
            )


# Session settings that parquet schema inference reads: a cached
# schema holds only while the session's values of these are unchanged.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# Per session: (files key, inference settings) -> the StructType Spark
# inferred for that path. Weakly keyed, so a stopped session's entries
# go with it.
_INFERRED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _files_key(path: str) -> tuple | None:
    """``(path, size, mtime_ns)`` of every file under ``path`` (one
    entry for a single-file table), sorted; ``None`` when ``path`` is
    not on the local file system, which leaves the read uncached."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _inference_key(spark: SparkSession, files: tuple) -> tuple:
    return files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def read_parquet_nanos_safe(spark: SparkSession, path: str) -> DataFrame:
    """The one parquet read for table loads: ``spark.read.parquet``,
    with the inferred schema reused within a session and the
    TIMESTAMP(NANOS) retry.

    Schema reuse: Spark infers a parquet schema with one job per read
    (0.10-0.14 s each, most of a cold query's planning). The first
    read of a path in a session keeps the StructType Spark inferred;
    later reads pass it back through ``spark.read.schema(s)``, which
    runs no job. The cache key is every file's (path, size, mtime_ns)
    under ``path`` plus the session's values of ``_INFERENCE_CONFS``,
    so a rewritten file, an added part file or a flipped setting
    infers again.

    NANOS retry: Spark's reader rejects TIMESTAMP(NANOS) outright
    (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
    is set, in which case the column comes back as raw long ns for the
    caller to normalize. Shared by the batch loader AND the streaming
    schema read (streaming/jobs.py), so on a nanos fixture the stream's
    own bigint branch runs instead of the read raising.

    SESSION-WIDE SIDE EFFECT, by design: the conf stays set after the
    fallback fires, because the returned DataFrame is lazy — its scan
    (and any re-execution) still needs the flag at action time, so a
    try/finally reset here would break the very read it enabled. The
    consequence is that a LATER read of some unrelated nanos parquet in
    the same session returns bigint instead of failing loudly; every
    engine loader normalizes via dtype branching (never assumes), so
    inside this package that is handled, and EXPECTED_SCHEMAS still
    catches drift by name."""
    files = _files_key(path)
    cache = _INFERRED.setdefault(spark, {})
    schema = None if files is None else cache.get(_inference_key(spark, files))
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    try:
        df = spark.read.parquet(path)
    except Exception as exc:  # nanos fixture: retry with nanosAsLong
        msg = str(exc)
        if "NANOS" not in msg.upper() and "ILLEGAL" not in msg.upper():
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if files is not None:
        # keyed after the read: the retry above changes a setting
        cache[_inference_key(spark, files)] = df.schema
    return df


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read events.parquet across fixture encodings of ``ts``.

    The fixture has stored ``ts`` two ways across rounds:

    * TIMESTAMP(MICROS) (current) — Spark 4.x reads it natively as
      TIMESTAMP_NTZ; we cast to TIMESTAMP (session TZ is pinned UTC in
      session.py, so the cast is a re-tag, not a shift) because
      downstream ``unix_micros``/window ops require TIMESTAMP and the
      DuckDB oracle reads the same bytes as TIMESTAMP.
    * TIMESTAMP(NANOS) — Spark's reader rejects it outright
      (PARQUET_TYPE_ILLEGAL) unless read as raw long ns
      (``spark.sql.legacy.parquet.nanosAsLong``); we then truncate
      ns->us in long arithmetic (``div``, not ``/`` — double division
      loses precision at 1.7e18 ns), bit-identical to DuckDB's
      ``ts::TIMESTAMP`` truncation.

    We branch on the dtype Spark actually reads, never on an assumed
    fixture encoding — the round-2 regression was exactly that
    assumption going stale.
    """
    df = read_parquet_nanos_safe(spark, path)
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":  # raw long nanoseconds (nanosAsLong path)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":  # TIMESTAMP(MICROS), Spark 4.x native read
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif dt != "timestamp":
        raise ValueError(
            f"table 'events': column 'ts' read as {dt!r}; expected one of "
            f"bigint / timestamp_ntz / timestamp — unknown fixture encoding"
        )
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (schema from footers),
    normalizing ``events.ts`` to TIMESTAMP regardless of how the
    fixture encodes it, and asserting the expected schema so fixture
    drift fails with a named diagnostic instead of a mid-analysis
    DATATYPE_MISMATCH nine queries deep.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = _read_events(spark, path)
    else:
        df = read_parquet_nanos_safe(spark, path)
    _check_schema(name, df)
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet footer metadata — a driver-side
    file-header read, zero Spark jobs. Callers that size operator grids
    by cardinality (operators/knn.py:_auto_grid) use this instead of
    ``df.count()``, which at 100 TB is a full extra scan per call. On a
    cluster the same metadata read is what the parquet footer cache /
    catalog statistics serve."""
    import pyarrow.parquet as pq

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        # directory-partitioned dataset (what these tables become at
        # 100 TB): sum per-file footer counts — still metadata-only
        return sum(
            f.metadata.num_rows
            for f in pq.ParquetDataset(path).fragments
        )
    return pq.ParquetFile(path).metadata.num_rows


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL path."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
