"""SparkSession builder for zvdb_spark.

Tuned for local[N] testing but configured the way a 1000-executor
cluster run would be: AQE on (runtime re-planning, skew-join split,
partition coalescing), broadcast threshold sized so the dimension
tables (region/nation/supplier) always broadcast, Arrow enabled for
the Pandas-UDF paths, UTC session timezone so timestamp semantics
match the DuckDB oracle.

Python workers start from ``zvdb_spark._daemon``, which runs pyspark's
own daemon against the installed pyspark (the driver's package) rather
than ``$SPARK_HOME``'s ``pyspark.zip``: with those archives on a
worker's path, every task re-read their zip directories (~0.1-0.25 s
per task before any engine code ran).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory that holds the zvdb_spark package
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """48g, capped at 60% of the host's MemTotal so a default session
    cannot grow the Spark driver heap past a small host's memory. Hosts
    without ``meminfo`` get the plain 48g."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kb = int(line.split()[1])
                    cap_mb = min(cap_mb, kb * 6 // 10 // 1024)
                    break
    except OSError:
        pass
    return f"{cap_mb}m"


def get_session(
    app_name: str = "zvdb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    ``shuffle_partitions`` defaults to the core count: on a real
    cluster this would be sized to total executor cores (or left to
    AQE coalescing, which is enabled); at 100 TB you would raise
    ``spark.sql.shuffle.partitions`` into the thousands and let AQE
    coalesce — the configs below are scale-invariant.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # One BLAS thread per Python worker: each worker already owns one
    # task slot, so letting OpenBLAS/MKL spawn a full pool per worker
    # oversubscribes cores catastrophically (measured: the cell-GEMM
    # edge build ran 16 s vs ~1 s wall at 100k x 128-d). Workers
    # inherit these from the JVM environment; the driver process (and
    # its already-initialized numpy) is unaffected.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (

        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # same single-BLAS-thread contract on a real cluster, where
        # executors are separate JVMs that don't inherit our env
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Workers run pyspark's daemon through the engine stub, which
        # takes $SPARK_HOME's pyspark/py4j zips and spark-core jar off
        # the worker path: each task's importlib.invalidate_caches()
        # otherwise re-parses every archive's zip directory. The stub
        # is imported before any UDF ships the engine, so the directory
        # holding zvdb_spark/ goes on the workers' path explicitly; a
        # driver started outside the repo would otherwise fail every
        # Python task with "No module named 'zvdb_spark'".
        .config("spark.python.daemon.module", "zvdb_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
