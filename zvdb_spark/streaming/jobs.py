"""Structured Streaming jobs — the streaming mirror of the batch
twins in queries/streaming_twins.py.

The reference's only ingest is single-point ``insert`` under a global
lock (``src/hnsw.zig:73-117``); its Spark replacement for streams is
``readStream -> transform -> writeStream`` with watermarks. These
demos actually execute a streaming query (file source over the events
parquet, availableNow trigger, memory sink) and return the sink as a
DataFrame — the driver's rows-only check observes real streaming
micro-batch execution, not a batch rewrite.

On a cluster the same code points at a directory that keeps receiving
files (or a Kafka source) with ``trigger(processingTime=...)`` and a
real sink; availableNow gives deterministic termination for tests.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of events with ``ts`` normalized to TIMESTAMP.

    The stream schema is taken from the parquet footers via the batch
    reader (readStream needs an explicit schema; hard-coding one is how
    round 2 silently shipped January-1970 windows when the fixture
    moved from nanos-as-long to TIMESTAMP(MICROS)). The schema read
    goes through the SAME nanos-retry helper as the batch loader
    (sources/tables.read_parquet_nanos_safe) — a plain read raises
    PARQUET_TYPE_ILLEGAL on a nanos fixture before the bigint branch
    below could ever run. The same dtype branch as sources/tables.py
    then applies — raw long ns gets the div-1000 truncation,
    TIMESTAMP_NTZ gets a re-tag cast (session TZ is pinned UTC).
    """
    from zvdb_spark.sources.tables import read_parquet_nanos_safe

    batch_schema = read_parquet_nanos_safe(
        spark, f"{sf_dir}/events.parquet"
    ).schema
    # FileStreamSource requires a directory; point at sf_dir and glob
    # the single events file (on a cluster this would be the landing
    # directory receiving new files).
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dt = dict(raw.dtypes).get("ts")
    if dt == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    elif dt != "timestamp":
        raise ValueError(
            f"events stream: 'ts' read as {dt!r}; expected bigint / "
            f"timestamp_ntz / timestamp"
        )
    return raw


DEMO_TIMEOUT_S = 180.0


def _await_bounded(q, timeout_s: float = DEMO_TIMEOUT_S) -> None:
    """Wait for a streaming query with a hard bound, stopping it if it
    overruns — a demo must never wedge the shared session (the batch
    queries that follow it in a harness run depend on that)."""
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            q.stop()
            q.awaitTermination(30)
    finally:
        if q.isActive:
            q.stop()


def _assert_windows_in_range(df: DataFrame, col: str) -> DataFrame:
    """Guard against silent epoch bugs: a misread ``ts`` encoding lands
    every window in January 1970 while a rows-only check still passes
    (this happened in round 2). The memory sink is already
    materialized, so the min() here is a cheap local scan."""
    lo = df.agg(F.min(col)).first()[0]
    if lo is not None and str(lo) < "2000":
        raise AssertionError(
            f"streaming demo windows start at {lo!r} — 'ts' was decoded "
            f"with the wrong epoch unit (see sources/tables.py)"
        )
    return df


def _run_to_memory_named(
    result: DataFrame, output_mode: str
) -> tuple[DataFrame, str]:
    name = f"stream_demo_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q)
    return result.sparkSession.table(name), name


def _run_to_memory(result: DataFrame, output_mode: str) -> DataFrame:
    return _run_to_memory_named(result, output_mode)[0]


def run_streaming_tumbling_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts with a 1-hour watermark, executed
    as a real streaming query. Mirrors q_stream_tumbling."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return _assert_windows_in_range(
        _run_to_memory(agg, "complete"), "win_start"
    )


def run_streaming_session_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute gap) via session_window —
    Spark's native stateful session operator — as a real streaming
    query. Mirrors q_stream_session."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    return _assert_windows_in_range(
        _run_to_memory(agg, "complete"), "session_start"
    )


def stream_join_summary(pairs: DataFrame) -> DataFrame:
    """Shared per-view-hour rollup of (view, purchase) attribution
    pairs — used by both the streaming demo and its batch twin (in
    tests/test_streaming_state.py) so the equality check compares the
    JOIN, not two aggregations."""
    return pairs.groupBy(
        F.date_format(F.date_trunc("hour", "v_ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("view_hour")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("v_user").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("purchase_value"),
    )


def _attribution_sides(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("buy_id"),
        "value",
    )
    return views, buys


_ATTRIBUTION_COND = (
    "v_user = b_user AND b_ts >= v_ts "
    "AND b_ts <= v_ts + interval 30 minutes"
)


def run_stream_stream_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (view -> purchase
    attribution): each purchase is matched to every view by the same
    user in the preceding 30 minutes. Both sides carry watermarks so
    the join's state store can EVICT — the watermark plus the time-
    range condition bound how long a buffered view can still match
    (without them a stream-stream join retains both sides forever,
    the canonical unbounded-state failure at production scale). The
    joined pairs land in an append-mode sink; the returned summary is
    a batch rollup of the sink, compared row-for-row against the
    batch twin by tests/test_streaming_state.py."""
    ev = _events_stream(spark, sf_dir)
    views, buys = _attribution_sides(ev)
    joined = views.withWatermark("v_ts", "1 hour").join(
        buys.withWatermark("b_ts", "2 hours"),
        F.expr(_ATTRIBUTION_COND),
        "inner",
    )
    sunk, name = _run_to_memory_named(joined, "append")
    _assert_windows_in_range(sunk, "v_ts")
    # Unlike the other demos, this sink holds the RAW pair set, not a
    # small aggregate — materialize the rollup and drop the sink table
    # so the pairs don't stay pinned in session memory.
    out = stream_join_summary(sunk).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def run_foreachbatch_ingest_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest via foreachBatch — the streaming mirror of
    the reference's ``insert`` (src/hnsw.zig:73-117): every micro-batch
    is merged into a durable per-user aggregate table (parquet),
    exactly how a vector/index table absorbs an append stream. The
    micro-batch callback is arbitrary batch code, so the same
    build_hnsw_index call could run here per batch.
    """
    import shutil
    import tempfile

    state_dir = tempfile.mkdtemp(prefix="zvdb_fb_state_")
    try:
        ev = _events_stream(spark, sf_dir)

        def _merge(batch_df: DataFrame, batch_id: int) -> None:
            agg = batch_df.groupBy("user_id").agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
            )
            agg.write.mode("append").parquet(state_dir)

        q = (
            ev.writeStream.foreachBatch(_merge)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)
        # compact the per-batch partial states into the final aggregate;
        # materialized so the landing parquet can be reclaimed below
        state = spark.read.parquet(state_dir)
        return state.groupBy("user_id").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def run_stateful_dedup_demo(
    spark: SparkSession, sf_dir: str, state_ttl_ms: int | None = None
) -> DataFrame:
    """Streaming exact dedup with explicit keyed state
    (``applyInPandasWithState``) — the custom stateful operator the
    built-in surface can't express.

    ``dropDuplicates`` on a stream keeps unbounded state forever; this
    operator owns its state explicitly: one entry per content
    fingerprint, first-seen-wins emission, and (``state_ttl_ms``) a
    processing-time timeout that expires entries past the dedup
    horizon — at 100 TB the state store holds only the horizon's
    fingerprints, partitioned by key across executors (state never
    crosses the driver).

    The demo defaults to NoTimeout because registering processing-time
    timeouts makes the engine schedule continuous empty micro-batches
    to evaluate them, so an ``availableNow`` query never terminates on
    its own (measured: ~1 batch/s until the harness's 180 s bound
    force-stopped it). A long-running production stream — where
    timeouts are the point — passes a TTL and a processingTime
    trigger; a bounded demo needs deterministic termination.

    The landing data is the documents table plus a duplicate echo of
    every 10th doc written as a SEPARATE file, so with
    ``maxFilesPerTrigger=1`` the duplicates arrive in a different
    micro-batch than their originals and dedup must happen through the
    state store, not within a batch. Invariant asserted before
    returning: emitted rows == distinct fingerprints in the landing
    data (each fingerprint exactly once).

    Reference parity: the reference has no streams; this is the
    streaming twin of q_doc_dedup (the pipeline op its corpus-scale
    users need). Rows-only check: micro-batch + state-store execution
    is not SQL-expressible.
    """
    import tempfile

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from zvdb_spark.sources.tables import load

    import shutil

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )
    land = tempfile.mkdtemp(prefix="zvdb_sdedup_land_")
    docs.repartition(3).write.mode("overwrite").parquet(land)
    # duplicate echo: every 10th doc re-arrives later with a new id
    echo = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "fp"
    )
    echo.coalesce(1).write.mode("append").parquet(land)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )

    out_schema = StructType(
        [
            StructField("fp", StringType()),
            StructField("kept_doc_id", LongType()),
            StructField("n_first_batch", LongType()),
        ]
    )
    state_schema = StructType([StructField("n_seen", LongType())])

    ttl = state_ttl_ms

    def _first_seen(key, pdfs, state):
        if state.hasTimedOut:
            # dedup horizon passed: drop the fingerprint so state stays
            # bounded by the horizon, not the corpus
            state.remove()
            return
        n = 0
        best = None
        for pdf in pdfs:
            n += len(pdf)
            lo = int(pdf["doc_id"].min())
            best = lo if best is None else min(best, lo)
        if state.exists:
            (n_seen,) = state.get
            state.update((n_seen + n,))
            return  # duplicate arrival: count it, emit nothing
        state.update((n,))
        if ttl is not None:
            state.setTimeoutDuration(ttl)  # dedup horizon
        yield pd.DataFrame(
            {"fp": [key[0]], "kept_doc_id": [best], "n_first_batch": [n]}
        )

    kept_stream = stream.groupBy("fp").applyInPandasWithState(
        _first_seen,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl is not None
        else GroupStateTimeout.NoTimeout,
    )
    try:
        kept = _run_to_memory(kept_stream, "update")
    finally:
        # memory sink is materialized; the landing parquet is spent
        shutil.rmtree(land, ignore_errors=True)
    n_unique = docs.select("fp").distinct().count()
    n_kept = kept.count()
    if n_kept != n_unique:
        raise AssertionError(
            f"stateful dedup emitted {n_kept} fingerprints; landing data "
            f"has {n_unique} distinct — first-seen-wins state is broken"
        )
    return kept


def run_streaming_index_ingest_demo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental INDEX ingest: embedding micro-batches
    stream into a live GraphIndex — the first batch bulk-builds, every
    later batch goes through ``GraphIndex.append`` (per-new-point
    connect + local re-prune, the reference's incremental ``insert``,
    src/hnsw.zig:73-117) — never a rebuild. After the stream drains,
    the row-conservation invariant of the reference's Concurrent
    Access test (src/test_hnsw.zig:154-209) is asserted and the final
    index is searched; the returned top-k frame is the rows-only
    check surface.
    """
    import shutil
    import tempfile

    from zvdb_spark.functions.vector import as_double_array
    from zvdb_spark.operators.graph_ann import GraphIndex
    from zvdb_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    # landing directory: several files so availableNow +
    # maxFilesPerTrigger=1 yields genuinely separate micro-batches
    land = tempfile.mkdtemp(prefix="zvdb_ingest_land_")
    emb.repartition(4).write.mode("overwrite").parquet(land)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    holder: dict[str, GraphIndex] = {}

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        if "idx" not in holder:
            holder["idx"] = GraphIndex(m=8, ef=64, seed=7).build(batch)
        else:
            holder["idx"].append(batch)

    q = (
        stream.writeStream.foreachBatch(_ingest)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_bounded(q)
    finally:
        # index state lives in its own segment dir; landing files are spent
        shutil.rmtree(land, ignore_errors=True)
    idx = holder.get("idx")
    if idx is None:
        raise ValueError(
            "stream delivered no rows to ingest — no index was built"
        )
    n_expected = emb.count()
    if idx.n_rows != n_expected:
        raise AssertionError(
            f"row conservation violated: index has {idx.n_rows} rows, "
            f"stream delivered {n_expected}"
        )
    probes = (
        emb.orderBy("vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
        .localCheckpoint(eager=True)
    )
    return idx.search(probes, k=5, n_queries=10)


def run_pq_ingest_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PQ-code ingest: freeze codebooks, then encode each
    arriving micro-batch and append the codes — the compressed-index
    twin of the foreachBatch insert demo (and of the reference's
    incremental ``insert``, src/hnsw.zig:73-117).

    Why this is trivially delta-cost where the graph append needed
    engineering: PQ codes are PER-ROW state (no cross-row edges), so
    incremental encode touches exactly the new rows — the codebooks
    are frozen at train time, as in production (re-training would
    re-encode the corpus; that is a rebuild, not an append).

    Asserted before returning: streamed codes row count equals the
    corpus count; every streamed code byte-equals the batch-encoded
    code for the same vec_id (order independence = the determinism
    contract); and the accumulated codes are SEARCHED — ADC top-k
    over the streamed codes must equal ADC top-k over batch-encoded
    codes, row for row (the R2-for-the-compressed-path loop closure:
    what streamed in is a servable index, not just bytes at rest).
    Rows-only check (micro-batch execution is not SQL-expressible);
    returns the per-code-prefix histogram so the driver sees a stable
    small frame.
    """
    import shutil
    import tempfile

    from zvdb_spark.functions.vector import as_double_array
    from zvdb_spark.operators.arrowvec import matrix
    from zvdb_spark.operators.pq import pq_encode, pq_search, pq_train
    from zvdb_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    books = pq_train(e, m_sub=16, k_codes=64, n_iter=4, sample_n=4096)

    land = tempfile.mkdtemp(prefix="zvdb_pq_land_")
    codes_dir = tempfile.mkdtemp(prefix="zvdb_pq_codes_")
    try:
        e.repartition(4).write.mode("overwrite").parquet(land)

        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )

        def _encode_batch(batch_df: DataFrame, batch_id: int) -> None:
            pq_encode(batch_df, books).write.mode("append").parquet(codes_dir)

        q = (
            stream.writeStream.foreachBatch(_encode_batch)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)

        streamed = spark.read.parquet(codes_dir)
        n_corpus = e.count()
        n_streamed = streamed.count()
        if n_streamed != n_corpus:
            raise AssertionError(
                f"streamed codes {n_streamed} != corpus {n_corpus} — "
                "row conservation broken across micro-batches"
            )
        # determinism: streamed codes == batch codes, row for row
        batch_codes = pq_encode(e, books)
        n_diff = (
            streamed.alias("s")
            .join(batch_codes.alias("b"), "vec_id")
            .filter(F.col("s.code") != F.col("b.code"))
            .count()
        )
        if n_diff:
            raise AssertionError(
                f"{n_diff} rows encoded differently under streaming — "
                "codebook closure is not deterministic"
            )
        # loop closure: SEARCH the accumulated codes. Identical codes
        # must serve identical ADC rankings regardless of how (or in
        # how many batches) they arrived — parity in its strongest
        # form, result-set equality, not a sampled recall estimate.
        probes = matrix(
            e.orderBy("vec_id").limit(5).select("emb").toArrow()["emb"],
            name="emb",
        )
        key = ["query_id", "rn"]
        s_top = (
            pq_search(streamed, books, probes, k=5)
            .toPandas()
            .sort_values(key, ignore_index=True)
        )
        b_top = (
            pq_search(batch_codes, books, probes, k=5)
            .toPandas()
            .sort_values(key, ignore_index=True)
        )
        if not s_top[["query_id", "vec_id", "rn"]].equals(
            b_top[["query_id", "vec_id", "rn"]]
        ):
            raise AssertionError(
                "ADC search over streamed codes diverges from the "
                "batch-encoded index — the streamed index is not servable"
            )
        return (
            streamed.groupBy(F.element_at("code", 1).alias("first_code"))
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(codes_dir, ignore_errors=True)


def run_shard_export_stream_demo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming corpus export with exactly-once shard appends — the
    terminal pipeline step (queries/export.py) under Structured
    Streaming: a standing base layout absorbs document micro-batches
    through ``append_shards_tx``, whose commit log makes a redelivered
    micro-batch a no-op (foreachBatch retries arrive under the same
    batch_id — the sink must fence, or every recovery duplicates
    corpus rows).

    Asserted inside: (a) a replayed batch_id returns False and leaves
    every data file byte-count-identical; (b) an orphan data file
    (simulating a crash between a batch's data write and its commit)
    is invisible to the committed reader and removed by
    vacuum_uncommitted; (c) per-shard pos over the committed view is
    gapless after the stream — the resume contract a training loader
    relies on. Returns the committed per-shard manifest."""
    import glob
    import os
    import shutil
    import tempfile

    from zvdb_spark.queries.export import (
        append_shards_tx,
        committed_manifest,
        init_commit_log,
        read_committed,
        vacuum_uncommitted,
        write_shards,
    )
    from zvdb_spark.sources.tables import load

    land = tempfile.mkdtemp(prefix="zvdb_shard_land_")
    out = tempfile.mkdtemp(prefix="zvdb_shard_out_")
    ckpt = tempfile.mkdtemp(prefix="zvdb_shard_ckpt_")
    try:
        docs = load(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 2 == 0)
        write_shards(base, out)
        init_commit_log(out)

        # landing files = the micro-batch boundaries (one per trigger)
        stream_docs = docs.filter(F.col("doc_id") % 2 == 1)
        stream_docs.repartition(3).write.mode("overwrite").parquet(land)
        schema = spark.read.parquet(land).schema

        applied: list[int] = []

        def _append(batch_df: DataFrame, batch_id: int) -> None:
            if append_shards_tx(spark, out, batch_df, batch_id):
                applied.append(batch_id)
            # redelivery drill on the spot: the same batch_id must be
            # a no-op now that its commit exists
            if append_shards_tx(spark, out, batch_df, batch_id):
                raise AssertionError(
                    f"replayed batch {batch_id} was applied twice"
                )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
            .writeStream.foreachBatch(_append)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)
        if not applied:
            raise AssertionError("stream delivered no batches")

        # crash simulation: a data file without a commit must stay
        # invisible to the committed reader and be vacuumable
        n_committed = read_committed(spark, out).count()
        shard_dir = sorted(glob.glob(os.path.join(out, "shard=*")))[0]
        src_file = glob.glob(os.path.join(shard_dir, "*.parquet"))[0]
        orphan = os.path.join(shard_dir, "part-orphan-crash.parquet")
        shutil.copyfile(src_file, orphan)
        if read_committed(spark, out).count() != n_committed:
            raise AssertionError("uncommitted orphan leaked into reads")
        removed = vacuum_uncommitted(out, grace_sec=0.0)  # quiescent demo
        if [os.path.basename(r) for r in removed] != [
            "part-orphan-crash.parquet"
        ]:
            raise AssertionError(f"vacuum removed {removed}")

        back = read_committed(spark, out).select("shard", "pos")
        byshard = (
            back.groupBy("shard")
            .agg(F.count("*").alias("n"), F.max("pos").alias("mx"))
            .collect()
        )
        total = docs.count()
        if sum(r.n for r in byshard) != total:
            raise AssertionError("committed rows != corpus rows")
        for r in byshard:
            if r.n != r.mx:
                raise AssertionError(
                    f"shard {r.shard} pos not gapless: n={r.n} max={r.mx}"
                )
        return committed_manifest(spark, out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def run_cdc_upsert_stream_demo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CHANGE FEED applied to the shard layout — the CDC
    shape every production corpus eventually needs: each micro-batch
    carries (op, doc) rows, 'del' ops become a tombstone commit and
    'add' ops an append commit, BOTH fenced under the micro-batch's
    batch_id (the two commit kinds live in disjoint label namespaces
    — d<batch> vs b<batch> — so one redelivered micro-batch re-fences
    both halves independently; delete commutes with append, so the
    pair needs no cross-commit transaction for correctness of the
    final view).

    Last-writer-wins upsert semantics, asserted inside: tombstones
    are SEQ-SCOPED (they mask only rows from data commits at or
    below the delete's seq — the Delta/Iceberg delete rule every CDC
    consumer expects), so a later re-add of a deleted id is visible
    IMMEDIATELY, and a compaction — which materializes exactly the
    deletes it saw — provably does not change the committed view,
    whenever maintenance happens to run. Also asserted: a replayed
    micro-batch is a no-op on both halves, the final committed view
    equals base - deletes + adds exactly, and (shard, pos) stays
    unique. Returns the committed per-shard manifest."""
    import shutil
    import tempfile

    from zvdb_spark.queries.export import (
        append_shards_tx,
        committed_manifest,
        compact_shards,
        delete_docs_tx,
        init_commit_log,
        read_committed,
        write_shards,
    )
    from zvdb_spark.sources.tables import load

    land = tempfile.mkdtemp(prefix="zvdb_cdc_land_")
    out = tempfile.mkdtemp(prefix="zvdb_cdc_out_")
    ckpt = tempfile.mkdtemp(prefix="zvdb_cdc_ckpt_")
    try:
        docs = load(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 2 == 0)
        write_shards(base, out)
        init_commit_log(out)

        # the change feed: deletes target base ids (doc_id % 6 == 0),
        # adds carry fresh ids shifted past the corpus
        dels = base.filter(F.col("doc_id") % 3 == 0).select(
            F.lit("del").alias("op"), "doc_id", "lang", "text"
        )
        adds = docs.filter(F.col("doc_id") % 2 == 1).select(
            F.lit("add").alias("op"),
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "lang",
            "text",
        )
        feed = dels.unionByName(adds)
        feed.repartition(3).write.mode("overwrite").parquet(land)
        schema = spark.read.parquet(land).schema

        applied: list[int] = []

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            b_dels = batch_df.filter(F.col("op") == "del").select(
                "doc_id"
            )
            b_adds = batch_df.filter(F.col("op") == "add").select(
                "doc_id", "lang", "text"
            )
            did = delete_docs_tx(spark, out, b_dels, batch_id)
            aid = append_shards_tx(spark, out, b_adds, batch_id)
            if did or aid:
                applied.append(batch_id)
            # redelivery drill: both halves must fence now
            if delete_docs_tx(spark, out, b_dels, batch_id):
                raise AssertionError(
                    f"replayed delete {batch_id} applied twice"
                )
            if append_shards_tx(spark, out, b_adds, batch_id):
                raise AssertionError(
                    f"replayed append {batch_id} applied twice"
                )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q)
        if not applied:
            raise AssertionError("change feed delivered no batches")

        back = read_committed(spark, out)
        n_base = base.count()
        n_dels = dels.count()
        n_adds = adds.count()
        if back.count() != n_base - n_dels + n_adds:
            raise AssertionError("committed view != base - dels + adds")
        if back.filter(
            (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 3 == 0)
            & (F.col("doc_id") < 1_000_000)
        ).count():
            raise AssertionError("deleted ids still visible")
        dup = (
            back.groupBy("shard", "pos").count().filter("count > 1")
            .count()
        )
        if dup:
            raise AssertionError(f"{dup} duplicated (shard, pos) slots")

        # last-writer-wins: a re-add of a tombstoned id under a LATER
        # commit is visible immediately (tombstones are seq-scoped),
        # and a compaction — which materializes exactly the deletes
        # it saw — does not change the committed view
        victim = base.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", "lang", "text"
        ).limit(1).localCheckpoint(eager=True)
        append_shards_tx(spark, out, victim, 900)
        if read_committed(spark, out).join(
            victim.select("doc_id"), "doc_id"
        ).count() != 1:
            raise AssertionError(
                "re-add of a tombstoned id is masked — the change "
                "feed must be last-writer-wins"
            )
        n_pre = read_committed(spark, out).count()
        compact_shards(spark, out)
        post = read_committed(spark, out)
        if post.count() != n_pre or post.join(
            victim.select("doc_id"), "doc_id"
        ).count() != 1:
            raise AssertionError(
                "compaction changed the committed view — maintenance "
                "must be view-invariant under live tombstones"
            )
        return committed_manifest(spark, out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
