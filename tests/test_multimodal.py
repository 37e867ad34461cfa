"""Multimodal plumbing (operators/multimodal.py): the carry
pass-through that makes decode->aggregate a ONE-scan pipeline."""

from __future__ import annotations

from zvdb_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
)
from zvdb_spark.sources.tables import load


def test_carry_matches_join_shape(spark, sf_dir):
    """extract_features(carry=...) must produce exactly the rows the
    old two-scan join produced — same features, same metadata."""
    media = documents_as_media(load(spark, sf_dir, "documents"))
    carried = extract_features(media, carry=("meta_source",))
    joined = extract_features(media).join(
        media.select("media_id", "meta_source"), "media_id"
    )
    a = {
        (r.media_id, r.n_bytes, r.payload_md5, r.meta_source)
        for r in carried.collect()
    }
    b = {
        (r.media_id, r.n_bytes, r.payload_md5, r.meta_source)
        for r in joined.collect()
    }
    assert a == b


def test_multimodal_stats_is_one_scan(spark, sf_dir):
    """The r12 review's plan note: q_multimodal_stats used to scan
    documents twice and join the halves back on media_id. With the
    carry pass-through the plan holds ONE scan and NO join."""
    from zvdb_spark.queries.registry import all_queries

    df = all_queries()["q_multimodal_stats"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
