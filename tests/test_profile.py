"""Table-statistics query (queries/profile.py): DuckDB parity on
every cell, the two-aggregate plan shape, and generic-frame behavior
(all-null and empty inputs)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from zvdb_spark.queries.profile import (
    TABLE_STATS_ORACLE,
    q_table_stats,
    table_stats,
)


def test_duckdb_parity(spark, sf_dir):
    got = q_table_stats(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    want = con.sql(TABLE_STATS_ORACLE).df()
    assert list(got.col_name) == list(want.col_name)
    for c in ("n_rows", "n_null", "n_distinct"):
        assert got[c].tolist() == want[c].tolist(), c
    for c in ("min_num", "max_num", "avg_len"):
        g, w = got[c].fillna(-1), want[c].fillna(-1)
        assert ((g - w).abs() < 1e-6).all(), c
    for c in ("min_str", "max_str"):
        assert got[c].fillna("").tolist() == want[c].fillna("").tolist(), c


def test_two_aggregate_plan(spark, sf_dir):
    """The ANALYZE is two aggregates, one scan each: the k
    countDistincts compile to one expand (not k scans), and the plain
    stats stay out of it. Exactly two parquet scan nodes and one
    Expand, which carries only the distinct columns."""
    plan = q_table_stats(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("Expand [") == 1, plan
    expand = plan[plan.index("Expand ["):].split("\n", 1)[0]
    assert "o_totalprice" in expand, expand
    assert "length(" not in expand and "isnull(" not in expand, expand


def test_all_null_and_empty(spark):
    pdf = pd.DataFrame({"a": [None, None], "s": [None, None]})
    df = spark.createDataFrame(pdf, schema="a double, s string")
    out = {
        r.col_name: r
        for r in table_stats(df, [("a", "num"), ("s", "str")]).collect()
    }
    assert out["a"].n_rows == 2 and out["a"].n_null == 2
    assert out["a"].n_distinct == 0 and out["a"].min_num is None
    assert out["s"].avg_len is None and out["s"].min_str is None
    empty = table_stats(
        df.filter("a IS NOT NULL"), [("a", "num")]
    ).collect()
    assert len(empty) == 1 and empty[0].n_rows == 0


@pytest.mark.parametrize("bad_rows", [0])
def test_declared_query_runs(spark, sf_dir, bad_rows):
    rows = q_table_stats(spark, sf_dir).collect()
    assert len(rows) == 6
    by = {r.col_name: r for r in rows}
    # orderkey is the PK: distinct == rows, no nulls
    ok = by["o_orderkey"]
    assert ok.n_distinct == ok.n_rows and ok.n_null == bad_rows
