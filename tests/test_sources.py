"""Loader schema-drift guard.

Round 2 regressed 9/50 driver queries because the events fixture moved
from nanos-as-long to TIMESTAMP(MICROS) and the loader assumed the old
encoding. These tests pin the contract: ``load`` normalizes every
table to the dtypes in ``EXPECTED_SCHEMAS`` and diagnoses drift with a
named error, whatever the fixture stores. They also pin that a load
reuses the schema Spark inferred earlier in the session, and infers
again when a file under the path or an inference setting changes.
"""

from __future__ import annotations

import datetime
import shutil

import pytest

from zvdb_spark.sources.tables import EXPECTED_SCHEMAS, TABLES, load


def test_all_tables_load_with_expected_dtypes(spark, sf_dir):
    for name in TABLES:
        df = load(spark, sf_dir, name)
        actual = dict(df.dtypes)
        for col, ok in EXPECTED_SCHEMAS[name].items():
            assert col in actual, f"{name}.{col} missing"
            assert actual[col] in ok, (
                f"{name}.{col}: got {actual[col]}, expected one of {ok}"
            )


def test_events_ts_is_timestamp_in_plausible_range(spark, sf_dir):
    """The round-2 silent failure mode: ts decoded with the wrong epoch
    unit lands everything in January 1970. Pin a plausible range."""
    ev = load(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    row = ev.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
    assert row.lo is not None
    assert row.lo.year >= 2000, f"events.ts decoded wrong: min={row.lo}"
    assert row.hi.year <= 2100, f"events.ts decoded wrong: max={row.hi}"
    assert isinstance(row.lo, datetime.datetime)


def test_unknown_table_raises(spark, sf_dir):
    with pytest.raises(KeyError):
        load(spark, sf_dir, "nope")


def _events_dir(sf_dir, tmp_path):
    """A directory-shaped 'events.parquet' fixture of two slices, in
    ``tmp_path``; returns the source table."""
    import pyarrow.parquet as pq

    d = tmp_path / "events.parquet"
    d.mkdir()
    t = pq.read_table(f"{sf_dir}/events.parquet")
    half = len(t) // 2
    pq.write_table(t.slice(0, half), d / "part-0.parquet")
    pq.write_table(t.slice(half), d / "part-1.parquet")
    return t


def test_table_row_count_single_file_and_directory(sf_dir, tmp_path):
    """Footer-only row counts must survive the fixture becoming a
    directory-partitioned dataset (what spark.read.parquet — and
    therefore load() — already accepts silently)."""
    from zvdb_spark.sources.tables import table_row_count

    single = table_row_count(sf_dir, "events")
    assert single > 0
    _events_dir(sf_dir, tmp_path)
    assert table_row_count(str(tmp_path), "events") == single


def _jobs(spark, name, run):
    """(``run()``'s result, the number of Spark jobs it ran), counted
    through its own job group."""
    sc = spark.sparkContext
    group = f"test-sources-{name}"
    sc.setJobGroup(group, name, False)
    try:
        out = run()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_reuses_the_inferred_schema(spark, sf_dir, tmp_path):
    """Spark infers a table's parquet schema with one job; a second
    load in the same session passes that schema back and runs none."""
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    sf = str(tmp_path)
    first, n1 = _jobs(spark, "reuse-1", lambda: load(spark, sf, "orders"))
    second, n2 = _jobs(spark, "reuse-2", lambda: load(spark, sf, "orders"))
    assert (n1, n2) == (1, 0)
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_table_file_is_inferred_again(spark, sf_dir, tmp_path):
    """A file rewritten at the same path with an extra column: the
    next load sees the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "orders.parquet"
    t = pq.read_table(f"{sf_dir}/orders.parquet")
    pq.write_table(t, path)
    assert "o_extra" not in load(spark, str(tmp_path), "orders").columns
    pq.write_table(t.append_column("o_extra", pa.array(range(len(t)))), path)
    df, n = _jobs(
        spark, "rewrite", lambda: load(spark, str(tmp_path), "orders")
    )
    assert n == 1
    assert "o_extra" in df.columns
    assert df.agg({"o_extra": "max"}).first()[0] == len(t) - 1


def test_directory_table_inferred_once_until_a_part_is_added(
    spark, sf_dir, tmp_path
):
    """The directory-shaped events fixture: two loads infer once; a
    third part file makes the next load infer again, and read it."""
    import pyarrow.parquet as pq

    t = _events_dir(sf_dir, tmp_path)
    sf = str(tmp_path)
    _, n1 = _jobs(spark, "dir-1", lambda: load(spark, sf, "events"))
    _, n2 = _jobs(spark, "dir-2", lambda: load(spark, sf, "events"))
    assert (n1, n2) == (1, 0)
    pq.write_table(t.slice(0, 10), tmp_path / "events.parquet" / "part-2.parquet")
    df, n3 = _jobs(spark, "dir-3", lambda: load(spark, sf, "events"))
    assert n3 == 1
    assert df.count() == len(t) + 10


def test_flipped_inference_setting_infers_again(spark, sf_dir, tmp_path):
    """A cached schema holds only under the settings it was inferred
    with: flipping ``nanosAsLong`` makes the next read infer again,
    and flipping it back finds the first schema."""
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    sf = str(tmp_path)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    _, n1 = _jobs(spark, "conf-1", lambda: load(spark, sf, "orders"))
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false" if old == "true" else "true")
    try:
        _, n2 = _jobs(spark, "conf-2", lambda: load(spark, sf, "orders"))
    finally:
        spark.conf.set(conf, old)
    _, n3 = _jobs(spark, "conf-3", lambda: load(spark, sf, "orders"))
    assert (n1, n2, n3) == (1, 1, 0)


def test_csv_roundtrip_distinguishes_null_from_empty(spark, tmp_path):
    """q_source_formats' CSV leg writes nullValue='\\N' +
    emptyValue='\"\"' and reads back with the null marker only: NULL
    and '' must survive DISTINGUISHABLY (default CSV options collapse
    both to null on read, which would break cross-format checksum
    parity the moment a fixture carries an empty string)."""
    df = spark.createDataFrame(
        [(1, "x"), (2, ""), (3, None)], "id int, s string"
    )
    p = str(tmp_path / "csv")
    df.write.mode("overwrite").option("header", "true").option(
        "nullValue", "\\N"
    ).option("emptyValue", '""').csv(p)
    back = (
        spark.read.schema(df.schema)
        .option("header", "true")
        .option("nullValue", "\\N")
        .csv(p)
    )
    assert sorted(
        [(r.id, r.s) for r in back.collect()]
    ) == [(1, "x"), (2, ""), (3, None)]
