"""Parquet source tests: the loader truncates nanosecond timestamps as
DuckDB does, and infers each file version's schema once."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from oracle_parquet_dumper_spark.sources import load_table
from oracle_parquet_dumper_spark.sources.tables import read_parquet_robust, table_path


def _sorted_rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_events_ns_timestamp_matches_duckdb(spark, sf_dir, duck):
    """The fixture's ``events.ts`` is stored as microseconds, so this checks
    the plain timestamp path against DuckDB; the nanosecond path is
    covered by ``test_ns_timestamp_file_matches_duckdb_cold_and_memoized``."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    got = {r.event_id: str(r.ts) for r in ev.collect()}
    expect = {
        eid: str(ts)
        for eid, ts in duck.sql(
            "SELECT event_id, CAST(ts AS TIMESTAMP) FROM events"
        ).fetchall()
    }
    assert got == expect


def test_split_scan_footer_read_failure_assumes_one_row_group(spark, tmp_path, monkeypatch):
    """split_scan counts parquet row groups from the file footers.  When
    that read fails it must assume ONE row group, so a scan planned as
    several splits over a one-row-group file (all rows in one task) is
    still split rather than silently left at one task."""
    import numpy as np

    from oracle_parquet_dumper_spark.sources.tables import split_scan

    path = str(tmp_path / "one_row_group.parquet")
    vals = np.random.default_rng(0).integers(0, 2**62, 12_000)
    pq.write_table(pa.table({"x": vals}), path, row_group_size=len(vals))
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    nbytes = os.path.getsize(path)

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(nbytes // 2 + 1))  # two planned splits
    try:
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() == 2
        # bytes floor at half the file: the sized target is 2 partitions,
        # which only a one-row-group (effective 1-task) scan falls short of
        monkeypatch.setenv("SPARK_GRAFT_SPLIT_SCAN_MIN_BYTES", str(nbytes // 2 + 1))

        def unreadable(*args, **kwargs):
            raise OSError("footer unreadable")

        monkeypatch.setattr(pq, "ParquetFile", unreadable)
        out = split_scan(df)
        assert out is not df
        assert out.rdd.getNumPartitions() == 2
    finally:
        spark.conf.set(key, old)


def test_ns_timestamp_file_matches_duckdb_cold_and_memoized(spark, tmp_path, count_jobs):
    """A real ``timestamp('ns')`` file with sub-microsecond digits and a
    NULL reads as TIMESTAMP_NTZ equal to DuckDB's ``CAST(ts AS TIMESTAMP)``,
    on the cold read and on the memoized one."""
    import duckdb

    path = table_path(str(tmp_path), "events")
    ts = pa.array(
        [1_700_000_000_123_456_789, None, 86_400_000_000_999, 999, -1_500],
        type=pa.timestamp("ns"),
    )
    pq.write_table(pa.table({"event_id": range(len(ts)), "ts": ts}), path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    expect = {
        eid: str(t)
        for eid, t in duckdb.sql(
            f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM read_parquet('{path}')"
        ).fetchall()
    }
    assert expect[1] == "None"
    for expected_jobs in (1, 0):  # cold, then from the memo
        ev, jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "events"))
        assert jobs == expected_jobs
        assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
        assert {r.event_id: str(r.ts) for r in ev.collect()} == expect


def test_load_table_infers_schema_once(spark, smoke_sf_dir, tmp_path, count_jobs):
    """The first read of a table runs Spark's schema-inference job; a
    second read of the same file version runs none."""
    shutil.copyfile(table_path(smoke_sf_dir, "nation"), table_path(str(tmp_path), "nation"))
    first, jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 1
    second, jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 0
    assert second.schema == first.schema
    assert _sorted_rows(second) == _sorted_rows(first)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet_robust(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet_robust(spark, path)
    assert df.columns == ["a", "b"]
    assert _sorted_rows(df) == [("1", "x"), ("2", "y")]


def test_file_added_to_directory_table_is_reinferred(spark, tmp_path, count_jobs):
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), table / "part-0.parquet")
    assert read_parquet_robust(spark, str(table)).count() == 2
    pq.write_table(pa.table({"a": [3]}), table / "part-1.parquet")
    df, jobs = count_jobs(lambda: read_parquet_robust(spark, str(table)))
    assert jobs == 1  # a new file version: inferred afresh
    assert df.count() == 3
    _, jobs = count_jobs(lambda: read_parquet_robust(spark, str(table)))
    assert jobs == 0


def test_deleted_file_still_raises_spark_error(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet_robust(spark, path).count() == 2
    os.remove(path)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet_robust(spark, path)


def test_binary_as_string_toggle_misses_memo(spark, tmp_path, count_jobs):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"p": pa.array([b"a", None], type=pa.binary())}), path)
    assert read_parquet_robust(spark, path).dtypes == [("p", "binary")]
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df, jobs = count_jobs(lambda: read_parquet_robust(spark, path))
    finally:
        spark.conf.set(key, old)
    assert jobs == 1
    assert df.dtypes == [("p", "string")]
    df, jobs = count_jobs(lambda: read_parquet_robust(spark, path))
    assert jobs == 0
    assert df.dtypes == [("p", "binary")]
