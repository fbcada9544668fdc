"""Export-parity tests, modeled on the reference's e2e smoke
(tests/basic_test.py:34-40: layout + naming + rows>0) plus the semantics
SURVEY.md §1-2 calls out: regex include/exclude, type pruning, lowercase
renames, overwrite guard, row limit, empty-table skip, size rolling."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oracle_parquet_dumper_spark.catalog import (
    JdbcCatalog,
    ParquetDirectoryCatalog,
    eligible_fields,
    matches,
)
from oracle_parquet_dumper_spark.exporter import SparkParquetExporter, exporter


@pytest.fixture(scope="module")
def source_dir(tmp_path_factory):
    """A miniature database directory: two real tables + one empty table
    + one table whose only data column is binary."""
    src = tmp_path_factory.mktemp("src")
    region = pq.read_table("/root/testdata/sf0.001/region.parquet")
    nation = pq.read_table("/root/testdata/sf0.001/nation.parquet")
    pq.write_table(region, src / "REGION.parquet")
    pq.write_table(nation, src / "NATION.parquet")
    pq.write_table(region.slice(0, 0), src / "EMPTYTAB.parquet")
    pq.write_table(
        pa.table({"payload": pa.array([b"a", b"b"], type=pa.binary())}),
        src / "BINONLY.parquet",
    )
    return str(src)


def test_layout_and_naming(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    results = exporter(spark, source_dir, out, table_name_include_pattern="REGION")
    assert [r.table for r in results] == ["REGION"]
    # reference layout: <out>/<schema>/<table>/<table>_0.parquet (basic_test.py:35)
    path = os.path.join(out, "main", "REGION", "REGION_0.parquet")
    assert os.path.exists(path)
    assert pq.read_table(path).num_rows > 0
    assert not os.path.exists(os.path.join(out, "main", "REGION", "_SUCCESS"))


def test_include_exclude_patterns(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    results = exporter(
        spark,
        source_dir,
        out,
        table_name_include_pattern="N|REGION",
        table_name_exclude_pattern="EMPTY",
    )
    names = sorted(r.table for r in results)
    # substring regex semantics (REGEXP_LIKE): BINONLY matches 'N'
    assert names == ["BINONLY", "NATION", "REGION"]


def test_lowercase_object_names(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    exporter(
        spark,
        source_dir,
        out,
        table_name_include_pattern="NATION",
        lowercase_object_names=True,
    )
    path = os.path.join(out, "main", "nation", "nation_0.parquet")
    assert os.path.exists(path)
    cols = pq.read_schema(path).names
    assert cols == [c.lower() for c in cols]


def test_overwrite_guard(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    exporter(spark, source_dir, out, table_name_include_pattern="REGION")
    with pytest.raises(RuntimeError, match="exists and overwrite is not allowed"):
        exporter(spark, source_dir, out, table_name_include_pattern="REGION")
    exporter(spark, source_dir, out, table_name_include_pattern="NATION", overwrite=True)
    # rmtree semantics: previous contents are gone (main.py:225-232)
    assert not os.path.exists(os.path.join(out, "main", "REGION"))
    assert os.path.exists(os.path.join(out, "main", "NATION"))


def test_row_limit(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    exporter(spark, source_dir, out, table_name_include_pattern="NATION", row_limit=7)
    path = os.path.join(out, "main", "NATION", "NATION_0.parquet")
    assert pq.read_table(path).num_rows == 7


def test_empty_table_writes_no_file(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    results = exporter(spark, source_dir, out, table_name_include_pattern="EMPTYTAB")
    assert results[0].skipped == "empty"
    assert not os.path.exists(os.path.join(out, "main", "EMPTYTAB"))


def test_binary_only_table_skipped(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    results = exporter(spark, source_dir, out, table_name_include_pattern="BINONLY")
    assert results[0].skipped == "no_eligible_columns"


def test_binary_column_pruned_not_whole_table(spark):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField("iv", T.DayTimeIntervalType()),
        ]
    )
    assert eligible_fields(schema) == ["id"]


def test_size_rolling_multiple_files(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    # ~3KB target over a 6k-row table forces several rolled files
    exporter(
        spark,
        source_dir,
        out,
        table_name_include_pattern="NATION",
        parquet_max_file_size=300,
    )
    files = os.listdir(os.path.join(out, "main", "NATION"))
    assert len(files) > 1
    assert sorted(files)[0] == "NATION_0.parquet"
    total = sum(
        pq.read_table(os.path.join(out, "main", "NATION", f)).num_rows for f in files
    )
    assert total == 25


def test_compression_methods(spark, source_dir, tmp_path):
    for method in ("none", "snappy", "gzip", "zstd"):
        out = str(tmp_path / f"out_{method}")
        exporter(
            spark, source_dir, out, table_name_include_pattern="REGION", compression_method=method
        )
        path = os.path.join(out, "main", "REGION", "REGION_0.parquet")
        meta = pq.ParquetFile(path).metadata.row_group(0).column(0)
        expect = "UNCOMPRESSED" if method == "none" else method.upper()
        assert meta.compression == expect
    with pytest.raises(ValueError):
        exporter(spark, source_dir, str(tmp_path / "bad"), compression_method="lz99")


def test_regex_matcher_semantics():
    # Oracle REGEXP_LIKE is substring-match, not anchored
    assert matches("LINEITEM", "ITEM", None)
    assert not matches("LINEITEM", "^ITEM", None)
    assert not matches("LINEITEM", ".*", "LINE")


def test_jdbc_sql_generation():
    """The dictionary SQL the JDBC catalog pushes down mirrors the
    reference's generated SQL (main.py:92-99, 195-207)."""
    sql = JdbcCatalog.tables_sql("SYSTEM", "HELP", None)
    assert "REGEXP_LIKE(table_name, 'HELP')" in sql
    assert "NOT REGEXP_LIKE" not in sql
    assert sql.endswith("ORDER BY table_name ASC")
    sql2 = JdbcCatalog.tables_sql("S", ".*", "TMP_")
    assert "AND NOT REGEXP_LIKE(table_name, 'TMP_')" in sql2
    csql = JdbcCatalog.columns_sql("S", "T")
    for t in ("BLOB", "BFILE", "CLOB", "UNDEFINED", "UROWID", "LONG", "RAW"):
        assert f"'{t}'" in csql
    assert "NOT LIKE 'INTERVAL %'" in csql
    assert csql.endswith("ORDER BY column_id ASC")


def test_jdbc_sql_quote_escaping():
    """Names/patterns containing single quotes must not break (or inject
    into) the generated dictionary SQL — the reference uses bind
    variables; the JDBC query option requires escaping instead."""
    sql = JdbcCatalog.tables_sql("O'BRIEN", "A'B", "C'D")
    assert "owner = 'O''BRIEN'" in sql
    assert "REGEXP_LIKE(table_name, 'A''B')" in sql
    assert "NOT REGEXP_LIKE(table_name, 'C''D')" in sql
    csql = JdbcCatalog.columns_sql("O'BRIEN", "T'1")
    assert "owner = 'O''BRIEN'" in csql and "table_name = 'T''1'" in csql


def test_catalog_listing(spark, source_dir):
    cat = ParquetDirectoryCatalog(spark, source_dir)
    assert cat.list_schemas() == ["main"]
    assert cat.list_tables("main") == ["BINONLY", "EMPTYTAB", "NATION", "REGION"]
    assert cat.read_table("main", "REGION").count() == 5


def test_partitioned_write_layout_and_pruning(spark, tmp_path):
    """A15 extension: hive-partitioned table export; a filter on the
    partition column must prune to one directory (PartitionFilters)."""
    from oracle_parquet_dumper_spark.catalog import ParquetDirectoryCatalog

    out = str(tmp_path / "out")
    cat = ParquetDirectoryCatalog(spark, "/root/testdata/sf0.001")
    SparkParquetExporter(
        spark=spark,
        catalog=cat,
        output_path=out,
        table_name_include_pattern="^orders$",
        partition_by={"orders": ["o_orderstatus"]},
    ).export_tables()
    tdir = os.path.join(out, "main", "orders")
    parts = sorted(e for e in os.listdir(tdir) if e.startswith("o_orderstatus="))
    assert len(parts) == 3  # O / F / P
    df = spark.read.parquet(tdir).where("o_orderstatus = 'F'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert df.count() > 0


def test_concurrent_table_export(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    results = exporter(
        spark,
        source_dir,
        out,
        table_name_include_pattern="REGION|NATION",
        max_concurrent_tables=2,
    )
    assert sorted(r.table for r in results) == ["NATION", "REGION"]
    assert all(r.skipped is None for r in results)
    for t in ("REGION", "NATION"):
        assert os.path.exists(os.path.join(out, "main", t, f"{t}_0.parquet"))


def test_concurrent_export_runs_in_callers_job_group(spark, source_dir, tmp_path, count_jobs):
    """Pool threads carry the caller's Spark local properties: every job
    of a concurrent export lands in the caller's job group, as many as a
    serial export runs."""
    catalog = ParquetDirectoryCatalog(spark, source_dir)
    for t in ("REGION", "NATION"):
        catalog.read_table("main", t)  # schema memo warm: same jobs on both runs
    jobs = {}
    for n in (1, 2):
        exp = SparkParquetExporter(
            spark=spark,
            catalog=catalog,
            output_path=str(tmp_path / f"out{n}"),
            table_name_include_pattern="REGION|NATION",
            max_concurrent_tables=n,
        )
        results, jobs[n] = count_jobs(exp.export_tables)
        assert [r.rows for r in results] == [25, 5]
    assert jobs[1] == jobs[2] > 0, jobs


def test_rows_from_observed_metric(spark, source_dir, tmp_path):
    """ExportResult.rows comes from the write job's Observation — always
    populated (reference parity: rows_exported is always reported), with
    a single pass over the data (no post-write re-scan)."""
    out = str(tmp_path / "out")
    results = exporter(spark, source_dir, out, table_name_include_pattern="REGION")
    assert results[0].rows == 5
    out2 = str(tmp_path / "out2")
    results2 = exporter(spark, source_dir, out2, table_name_include_pattern="NATION")
    assert results2[0].rows == 25
    out3 = str(tmp_path / "out3")
    results3 = exporter(
        spark, source_dir, out3, table_name_include_pattern="NATION", row_limit=7
    )
    assert results3[0].rows == 7


def test_jdbc_bounds_sql():
    sql = JdbcCatalog.bounds_sql("S", "T", "ID")
    assert sql == 'SELECT MIN("ID") AS lo, MAX("ID") AS hi FROM "S"."T"'
    sql_scn = JdbcCatalog.bounds_sql("S", "T", "ID", scn=12345)
    assert 'AS OF SCN 12345' in sql_scn


def test_cli_dotenv_defaults(spark, source_dir, tmp_path, monkeypatch):
    """Reference parity (main.py:28): flag defaults come from a .env file
    in the working directory when the vars are not already set."""
    import os

    from oracle_parquet_dumper_spark.cli import main

    out = tmp_path / "envout"
    (tmp_path / ".env").write_text(
        f"OUTPUT_PATH={out}\nTABLE_NAME_INCLUDE_PATTERN=REGION\n"
    )
    monkeypatch.chdir(tmp_path)
    for var in ("OUTPUT_PATH", "TABLE_NAME_INCLUDE_PATTERN"):
        monkeypatch.delenv(var, raising=False)
    try:
        assert main(["--source-path", source_dir]) == 0
        assert (out / "main" / "REGION" / "REGION_0.parquet").exists()
    finally:
        # load_dotenv mutates the process env; don't leak into other tests
        for var in ("OUTPUT_PATH", "TABLE_NAME_INCLUDE_PATTERN"):
            os.environ.pop(var, None)


def test_cli_bad_source_path_graceful():
    from oracle_parquet_dumper_spark.cli import main

    assert main(["--source-path", "/nonexistent/xyz", "--output-path", "/tmp/never"]) == 2


def test_cli_no_source_args_graceful():
    from oracle_parquet_dumper_spark.cli import main

    assert main(["--output-path", "/tmp/never"]) == 2


def test_incremental_export_watermark(spark, tmp_path):
    """First incremental run exports everything and records the high-water
    mark; a second run after new source rows appends ONLY the delta and
    advances the mark; a third no-change run writes nothing."""
    import json

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64()), "v": pa.array(["a", "b", "c"])}),
        src / "EVT.parquet",
    )
    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
    )
    r1 = exp.export_tables_incremental({"EVT": "id"})
    assert [x.rows for x in r1] == [3]
    state = json.load(open(out / "_incremental_state.json"))
    assert state == {"main.EVT": "3"}
    target = out / "main" / "EVT"
    n_files_1 = len([f for f in os.listdir(target) if f.endswith(".parquet")])

    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                  "v": pa.array(["a", "b", "c", "d", "e"])}),
        src / "EVT.parquet",
    )
    r2 = exp.export_tables_incremental({"EVT": "id"})
    assert [x.rows for x in r2] == [2]
    assert json.load(open(out / "_incremental_state.json")) == {"main.EVT": "5"}
    got = {(r.id, r.v) for r in spark.read.parquet(str(target)).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")}
    n_files_2 = len([f for f in os.listdir(target) if f.endswith(".parquet")])
    assert n_files_2 > n_files_1
    # reference naming: contiguous EVT_<n>.parquet sequence, no part- files
    names = sorted(f for f in os.listdir(target) if f.endswith(".parquet"))
    assert names == [f"EVT_{i}.parquet" for i in range(len(names))]

    r3 = exp.export_tables_incremental({"EVT": "id"})
    assert [x.skipped for x in r3] == ["up_to_date"]
    assert len(os.listdir(target)) == n_files_2


def test_incremental_export_timestamp_watermark(spark, tmp_path):
    """Timestamp watermarks round-trip through the JSON state file."""
    import datetime as dt
    import json

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    ts = [dt.datetime(2024, 1, 1, 0, 0, i) for i in range(3)]
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us")), "v": pa.array([1, 2, 3], pa.int64())}),
        src / "LOG.parquet",
    )
    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
    )
    assert [x.rows for x in exp.export_tables_incremental({"LOG": "ts"})] == [3]
    ts2 = ts + [dt.datetime(2024, 1, 1, 0, 0, 9)]
    pq.write_table(
        pa.table({"ts": pa.array(ts2, pa.timestamp("us")), "v": pa.array([1, 2, 3, 4], pa.int64())}),
        src / "LOG.parquet",
    )
    r2 = exp.export_tables_incremental({"LOG": "ts"})
    assert [x.rows for x in r2] == [1]
    assert spark.read.parquet(str(out / "main" / "LOG")).count() == 4


def test_cli_incremental_flag(spark, tmp_path):
    """--incremental TABLE:COLUMN routes through the watermark path: a
    second identical run appends nothing."""
    import json

    from oracle_parquet_dumper_spark.cli import main, parse_incremental

    assert parse_incremental(["EVT:id", "LOG:ts"]) == {"EVT": "id", "LOG": "ts"}
    import pytest as pt

    with pt.raises(ValueError):
        parse_incremental(["noseparator"])

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()), "v": pa.array(["a", "b"])}),
        src / "EVT.parquet",
    )
    argv = ["--source-path", str(src), "--output-path", str(out), "--incremental", "EVT:id"]
    assert main(argv) == 0
    assert json.load(open(out / "_incremental_state.json")) == {"main.EVT": "2"}
    files_1 = sorted(os.listdir(out / "main" / "EVT"))
    assert main(argv) == 0  # no new rows, no new files
    assert sorted(os.listdir(out / "main" / "EVT")) == files_1
    assert main(["--source-path", str(src), "--output-path", str(out), "--incremental", "bad"]) == 2


def test_compact_table_merges_small_files(spark, tmp_path):
    """Many small appended files compact into few target-sized ones with
    identical content and reference naming."""
    from oracle_parquet_dumper_spark.exporter import compact_table

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
    )
    # five incremental runs -> at least five small files
    for hi in range(10, 60, 10):
        pq.write_table(
            pa.table({"id": pa.array(list(range(hi)), pa.int64()),
                      "v": pa.array([f"row{i}" for i in range(hi)])}),
            src / "T.parquet",
        )
        exp.export_tables_incremental({"T": "id"})
    target = out / "main" / "T"
    before = [f for f in os.listdir(target) if f.endswith(".parquet")]
    assert len(before) >= 5
    n = compact_table(spark, str(target), "T")
    after = sorted(f for f in os.listdir(target) if f.endswith(".parquet"))
    assert n == len(after) < len(before)
    assert after == [f"T_{i}.parquet" for i in range(len(after))]
    got = {(r.id, r.v) for r in spark.read.parquet(str(target)).collect()}
    assert got == {(i, f"row{i}") for i in range(50)}


def _mini_src(tmp_path, n=3):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array(list(range(1, n + 1)), pa.int64()),
                  "v": pa.array([f"r{i}" for i in range(1, n + 1)])}),
        src / "EVT.parquet",
    )
    return src


def _inc_exporter(spark, src, out):
    return SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
    )


def test_incremental_watermark_rejects_string_type(spark, tmp_path):
    """A string watermark compares lexicographically ('9' > '10') and
    would corrupt the high-water mark — rejected up front."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "v": pa.array(["a"])}),
        src / "EVT.parquet",
    )
    exp = _inc_exporter(spark, src, tmp_path / "out")
    with pytest.raises(ValueError, match="lexicographically"):
        exp.export_table_incremental("main", "EVT", "v")


def test_incremental_watermark_case_insensitive_and_missing(spark, tmp_path):
    """Spark resolves columns case-insensitively; the watermark lookup
    must too — and a misspelled column gets a clear error, not KeyError."""
    import json

    src = _mini_src(tmp_path)
    out = tmp_path / "out"
    exp = _inc_exporter(spark, src, out)
    r = exp.export_table_incremental("main", "EVT", "ID")  # actual column: id
    assert r.rows == 3
    assert json.load(open(out / "_incremental_state.json")) == {"main.EVT": "3"}
    with pytest.raises(ValueError, match="not found"):
        exp.export_table_incremental("main", "EVT", "nope")


def test_incremental_unmatched_watermark_warns(spark, tmp_path, caplog):
    """A typo'd watermark key must not vanish silently."""
    import logging

    src = _mini_src(tmp_path)
    exp = _inc_exporter(spark, src, tmp_path / "out")
    with caplog.at_level(logging.WARNING, logger="oracle_parquet_dumper_spark.exporter"):
        results = exp.export_tables_incremental({"EVT": "id", "TYPO_TBL": "id"})
    assert [x.rows for x in results] == [3]
    assert any("TYPO_TBL" in rec.getMessage() for rec in caplog.records)


def test_incremental_crash_between_stage_and_commit(spark, tmp_path):
    """Crash AFTER the pending manifest is written but BEFORE any file
    move: recovery completes the commit — no lost rows, no duplicates."""
    import json

    src = _mini_src(tmp_path, n=3)
    out = tmp_path / "out"
    exp = _inc_exporter(spark, src, out)
    exp.export_tables_incremental({"EVT": "id"})

    # new source rows arrive
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                  "v": pa.array(["r1", "r2", "r3", "r4", "r5"])}),
        src / "EVT.parquet",
    )
    # simulate the crash: run the export but die right before the commit
    real_commit = SparkParquetExporter._commit_pending
    try:
        SparkParquetExporter._commit_pending = lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("simulated crash")
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            exp.export_table_incremental("main", "EVT", "id")
    finally:
        SparkParquetExporter._commit_pending = real_commit
    # manifest exists, watermark NOT advanced, delta only staged
    assert os.path.exists(out / "_incremental_pending.json")
    assert json.load(open(out / "_incremental_state.json")) == {"main.EVT": "3"}

    # re-run: recovery commits the staged delta FIRST, then finds no new rows
    r = exp.export_tables_incremental({"EVT": "id"})
    assert [x.skipped for x in r] == ["up_to_date"]
    assert not os.path.exists(out / "_incremental_pending.json")
    assert json.load(open(out / "_incremental_state.json")) == {"main.EVT": "5"}
    got = sorted(
        (r.id, r.v) for r in spark.read.parquet(str(out / "main" / "EVT")).collect()
    )
    assert got == [(i, f"r{i}") for i in range(1, 6)]


def test_incremental_crash_mid_move(spark, tmp_path):
    """Crash partway through the file moves (some staged files moved,
    some not): recovery is idempotent — every file lands exactly once."""
    import json

    src = _mini_src(tmp_path, n=3)
    out = tmp_path / "out"
    exp = _inc_exporter(spark, src, out)
    exp.export_tables_incremental({"EVT": "id"})
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                  "v": pa.array(["r1", "r2", "r3", "r4", "r5"])}),
        src / "EVT.parquet",
    )
    real_commit = SparkParquetExporter._commit_pending
    try:
        SparkParquetExporter._commit_pending = lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("simulated crash")
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            exp.export_table_incremental("main", "EVT", "id")
    finally:
        SparkParquetExporter._commit_pending = real_commit
    # hand-apply HALF the moves, as if we died mid-loop
    manifest = json.load(open(out / "_incremental_pending.json"))
    moves = sorted(manifest["moves"].items())
    for part, final in moves[: len(moves) // 2 or 1]:
        os.replace(
            os.path.join(manifest["staging"], part),
            os.path.join(manifest["target"], final),
        )

    r = exp.export_tables_incremental({"EVT": "id"})
    assert [x.skipped for x in r] == ["up_to_date"]
    assert json.load(open(out / "_incremental_state.json")) == {"main.EVT": "5"}
    got = sorted(
        (r.id, r.v) for r in spark.read.parquet(str(out / "main" / "EVT")).collect()
    )
    assert got == [(i, f"r{i}") for i in range(1, 6)]
    names = sorted(
        f for f in os.listdir(out / "main" / "EVT") if f.endswith(".parquet")
    )
    assert names == [f"EVT_{i}.parquet" for i in range(len(names))]


def test_compact_table_crash_recovery(spark, tmp_path):
    """compact_table's swap never leaves the table dir missing: a crash
    after moving the live dir aside is recovered on the next call."""
    import shutil

    from oracle_parquet_dumper_spark.exporter import compact_table

    src = _mini_src(tmp_path, n=20)
    out = tmp_path / "out"
    exp = _inc_exporter(spark, src, out)
    exp.export_tables_incremental({"EVT": "id"})
    target = str(out / "main" / "EVT")

    # simulate the worst crash window: live dir moved aside, new dir not yet in place
    os.rename(target, target + ".compact.old")
    n = compact_table(spark, target, "EVT")
    assert n >= 1
    assert not os.path.exists(target + ".compact.old")
    got = {(r.id, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(i, f"r{i}") for i in range(1, 21)}

    # stale .old alongside a live dir (crash after swap) is garbage-collected
    shutil.copytree(target, target + ".compact.old")
    compact_table(spark, target, "EVT")
    assert not os.path.exists(target + ".compact.old")


def test_validate_export_read_back(spark, source_dir, tmp_path):
    """--validate read-back: clean export passes; a tampered output
    (deleted data file) is caught with a row-count mismatch."""
    from oracle_parquet_dumper_spark.cli import main
    from oracle_parquet_dumper_spark.exporter import validate_export

    out = tmp_path / "out"
    rc = main(["--source-path", source_dir, "--output-path", str(out), "--validate"])
    assert rc == 0

    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, source_dir),
        output_path=str(out),
        overwrite=True,
    )
    results = exp.export_tables()
    report = validate_export(spark, str(out), results)
    assert report and all(v.ok for v in report)

    # tamper: drop one data file from a multi-row table
    target = out / "main" / "NATION"
    victim = sorted(f for f in os.listdir(target) if f.endswith(".parquet"))[0]
    os.remove(target / victim)
    report2 = validate_export(spark, str(out), results)
    bad = [v for v in report2 if not v.ok]
    assert any(
        v.table == "NATION"
        and ("read-back rows" in v.issues[0] or "unreadable output" in v.issues[0])
        for v in bad
    )


def test_incremental_all_null_watermark_raises(spark, tmp_path):
    """A non-empty first delta whose watermark column is entirely NULL must
    raise (not store the literal string "None" as the high-water mark, which
    would poison every subsequent run), leave state unwritten, and let a
    later run with real watermark values proceed cleanly."""
    import json

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([None, None], pa.int64()),
                  "v": pa.array(["a", "b"])}),
        src / "EVT.parquet",
    )
    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
    )
    with pytest.raises(ValueError, match="NULL for every row"):
        exp.export_tables_incremental({"EVT": "id"})
    assert not os.path.exists(out / "_incremental_state.json")
    assert not os.path.exists(out / "_incremental_pending.json")

    # Source fixed -> the next run succeeds and the earlier staging garbage
    # does not interfere.
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()), "v": pa.array(["a", "b"])}),
        src / "EVT.parquet",
    )
    r = exp.export_tables_incremental({"EVT": "id"})
    assert [x.rows for x in r] == [2]
    assert json.load(open(out / "_incremental_state.json")) == {"main.EVT": "2"}


def test_compact_refuses_pending_manifest(spark, tmp_path):
    """compact_table must refuse to renumber a directory that a crashed
    incremental commit still targets: the pending moves were computed
    against the pre-compaction numbering and replaying them afterwards
    would overwrite compacted data files.  A manifest for a DIFFERENT
    table must not block compaction."""
    import json

    from oracle_parquet_dumper_spark.exporter import compact_table

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
    )
    for hi in (3, 6):
        pq.write_table(
            pa.table({"id": pa.array(list(range(hi)), pa.int64())}),
            src / "T.parquet",
        )
        exp.export_tables_incremental({"T": "id"})
    target = str(out / "main" / "T")

    manifest = {"key": "main.T", "target": target,
                "staging": target + ".delta.tmp", "watermark": "6",
                "moves": {"part-x.parquet": "T_99.parquet"}}
    with open(out / "_incremental_pending.json", "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(RuntimeError, match="pending incremental commit"):
        compact_table(spark, target, "T")

    manifest["target"] = str(out / "main" / "OTHER")
    with open(out / "_incremental_pending.json", "w") as fh:
        json.dump(manifest, fh)
    assert compact_table(spark, target, "T") >= 1
    got = sorted(r.id for r in spark.read.parquet(target).collect())
    assert got == [0, 1, 2, 3, 4, 5]


def test_validate_export_exact_recorded_target(spark, tmp_path):
    """validate_export audits the directory the export actually wrote
    (threaded through ExportResult.target), not a lowercase-first guess —
    a stale lowercased directory from some previous run must not be
    validated in place of the real output."""
    from oracle_parquet_dumper_spark.exporter import validate_export

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64())}), src / "EVT.parquet"
    )
    # Plant a stale lowercased dir with the WRONG row count where the old
    # guess would have looked first.
    stale = out / "main" / "evt"
    stale.mkdir(parents=True)
    pq.write_table(pa.table({"id": pa.array([9], pa.int64())}), stale / "evt_0.parquet")

    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
        overwrite=True,
    )
    results = exp.export_tables()
    (r,) = [x for x in results if x.table == "EVT"]
    assert r.target == str(out / "main" / "EVT")
    report = validate_export(spark, str(out), results)
    assert all(v.ok for v in report), [v.issues for v in report]


def test_orphan_staging_swept(spark, tmp_path):
    """A *.delta.tmp staging dir with no pending manifest (crash before the
    manifest write) is deleted at the start of the next incremental run
    instead of persisting as permanent garbage."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}), src / "EVT.parquet"
    )
    orphan = out / "main" / "GONE.delta.tmp"
    orphan.mkdir(parents=True)
    (orphan / "part-junk.parquet").write_bytes(b"not parquet")

    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(out),
    )
    r = exp.export_tables_incremental({"EVT": "id"})
    assert [x.rows for x in r] == [2]
    assert not orphan.exists()


def test_clustered_export_tightens_file_envelopes(spark, tmp_path):
    """cluster_by: the export succeeds with identical data, produces
    multiple files, and every clustered column's AVERAGE per-file
    min/max envelope is a fraction of its full span (multi-dimensional
    skipping) — against a small rows-per-file so the sf0.001 lineitem
    rolls into many files."""
    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "out")
    ex = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, src),
        output_path=out,
        schemas=["main"],
        table_name_include_pattern="lineitem",
        parquet_max_file_size=60_000,  # force many rolled files
        cluster_by={"lineitem": ["l_partkey", "l_suppkey"]},
        cluster_curve="hilbert",
    )
    results = ex.export_tables()
    assert results[0].skipped is None and results[0].rows == 6000
    _assert_tight_envelopes(results[0], 6000)


def _assert_tight_envelopes(result, rows):
    """The files of ``result`` (sf0.001 lineitem clustered on
    l_partkey, l_suppkey) hold ``rows`` rows, number at least four, and
    average a per-file min/max envelope well under the full span on BOTH
    clustered columns."""
    files = result.files
    assert len(files) >= 4
    total = 0
    spans = {"l_partkey": [], "l_suppkey": []}
    full = {"l_partkey": (0, 199), "l_suppkey": (0, 9)}
    for f in files:
        t = pq.read_table(os.path.join(result.target, f))
        total += t.num_rows
        for c in spans:
            col = t.column(c).to_pylist()
            spans[c].append((max(col) - min(col) + 1) / (full[c][1] - full[c][0] + 1))
    assert total == rows
    assert sum(spans["l_partkey"]) / len(files) < 0.6
    assert sum(spans["l_suppkey"]) / len(files) < 0.8


def test_incremental_delta_is_clustered(spark, tmp_path):
    """cluster_by applies to incremental deltas too: a second delta
    rolled into several files has the same tight per-file envelopes as
    a clustered full export.  partition_by is refused for incremental
    export, naming the table."""
    import pyarrow.compute as pc

    lineitem = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    early = pc.less(lineitem["l_orderkey"], 300)
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(lineitem.filter(early), src / "lineitem.parquet")
    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, str(src)),
        output_path=str(tmp_path / "out"),
        parquet_max_file_size=60_000,
        cluster_by={"lineitem": ["l_partkey", "l_suppkey"]},
    )
    (first,) = exp.export_tables_incremental({"lineitem": "l_orderkey"})
    assert first.rows == pc.sum(early).as_py()
    os.remove(src / "lineitem.parquet")
    pq.write_table(lineitem, src / "lineitem.parquet")
    (delta,) = exp.export_tables_incremental({"lineitem": "l_orderkey"})
    rows = lineitem.num_rows - first.rows
    assert delta.rows == rows
    assert not set(delta.files) & set(first.files)
    _assert_tight_envelopes(delta, rows)

    exp.partition_by = {"lineitem": ["l_returnflag"]}
    with pytest.raises(ValueError, match="main.lineitem"):
        exp.export_table_incremental("main", "lineitem", "l_orderkey")


def test_cluster_curve_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cluster_curve"):
        SparkParquetExporter(
            spark=None, catalog=None, output_path="x", cluster_curve="peano"
        )


def test_cli_parse_cluster():
    from oracle_parquet_dumper_spark.cli import parse_cluster

    assert parse_cluster(["lineitem:l_partkey,l_suppkey", "orders:o_custkey"]) == {
        "lineitem": ["l_partkey", "l_suppkey"],
        "orders": ["o_custkey"],
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_cluster(["lineitem"])


def test_compact_with_clustering(spark, tmp_path):
    """compact_table(cluster_by=...): small files compact into clustered
    ones — same rows, reference naming, and tighter per-file partkey
    envelopes than the incremental-append layout had."""
    import pyarrow.parquet as _pq

    from oracle_parquet_dumper_spark.exporter import compact_table

    src = "/root/testdata/sf0.001"
    table_dir = tmp_path / "main" / "lineitem"
    table_dir.mkdir(parents=True)
    # simulate accumulated small appends: 6 arbitrary row slices
    t = _pq.read_table(f"{src}/lineitem.parquet")
    for i in range(6):
        _pq.write_table(t.slice(i * 1000, 1000), table_dir / f"lineitem_{i}.parquet")
    n_files = compact_table(
        spark,
        str(table_dir),
        "lineitem",
        target_file_size=120_000,
        cluster_by=["l_partkey", "l_suppkey"],
        cluster_curve="hilbert",
    )
    files = sorted(f for f in os.listdir(table_dir) if f.endswith(".parquet"))
    assert len(files) == n_files >= 2
    assert files[0] == "lineitem_0.parquet"
    total = 0
    fracs = []
    for f in files:
        part = _pq.read_table(os.path.join(table_dir, f))
        total += part.num_rows
        col = part.column("l_partkey").to_pylist()
        fracs.append((max(col) - min(col) + 1) / 200)
    assert total == 6000
    assert sum(fracs) / len(fracs) < 0.7  # clustered envelopes, not full-span


def test_cluster_env_var_parsing():
    """CLUSTER_TABLES splits on ';' so multi-column specs survive (the
    INCREMENTAL_TABLES comma convention would mangle TABLE:COL1,COL2)."""
    from oracle_parquet_dumper_spark.cli import _parse_cluster_env, parse_cluster

    specs = _parse_cluster_env("lineitem:l_partkey,l_suppkey;orders:o_custkey")
    assert parse_cluster(specs) == {
        "lineitem": ["l_partkey", "l_suppkey"],
        "orders": ["o_custkey"],
    }


def test_list_flags_replace_their_env_defaults(monkeypatch):
    """--incremental and --cluster replace INCREMENTAL_TABLES /
    CLUSTER_TABLES like every other flag overrides its env var; the env
    value applies only when the flag is absent."""
    from oracle_parquet_dumper_spark.cli import build_parser

    monkeypatch.setenv("INCREMENTAL_TABLES", "A:id")
    monkeypatch.setenv("CLUSTER_TABLES", "A:x,y")
    args = build_parser().parse_args(
        ["--incremental", "B:ts", "--incremental", "C:n", "--cluster", "B:u,v"]
    )
    assert args.incremental == ["B:ts", "C:n"]
    assert args.cluster == ["B:u,v"]
    args = build_parser().parse_args([])
    assert args.incremental == ["A:id"]
    assert args.cluster == ["A:x,y"]


def test_cli_rejects_hilbert_with_wrong_width(tmp_path):
    from oracle_parquet_dumper_spark.cli import main

    rc = main(
        [
            "--source-path", "/root/testdata/sf0.001",
            "--output-path", str(tmp_path / "o"),
            "--cluster", "lineitem:l_partkey",
        ]
    )
    assert rc == 2  # rejected at parse time, before any Spark work


def test_export_job_count_and_jobless_validation(spark, source_dir, tmp_path, count_jobs):
    """A table exports in two Spark jobs: the row-width sample, which is
    also the empty-table probe, and the write.  An empty table costs the
    sample alone, a table with no eligible columns none, and validation
    reads the written footers without any Spark job."""
    from oracle_parquet_dumper_spark.exporter import validate_export

    # Read every table once first: the parquet schema is then memoized, so
    # the schema-inference job (which a JDBC source does not run) is not
    # counted among the exporter's jobs.
    catalog = ParquetDirectoryCatalog(spark, source_dir)
    for t in catalog.list_tables("main"):
        catalog.read_table("main", t)
    exp = SparkParquetExporter(
        spark=spark,
        catalog=catalog,
        output_path=str(tmp_path / "out"),
    )
    expected = {"BINONLY": 0, "EMPTYTAB": 1, "NATION": 2, "REGION": 2}
    results = []
    for table, n_jobs in expected.items():
        r, got = count_jobs(lambda: exp.export_table("main", table))
        assert got == n_jobs, (table, got)
        results.append(r)
    assert [r.skipped for r in results] == ["no_eligible_columns", "empty", None, None]
    report, got = count_jobs(lambda: validate_export(spark, exp.output_path, results))
    assert got == 0
    assert [v.table for v in report] == ["NATION", "REGION"]
    assert all(v.ok for v in report), [v.issues for v in report]


def test_incremental_compaction_and_clustering_job_counts(spark, tmp_path, count_jobs):
    """Spark jobs per operation, pinned so a change to the shared write
    path cannot add one unnoticed.  A delta costs the size sample and
    the write (the sample alone when up to date); a clustered delta runs
    the same jobs as a clustered full export."""
    from oracle_parquet_dumper_spark.exporter import compact_table

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array(range(100), pa.int64()),
                  "a": pa.array([i % 7 for i in range(100)], pa.int64()),
                  "b": pa.array([i % 11 for i in range(100)], pa.int64())}),
        src / "T.parquet",
    )
    catalog = ParquetDirectoryCatalog(spark, str(src))
    catalog.read_table("main", "T")  # schema memo warm, as in the test above

    def exp(out, **kw):
        return SparkParquetExporter(
            spark=spark, catalog=catalog, output_path=str(tmp_path / out), **kw
        )

    clustered = {"cluster_by": {"T": ["a", "b"]}}
    plain = exp("inc")
    expected = [
        ("clustered export", lambda: exp("full", **clustered).export_table("main", "T"), 6),
        ("first delta", lambda: plain.export_table_incremental("main", "T", "id"), 2),
        ("up to date", lambda: plain.export_table_incremental("main", "T", "id"), 1),
        ("clustered delta",
         lambda: exp("incc", **clustered).export_table_incremental("main", "T", "id"), 6),
        ("compaction", lambda: compact_table(spark, str(tmp_path / "inc/main/T"), "T"), 6),
        ("clustered compaction",
         lambda: compact_table(spark, str(tmp_path / "inc/main/T"), "T", cluster_by=["a", "b"]),
         8),
    ]
    got = {name: count_jobs(fn)[1] for name, fn, _n in expected}
    assert got == {name: n for name, _fn, n in expected}


def _rolled_nation(spark, source_dir, out):
    """Export NATION rolled into several small files; return the result
    and its sorted data files."""
    (r,) = exporter(
        spark, source_dir, str(out), table_name_include_pattern="NATION",
        parquet_max_file_size=100,
    )
    files = sorted(f for f in os.listdir(r.target) if f.endswith(".parquet"))
    assert len(files) > 2
    return r, files


def test_validate_export_multi_file_deleted(spark, source_dir, tmp_path):
    """Deleting one of several rolled files leaves a readable dataset with
    fewer rows than exported: a row-count mismatch, not a read error."""
    from oracle_parquet_dumper_spark.exporter import validate_export

    r, files = _rolled_nation(spark, source_dir, tmp_path / "out")
    assert validate_export(spark, str(tmp_path / "out"), [r])[0].ok
    lost = pq.read_metadata(os.path.join(r.target, files[1])).num_rows
    os.remove(os.path.join(r.target, files[1]))
    (v,) = validate_export(spark, str(tmp_path / "out"), [r])
    assert v.issues == [f"read-back rows {25 - lost} != exported rows 25"]


def test_validate_export_junk_part_file(spark, source_dir, tmp_path):
    """A part file overwritten with junk bytes is unreadable output, also
    when it is not the file the dataset schema is taken from."""
    from oracle_parquet_dumper_spark.exporter import validate_export

    r, files = _rolled_nation(spark, source_dir, tmp_path / "out")
    with open(os.path.join(r.target, files[-1]), "wb") as fh:
        fh.write(b"not a parquet file")
    (v,) = validate_export(spark, str(tmp_path / "out"), [r])
    assert not v.ok
    assert len(v.issues) == 1 and v.issues[0].startswith("unreadable output: ")


def test_validate_export_partitioned(spark, smoke_sf_dir, tmp_path):
    """A hive-partitioned export validates clean: rows are summed over
    every partition directory."""
    from oracle_parquet_dumper_spark.exporter import validate_export

    out = str(tmp_path / "out")
    results = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, smoke_sf_dir),
        output_path=out,
        table_name_include_pattern="^orders$",
        partition_by={"orders": ["o_orderstatus"]},
    ).export_tables()
    (r,) = results
    assert r.rows == pq.read_metadata(os.path.join(smoke_sf_dir, "orders.parquet")).num_rows
    (v,) = validate_export(spark, out, results)
    assert v.ok, v.issues


def test_validate_export_incremental_at_least_rule(spark, tmp_path):
    """After an incremental append the directory holds more rows than the
    delta exported: fine under ``incremental=True`` (>=), a mismatch
    otherwise; fewer rows than exported fails either way."""
    import dataclasses

    from oracle_parquet_dumper_spark.exporter import validate_export

    src = _mini_src(tmp_path, n=3)
    out = tmp_path / "out"
    exp = _inc_exporter(spark, src, out)
    exp.export_tables_incremental({"EVT": "id"})
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                  "v": pa.array([f"r{i}" for i in range(1, 6)])}),
        src / "EVT.parquet",
    )
    (r,) = exp.export_tables_incremental({"EVT": "id"})
    assert r.rows == 2
    (v,) = validate_export(spark, str(out), [r], incremental=True)
    assert v.ok, v.issues
    (v,) = validate_export(spark, str(out), [r])
    assert v.issues == ["read-back rows 5 != exported rows 2"]
    (v,) = validate_export(
        spark, str(out), [dataclasses.replace(r, rows=6)], incremental=True
    )
    assert v.issues == ["read-back rows 5 < exported rows 6"]
