"""Workload definitions: which ops each workload runs, over which data,
and how one op is executed and checked.

An op is one closed-loop request.  Query ops run ``spec.fn(spark, sf_dir)``
and write the result to Spark's no-op sink (scan + compute + shuffle, no
transfer to the driver).  The export op runs one
``SparkParquetExporter.export_tables()`` over an embedded Derby database
followed by ``validate_export``.  Every op runs under its own Spark job
group, so a traced run can attribute jobs, tasks and task metrics to it.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "oracle_parquet_dumper_spark"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
# Every table the query registry reads, one parquet file each.
TABLES = TPCH_TABLES + ("events", "documents", "embeddings")
# Small enough that LINEITEM rolls into several files at the export scale.
EXPORT_MAX_FILE_BYTES = 1_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    data: str  # a fixture directory under perfbench/fixtures/
    ops: tuple[str, ...]  # registry query names; ("export",) for the export op
    why: str


# perfbench/fixtures/ holds the repo's standard fixtures, sf0.01 (60k
# lineitem rows) and sf0.001, unchanged: the files the tests read.
# Fixture used instead of each workload's own by the smoke check.
TINY_DATA = "sf0.001"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "export_jdbc", "sf0.01", ("export",),
            "the reference's own job: serial JDBC reads, zstd parquet writes with "
            "file rolling, no Python workers, no shuffle",
        ),
        # One op per operator module, so each module's layer metrics come
        # from exactly one query: five JVM-only OLAP modules, then five
        # LLM-data modules that run Python workers or driver-side loops.
        Workload(
            "queries", "sf0.01",
            ("q6_forecast_revenue", "window_topk_per_group", "set_union_distinct",
             "fn_regexp_family", "events_retention_cohorts",
             "dedup_exact", "sim_topk_bruteforce", "text_token_count",
             "graph_degree_distribution", "udf_scalar_pandas"),
            "one query per operator module: JVM-only scans, aggregation, windows and "
            "shuffles, then dedup, vector math, tokenizing, graph and pandas-UDF work",
        ),
    )
}


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result frame, normalized exactly as
    ``testing.compare`` normalizes both sides (columns by name, cells to
    Python values, rows sorted)."""
    from oracle_parquet_dumper_spark.testing import normalize_frame

    cols, rows = normalize_frame(pdf)
    return hashlib.sha1(repr((cols, rows)).encode()).hexdigest()


class Clock:
    """Accumulates wall seconds per layer name around calls the benchmark
    makes into the program.  Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.totals: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.totals[name] = self.totals.get(name, 0.0) + time.perf_counter() - t0


# -- export path: Derby catalog and exporter seen through timing subclasses --
# The classes are built on first use, so that importing pyspark and the
# package happens inside the timed set-up, not at module import.


def derby_catalog_class():
    from oracle_parquet_dumper_spark.catalog import JdbcCatalog, matches

    class DerbyCatalog(JdbcCatalog):
        """``JdbcCatalog`` over embedded Derby: the data dictionary is
        SYS.SYSTABLES instead of Oracle's all_tables, and the regex
        include/exclude runs client-side.  Times the two calls the
        exporter makes."""

        def __init__(self, spark, db_path: str, clock: Clock):
            super().__init__(spark, url=f"jdbc:derby:{db_path}", driver=DERBY_DRIVER)
            self.clock = clock

        def list_tables(self, schema, include_pattern=".*", exclude_pattern=None):
            with self.clock.span("catalog.list_tables_s"):
                sql = (
                    "SELECT t.tablename FROM sys.systables t JOIN sys.sysschemas s "
                    "ON t.schemaid = s.schemaid WHERE t.tabletype = 'T' AND "
                    f"s.schemaname = '{self._q(schema)}' ORDER BY t.tablename"
                )
                rows = self._reader(sql).load().collect()
                return [r[0] for r in rows if matches(r[0], include_pattern, exclude_pattern)]

        def read_table(self, *args, **kwargs):
            with self.clock.span("catalog.read_table_s"):
                return super().read_table(*args, **kwargs)

    return DerbyCatalog


def timed_exporter_class():
    from oracle_parquet_dumper_spark.exporter import SparkParquetExporter

    @dataclass
    class TimedExporter(SparkParquetExporter):
        """The stock exporter; ``export_tables`` still drives the loop,
        each per-table call is timed."""

        clock: Clock = field(default_factory=lambda: Clock(False))

        def export_table(self, schema, table):
            with self.clock.span("exporter.export_table_s"):
                return super().export_table(schema, table)

    return TimedExporter


def load_derby(spark, sf_dir: str, db_path: str) -> dict[str, int]:
    """Create the Derby database from the parquet fixture (strings as
    VARCHAR; Spark's Derby dialect would otherwise create CLOB columns,
    which the exporter excludes) and return row counts per table."""
    from pyspark.sql.types import StringType

    from oracle_parquet_dumper_spark.sources.tables import load_table

    url = f"jdbc:derby:{db_path};create=true"
    counts = {}
    for t in TPCH_TABLES:
        df = load_table(spark, sf_dir, t)
        varchar = ", ".join(
            f"{f.name} VARCHAR(64)" for f in df.schema.fields if isinstance(f.dataType, StringType)
        )
        w = (
            df.write.format("jdbc").option("url", url).option("driver", DERBY_DRIVER)
            .option("dbtable", t.upper()).option("batchsize", "10000")
        )
        if varchar:
            w = w.option("createTableColumnTypes", varchar)
        w.mode("overwrite").save()
        counts[t] = df.count()
    try:  # close the database cleanly so the next JVM boots it without recovery
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db_path};shutdown=true")
    except Exception as exc:  # Derby signals a successful shutdown with SQLException 08006
        if "08006" not in str(exc) and "shutdown" not in str(exc):
            raise
    return counts


_PART_FILE = re.compile(r"^(?P<table>[a-z_]+)_\d+\.parquet$")


def check_export(out_dir: str, results, validations, derby_rows: dict[str, int]) -> list[str]:
    """Every table exported, validated, read back with Derby's row count,
    and written only as ``<table>_<n>.parquet`` files."""
    issues = [f"{v.table}: {v.issues}" for v in validations if not v.ok]
    got = {r.table.lower(): r.rows for r in results if not r.skipped}
    if got != derby_rows:
        issues.append(f"exported rows {got} != derby rows {derby_rows}")
    for t in derby_rows:
        d = os.path.join(out_dir, "app", t)
        names = os.listdir(d) if os.path.isdir(d) else []
        bad = [n for n in names if not ((m := _PART_FILE.match(n)) and m["table"] == t)]
        if not names or bad:
            issues.append(f"{t}: unexpected files {bad or 'none written'}")
    return issues


def dir_bytes(path: str) -> tuple[int, int]:
    """(file count, total bytes) of the regular files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size
