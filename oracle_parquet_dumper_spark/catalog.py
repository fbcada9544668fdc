"""Catalog abstraction: enumerate schemas/tables/columns like the
reference does from Oracle's data dictionary (get_tables main.py:191-217,
get_columns main.py:87-108), behind one interface so the exporter is
source-agnostic.

Two implementations:

- ``ParquetDirectoryCatalog`` — a directory of ``<table>.parquet`` (flat,
  single schema) or ``<schema>/<table>.parquet`` trees.  This is the
  test substrate and also the "re-export / compact" path at scale.
- ``JdbcCatalog`` — Oracle's ``all_tables`` via Spark JDBC, one
  whole-table JDBC read per table (network-gated; SQL generation is
  unit-tested without a live database).

Columns are pruned by type after the read (``eligible_fields``), from
the Spark schema and the JDBC driver's own type name, so both catalogs
share one exclusion rule.

Regex include/exclude semantics follow Oracle ``REGEXP_LIKE`` (substring
match, reference main.py:200,205-207): Python ``re.search``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Reference excludes these Oracle types (main.py:96-97): LOBs, raw binary,
# intervals, LONG.  A JDBC read keeps the source type name in each
# field's ``jdbcClientType`` metadata (CLOB and LONG read as strings);
# any other source is pruned by the Spark types they map to.
EXCLUDED_SPARK_TYPES: tuple[type, ...] = (
    T.BinaryType,
    T.CalendarIntervalType,
    T.DayTimeIntervalType,
    T.YearMonthIntervalType,
)

EXCLUDED_ORACLE_TYPES = ("BLOB", "BFILE", "CLOB", "UNDEFINED", "UROWID", "LONG", "RAW")


def eligible_fields(schema: T.StructType) -> list[str]:
    """Type-exclusion projection pruning (reference A4, main.py:92-99):
    the column names whose Spark type and JDBC source type both survive
    the exclusion lists, in schema (= catalog) order."""
    out = []
    for f in schema.fields:
        source = f.metadata.get("jdbcClientType", "").upper()
        if (
            isinstance(f.dataType, EXCLUDED_SPARK_TYPES)
            or source in EXCLUDED_ORACLE_TYPES
            or source.startswith("INTERVAL")
        ):
            continue
        out.append(f.name)
    return out


def matches(name: str, include_pattern: str, exclude_pattern: str | None) -> bool:
    """REGEXP_LIKE include + optional negated exclude (A2/A3)."""
    if not re.search(include_pattern, name):
        return False
    if exclude_pattern and re.search(exclude_pattern, name):
        return False
    return True


class ParquetDirectoryCatalog:
    """Treats a directory tree as a database: each ``<name>.parquet``
    file/dir is a table; subdirectories containing tables are schemas.
    A flat directory is exposed as single schema ``main``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _tables_in(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(
            e[: -len(".parquet")] for e in os.listdir(path) if e.endswith(".parquet")
        )

    def list_schemas(self) -> list[str]:
        subs = sorted(
            e
            for e in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, e)) and self._tables_in(os.path.join(self.root, e))
        )
        return subs if subs else ["main"]

    def list_tables(
        self, schema: str, include_pattern: str = ".*", exclude_pattern: str | None = None
    ) -> list[str]:
        """Ordered table list with regex include/exclude (A1-A3,
        main.py:191-217: ORDER BY table_name ASC)."""
        base = self.root if schema == "main" else os.path.join(self.root, schema)
        return [t for t in self._tables_in(base) if matches(t, include_pattern, exclude_pattern)]

    def read_table(self, schema: str, table: str) -> DataFrame:
        from oracle_parquet_dumper_spark.sources.tables import read_parquet_robust

        base = self.root if schema == "main" else os.path.join(self.root, schema)
        return read_parquet_robust(self.spark, os.path.join(base, f"{table}.parquet"))


@dataclass
class OracleConnectionInfo:
    """Connection parameters mirroring the reference CLI (main.py:317-368)."""

    hostname: str
    service_name: str
    port: int = 1521
    username: str = ""
    password: str = ""

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:oracle:thin:@//{self.hostname}:{self.port}/{self.service_name}"


class JdbcCatalog:
    """Oracle catalog via Spark JDBC — the distributed analog of the
    reference's single-connection dictionary queries.

    ``list_tables`` pushes the dictionary query into Oracle with
    ``option("query", ...)`` so filtering happens server-side, exactly
    like the reference's bind-variable REGEXP_LIKE predicates
    (main.py:195-214).  ``read_table`` reads a whole table over one JDBC
    connection, as the reference does.

    NUMBER/DECIMAL mapping policy (pinned by
    tests/test_jdbc_roundtrip.py::test_jdbc_decimal_fidelity_roundtrip):
    SQL ``DECIMAL(p, s)`` with declared precision maps to Spark
    ``DecimalType(p, s)`` verbatim (p <= 38) and parquet stores the
    exact unscaled integer — no digit is rounded anywhere on the JDBC ->
    Spark -> parquet -> reader path, NULLs and max/min boundary values
    included.  The one lossy case is Oracle ``NUMBER`` with NO declared
    precision/scale: Spark's OracleDialect defaults it to
    ``decimal(38, 10)``, so values needing more than 10 fractional
    digits (or > 28 integer digits) would be rounded/overflowed at read
    time.  Declare precision in the source DDL, or pre-cast in a view,
    for such columns.  (The reference is lossier still: it builds arrow
    arrays straight from oracledb fetches, main.py:156-175, and oracledb
    returns unconstrained NUMBER as Python float unless fetch_decimals
    is set.)
    """

    DEFAULT_DRIVER = "oracle.jdbc.OracleDriver"

    def __init__(
        self,
        spark: SparkSession,
        conn: OracleConnectionInfo | None = None,
        isolation_init: str | None = None,
        fetchsize: int = 10000,
        url: str | None = None,
        driver: str | None = None,
    ):
        """``conn`` builds the Oracle thin URL; ``url``/``driver`` override
        them for any other JDBC source (the integration tests exercise the
        full option plumbing against embedded Derby — same reader path,
        different dialect)."""
        if conn is None and url is None:
            raise ValueError("JdbcCatalog needs either conn or url")
        self.spark = spark
        self.conn = conn
        self.isolation_init = isolation_init
        self.fetchsize = fetchsize
        self.url = url or conn.jdbc_url
        self.driver = driver or self.DEFAULT_DRIVER

    def _reader(self, sql: str):
        r = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("user", self.conn.username if self.conn else "")
            .option("password", self.conn.password if self.conn else "")
            .option("driver", self.driver)
            .option("fetchsize", str(self.fetchsize))
            .option("query", sql)
        )
        if self.isolation_init:
            r = r.option("sessionInitStatement", self.isolation_init)
        return r

    @staticmethod
    def _q(value: str) -> str:
        """Escape a value for interpolation into a SQL string literal —
        the Spark JDBC 'query' option cannot carry bind variables (the
        reference binds these, main.py:92-99), so single quotes must be
        doubled or a name/pattern containing ' breaks (and injects into)
        the dictionary query."""
        return value.replace("'", "''")

    @staticmethod
    def tables_sql(schema: str, include_pattern: str, exclude_pattern: str | None) -> str:
        """Generated dictionary SQL, structurally equivalent to reference
        get_tables (main.py:195-207): non-external, non-temporary tables,
        regex include/exclude, deterministic name order."""
        q = JdbcCatalog._q
        sql = (
            "SELECT table_name FROM all_tables "
            f"WHERE owner = '{q(schema)}' "
            "AND temporary = 'N' AND external = 'NO' "
            f"AND REGEXP_LIKE(table_name, '{q(include_pattern)}')"
        )
        if exclude_pattern:
            sql += f" AND NOT REGEXP_LIKE(table_name, '{q(exclude_pattern)}')"
        return sql + " ORDER BY table_name ASC"

    def list_tables(
        self, schema: str, include_pattern: str = ".*", exclude_pattern: str | None = None
    ) -> list[str]:
        df = self._reader(self.tables_sql(schema, include_pattern, exclude_pattern)).load()
        return [r[0] for r in df.collect()]

    def read_table(self, schema: str, table: str) -> DataFrame:
        """Whole-table read (reference A6, main.py:156-158): one JDBC
        connection streams ``fetchsize``-row batches into one Spark
        partition."""
        return self._reader(f'SELECT * FROM "{schema}"."{table}"').load()
