"""CLI mirroring the reference's flag surface (main.py:317-463), with
env-var defaults like its dotenv setup (main.py:28) and password
redaction in logs (main.py:291-292).

Oracle-specific connection flags select the JDBC catalog; ``--source-path``
selects the parquet-directory catalog (the reference's pipeline applied
to re-export/compaction, and the testable path in this container).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys


class _AppendOverEnv(argparse.Action):
    """``append`` that replaces, not extends, its env-var default."""

    def __call__(self, parser, namespace, values, option_string=None):
        items = getattr(namespace, self.dest)
        setattr(namespace, self.dest, [*([] if items is self.default else items), values])


def build_parser() -> argparse.ArgumentParser:
    env = os.environ.get
    p = argparse.ArgumentParser(
        prog="oracle-parquet-dumper-spark",
        description="Spark-native bulk export to size-rolled, compressed Parquet.",
    )
    p.add_argument("--version", action="store_true", help="Show version and exit.")
    # connection (reference main.py:320-368)
    p.add_argument("--hostname", default=env("DATABASE_HOSTNAME"))
    p.add_argument("--port", type=int, default=int(env("DATABASE_PORT", "1521")))
    p.add_argument("--service-name", default=env("DATABASE_SERVICE_NAME"))
    p.add_argument("--username", default=env("DATABASE_USERNAME"))
    p.add_argument("--password", default=env("DATABASE_PASSWORD"))
    # parquet-directory source (Spark-native alternative)
    p.add_argument("--source-path", default=env("SOURCE_PATH"))
    # export surface (reference main.py:369-463)
    p.add_argument("--schemas", nargs="*", default=None)
    p.add_argument("--table-name-include-pattern", default=env("TABLE_NAME_INCLUDE_PATTERN", ".*"))
    p.add_argument("--table-name-exclude-pattern", default=env("TABLE_NAME_EXCLUDE_PATTERN"))
    p.add_argument("--output-path", default=env("OUTPUT_PATH", "output"))
    p.add_argument(
        "--compression-method",
        default=env("COMPRESSION_METHOD", "zstd"),
        choices=["none", "snappy", "gzip", "zstd"],
    )
    p.add_argument("--overwrite", action="store_true", default=env("OVERWRITE", "").lower() == "true")
    p.add_argument("--row-limit", type=int, default=int(env("ROW_LIMIT", "-1")))
    p.add_argument("--batch-size", type=int, default=int(env("BATCH_SIZE", "10000")))
    p.add_argument(
        "--parquet-max-file-size", type=int, default=int(env("PARQUET_MAX_FILE_SIZE", "200000000"))
    )
    p.add_argument(
        "--isolation-level",
        default=env("ISOLATION_LEVEL", "SERIALIZABLE"),
        choices=["SERIALIZABLE", "READ COMMITTED"],
    )
    p.add_argument(
        "--lowercase-object-names",
        action="store_true",
        default=env("LOWERCASE_OBJECT_NAMES", "").lower() == "true",
    )
    p.add_argument("--max-concurrent-tables", type=int, default=int(env("MAX_CONCURRENT_TABLES", "1")))
    p.add_argument("--log-level", default=env("LOG_LEVEL", "INFO"))
    # incremental export: repeatable TABLE:WATERMARK_COLUMN pairs; only
    # listed tables are exported, appending rows past each table's
    # recorded high-water mark (exporter.export_tables_incremental)
    p.add_argument(
        "--incremental",
        action=_AppendOverEnv,
        metavar="TABLE:COLUMN",
        default=_parse_incremental_env(env("INCREMENTAL_TABLES")),
        help="Export only rows past the saved watermark of COLUMN for TABLE "
        "(repeatable; state kept in <output>/_incremental_state.json).",
    )
    p.add_argument(
        "--cluster",
        action=_AppendOverEnv,
        metavar="TABLE:COL1,COL2",
        default=_parse_cluster_env(env("CLUSTER_TABLES")),
        help="Cluster TABLE's output files on a space-filling curve over the "
        "listed columns (repeatable; env CLUSTER_TABLES uses ';' between "
        "tables since ',' separates columns; hilbert needs exactly 2 "
        "columns, zorder takes 1+; tight per-file min/max envelopes on "
        "every listed column -> multi-dimensional file skipping).",
    )
    p.add_argument(
        "--cluster-curve",
        default=env("CLUSTER_CURVE", "hilbert"),
        choices=["hilbert", "zorder"],
        help="Curve for --cluster: hilbert (best locality) or zorder.",
    )
    p.add_argument(
        "--validate",
        action="store_true",
        default=env("VALIDATE_EXPORT", "").lower() == "true",
        help="After exporting, read every table back and verify row counts "
        "and schema presence; exit 1 on any mismatch.",
    )
    return p


def _parse_incremental_env(raw: str | None) -> list[str]:
    return [s for s in (raw or "").split(",") if s]


def _parse_cluster_env(raw: str | None) -> list[str]:
    """CLUSTER_TABLES splits on ';' — ',' already separates the column
    list inside each TABLE:COL1,COL2 spec, so comma-splitting (the
    INCREMENTAL_TABLES convention) would mangle multi-column specs."""
    return [s for s in (raw or "").split(";") if s]


def parse_cluster(pairs: list[str]) -> dict[str, list[str]]:
    out = {}
    for pair in pairs or []:
        table, sep, cols = pair.partition(":")
        collist = [c for c in cols.split(",") if c]
        if not sep or not table or not collist:
            raise ValueError(f"--cluster expects TABLE:COL1[,COL2...], got {pair!r}")
        out[table] = collist
    return out


def parse_incremental(pairs: list[str]) -> dict[str, str]:
    out = {}
    for pair in pairs or []:
        table, sep, col = pair.partition(":")
        if not sep or not table or not col:
            raise ValueError(f"--incremental expects TABLE:COLUMN, got {pair!r}")
        out[table] = col
    return out


def load_env_file() -> None:
    """Reference parity (main.py:28): load a ``.env`` file into the
    environment before flag defaults are read.  Existing env vars win
    (python-dotenv default), matching dotenv's load-at-import semantics."""
    try:
        from dotenv import find_dotenv, load_dotenv
    except ImportError:  # keep the CLI usable without python-dotenv
        return
    # usecwd: search from the process working directory (bare
    # load_dotenv() would walk from this module's install location).
    load_dotenv(find_dotenv(usecwd=True))


def main(argv: list[str] | None = None) -> int:
    load_env_file()
    args = build_parser().parse_args(argv)
    if args.version:
        from oracle_parquet_dumper_spark import __version__

        print(__version__)
        return 0

    logging.basicConfig(level=args.log_level)
    logger = logging.getLogger("oracle_parquet_dumper_spark.cli")
    shown = {k: ("(redacted)" if k == "password" and v else v) for k, v in vars(args).items()}
    logger.info("Run arguments: %s", shown)

    from oracle_parquet_dumper_spark.session import get_spark

    spark = get_spark("oracle_parquet_dumper_spark.export")

    if args.source_path:
        from oracle_parquet_dumper_spark.catalog import ParquetDirectoryCatalog

        if not os.path.isdir(args.source_path):
            print(f"error: --source-path {args.source_path!r} is not a directory", file=sys.stderr)
            return 2
        catalog = ParquetDirectoryCatalog(spark, args.source_path)
    elif args.hostname and args.service_name:
        from oracle_parquet_dumper_spark.catalog import JdbcCatalog, OracleConnectionInfo

        catalog = JdbcCatalog(
            spark,
            OracleConnectionInfo(
                hostname=args.hostname,
                port=args.port,
                service_name=args.service_name,
                username=args.username or "",
                password=args.password or "",
            ),
            isolation_init=f"ALTER SESSION SET ISOLATION_LEVEL = {args.isolation_level}",
            fetchsize=args.batch_size,
        )
    else:
        print("error: provide --source-path or --hostname/--service-name", file=sys.stderr)
        return 2

    from oracle_parquet_dumper_spark.exporter import SparkParquetExporter

    try:
        watermarks = parse_incremental(args.incremental)
        exporter = SparkParquetExporter(
            spark=spark,
            catalog=catalog,
            output_path=args.output_path,
            schemas=args.schemas or [],
            table_name_include_pattern=args.table_name_include_pattern,
            table_name_exclude_pattern=args.table_name_exclude_pattern,
            compression_method=args.compression_method,
            overwrite=args.overwrite,
            row_limit=args.row_limit,
            lowercase_object_names=args.lowercase_object_names,
            parquet_max_file_size=args.parquet_max_file_size,
            max_concurrent_tables=args.max_concurrent_tables,
            cluster_by=parse_cluster(args.cluster),
            cluster_curve=args.cluster_curve,
        )
    except ValueError as exc:  # malformed flag values, checked before any job
        print(f"error: {exc}", file=sys.stderr)
        return 2
    if watermarks:
        results = exporter.export_tables_incremental(watermarks)
    else:
        results = exporter.export_tables()
    skipped = [r for r in results if r.skipped]
    logger.info("Exported %d tables (%d skipped)", len(results) - len(skipped), len(skipped))
    if args.validate:
        from oracle_parquet_dumper_spark.exporter import validate_export

        report = validate_export(
            spark, args.output_path, results, incremental=bool(watermarks)
        )
        bad = [v for v in report if not v.ok]
        for v in bad:
            logger.error("Validation failed for %s.%s: %s", v.schema, v.table, v.issues)
        logger.info("Validated %d tables (%d failed)", len(report), len(bad))
        if bad:
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
