"""Apache Iceberg sink — capability-probed (VERDICT r10 "Next" #7).

Same contract as the Delta probe (sources/delta.py): the engine's
snapshot/compaction/clustering story is implemented on plain parquet
(exporter.compact_table's atomic dir swap and curve clustering,
sources/layouts's bucketed layouts) because neither the ``pyiceberg`` bindings nor
the ``iceberg-spark-runtime`` jars are in this container.  Where they
ARE installed, the same operations are a table-format one-liner — this
module is the probe, the documented session config, and the
Iceberg-backed variants, with a clear reason string and fallback
instead of a hard dependency (the transformWithState precedent,
streaming/transform_state.py:34-53).

Spark talks to Iceberg through the DataSourceV2 catalog (the jars), not
through pyiceberg — the probe checks BOTH and reports which half is
missing, because "pip install pyiceberg" alone does not make
``df.writeTo(...)`` work and the error message should say so.

Parity note: the reference writes flat parquet only (main.py:165-187);
this module and its parquet fallbacks are Part B extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FALLBACK = (
    "Iceberg is not available; use the plain-parquet equivalents: "
    "exporter.compact_table (atomic small-file compaction with crash "
    "replay; compact_table(cluster_by=...) for space-filling-curve "
    "re-clustering) and sources.layouts.ensure_bucketed_state (standing "
    "bucketed layouts). Install the iceberg-spark-runtime jar matching "
    "your Spark version and configure an Iceberg catalog "
    "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog) "
    "to enable the table-format path."
)

ICEBERG_CATALOG = "opds_iceberg"


def iceberg_available(spark: SparkSession | None = None) -> tuple[bool, str]:
    """(usable, reason-if-not).  The Spark path needs the
    iceberg-spark-runtime jars on the classpath (checked by probing the
    SparkCatalog class through the JVM gateway when a session is given,
    else by the ``pyspark_iceberg`` import convention); the pyiceberg
    bindings alone are catalog-client-only and do NOT enable
    ``df.writeTo``.  Reasons name the missing half explicitly."""
    jar_ok = False
    if spark is not None:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
            jar_ok = True
        except Exception:
            jar_ok = False
    if not jar_ok:
        try:
            import pyspark_iceberg  # noqa: F401  (runtime-jar pip wrapper)

            jar_ok = True
        except ImportError:
            pass
    if jar_ok:
        return True, ""
    try:
        import pyiceberg  # noqa: F401

        return False, (
            "pyiceberg is installed but the iceberg-spark-runtime jar is "
            "not on the Spark classpath — pyiceberg is a catalog client "
            "only and cannot back df.writeTo()"
        )
    except ImportError:
        return False, (
            "neither the iceberg-spark-runtime jar nor the pyiceberg "
            "bindings are installed"
        )


def require_iceberg(spark: SparkSession | None = None) -> None:
    ok, why = iceberg_available(spark)
    if not ok:
        raise RuntimeError(f"Iceberg sink unavailable: {why}. {FALLBACK}")


def iceberg_builder_conf(builder, warehouse: str):
    """Apply the documented Iceberg session config to a SparkSession
    builder: a hadoop-type SparkCatalog named {ICEBERG_CATALOG} rooted
    at ``warehouse``, plus the SQL extensions that enable MERGE/CALL
    procedures.  Separate from ``require_iceberg`` so callers compose
    it with their own settings (the delta_builder_conf convention)."""
    return (
        builder.config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config(
            f"spark.sql.catalog.{ICEBERG_CATALOG}",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        .config(f"spark.sql.catalog.{ICEBERG_CATALOG}.type", "hadoop")
        .config(f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse", warehouse)
    )


def write_iceberg(df: DataFrame, table: str, mode: str = "append") -> None:
    """Transactional append/overwrite via the V2 writeTo API — the
    Iceberg twin of the exporter's manifest-committed incremental
    append (exporter.append_table): the table metadata supplies the
    atomic multi-file commit the parquet path builds by staged
    rename.  ``table`` is a catalog-qualified name
    ({ICEBERG_CATALOG}.db.t)."""
    require_iceberg(df.sparkSession)
    w = df.writeTo(table)
    if mode == "overwrite":
        w.createOrReplace()
    else:
        w.append()


def compact_iceberg(spark: SparkSession, table: str) -> None:
    """rewrite_data_files — the Iceberg twin of exporter.compact_table.
    Readers are never blocked: the snapshot swap is atomic, the same
    contract the parquet path gets from its ``.compact.old`` dir
    swap."""
    require_iceberg(spark)
    spark.sql(
        f"CALL {table.split('.', 1)[0]}.system.rewrite_data_files"
        f"(table => '{table.split('.', 1)[1]}')"
    )
