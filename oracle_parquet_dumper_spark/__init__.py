"""oracle_parquet_dumper_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference tool ``gizmodata/oracle-parquet-exporter`` (a catalog-driven
Oracle -> Parquet bulk export pipeline, see
``/root/reference/src/oracle_parquet_exporter/main.py``), extended with
the OLAP query surface its README delegates to a SQL engine and with
the LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis) needed at 100 TB scale.

Layout
------
- ``session``     : SparkSession builder tuned for the target cluster.
- ``sources``     : Parquet readers, storage layouts, Python data sources.
- ``exporter``    : export-parity core (reference ``main.py:31-263``).
- ``operators``   : relational + LLM-pipeline operators, registered as
                    named queries.
- ``functions``   : reusable column expressions (vector math, hashing,
                    text metrics) — all JVM-side ``pyspark.sql.functions``
                    compositions unless physically impossible.
- ``plans``       : the query registry (name -> Spark fn + ANSI-SQL oracle).
- ``streaming``   : Structured Streaming operators with batch equivalents.
"""

__version__ = "0.1.0"
