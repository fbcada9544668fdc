"""SparkSession construction tuned for both local testing and cluster scale.

Local mode runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the configs below
are chosen so the *same* logical plans scale to a 1000-executor cluster:
AQE handles runtime coalescing/skew, shuffle partitions match parallelism,
and Arrow is enabled for the (rare) pandas boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Differential harnesses (cross_sf_sweep, drive_contract) collect full
# results to compare against DuckDB; at sf1 some pair queries return
# millions of rows, over Spark's 1g default.  Data paths never collect —
# this only sizes the verification sink.
MAX_RESULT_SIZE = "4g"


def get_spark(
    app_name: str = "oracle_parquet_dumper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults.

    - AQE on: runtime partition coalescing + skew-join splitting, so plans
      written here survive data-size changes of 100x without retuning.
    - ``spark.sql.shuffle.partitions`` defaults to local core count; on a
      real cluster AQE's coalescing makes the initial number a ceiling,
      not a fixed cost.
    - UTC session timezone so timestamp semantics match the DuckDB oracle.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = min(cpus, DEFAULT_SHUFFLE_PARTITIONS)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", MAX_RESULT_SIZE)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: the one place the engine decides how a
    relation it reuses, or an iterative loop's state, is stored.

    With a checkpoint directory set on the SparkContext (the
    ``spark.checkpoint.dir`` setting, e.g. ``get_spark(extra_conf=...)``,
    or ``sc.setCheckpointDir``) this is a reliable ``checkpoint``: the
    rows are written as files there, so a lost executor costs a re-read,
    not the query.  Without one it is a ``localCheckpoint``: blocks in
    executor storage, fast, but a lost executor fails the job because
    the cut lineage cannot recompute them.  ``eager`` materializes now
    (iterative loops, whose next round must not re-derive this one);
    otherwise the first action that reads ``df`` does."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)
