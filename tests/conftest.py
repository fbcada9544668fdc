from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from oracle_parquet_dumper_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    spark = get_spark(
        app_name="tests",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "6g",
            "spark.sql.warehouse.dir": "/tmp/spark-graft-test-warehouse",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh Spark job group and
    returns its result and the number of Spark jobs it started."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """``with reliable_checkpoints() as ckpt:`` sets the SparkContext's
    checkpoint dir to ``ckpt`` (a fresh directory under ``tmp_path``), so
    every ``materialize`` inside the block writes reliable checkpoint
    files there, and unsets it on the way out.  Spark has no public
    unset, so the JVM setter gets ``None``; otherwise every later test
    in the session would run in reliable mode."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def enabled():
        ckpt = tmp_path / "checkpoints"
        sc.setCheckpointDir(str(ckpt))
        try:
            yield ckpt
        finally:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())

    return enabled


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def smoke_sf_dir() -> str:
    return SMOKE_SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with fixture tables pre-registered as views,
    mirroring the driver's harness."""
    import duckdb

    from oracle_parquet_dumper_spark.sources.tables import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()
