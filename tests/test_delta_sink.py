"""Delta Lake sink probe (VERDICT r9 #7): always-on probe contract +
a gated round-trip that runs wherever delta-spark is installed."""

from __future__ import annotations

import pytest

from oracle_parquet_dumper_spark.sources.delta import (
    FALLBACK,
    compact_delta,
    delta_available,
    require_delta,
    write_delta,
)

_ok, _why = delta_available()


def test_delta_probe_contract():
    """The probe must return a decided (bool, reason) pair, and when
    Delta is absent, require_delta must fail with a message naming BOTH
    the missing piece and the parquet fallback path — the
    transformWithState precedent (streaming/transform_state.py)."""
    ok, why = delta_available()
    assert isinstance(ok, bool)
    if ok:
        assert why == ""
    else:
        assert "delta" in why
        with pytest.raises(RuntimeError) as ei:
            require_delta()
        msg = str(ei.value)
        assert "compact_table" in msg and "compact_table(cluster_by=...)" in msg
        assert FALLBACK in msg


@pytest.mark.skipif(not _ok, reason=f"delta-spark unavailable: {_why}")
def test_delta_roundtrip_and_optimize(tmp_path):
    """Where delta-spark exists: transactional append twice, OPTIMIZE
    ZORDER, and a read-back that sees both commits exactly once."""
    from oracle_parquet_dumper_spark.sources.delta import delta_builder_conf
    from pyspark.sql import SparkSession

    spark = delta_builder_conf(
        SparkSession.builder.master("local[4]").config("spark.ui.enabled", "false")
    ).getOrCreate()
    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id", "id % 7 AS k", "id % 3 AS j")
    write_delta(df, path, mode="overwrite")
    write_delta(df.withColumn("id", df.id + 100), path, mode="append")
    compact_delta(spark, path, zorder_cols=["k", "j"])
    got = spark.read.format("delta").load(path)
    assert got.count() == 200
    assert got.select("id").distinct().count() == 200
