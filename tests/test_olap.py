"""Export-then-query over exported output: export with the reference
layout, register each exported table as a view, and query it with SQL —
the full ingest-then-query loop the reference splits across two
systems."""

from __future__ import annotations

import os

from oracle_parquet_dumper_spark.catalog import ParquetDirectoryCatalog
from oracle_parquet_dumper_spark.exporter import SparkParquetExporter, exporter
from oracle_parquet_dumper_spark.sources.tables import read_parquet_robust


def test_export_then_query_roundtrip(spark, smoke_sf_dir, tmp_path):
    out = str(tmp_path / "warehouse")
    exporter(spark, smoke_sf_dir, out, table_name_include_pattern="nation|region")
    assert sorted(os.listdir(f"{out}/main")) == ["nation", "region"]
    for table in ("nation", "region"):
        read_parquet_robust(spark, f"{out}/main/{table}").createOrReplaceTempView(f"main_{table}")
    got = spark.sql(
        """
        SELECT r_name, COUNT(*) AS n_nations
        FROM main_nation JOIN main_region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
        """
    ).collect()
    assert sum(r.n_nations for r in got) == 25
    assert len(got) == 5


def test_exporter_catalog_introspection(spark, smoke_sf_dir):
    exp = SparkParquetExporter(
        spark=spark,
        catalog=ParquetDirectoryCatalog(spark, smoke_sf_dir),
        output_path="/tmp/unused",
        table_name_include_pattern="nation|lineitem",
    )
    assert exp.get_tables("main") == ["lineitem", "nation"]
    cols = exp.get_columns("main", "nation")
    assert cols == ["n_nationkey", "n_name", "n_regionkey"]


def test_udtf_matches_jvm_split_plan(spark, sf_dir):
    """The Python UDTF sentence splitter must agree row-for-row with the
    pure-JVM split + posexplode + trim/filter plan."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources.tables import load_table

    got = {
        (r.doc_id, r.sent_idx, r.sentence, r.n_chars)
        for r in REGISTRY["udf_python_udtf"].fn(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    jvm = (
        d.select("doc_id", F.posexplode(F.split("text", "\\.")).alias("sent_idx", "raw"))
        .select("doc_id", "sent_idx", F.trim("raw").alias("sentence"))
        .where(F.length("sentence") > 0)
        .select("doc_id", "sent_idx", "sentence", F.length("sentence").alias("n_chars"))
    )
    want = {(r.doc_id, r.sent_idx, r.sentence, r.n_chars) for r in jvm.collect()}
    assert got == want


def test_interval_merge_start_timestamp_ties(spark):
    """Regression: events sharing a start timestamp must land in the
    SAME island the flag pass decided — numbering by (s, e) instead of
    (s, event_id) once produced overlapping 'merged' spans.  Here a
    long interval at 03:00 (new island) and a short one at 03:00
    (overlapping it) must form ONE island, disjoint from the 00:00
    event."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    # mirror the query body on a hand-built frame with a tie
    rows = [
        (1, 100, dt.datetime(2024, 1, 1, 0, 0)),   # ends 00:10+ (id%50+10)
        (1, 49, dt.datetime(2024, 1, 1, 3, 0)),    # 59-min interval, new island
        (1, 52, dt.datetime(2024, 1, 1, 3, 0)),    # 12-min, same start ts
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(event_id % 50 + 10 AS INT), ts)").alias("e"),
    )
    wprior = (
        W.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(W.unboundedPreceding, -1)
    )
    pmax = F.max("e").over(wprior)
    flagged = iv.select(
        "user_id", "event_id", "s", "e",
        F.when(pmax.isNull() | (F.col("s") > pmax), 1).otherwise(0).alias("new_island"),
    )
    wsum = W.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    numbered = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(wsum).cast("long").alias("island_id")
    )
    spans = (
        numbered.groupBy("user_id", "island_id")
        .agg(F.min("s").alias("lo"), F.max("e").alias("hi"), F.count(F.lit(1)).alias("n"))
        .orderBy("island_id")
        .collect()
    )
    assert [r["n"] for r in spans] == [1, 2]  # tie rows share island 2
    assert spans[0]["hi"] < spans[1]["lo"]  # islands are disjoint
