"""Storage-layout tests: partition pruning and exchange-free bucketed
joins — the two write-time layouts that delete read-time shuffles."""

from __future__ import annotations

from oracle_parquet_dumper_spark.sources import load_table
from oracle_parquet_dumper_spark.sources.layouts import (
    bucketed_join,
    read_partitioned,
    write_bucketed_table,
    write_partitioned,
)


def _executed(df) -> str:
    # Run an action on the df's OWN queryExecution so AQE finalizes the
    # plan we inspect (a noop write executes a different QE).
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_directories(spark, smoke_sf_dir, tmp_path):
    docs = load_table(spark, smoke_sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, ["lang"])

    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert (tmp_path / "docs_by_lang" / "lang=en").is_dir()

    back = read_partitioned(spark, out)
    assert back.count() == docs.count()

    filtered = back.where("lang = 'en'").select("doc_id")
    plan = _executed(filtered)
    # The lang predicate must be a partition filter (directory pruning),
    # not a data filter evaluated per row-group.
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    en_rows = docs.where("lang = 'en'").count()
    assert filtered.count() == en_rows and en_rows > 0
    assert len(langs) > 1  # pruning actually excluded something


def test_bucketed_join_has_no_exchange(spark, smoke_sf_dir, tmp_path):
    orders = load_table(spark, smoke_sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, smoke_sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    try:
        write_bucketed_table(
            orders, "orders_b", str(tmp_path / "orders_b"), "o_orderkey", 8,
            sort_col="o_orderkey",
        )
        write_bucketed_table(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_b", str(tmp_path / "lineitem_b"), "o_orderkey", 8,
            sort_col="o_orderkey",
        )
        joined = bucketed_join(spark, "orders_b", "lineitem_b", "o_orderkey")
        plan = _executed(joined)
        # Both sides read pre-bucketed files: the join must plan with
        # ZERO shuffles (the point of paying the bucket shuffle at
        # write time).
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan

        # Same rows as the plain (shuffling) join.
        expect = orders.join(
            li, orders.o_orderkey == li.l_orderkey
        ).count()
        assert joined.count() == expect > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_zorder_tightens_file_ranges_on_both_dims(spark, tmp_path):
    """Z-ordering by (a, b) must give every file a narrow min/max
    envelope on BOTH columns; a linear sort on a alone leaves b's
    per-file range at ~full width.  This is the file-skipping property:
    a predicate on either column can prune most z-ordered files."""
    import pyarrow.parquet as pq_
    import os as os_

    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.sources.layouts import curve_clustered

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("a"),
        (F.floor(F.col("id") / 128)).alias("b"),
    )

    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    curve_clustered(df, ["a", "b"], "zorder", n=16).write.mode("overwrite").parquet(zpath)
    (
        df.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def avg_span(path, col, width):
        spans = []
        for f in os_.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq_.ParquetFile(os_.path.join(path, f)).metadata
            lo = min(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            spans.append((hi - lo + 1) / width)
        return sum(spans) / len(spans)

    # both dims have 128 distinct values
    z_a, z_b = avg_span(zpath, "a", 128), avg_span(zpath, "b", 128)
    lin_b = avg_span(lpath, "b", 128)
    assert z_a < 0.5 and z_b < 0.5, (z_a, z_b)
    assert lin_b > 0.9, lin_b  # linear layout can't skip on the second dim
    # round-trip completeness
    assert spark.read.parquet(zpath).count() == n


def test_zorder_bits_overflow_raises(spark):
    """bits*len(cols) past 63 would put high bits on the sign bit, making
    large Morton keys sort FIRST — rejected up front."""
    import pytest

    from oracle_parquet_dumper_spark.sources.layouts import zorder_key

    df = spark.range(4).selectExpr("id a", "id b", "id c", "id d")
    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_key(df, ["a", "b", "c", "d"], bits=16)
    assert zorder_key(df, ["a", "b", "c", "d"], bits=15).count() == 4


def _hilbert_ref(x, y, bits):
    """Pure-Python reference xy->d (same s-1 rotation variant)."""
    d = 0
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = (s - 1) - x, (s - 1) - y
            x, y = y, x
    return d


def test_hilbert_key_matches_reference_and_is_a_space_filling_curve(spark):
    """hilbert_key == the Python reference on a full 16x16 grid, and the
    curve is bijective with unit-step adjacency (the locality property
    the layout exists for)."""
    from oracle_parquet_dumper_spark.sources.layouts import hilbert_key

    n = 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x int, y int"
    )
    got = {
        (r["x"], r["y"]): r["_h"]
        for r in hilbert_key(grid, ["x", "y"], bits=4).collect()
    }
    expect = {(x, y): _hilbert_ref(x, y, 4) for x in range(n) for y in range(n)}
    assert got == expect
    pos = {d: xy for xy, d in got.items()}
    assert sorted(pos) == list(range(n * n))  # bijective
    assert all(
        abs(pos[i][0] - pos[i + 1][0]) + abs(pos[i][1] - pos[i + 1][1]) == 1
        for i in range(n * n - 1)
    )  # consecutive curve positions are grid-adjacent
