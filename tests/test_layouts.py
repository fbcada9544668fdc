"""Space-filling-curve layout tests: Z-order and Hilbert keys give every
file a tight envelope on several columns at once.  Bucketed joins are
covered in ``tests/test_bucketing.py``."""

from __future__ import annotations


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
