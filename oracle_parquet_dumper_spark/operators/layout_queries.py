"""Oracle-checked queries over the storage-layout machinery
(sources/layouts.py): the Morton/Z-order clustering key gets a
registered differential query so the layout path has a hard correctness
signal, not just plan-shape tests.

The reference always writes one flat directory per table
(main.py:245-253); multi-dimensional clustering is a Part B extension —
it is what turns parquet row-group min/max stats into file skipping for
predicates on ANY clustered column at 100 TB (Delta/Iceberg's
OPTIMIZE ZORDER, rebuilt from plain column expressions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.sources.layouts import zorder_key
from oracle_parquet_dumper_spark.sources.tables import load_table

ZQ_BITS = 8  # 8 bits x 2 cols = 16-bit Morton key
ZQ_TILE_SHIFT = 8  # keep the top 8 bits -> 256 z-tiles at any SF


def _zorder_tiles_sql() -> str:
    """DuckDB twin of ``zorder_key(df, [l_partkey, l_suppkey], bits=8)``
    + tile rollup.  Mirrors the Spark expression tree exactly: min-max
    scale each column to 8 bits in DOUBLE ((x-mn)/span*top, floor,
    clamp), then interleave bit b of column i to position b*2+i."""
    top = (1 << ZQ_BITS) - 1
    scale = []
    for i, c in enumerate(("l_partkey", "l_suppkey")):
        mn, mx = f"mn{i}", f"mx{i}"
        span = f"(CASE WHEN {mx} > {mn} THEN {mx} - {mn} ELSE 1.0 END)"
        scale.append(
            f"LEAST(CAST(FLOOR((CAST({c} AS DOUBLE) - {mn}) / {span} * {top}) "
            f"AS BIGINT), {top}) AS s{i}"
        )
    terms = " + ".join(
        f"(((s{i} >> {b}) & 1) << {b * 2 + i})"
        for b in range(ZQ_BITS)
        for i in range(2)
    )
    return f"""
    WITH mm AS (
      SELECT MIN(CAST(l_partkey AS DOUBLE)) AS mn0, MAX(CAST(l_partkey AS DOUBLE)) AS mx0,
             MIN(CAST(l_suppkey AS DOUBLE)) AS mn1, MAX(CAST(l_suppkey AS DOUBLE)) AS mx1
      FROM lineitem
    ),
    scaled AS (
      SELECT l_partkey, l_suppkey, {scale[0]}, {scale[1]}
      FROM lineitem CROSS JOIN mm
    ),
    z AS (SELECT l_partkey, l_suppkey, ({terms}) AS zv FROM scaled)
    SELECT zv >> {ZQ_TILE_SHIFT} AS tile,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS pk_lo, MAX(l_partkey) AS pk_hi,
           MIN(l_suppkey) AS sk_lo, MAX(l_suppkey) AS sk_hi
    FROM z GROUP BY tile
    """


@query(
    "layout_zorder_tiles",
    oracle=_zorder_tiles_sql(),
    tags=("layout", "scale"),
)
def layout_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit: Morton key over (l_partkey, l_suppkey)
    via ``sources.layouts.zorder_key`` (the same expression
    ``curve_clustered(..., "zorder")`` sorts files by), rolled up into the 256 top-level
    z-tiles with each tile's min/max envelope on BOTH columns.

    The output is the file-skipping story made checkable: every tile's
    (pk, sk) envelope is a tight sub-rectangle of the key space — a
    single-column sort gives tight ranges on the first column only.
    Scale shape: one in-plan broadcast 1-row min/max aggregate (no
    driver collect), one map-side bit-interleave expression, one partial
    agg into a fixed 256-row result at any SF."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    keyed = zorder_key(li, ["l_partkey", "l_suppkey"], bits=ZQ_BITS)
    return (
        keyed.withColumn("tile", F.shiftrightunsigned(F.col("_z"), ZQ_TILE_SHIFT))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("pk_lo"),
            F.max("l_partkey").alias("pk_hi"),
            F.min("l_suppkey").alias("sk_lo"),
            F.max("l_suppkey").alias("sk_hi"),
        )
    )


def _hilbert_tiles_sql() -> str:
    """DuckDB twin of ``hilbert_key(df, [l_partkey, l_suppkey], bits=8)``
    + tile rollup: the xy->d walk unrolled as one chained CTE per level,
    mirroring the Spark projections op-for-op (integer-only — no float
    enters after the initial min-max scaling)."""
    bits = ZQ_BITS
    top = (1 << bits) - 1
    scale = []
    for i, c in enumerate(("l_partkey", "l_suppkey")):
        mn, mx = f"mn{i}", f"mx{i}"
        span = f"(CASE WHEN {mx} > {mn} THEN {mx} - {mn} ELSE 1.0 END)"
        scale.append(
            f"LEAST(CAST(FLOOR((CAST({c} AS DOUBLE) - {mn}) / {span} * {top}) "
            f"AS BIGINT), {top})"
        )
    ctes = [
        f"""lvl{bits} AS (
      SELECT l_partkey, l_suppkey, {scale[0]} AS x, {scale[1]} AS y,
             CAST(0 AS BIGINT) AS d
      FROM lineitem CROSS JOIN mm
    )"""
    ]
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        prev = f"lvl{lvl + 1}"
        ctes.append(
            f"""lvl{lvl} AS (
      SELECT l_partkey, l_suppkey,
        CASE WHEN (y & {s}) = 0
             THEN CASE WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END
             ELSE x END AS x,
        CASE WHEN (y & {s}) = 0
             THEN CASE WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END
             ELSE y END AS y,
        d + CAST({s} AS BIGINT) * {s} *
            CAST(xor(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END),
                     (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS d
      FROM {prev}
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH mm AS (
      SELECT MIN(CAST(l_partkey AS DOUBLE)) AS mn0, MAX(CAST(l_partkey AS DOUBLE)) AS mx0,
             MIN(CAST(l_suppkey AS DOUBLE)) AS mn1, MAX(CAST(l_suppkey AS DOUBLE)) AS mx1
      FROM lineitem
    ),
    {chain}
    SELECT d >> {ZQ_TILE_SHIFT} AS tile,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS pk_lo, MAX(l_partkey) AS pk_hi,
           MIN(l_suppkey) AS sk_lo, MAX(l_suppkey) AS sk_hi
    FROM lvl0 GROUP BY tile
    """


@query(
    "layout_hilbert_tiles",
    oracle=_hilbert_tiles_sql(),
    tags=("layout", "scale"),
)
def layout_hilbert_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering audit over (l_partkey, l_suppkey) —
    ``sources.layouts.hilbert_key`` rolled up into the 256 top-level
    curve tiles with per-tile min/max envelopes (the
    ``layout_zorder_tiles`` contract on the locality-optimal curve).

    Hilbert vs Morton: consecutive Hilbert positions are always
    grid-adjacent (unit-tested against a pure-Python reference plus the
    bijectivity/adjacency properties in tests/test_layouts.py), so a
    range partitioning of the key produces tighter file envelopes —
    fewer files overlap any query rectangle, which is the file-skipping
    win at 100 TB.  Same scale shape as the Morton audit: one broadcast
    min/max bounds row, ``bits`` chained integer projections (linear
    expression growth), one partial agg to a fixed 256-row result."""
    from oracle_parquet_dumper_spark.sources.layouts import hilbert_key

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    keyed = hilbert_key(li, ["l_partkey", "l_suppkey"], bits=ZQ_BITS)
    return (
        keyed.withColumn("tile", F.shiftrightunsigned(F.col("_h"), ZQ_TILE_SHIFT))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("pk_lo"),
            F.max("l_partkey").alias("pk_hi"),
            F.min("l_suppkey").alias("sk_lo"),
            F.max("l_suppkey").alias("sk_hi"),
        )
    )


# --- Zone-map pruning effectiveness -----------------------------------------

ZM_PROBES = 8          # one probe per eighth of the scaled partkey space
ZM_PROBE_SHIFT = 5     # probe id = scaled_partkey >> 5 (256/8 = 32 wide)


def _zm_scale_sql(col: str, i: int) -> str:
    """Min-max scale ``col`` to 8 bits — the exact expression
    ``_zorder_tiles_sql`` uses, shared so both layouts' tile math is
    one formula."""
    top = (1 << ZQ_BITS) - 1
    mn, mx = f"mn{i}", f"mx{i}"
    span = f"(CASE WHEN {mx} > {mn} THEN {mx} - {mn} ELSE 1.0 END)"
    return (
        f"LEAST(CAST(FLOOR((CAST({col} AS DOUBLE) - {mn}) / {span} * {top}) "
        f"AS BIGINT), {top})"
    )


def _zonemap_pruning_sql() -> str:
    terms = " + ".join(
        f"(((s{i} >> {b}) & 1) << {b * 2 + i})"
        for b in range(ZQ_BITS)
        for i in range(2)
    )
    return f"""
    WITH mm AS (
      SELECT MIN(CAST(l_partkey AS DOUBLE)) AS mn0, MAX(CAST(l_partkey AS DOUBLE)) AS mx0,
             MIN(CAST(l_suppkey AS DOUBLE)) AS mn1, MAX(CAST(l_suppkey AS DOUBLE)) AS mx1,
             MIN(CAST(l_orderkey AS DOUBLE)) AS mn2, MAX(CAST(l_orderkey AS DOUBLE)) AS mx2
      FROM lineitem
    ),
    scaled AS (
      SELECT {_zm_scale_sql('l_partkey', 0)} AS s0,
             {_zm_scale_sql('l_suppkey', 1)} AS s1,
             {_zm_scale_sql('l_orderkey', 2)} AS ntile
      FROM lineitem CROSS JOIN mm
    ),
    cells AS (
      SELECT ({terms}) >> {ZQ_TILE_SHIFT} AS ztile, ntile,
             s0 >> {ZM_PROBE_SHIFT} AS p,
             COUNT(*) AS n_rows, MIN(s0) AS s_lo, MAX(s0) AS s_hi
      FROM scaled GROUP BY 1, 2, 3
    ),
    tiles AS (
      SELECT 'zorder' AS layout, ztile AS tile,
             SUM(n_rows) AS n_rows, MIN(s_lo) AS s_lo, MAX(s_hi) AS s_hi
      FROM cells GROUP BY ztile
      UNION ALL
      SELECT 'keyrange' AS layout, ntile AS tile,
             SUM(n_rows) AS n_rows, MIN(s_lo) AS s_lo, MAX(s_hi) AS s_hi
      FROM cells GROUP BY ntile
    ),
    probes AS (
      SELECT CAST(p AS BIGINT) AS probe,
             CAST(p * {1 << ZM_PROBE_SHIFT} AS BIGINT) AS lo,
             CAST(p * {1 << ZM_PROBE_SHIFT} + {(1 << ZM_PROBE_SHIFT) - 1} AS BIGINT) AS hi
      FROM (SELECT unnest(range(0, {ZM_PROBES})) AS p)
    ),
    matching AS (
      SELECT p AS probe, SUM(n_rows) AS rows_matching FROM cells GROUP BY p
    ),
    scan AS (
      SELECT t.layout, pr.probe,
             COUNT(*) AS n_tiles,
             SUM(CASE WHEN t.s_hi < pr.lo OR t.s_lo > pr.hi THEN 0 ELSE 1 END)
               AS tiles_scanned,
             SUM(CASE WHEN t.s_hi < pr.lo OR t.s_lo > pr.hi THEN 0 ELSE t.n_rows END)
               AS rows_scanned
      FROM tiles t CROSS JOIN probes pr
      GROUP BY t.layout, pr.probe
    )
    SELECT s.layout, s.probe,
           CAST(s.n_tiles AS BIGINT) AS n_tiles,
           CAST(s.tiles_scanned AS BIGINT) AS tiles_scanned,
           CAST(s.rows_scanned AS BIGINT) AS rows_scanned,
           CAST(COALESCE(m.rows_matching, 0) AS BIGINT) AS rows_matching,
           CASE WHEN COALESCE(m.rows_matching, 0) > 0
                THEN CAST(s.rows_scanned AS DOUBLE) / m.rows_matching
           END AS scan_amplification
    FROM scan s LEFT JOIN matching m ON m.probe = s.probe
    """


@query(
    "layout_zonemap_pruning",
    oracle=_zonemap_pruning_sql(),
    tags=("layout", "scale"),
    bench=True,
)
def layout_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning effectiveness report: simulate parquet
    row-group min/max skipping for 8 partkey range probes under TWO
    file layouts — z-order tiles vs a plain orderkey-range ("arrival
    order") layout — and report, per (layout, probe), how many tiles a
    zone-map-aware scan must touch, how many rows those tiles hold, and
    the scan amplification (rows_scanned / rows_matching).  This is the
    quantitative form of the claim ``layout_zorder_tiles`` makes
    structurally: clustering by an interleaved key turns min/max stats
    into multi-dimensional skipping, while an arrival-order layout
    leaves every tile's partkey envelope at full width (amplification
    ~= n_total / n_matching, i.e. no skipping at all).

    All pruning math is INTEGER (probes are eighths of the 8-bit scaled
    partkey space; tile envelopes are min/max of the scaled value), so
    both engines agree bit-for-bit; the one double is the final
    amplification ratio — a single IEEE divide per row, NULL when the
    probe matches nothing.

    Scale shape: ONE pass over (l_orderkey, l_partkey, l_suppkey) into
    a partial-agg'd (ztile, keytile, probe) cell relation (bounded by
    256*256*8, sparse in practice); every later stage — the two layout
    rollups, the broadcast 8-row probe cross join, the matching-rows
    join — touches cell/tile relations of at most a few thousand rows
    regardless of data size.  The report itself is 16 rows at any SF.
    No reference counterpart (the reference writes flat directories,
    main.py:245-253); Part B layout extension."""
    top = (1 << ZQ_BITS) - 1
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    mm = li.agg(
        F.min(F.col("l_partkey").cast("double")).alias("mn0"),
        F.max(F.col("l_partkey").cast("double")).alias("mx0"),
        F.min(F.col("l_suppkey").cast("double")).alias("mn1"),
        F.max(F.col("l_suppkey").cast("double")).alias("mx1"),
        F.min(F.col("l_orderkey").cast("double")).alias("mn2"),
        F.max(F.col("l_orderkey").cast("double")).alias("mx2"),
    )

    def scale(col: str, i: int):
        mn, mx = F.col(f"mn{i}"), F.col(f"mx{i}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        return F.least(
            F.floor((F.col(col).cast("double") - mn) / span * top).cast("long"),
            F.lit(top),
        )

    scaled = li.crossJoin(F.broadcast(mm)).select(
        scale("l_partkey", 0).alias("s0"),
        scale("l_suppkey", 1).alias("s1"),
        scale("l_orderkey", 2).alias("ntile"),
    )
    z = sum(
        [
            F.shiftleft(F.shiftrightunsigned(F.col(f"s{i}"), b) % 2, b * 2 + i)
            for b in range(ZQ_BITS)
            for i in range(2)
        ],
        start=F.lit(0),
    )
    cells = (
        scaled.withColumn("ztile", F.shiftrightunsigned(z, ZQ_TILE_SHIFT))
        .withColumn("p", F.shiftrightunsigned(F.col("s0"), ZM_PROBE_SHIFT))
        .groupBy("ztile", "ntile", "p")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("s0").alias("s_lo"),
            F.max("s0").alias("s_hi"),
        )
    )
    def rollup(tile_col: str, layout: str):
        return cells.groupBy(F.col(tile_col).alias("tile")).agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("s_lo").alias("s_lo"),
            F.max("s_hi").alias("s_hi"),
        ).select(F.lit(layout).alias("layout"), "tile", "n_rows", "s_lo", "s_hi")

    tiles = rollup("ztile", "zorder").unionAll(rollup("ntile", "keyrange"))
    w = 1 << ZM_PROBE_SHIFT
    probes = spark.range(ZM_PROBES).select(
        F.col("id").alias("probe"),
        (F.col("id") * w).alias("lo"),
        (F.col("id") * w + (w - 1)).alias("hi"),
    )
    matching = cells.groupBy(F.col("p").alias("probe")).agg(
        F.sum("n_rows").alias("rows_matching")
    )
    pruned = F.when((F.col("s_hi") < F.col("lo")) | (F.col("s_lo") > F.col("hi")), 1).otherwise(0)
    scan = (
        tiles.crossJoin(F.broadcast(probes))
        .groupBy("layout", "probe")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(1 - pruned).alias("tiles_scanned"),
            F.sum(F.when(pruned == 1, 0).otherwise(F.col("n_rows"))).alias(
                "rows_scanned"
            ),
        )
    )
    out = scan.join(F.broadcast(matching), "probe", "left")
    rm = F.coalesce(F.col("rows_matching"), F.lit(0))
    return out.select(
        "layout",
        F.col("probe").cast("long").alias("probe"),
        F.col("n_tiles").cast("long").alias("n_tiles"),
        F.col("tiles_scanned").cast("long").alias("tiles_scanned"),
        F.col("rows_scanned").cast("long").alias("rows_scanned"),
        rm.cast("long").alias("rows_matching"),
        F.when(rm > 0, F.col("rows_scanned").cast("double") / rm).alias(
            "scan_amplification"
        ),
    )


# --- partition-size advisor (target-file planning, r11) ---------------------

TARGET_FILE_BYTES = 128 * 1024 * 1024  # the HDFS-block-aligned sweet spot


@query(
    "layout_partition_size_advisor",
    oracle=f"""
    WITH b AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(8 + 8 + 8 + 8
                  + strlen(o_orderstatus) + strlen(o_orderpriority)
                  AS BIGINT) AS row_bytes
      FROM orders
    ),
    g AS (
      SELECT month, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(row_bytes) AS BIGINT) AS est_bytes
      FROM b GROUP BY month
    )
    SELECT month, n_rows, est_bytes,
           CAST((est_bytes + {TARGET_FILE_BYTES - 1}) // {TARGET_FILE_BYTES}
                AS BIGINT) AS n_files_recommended,
           CAST(n_rows // ((est_bytes + {TARGET_FILE_BYTES - 1}) // {TARGET_FILE_BYTES})
                AS BIGINT) AS rows_per_file
    FROM g ORDER BY month
    """,
    tags=("layout", "agg"),
)
def layout_partition_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SIZE ADVISOR: per o_orderdate month (the natural
    partition column), the estimated uncompressed bytes and the file
    count that lands each partition at the {TARGET_FILE_BYTES // (1 << 20)} MiB
    target — the planning query behind every `repartition(n)` /
    `maxRecordsPerFile` decision, and the engine-side answer to the
    small-files problem the exporter's byte-targeted rolling
    (exporter.py A12) solves at write time: this computes the SAME
    budget declaratively from the data so the writer's n is chosen,
    not guessed.

    The byte estimate is exact and engine-portable by construction:
    fixed widths for the fixed-width columns (3 BIGINTs + 1 DOUBLE +
    timestamp folded into 8) plus octet_length of each varchar —
    deliberately the UNCOMPRESSED logical width (codec ratios are
    data- and codec-dependent; the advisor's contract is "bytes
    before compression", which is also what Spark's
    maxPartitionBytes reasons about).  All integers, ceiling division
    by integer arithmetic.

    Scale shape: one scan with a row-local byte projection, one
    map-side-partial fold to the calendar-month domain.  The advisor
    output is itself the partitionBy plan: month -> n_files is
    exactly the repartitionByRange spec a writer would apply."""
    o = load_table(spark, sf_dir, "orders")
    row_bytes = (
        F.lit(8 + 8 + 8 + 8)
        + F.octet_length("o_orderstatus")
        + F.octet_length("o_orderpriority")
    ).cast("long")
    g = (
        o.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
            row_bytes.alias("row_bytes"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("row_bytes").cast("long").alias("est_bytes"),
        )
    )
    n_files = F.expr(
        f"CAST((est_bytes + {TARGET_FILE_BYTES - 1}) div {TARGET_FILE_BYTES} AS BIGINT)"
    )
    return g.select(
        "month",
        "n_rows",
        "est_bytes",
        n_files.alias("n_files_recommended"),
        F.expr(
            f"CAST(n_rows div ((est_bytes + {TARGET_FILE_BYTES - 1})"
            f" div {TARGET_FILE_BYTES}) AS BIGINT)"
        ).alias("rows_per_file"),
    ).orderBy("month")
