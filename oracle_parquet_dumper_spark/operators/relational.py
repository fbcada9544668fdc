"""Relational operator surface: projection, filter, join, aggregate,
window, sort/limit, set ops, scalar functions.

The reference implements only metadata-level predicates and identity
projection (SURVEY.md §2 Part A: regex table filters main.py:200,205-207,
type-pruned projection main.py:92-99, limit main.py:145-146, sort
main.py:98,201); the full relational surface below is the Part B
extension — the OLAP role the reference's README.md:9 delegates to a SQL
engine.  Everything here is built-in DataFrame API so Catalyst handles
pushdown, join strategy, and whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import (
    cents,
    cents_sql,
    comoment,
    comoment_sql,
    dec6,
    dec6_sql,
    dec_avg,
    dec_avg_sql,
    dec_money,
    dec_money_sql,
    dec_one_minus,
    dec_one_minus_sql,
    dec_one_plus,
    dec_one_plus_sql,
    dec_rate,
    dec_rate_sql,
    dec_sum,
    dec_sum_sql,
    exact_dot,
    exact_dot_sql,
    exact_sum,
    exact_sum_sql,
    hugeint_sql,
    int128,
    int128_sql,
    to_double,
    to_double_sql,
)
from oracle_parquet_dumper_spark.functions.tokens import md5_long, md5_long_sql, words, words_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table

# TPC-H revenue terms, exact on both engines (functions/rounding.py)
_DISC_PRICE_SQL = f"{dec_money_sql('l_extendedprice')} * {dec_one_minus_sql('l_discount')}"
_DISCOUNT_SQL = f"{dec_money_sql('l_extendedprice')} * {dec_rate_sql('l_discount')}"
_PROFIT_SQL = (
    f"{_DISC_PRICE_SQL} - {dec_money_sql('ps_supplycost')}"
    f" * CAST(l_quantity AS DECIMAL(4,0)) * {dec_rate_sql('0.01')}"
)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan -> filter -> hash agg -> sort)
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dec_sum_sql('l_quantity')} AS sum_qty,
           {dec_sum_sql('l_extendedprice')} AS sum_base_price,
           {dec_sum_sql(_DISC_PRICE_SQL)} AS sum_disc_price,
           {dec_sum_sql(f"{_DISC_PRICE_SQL} * {dec_one_plus_sql('l_tax')}")} AS sum_charge,
           {dec_avg_sql('l_quantity')} AS avg_qty,
           {dec_avg_sql('l_extendedprice')} AS avg_price,
           {dec_avg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter", "flagship"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: filter on ship date, group by return
    flag/status, 8 aggregates.  Single scan, partial aggregation map-side,
    one shuffle on the (tiny) group keys — the shape survives any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = dec_money("l_extendedprice") * dec_one_minus("l_discount")
    charge = disc_price * dec_one_plus("l_tax")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(charge).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Joins — every flavor; Catalyst picks broadcast/sort-merge, we hint dims
# ---------------------------------------------------------------------------
@query(
    "join_inner_broadcast",
    oracle=f"""
    SELECT n_name,
           {dec_sum_sql('o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
    tags=("join", "agg"),
    bench=True,
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact->dim star join: orders joins customer, then the 25-row nation
    dim is explicitly broadcast — zero shuffle for the dim side at any
    scale (SURVEY.md §2 Part B joins row)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dec_sum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("revenue").desc())
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers without orders (COUNT of the
    null-extended side is 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders
    RIGHT JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey % 10 = 0
    """,
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .where(c.c_custkey % 10 == 0)
        .select("o_orderkey", "o_totalprice", "c_name")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH buyers AS (SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
         big_accts AS (SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_acctbal > 5000)
    SELECT COALESCE(b.k, a.k) AS custkey, n_orders, c_acctbal
    FROM buyers b
    FULL JOIN big_accts a ON b.k = a.k
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two derived sides; COALESCE merges the key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    buyers = o.groupBy(F.col("o_custkey").alias("k")).agg(F.count(F.lit(1)).alias("n_orders"))
    big = c.where(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"), "c_acctbal")
    return buyers.join(big, buyers.k == big.k, "full").select(
        F.coalesce(buyers.k, big.k).alias("custkey"), "n_orders", "c_acctbal"
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000)
    """,
    tags=("join",),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left-semi join: no row multiplication, right side only
    shuffles its join key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two broadcast-sized dims (5 x 25)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_range_theta",
    oracle=f"""
    SELECT p_brand,
           COUNT(*) AS n_close,
           {dec_sum_sql('l_extendedprice')} AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
      AND l_quantity BETWEEN p_size - 2 AND p_size + 2
    GROUP BY p_brand
    """,
    tags=("join", "range"),
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (theta) join: the equi key carries the shuffle, the
    range predicate is evaluated post-match — so this stays a hash/SMJ
    join, never a cartesian."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (li.l_partkey == p.p_partkey)
        & (li.l_quantity >= p.p_size - 2)
        & (li.l_quantity <= p.p_size + 2)
    )
    return (
        li.join(p, cond)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_close"), dec_sum("l_extendedprice").alias("sum_price"))
    )


PEAK_TOPK = 5           # highest-revenue ship days kept per year
PEAK_HALF_DAYS = 1      # peak window = peak day ± 1 day (3-day interval)
INTERVAL_BIN_DAYS = 7   # bin width for the interval equi-join


@query(
    "join_interval_overlap_binned",
    oracle=f"""
    WITH span AS (
      SELECT l_orderkey, MAX(l_shipdate) AS last_ship,
             SUM({cents_sql('l_extendedprice')}) AS rev_cents
      FROM lineitem GROUP BY 1
    ),
    iv AS (
      SELECT o.o_orderkey, o.o_orderdate, s.last_ship, s.rev_cents
      FROM orders o JOIN span s ON s.l_orderkey = o.o_orderkey
      WHERE s.last_ship >= o.o_orderdate
    ),
    drev AS (
      SELECT l_shipdate AS d,
             SUM({cents_sql('l_extendedprice')}) AS day_rev
      FROM lineitem GROUP BY 1
    ),
    pk AS (
      SELECT d, CAST(year(d) AS INT) AS yr FROM (
        SELECT d, ROW_NUMBER() OVER (PARTITION BY year(d)
                                     ORDER BY day_rev DESC, d) AS rn
        FROM drev
      ) WHERE rn <= {PEAK_TOPK}
    ),
    pairs AS (
      SELECT DISTINCT pk.yr, pk.d AS peak_day, iv.o_orderkey, iv.rev_cents
      FROM pk JOIN iv
        ON iv.o_orderdate <= pk.d + INTERVAL {PEAK_HALF_DAYS} DAY
       AND pk.d - INTERVAL {PEAK_HALF_DAYS} DAY <= iv.last_ship
    ),
    tr AS (SELECT DISTINCT yr, o_orderkey, rev_cents FROM pairs),
    agg1 AS (
      SELECT yr, COUNT(*) AS n_pairs,
             COUNT(DISTINCT o_orderkey) AS n_orders,
             COUNT(DISTINCT peak_day) AS n_windows
      FROM pairs GROUP BY yr
    ),
    agg2 AS (SELECT yr, SUM(rev_cents) AS order_rev_cents FROM tr GROUP BY yr)
    SELECT a.yr, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(order_rev_cents AS BIGINT) AS order_rev_cents
    FROM agg1 a JOIN agg2 USING (yr)
    """,
    tags=("join", "interval", "range", "topk"),
)
def join_interval_overlap_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE interval-overlap join (no equi key) via bin-bucketing — the
    range-join pattern Spark has no native operator for: which order
    LIFESPANS [o_orderdate, last ship date of the order's lines]
    overlap each year's top-{PEAK_TOPK} revenue-day ± {PEAK_HALF_DAYS}d
    peak windows (capacity planning over data-derived hot windows; the
    windows come from the round-13 grouped_topk primitive, so nothing
    here caps parallelism at the year domain).

    A naive ``a.join(b, overlap_predicate)`` plans a nested-loop/
    cartesian — the audit's banned class.  The scalable form: explode
    BOTH interval sets into covered {INTERVAL_BIN_DAYS}-day bins (a
    lifespan of months covers a handful of bins, a window ≤ 2), hash
    equi-join on the bin id, re-check the exact inclusive-overlap
    predicate, and dedupe (two intervals sharing any day share that
    day's bin, so candidates are complete; a pair meeting in k bins
    dedupes to one).  At 100 TB both sides shuffle on the bin key and
    the join stays hash-based at any interval density; bin width tunes
    the explode factor against per-bin occupancy.  The DuckDB oracle
    states the same join declaratively (theta predicate — tractable at
    test scale), pinning that the binned plan loses no pair."""
    from oracle_parquet_dumper_spark.operators.global_index import grouped_topk

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    span = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship"),
        F.sum(cents("l_extendedprice")).alias("rev_cents"),
    )
    iv = (
        orders.join(span, orders.o_orderkey == span.l_orderkey)
        .where(F.col("last_ship") >= F.col("o_orderdate"))
        .select(
            "o_orderkey",
            "rev_cents",
            F.datediff("o_orderdate", epoch).alias("ts_s"),
            F.datediff("last_ship", epoch).alias("ts_e"),
        )
    )
    drev = (
        li.groupBy("l_shipdate")
        .agg(F.sum(cents("l_extendedprice")).alias("day_rev"))
        .withColumn("yr", F.year("l_shipdate"))
        .withColumn("_negrev", -F.col("day_rev"))
    )
    peaks = grouped_topk(drev, ["yr"], ["_negrev", "l_shipdate"], PEAK_TOPK)
    win = peaks.select(
        "yr",
        F.col("l_shipdate").alias("peak_day"),
        (F.datediff("l_shipdate", epoch) - PEAK_HALF_DAYS).alias("w_s"),
        (F.datediff("l_shipdate", epoch) + PEAK_HALF_DAYS).alias("w_e"),
    )
    wbins = win.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.expr(f"w_s div {INTERVAL_BIN_DAYS}"),
                F.expr(f"w_e div {INTERVAL_BIN_DAYS}"),
            )
        ),
    )
    tbins = iv.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.expr(f"ts_s div {INTERVAL_BIN_DAYS}"),
                F.expr(f"ts_e div {INTERVAL_BIN_DAYS}"),
            )
        ),
    )
    # both output aggregations consume the deduped pair relation —
    # checkpoint it once instead of re-deriving the bin join per branch
    pairs = materialize(
        tbins.join(wbins, "_bin")
        .where((F.col("ts_s") <= F.col("w_e")) & (F.col("w_s") <= F.col("ts_e")))
        .dropDuplicates(["yr", "peak_day", "o_orderkey"])
        .select("yr", "peak_day", "o_orderkey", "rev_cents")
    )
    agg1 = pairs.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.countDistinct("peak_day").alias("n_windows"),
    )
    agg2 = (
        pairs.dropDuplicates(["yr", "o_orderkey"])
        .groupBy("yr")
        .agg(F.sum("rev_cents").alias("order_rev_cents"))
    )
    return agg1.join(agg2, "yr")


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------
@query(
    "agg_basic_stats",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           COUNT(DISTINCT o_custkey) AS n_custs,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           {dec_sum_sql('o_totalprice')} AS sum_price,
           {dec_avg_sql('o_totalprice')} AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/count-distinct/min/max/sum/avg per group."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dec_sum("o_totalprice").alias("sum_price"),
        dec_avg("o_totalprice").alias("avg_price"),
    )


@query(
    "agg_var_stddev",
    oracle=f"""
    WITH m AS (
      SELECT c_mktsegment, COUNT(b) AS n,
             {to_double_sql('SUM(b)')} AS sx, {to_double_sql('SUM(b * b)')} AS sxx
      FROM (SELECT c_mktsegment, {dec_money_sql('c_acctbal')} AS b FROM customer)
      GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           (sxx - sx * sx / n) / (n - 1) AS var_samp,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_samp
    FROM m
    """,
    tags=("agg", "stats"),
)
def agg_var_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev via exact decimal sums (sum-of-squares
    form) so the result is order-independent and bit-identical to the
    oracle; native stddev over doubles is order-dependent in the last
    ulp.  The square is a DECIMAL x DECIMAL product (the 2-decimal
    acctbal casts exactly), not a double product cast to decimal — a
    double x*x can land on a 7-digit rounding tie where the engines'
    decimal casts disagree (found by the sf0.1 cross-engine sweep)."""
    c = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    xd = dec_money(x)
    n = F.count(x)
    sx = to_double(F.sum(xd))
    sxx = to_double(F.sum(xd * xd))
    var = (sxx - sx * sx / n) / (n - 1)
    return c.groupBy("c_mktsegment").agg(
        n.alias("n"), var.alias("var_samp"), F.sqrt(var).alias("stddev_samp")
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n, {dec_sum_sql('l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100 AND SUM(l_quantity) > 1000
    """,
    tags=("agg", "filter"),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("l_quantity").alias("total_qty"))
        .where((F.col("n") > 100) & (F.col("total_qty") > 1000))
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "array"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set, sorted then string-joined: collection aggs have no
    inherent order, and array-typed output columns compare differently
    across pandas bridges (numpy array repr vs list repr) — a scalar
    string is representation-stable."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses")
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {dec_sum_sql('l_quantity')} AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with GROUPING() disambiguating the
    all-rows NULL from data NULLs."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("l_quantity").alias("sum_qty"),
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           {dec_sum_sql('o_totalprice')} AS sum_price,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "orders")
    return li.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("o_totalprice").alias("sum_price"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_suppkey,
           COUNT(*) AS n,
           {dec_sum_sql('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey))
    """,
    tags=("agg", "grouping_sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (the DataFrame API exposes only
    rollup/cube; Catalyst expands both to the same Expand node)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_suppkey,
               COUNT(*) AS n,
               {dec_sum_sql('l_extendedprice')} AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey))
        """
    )


@query(
    "agg_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {dec_sum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
           {dec_sum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (explicit values avoid the extra
    distinct-scan Spark needs to discover them)."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = li.groupBy("l_returnflag").pivot("l_linestatus", ["O", "F"]).agg(dec_sum("l_quantity"))
    return piv.select("l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F"))


@query("agg_approx", tags=("agg", "approx"))
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) + percentile_approx — sketch
    algorithms differ from DuckDB's, so this is a rows-only check; the
    exact counterparts are covered by agg_basic_stats/window tests, and
    ``agg_kmv_distinct`` is the deterministic, oracle-checked sketch
    alternative."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        # scalar columns (not an array) so downstream pandas consumers can
        # hash/sort the result — see harness convention in plans/registry.py
        F.percentile_approx("l_extendedprice", 0.25).alias("approx_q25"),
        F.percentile_approx("l_extendedprice", 0.75).alias("approx_q75"),
    )


KMV_K = 64


@query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag,
             {md5_long_sql('CAST(l_orderkey AS VARCHAR)')}
               / 1152921504606846976.0 AS u
      FROM lineitem
      GROUP BY l_returnflag, l_orderkey
    ),
    r AS (
      SELECT l_returnflag, u,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY u) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n_distinct
      FROM h
    )
    SELECT l_returnflag,
           CAST(n_distinct AS BIGINT) AS exact_distinct,
           CAST(CASE WHEN n_distinct < {KMV_K} THEN n_distinct
                     ELSE CAST(round(({KMV_K} - 1) / u) AS BIGINT) END AS BIGINT) AS kmv_estimate
    FROM r WHERE rn = least(n_distinct, {KMV_K})
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al.): hash each
    key to (0,1], keep the K smallest per group, estimate distinct =
    (K-1)/u_K.  Unlike HLL (agg_approx), KMV is DETERMINISTIC given the
    hash — the md5-prefix hash both engines replay — so an approximate
    sketch becomes oracle-checkable, with the exact count alongside for
    error inspection.

    Scale shape (round-13 rewrite): the rank of every distinct hash
    comes from the bucket-offset global index, NOT a window partitioned
    only by the 3-value flag domain — the pre-rewrite form ran its sort
    and rank at parallelism 3 at any cluster size (the Spearman/gini
    curve; measured 4.27 s → 16.24 s sf0.1→sf1 before this rewrite).
    The index's within-bucket windows partition on (flag, _gb) where
    _gb is the cluster-sized bucket id, and u is near-uniform on (0,1]
    by construction (an md5 prefix), so equi-width bucket occupancy is
    even with no skew caveat.  The k-th-smallest row is then a filter
    on the 0-based index; n_distinct rides along as the index's group
    total."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    li = load_table(spark, sf_dir, "lineitem")
    # normalize the 60-bit md5 prefix into (0, 1]: u = h / 2^60
    u = md5_long(F.col("l_orderkey").cast("string")) / F.lit(float(1 << 60))
    h = li.select("l_returnflag", "l_orderkey").distinct().select("l_returnflag", u.alias("u"))
    r = with_global_index(h, "u", ["u"], group_cols=["l_returnflag"])
    est = F.when(F.col("_gn") < KMV_K, F.col("_gn")).otherwise(
        F.round(F.lit(KMV_K - 1) / F.col("u")).cast("long")
    )
    return r.where(
        F.col("_gidx") + 1 == F.least(F.col("_gn"), F.lit(KMV_K).cast("long"))
    ).select(
        "l_returnflag",
        F.col("_gn").cast("long").alias("exact_distinct"),
        est.cast("long").alias("kmv_estimate"),
    )


@query(
    "agg_kmv_intersection",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT DISTINCT CAST(substring(source, 4) AS INT) >= 10 AS side_b, t
      FROM (SELECT source,
                   unnest({words_sql()}) AS t
            FROM documents WHERE length(text) > 0)
    ),
    hs AS MATERIALIZED (SELECT side_b, t,
                  {md5_long_sql('t')}
                    / 1152921504606846976.0 AS u
           FROM toks),
    ka AS (SELECT u FROM (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn
                          FROM (SELECT DISTINCT u FROM hs WHERE NOT side_b))
           WHERE rn <= {KMV_K}),
    kb AS (SELECT u FROM (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn
                          FROM (SELECT DISTINCT u FROM hs WHERE side_b))
           WHERE rn <= {KMV_K}),
    kab AS (SELECT u FROM (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn
                           FROM (SELECT u FROM ka UNION SELECT u FROM kb))
            WHERE rn <= {KMV_K}),
    uk AS (SELECT max(u) AS uk, COUNT(*) AS m FROM kab),
    rho AS (SELECT COUNT(*) AS sketch_overlap
            FROM kab JOIN ka USING (u) JOIN kb USING (u)),
    ex AS (SELECT
      (SELECT COUNT(DISTINCT t) FROM toks WHERE NOT side_b) AS n_a,
      (SELECT COUNT(DISTINCT t) FROM toks WHERE side_b) AS n_b,
      (SELECT COUNT(DISTINCT t) FROM toks) AS exact_union,
      (SELECT COUNT(*) FROM (SELECT t FROM toks WHERE NOT side_b
                             INTERSECT SELECT t FROM toks WHERE side_b)) AS exact_inter)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(exact_inter AS BIGINT) AS exact_inter,
           CAST(CASE WHEN m < {KMV_K} THEN exact_union
                     ELSE CAST(round({KMV_K - 1} / uk) AS BIGINT) END AS BIGINT) AS kmv_union_est,
           CAST(sketch_overlap AS BIGINT) AS sketch_overlap,
           CAST(round(sketch_overlap *
                      (CASE WHEN m < {KMV_K} THEN exact_union
                            ELSE round({KMV_K - 1} / uk) END) / {KMV_K}.0) AS BIGINT)
             AS kmv_inter_est
    FROM ex, uk, rho
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA (Beyer et al., SIGMOD'07): estimate the
    vocabulary union, intersection, and Jaccard between two corpus
    halves (sources 0-9 vs 10-19) from two K-minimum-value sketches —
    the mergeable-sketch pattern behind cross-corpus overlap audits,
    where the exact answer needs a full distinct-join but sketches are
    K doubles per segment, combinable after the fact for ANY pair of
    segments.

    Union sketch = K smallest of K_A ∪ K_B; u ∈ K_AB that came from
    both sides (u ∈ K_A ∧ u ∈ K_B ⇔ token in both vocabularies, since
    membership below the union's k-th minimum implies sketch membership
    on each side) estimate Jaccard as overlap/K; intersection =
    Jaccard x union.  Deterministic given the md5-prefix hash both
    engines replay — the whole sketch pipeline is oracle-checked, with
    exact counts alongside for error inspection (same convention as
    agg_kmv_distinct).  At 100 TB each side's sketch is a K-smallest
    partial aggregate per segment; only K doubles per segment shuffle."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    tok = F.explode(words()).alias("t")
    side_b = F.substring("source", 4, 10).cast("int") >= 10
    toks = d.select(side_b.alias("side_b"), tok).distinct()
    u = md5_long(F.col("t")) / F.lit(float(1 << 60))
    hs = toks.select("side_b", "t", u.alias("u"))
    ka = hs.where(~F.col("side_b")).select("u").distinct().orderBy("u").limit(KMV_K)
    kb = hs.where(F.col("side_b")).select("u").distinct().orderBy("u").limit(KMV_K)
    kab = ka.unionByName(kb).distinct().orderBy("u").limit(KMV_K)
    uk = kab.agg(F.max("u").alias("uk"), F.count(F.lit(1)).alias("m"))
    rho = kab.join(ka, "u").join(kb, "u").agg(
        F.count(F.lit(1)).alias("sketch_overlap")
    )
    ex = toks.agg(
        F.count_distinct(F.when(~F.col("side_b"), F.col("t"))).alias("n_a"),
        F.count_distinct(F.when(F.col("side_b"), F.col("t"))).alias("n_b"),
        F.count_distinct("t").alias("exact_union"),
        (
            F.count_distinct(F.when(~F.col("side_b"), F.col("t")))
            + F.count_distinct(F.when(F.col("side_b"), F.col("t")))
            - F.count_distinct("t")
        ).alias("exact_inter"),
    )
    union_est = F.when(F.col("m") < KMV_K, F.col("exact_union")).otherwise(
        F.round(F.lit(KMV_K - 1) / F.col("uk")).cast("long")
    )
    return (
        ex.crossJoin(F.broadcast(uk))
        .crossJoin(F.broadcast(rho))
        .select(
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            F.col("exact_union").cast("long"),
            F.col("exact_inter").cast("long"),
            union_est.cast("long").alias("kmv_union_est"),
            F.col("sketch_overlap").cast("long"),
            F.round(F.col("sketch_overlap") * union_est / KMV_K)
            .cast("long")
            .alias("kmv_inter_est"),
        )
    )


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_disc(l_quantity, 0.9) AS p90_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles: continuous (interpolated) + discrete —
    computed WITHOUT Spark's exact ``percentile()`` buffer aggregate,
    whose per-group state is every raw group row sorted in one task
    (the round-6 verdict's last scale-killer class).

    Scale shape: one map-side-partial ``groupBy(flag, quantity)`` count
    bounded by the VALUE DOMAIN (l_quantity has ~50 distinct values at
    any SF), then grouped order statistics on the global-index
    primitive's weighted cumulative counts
    (``global_index.weighted_quantiles``) — the same all-integer rank
    algebra agg_mannwhitney_u runs.  Interpolation doubles are
    bit-identical to Spark percentile / DuckDB quantile_cont (operand
    order pinned by the fuzz test), so the oracle is unchanged."""
    from oracle_parquet_dumper_spark.operators.global_index import weighted_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    vc = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("_w"))
    return weighted_quantiles(
        vc,
        "l_quantity",
        "_w",
        group_cols=["l_returnflag"],
        cont={"median_qty": 0.5},
        disc={"p90_qty_disc": 0.9},
    )


@query(
    "agg_salted_two_phase",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {dec_sum_sql('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "skew"),
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation: phase 1 groups by
    (key, salt) spreading a hot key over 16 reducers, phase 2 merges the
    partials.  Semantically identical to a plain group-by (the oracle is
    the plain form); decimal partials keep the merge order-independent.
    At 100 TB this is the pattern for power-law keys; AQE's skew handling
    covers joins, but skewed *aggregation* keys still need salting."""
    li = load_table(spark, sf_dir, "lineitem")
    phase1 = (
        li.withColumn("_salt", (F.col("l_orderkey") % 16).cast("int"))
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(dec6("l_extendedprice")).alias("psum"),
        )
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").cast("double").alias("sum_price"),
    )


INC_AGG_CUTOFF_DAY = 15


@query(
    "agg_incremental_merge",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round({dec_sum_sql('value')}, 6) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "incremental", "pipeline"),
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a 'yesterday' aggregate state
    (rows up to day {INC_AGG_CUTOFF_DAY}) MERGED with today's delta
    equals the full recompute — which is exactly what the oracle runs.
    Works because count/decimal-sum states form a commutative monoid
    (Spark's own partial-aggregation algebra); at 100 TB this is the
    difference between re-scanning the corpus per refresh and touching
    only the watermark delta (pairs with export_tables_incremental).
    The merge is a re-aggregation of the unioned states — no raw delta
    row ever joins the historical data."""
    ev = load_table(spark, sf_dir, "events")
    day = F.dayofmonth(F.col("ts"))

    def state(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(dec6("value")).alias("psum"),
        )

    # NULL-safe split: a NULL ts makes both `day <= c` and `day > c`
    # false, which would drop the row from BOTH states while the full
    # recompute counts it.  NULL-ts rows belong to the historical state.
    is_delta = F.coalesce(day > INC_AGG_CUTOFF_DAY, F.lit(False))
    old_state = state(ev.where(~is_delta))
    delta_state = state(ev.where(is_delta))
    return (
        old_state.unionByName(delta_state)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("long").alias("n"),
            F.round(F.sum("psum").cast("double"), 6).alias("sum_value"),
        )
    )


N_JOIN_SALTS = 8


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT n_name, COUNT(*) AS n_li, {dec_sum_sql('l_extendedprice')} AS sum_price
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join: the build side is replicated across
    {N_JOIN_SALTS} salt values and the probe side gets a deterministic
    salt, so a power-law-hot join key spreads over {N_JOIN_SALTS}
    reducers instead of one straggler.  Semantically identical to the
    plain join (the oracle is the plain form).  The merge hint forces
    the shuffle path so the salting is actually exercised — at 100 TB
    this is the manual fallback when AQE's skew-join split cannot help
    (e.g. a skewed BUILD side, or aggregation directly on the join
    output); prefer AQE (on by default in session.py) when it fires."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.col("l_orderkey"), F.lit(N_JOIN_SALTS)).cast("int")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(spark.range(N_JOIN_SALTS).select(F.col("id").cast("int").alias("_salt")))
    )
    nat = load_table(spark, sf_dir, "nation")
    joined = li.hint("merge").join(
        supp, (F.col("l_suppkey") == F.col("s_suppkey")) & (li["_salt"] == supp["_salt"])
    )
    return (
        joined.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_li"), dec_sum("l_extendedprice").alias("sum_price"))
    )


# Planted-skew pair: the same query with and without mitigation, both
# bench-flagged, so BENCH records what salting buys on a genuinely hot key.
HOT_FRACTION_PCT = 30  # % of probe rows remapped onto one supplier key

_PLANTED_ORACLE = f"""
    SELECT s_name, COUNT(*) AS n_li, {dec_sum_sql('l_extendedprice')} AS sum_price
    FROM (SELECT CASE WHEN l_orderkey % 10 < {HOT_FRACTION_PCT // 10} THEN 1
                      ELSE l_suppkey END AS k,
                 l_extendedprice
          FROM lineitem) l
    JOIN supplier ON l.k = s_suppkey
    GROUP BY s_name
    """


def _planted_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    hot = F.when(F.col("l_orderkey") % 10 < HOT_FRACTION_PCT // 10, F.lit(1)).otherwise(
        F.col("l_suppkey")
    )
    return li.select(hot.alias("k"), "l_orderkey", "l_extendedprice")


@query(
    "join_skew_planted_naive",
    oracle=_PLANTED_ORACLE,
    tags=("join", "skew", "bench-baseline"),
    bench=True,
)
def join_skew_planted_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-skew baseline: {HOT_FRACTION_PCT}% of lineitem rows are
    remapped onto ONE supplier key, then shuffle-joined with no
    mitigation (merge hint defeats the broadcast that would hide the
    skew at fixture scale).  One reducer receives {HOT_FRACTION_PCT}% of
    the probe side — the straggler this pair measures.  At real scale
    AQE's skew-join split (on in session.py) would break that partition
    up; at fixture scale it stays under the 256 MB threshold, which is
    exactly why the salted twin below exists."""
    li = _planted_lineitem(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.hint("merge")
        .join(supp, F.col("k") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_li"), dec_sum("l_extendedprice").alias("sum_price"))
    )


@query(
    "join_skew_planted_salted",
    oracle=_PLANTED_ORACLE,
    tags=("join", "skew", "flagship"),
    bench=True,
)
def join_skew_planted_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-skew mitigation: same {HOT_FRACTION_PCT}%-hot join, but
    the probe side carries a salt derived from a NON-key column
    (l_orderkey — uncorrelated with the hot supplier key) and the build
    side is replicated across all {N_JOIN_SALTS} salts, so the hot key's
    rows spread over {N_JOIN_SALTS} reducers.  Identical semantics to
    the naive twin (same oracle); the bench delta between the two is the
    cost of the straggler."""
    li = _planted_lineitem(spark, sf_dir).withColumn(
        "_salt", F.pmod(F.col("l_orderkey"), F.lit(N_JOIN_SALTS)).cast("int")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(spark.range(N_JOIN_SALTS).select(F.col("id").cast("int").alias("_salt")))
    )
    return (
        li.hint("merge")
        .join(supp, (F.col("k") == F.col("s_suppkey")) & (li["_salt"] == supp["_salt"]))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_li"), dec_sum("l_extendedprice").alias("sum_price"))
    )


@query(
    "subquery_scalar",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT {dec_avg_sql('o_totalprice')} * 1.5 FROM orders)
    """,
    tags=("subquery",),
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: Catalyst evaluates the subquery once
    and injects the scalar into the filter (one extra tiny job, no
    per-row recomputation)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (
          SELECT {dec_avg_sql('o_totalprice')} * 1.5
          FROM orders)
        """
    )


@query(
    "subquery_correlated_exists",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(COUNT(*) AS DOUBLE) * 40.0
                       FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("subquery",),
)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into a
    left outer aggregate join (no per-row subquery execution)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT CAST(COUNT(*) AS DOUBLE) * 40.0
                           FROM orders WHERE o_custkey = c_custkey)
        """
    )


@query(
    "agg_max_min_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice * 10000000 + o_orderkey) AS top_order,
           arg_min(o_orderkey, o_totalprice * 10000000 + o_orderkey) AS bottom_order,
           MAX(o_totalprice) AS top_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_max_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin).  The ordering value folds in the
    unique key (price*1e7 + key) because argmax tie-breaking is
    engine-defined — equal doubles would make the result
    nondeterministic."""
    o = load_table(spark, sf_dir, "orders")
    v = F.col("o_totalprice") * 10000000 + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", v).alias("top_order"),
        F.min_by("o_orderkey", v).alias("bottom_order"),
        F.max("o_totalprice").alias("top_price"),
    )


@query(
    "agg_bool_bit",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_discount > 0.0) AS all_discounted,
           bool_or(l_tax > 0.05) AS any_high_tax,
           bit_and(CAST(l_linenumber AS BIGINT)) AS band,
           bit_or(CAST(l_linenumber AS BIGINT)) AS bor,
           bit_xor(CAST(l_linenumber AS BIGINT)) AS bxor
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "bit"),
)
def agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-and/or and bitwise aggregate family."""
    li = load_table(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber").cast("long")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") > 0.0).alias("all_discounted"),
        F.bool_or(F.col("l_tax") > 0.05).alias("any_high_tax"),
        F.bit_and(ln).alias("band"),
        F.bit_or(ln).alias("bor"),
        F.bit_xor(ln).alias("bxor"),
    )


@query(
    "agg_corr_regr",
    oracle=f"""
    WITH xy AS (
      SELECT c_mktsegment, c_custkey AS x, {cents_sql('c_acctbal')} AS y FROM customer
    ),
    agg AS (
      SELECT c_mktsegment, COUNT(*) AS n,
             {exact_sum_sql('x')} AS sx,
             {exact_sum_sql('y')} AS sy,
             {exact_dot_sql('x', 'y')} AS sxy,
             {exact_dot_sql('x', 'x')} AS sxx,
             {exact_dot_sql('y', 'y')} AS syy
      FROM xy GROUP BY c_mktsegment
    ),
    m AS (
      SELECT c_mktsegment, n,
             {to_double_sql(comoment_sql('n', 'sxy', 'sx', 'sy'))} AS a,
             {to_double_sql(comoment_sql('n', 'sxx', 'sx'))} AS b,
             {to_double_sql(comoment_sql('n', 'syy', 'sy'))} AS c,
             {to_double_sql('sx')} AS sxd, {to_double_sql('sy')} AS syd
      FROM agg
    )
    SELECT c_mktsegment,
           a / sqrt(b * c) + 0.0 AS corr_bal_key,
           a / (n * (n - 1)) / 100.0 + 0.0 AS covar_bal_key,
           a / b / 100.0 + 0.0 AS slope,
           syd / n / 100.0 - (a / b / 100.0) * (sxd / n) + 0.0 AS intercept
    FROM m
    """,
    tags=("agg", "stats"),
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / regression from EXACT INTEGER moments.

    Two portability traps, both caught by the cross-SF sweep at sf1
    (custkey domain ~1e9 after key-shifted replication):

    1. built-in corr/covar_samp + round(.,6) diverged — the centered
       moments reach ~1e12, so 6-digit rounding stops absorbing engine
       accumulation-order noise, and any rounding of an inexact double
       reintroduces tie hazards at whatever digit is kept;
    2. casting full-mantissa product doubles to DECIMAL is itself
       non-portable: Spark rounds the SHORTEST DECIMAL REPR of the
       double (BigDecimal.valueOf) while DuckDB rounds the binary
       value, so one row in millions casts differently.

    The fix removes floats from the aggregation entirely: c_custkey is
    integral, c_acctbal has exact cents (``cents``), so n, Σx, Σy, Σxy,
    Σx², Σy² are exact integers (``exact_sum``/``exact_dot`` — headroom
    to x~1e11 per row and ~1e9 rows per group).  The textbook
    identities n·Σxy − ΣxΣy (``comoment``) are then computed EXACTLY (no
    cancellation — this beats the two-pass centered form, which still
    pays a per-row double product), cast once to double, and combined
    with identical IEEE /,*,sqrt — bit-identical outputs with no
    rounding convention at all.  + 0.0 normalizes IEEE negative zero,
    which the engines stringify differently.  Single pass, partial
    aggregation, 5-row result."""
    c = load_table(spark, sf_dir, "customer")
    x, y = F.col("c_custkey"), cents("c_acctbal")
    agg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(x).alias("sx"),
        exact_sum(y).alias("sy"),
        exact_dot(x, y).alias("sxy"),
        exact_dot(x, x).alias("sxx"),
        exact_dot(y, y).alias("syy"),
    )
    n = F.col("n")
    a = to_double(comoment(n, "sxy", "sx", "sy"))
    b = to_double(comoment(n, "sxx", "sx"))
    cc = to_double(comoment(n, "syy", "sy"))
    sxd = to_double("sx")
    syd = to_double("sy")
    m = agg.select("c_mktsegment", n, a.alias("a"), b.alias("b"), cc.alias("c"),
                   sxd.alias("sxd"), syd.alias("syd"))
    slope = F.col("a") / F.col("b") / 100.0
    return m.select(
        "c_mktsegment",
        (F.col("a") / F.sqrt(F.col("b") * F.col("c")) + 0.0).alias("corr_bal_key"),
        (F.col("a") / (n * (n - 1)) / 100.0 + 0.0).alias("covar_bal_key"),
        (slope + 0.0).alias("slope"),
        (F.col("syd") / n / 100.0 - slope * (F.col("sxd") / n) + 0.0).alias("intercept"),
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dec_sum_sql(_DISC_PRICE_SQL)} AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "flagship"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective filters on every input,
    aggregate, top-10.  Filters push to all three parquet scans before
    the joins; the final top-k is a heap, not a sort."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-03-15 00:00:00")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-03-15 00:00:00")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dec_sum(dec_money("l_extendedprice") * dec_one_minus("l_discount")).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {dec_sum_sql(_DISC_PRICE_SQL)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
    tags=("join", "agg", "flagship"),
    bench=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join.  The three dims
    (supplier/nation/region) broadcast; only the two fact joins shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        # supplier is a GROWING dim (O(SF)) — no forced broadcast; AQE
        # size-gates it at runtime (broadcasts at small SF, SMJ at 100 TB).
        # nation/region stay hinted: constant 25/5 rows at every SF.
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(dec_money("l_extendedprice") * dec_one_minus("l_discount")).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {dec_sum_sql(_DISC_PRICE_SQL)} AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "flagship"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking with a broadcast
    nation dim and top-20 heap."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-07-01 00:00:00")
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dec_sum(dec_money("l_extendedprice") * dec_one_minus("l_discount")).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {dec_sum_sql('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             {_DISC_PRICE_SQL} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "flagship"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per
    year — two independent broadcast joins against the same dim under
    different aliases, disjunctive cross-filter, year extraction."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    joined = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (dec_money("l_extendedprice") * dec_one_minus("l_discount")).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dec_sum("volume").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT l_year,
           {dec_sum_sql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
           / {dec_sum_sql('volume')} AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS l_year,
             {_DISC_PRICE_SQL} AS volume,
             n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    )
    GROUP BY l_year
    ORDER BY l_year
    """,
    tags=("join", "agg", "flagship"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of total volume per year —
    conditional aggregation ratio (two decimal sums, double division)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    vol = dec_money("l_extendedprice") * dec_one_minus("l_discount")
    base = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(s, s.s_suppkey == li.l_suppkey)  # growing dim: AQE decides
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("l_year"),
            vol.alias("volume"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
    return (
        base.groupBy("l_year")
        .agg((dec_sum(nat_vol) / dec_sum("volume")).alias("mkt_share"))
        .orderBy("l_year")
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ym,
           100.0 * {dec_sum_sql(f"CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE_SQL} ELSE 0 END")}
           / {dec_sum_sql(_DISC_PRICE_SQL)} AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("join", "agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per month (conditional
    ratio over a broadcast part join)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    p = load_table(spark, sf_dir, "part")
    rev = dec_money("l_extendedprice") * dec_one_minus("l_discount")
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(16,4)"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)  # growing dim: AQE decides
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ym"))
        .agg((100.0 * dec_sum(promo_rev) / dec_sum(rev)).alias("promo_share_pct"))
        .orderBy("ym")
    )


@query(
    "q18_large_volume_customers",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           {dec_sum_sql('l_quantity')} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    """,
    tags=("join", "agg", "subquery"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers holding very large orders — IN over an
    aggregated subquery becomes a left-semi join against the HAVING
    output."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec6("l_quantity")).alias("sq"))
        .where(F.col("sq") > 250)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "big_ok"), F.col("o_orderkey") == F.col("big_ok"), "left_semi")
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(dec_sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


@query(
    "agg_listagg_ordered",
    oracle="""
    SELECT o_orderstatus,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_totalprice DESC, o_orderkey) AS top_keys
    FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 5
    GROUP BY o_orderstatus
    """,
    tags=("agg", "listagg"),
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG: collect (sort_key, value) structs, sort the
    array, project values, join — the deterministic way to build ordered
    string aggregates (collect_list alone has no order guarantee)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    top5 = o.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    pairs = F.collect_list(
        F.struct((-F.col("o_totalprice")).alias("k"), F.col("o_orderkey").alias("o"), F.col("o_orderkey").cast("string").alias("v"))
    )
    ordered_vals = F.transform(F.sort_array(pairs), lambda s: s["v"])
    return top5.groupBy("o_orderstatus").agg(
        F.concat_ws(",", ordered_vals).alias("top_keys")
    )


@query(
    "q19_disjunctive_pushdown",
    oracle=f"""
    SELECT COUNT(*) AS n, {dec_sum_sql(_DISC_PRICE_SQL)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """,
    tags=("join", "filter", "flagship"),
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    Catalyst splits out the single-side conjuncts it can push (brand/size
    to the part scan, quantity to lineitem) and evaluates the cross-side
    disjunction post-join — the predicate-decomposition stress test."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)  # growing dim: AQE decides
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & sz.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#2") & sz.between(10, 30) & q.between(10, 35))
        | ((b == "Brand#3") & sz.between(20, 50) & q.between(20, 50))
    )
    return joined.where(cond).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(dec_money("l_extendedprice") * dec_one_minus("l_discount")).alias("revenue"),
    )


@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand != 'Brand#1'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("join", "agg", "subquery"),
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts under NOT IN filters on
    both attributes and a subquery (NOT IN over a non-null key = left
    anti join; with nullable keys NOT IN needs the null-aware variant —
    keys here are non-null)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        # part and the negative-balance supplier set both grow with SF —
        # no forced broadcast; AQE picks broadcast vs shuffled anti-join.
        li.join(p, li.l_partkey == p.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q21_waiting_orders",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    tags=("join", "subquery", "exists"),
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS self-joins on the
    fact table ('supplier who shipped last on multi-supplier orders').
    Expressed through spark.sql so Catalyst's decorrelation turns both
    subqueries into semi/anti joins on l_orderkey."""
    for t in ("supplier", "lineitem", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        """
    )


@query(
    "q22_global_sales_opportunity",
    oracle=f"""
    SELECT cohort, COUNT(*) AS numcust,
           {dec_sum_sql('c_acctbal')} AS totacctbal
    FROM (
      SELECT substring(c_name, 10, 1) AS cohort, c_acctbal, c_custkey
      FROM customer
      WHERE c_acctbal > (SELECT {dec_avg_sql('c_acctbal')}
                         FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    )
    GROUP BY cohort
    ORDER BY cohort
    """,
    tags=("subquery", "agg", "exists"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balances among customers with no
    orders, cohorted by a name substring — scalar subquery + NOT EXISTS
    + post-aggregation in one query."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        f"""
        SELECT cohort, COUNT(*) AS numcust,
               {dec_sum_sql('c_acctbal')} AS totacctbal
        FROM (
          SELECT substring(c_name, 10, 1) AS cohort, c_acctbal, c_custkey
          FROM customer
          WHERE c_acctbal > (SELECT {dec_avg_sql('c_acctbal')}
                             FROM customer WHERE c_acctbal > 0)
            AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        )
        GROUP BY cohort
        ORDER BY cohort
        """
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("agg", "exists"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority counts for orders with at least one
    late-shipping line — correlated EXISTS with a cross-table predicate,
    decorrelated to a semi join."""
    for t in ("orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {dec_sum_sql(_DISCOUNT_SQL)} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter", "flagship"),
    bench=True,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the pushdown
    benchmark — every predicate reaches the parquet scan, zero joins,
    one partial+final aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dec_sum(dec_money("l_extendedprice") * dec_rate("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of per-customer order counts — two
    stacked aggregations; the second groups on the first's output
    (double-aggregation pattern)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {dec_sum_sql(_DISC_PRICE_SQL)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("join", "agg", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum period revenue —
    a reused derived relation (CTE) consumed twice (join + scalar max).
    The decimal revenue makes the equality comparison exact; with plain
    float sums 'x = MAX(x)' is a correctness trap.

    The scalar max stays IN-PLAN: the 1-row ``MAX(total_revenue)``
    aggregate is broadcast and equi-joined against revenue, so the whole
    query is one job with a single pass over lineitem — no driver-side
    ``collect`` round-trip, and the only broadcast is exactly one row
    (broadcasting ``revenue`` itself would grow with supplier count)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-07-01 00:00:00")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dec_sum(dec_money("l_extendedprice") * dec_one_minus("l_discount")).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    top = revenue.join(
        F.broadcast(max_rev), revenue.total_revenue == max_rev.max_revenue
    ).select("supplier_no", "total_revenue")
    return (
        s.join(F.broadcast(top), s.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT {dec_sum_sql('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (SELECT 0.2 * ({dec_sum_sql('l2.l_quantity')} / COUNT(l2.l_quantity))
                        FROM lineitem l2 WHERE l2.l_partkey = l_partkey)
    """,
    tags=("join", "subquery", "agg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines below 20% of their part's average quantity
    — correlated scalar AVG subquery, decorrelated into an aggregate
    join on partkey."""
    for t in ("lineitem", "part"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        f"""
        SELECT {dec_sum_sql('l_extendedprice')} / 7.0 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#5'
          AND l_quantity < (SELECT 0.2 * ({dec_avg_sql('l2.l_quantity')})
                            FROM lineitem l2 WHERE l2.l_partkey = l_partkey)
        """
    )


# partsupp proxy: the fixtures lack a partsupp table; derive the
# (part, supplier) relation from observed lineitem with min price as the
# supply-cost proxy and summed quantity as availability.  Declared once
# in SQL so the Spark and DuckDB sides share the exact definition.
_PARTSUPP_PROXY_SQL = f"""
    partsupp AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(l_extendedprice) AS ps_supplycost,
             {dec_sum_sql('l_quantity')} AS ps_availqty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
"""


def _partsupp_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(
        F.min("l_extendedprice").alias("ps_supplycost"),
        dec_sum("l_quantity").alias("ps_availqty"),
    )


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_PROXY_SQL}
    SELECT s_acctbal, s_name, n_name, ps_partkey AS p_key, ps_supplycost
    FROM partsupp
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost) FROM partsupp ps2
                           JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
                           JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                           JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                           WHERE ps2.ps_partkey = ps_partkey AND r2.r_name = 'ASIA')
    ORDER BY s_acctbal DESC, n_name, s_name, p_key
    """,
    tags=("join", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within a region —
    correlated MIN subquery over the same join tree, decorrelated to a
    per-part aggregate join.  Exact equality on the float cost works
    because both sides compute MIN over identical values."""
    for t in ("lineitem", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        f"""
        WITH {_PARTSUPP_PROXY_SQL}
        SELECT s_acctbal, s_name, n_name, ps_partkey AS p_key, ps_supplycost
        FROM partsupp
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost) FROM partsupp ps2
                               JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
                               JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                               JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                               WHERE ps2.ps_partkey = ps_partkey AND r2.r_name = 'ASIA')
        ORDER BY s_acctbal DESC, n_name, s_name, p_key
        """
    )


@query(
    "q9_product_type_profit",
    oracle=f"""
    WITH {_PARTSUPP_PROXY_SQL}
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           {dec_sum_sql(_PROFIT_SQL)} AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_type = 'PROMO'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year
    """,
    tags=("join", "agg"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by nation and year over a 6-relation join
    including the (derived) partsupp on its composite key."""
    ps = _partsupp_proxy(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        dec_money("l_extendedprice") * dec_one_minus("l_discount")
        - dec_money("ps_supplycost")
        * F.col("l_quantity").cast("decimal(4,0)")
        * dec_rate(F.lit(0.01))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)  # growing dims: AQE decides
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            ps,
            (ps.ps_partkey == li.l_partkey) & (ps.ps_suppkey == li.l_suppkey),
        )
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dec_sum(profit).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


@query(
    "q11_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_PROXY_SQL}
    SELECT ps_partkey AS p_key,
           {dec_sum_sql('ps_supplycost * ps_availqty')} AS stock_value
    FROM partsupp
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    GROUP BY ps_partkey
    HAVING SUM({dec6_sql('ps_supplycost * ps_availqty')})
         > (SELECT SUM({dec6_sql('ps_supplycost * ps_availqty')}) * 0.002
            FROM partsupp
            JOIN supplier ON s_suppkey = ps_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))
    ORDER BY stock_value DESC, p_key
    """,
    tags=("join", "agg", "subquery"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value exceeds a fraction of
    the national total — HAVING against an uncorrelated scalar subquery
    over the same relation (decimal sums keep the threshold comparison
    exact in both engines)."""
    for t in ("lineitem", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        f"""
        WITH {_PARTSUPP_PROXY_SQL}
        SELECT ps_partkey AS p_key,
               {dec_sum_sql('ps_supplycost * ps_availqty')} AS stock_value
        FROM partsupp
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        GROUP BY ps_partkey
        HAVING SUM({dec6_sql('ps_supplycost * ps_availqty')})
             > (SELECT SUM({dec6_sql('ps_supplycost * ps_availqty')}) * 0.002
                FROM partsupp
                JOIN supplier ON s_suppkey = ps_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))
        ORDER BY stock_value DESC, p_key
        """
    )


@query(
    "q12_priority_by_category",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("join", "agg"),
)
def q12_priority_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode replaced by the return flag the
    fixtures have): conditional counts split by a priority class over a
    fact-fact join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q20_excess_stock_suppliers",
    oracle=f"""
    WITH {_PARTSUPP_PROXY_SQL}
    SELECT s_name, s_suppkey
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
      AND s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND ps_availqty > (SELECT 0.5 * {dec_sum_sql('l_quantity')}
                             FROM lineitem
                             WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                               AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00')
      )
    ORDER BY s_suppkey
    """,
    tags=("join", "subquery", "exists"),
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: triple-nested IN — suppliers holding excess
    stock of promo parts, with a correlated scalar threshold on the
    innermost level.  Catalyst flattens the IN chain into semi joins and
    decorrelates the scalar into an aggregate join."""
    for t in ("lineitem", "supplier", "nation", "part"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        f"""
        WITH {_PARTSUPP_PROXY_SQL}
        SELECT s_name, s_suppkey
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
          AND s_suppkey IN (
            SELECT ps_suppkey FROM partsupp
            WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
              AND ps_availqty > (SELECT 0.5 * {dec_sum_sql('l_quantity')}
                                 FROM lineitem
                                 WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                                   AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00')
          )
        ORDER BY s_suppkey
        """
    )


@query(
    "merge_upsert",
    oracle="""
    WITH base AS (SELECT event_id, user_id, value FROM events WHERE event_id % 3 != 0),
    updates AS (SELECT event_id, user_id, value * 2 AS value FROM events WHERE event_id % 2 = 0)
    SELECT COALESCE(b.event_id, u.event_id) AS event_id,
           COALESCE(u.user_id, b.user_id) AS user_id,
           COALESCE(u.value, b.value) AS value,
           CASE WHEN u.event_id IS NULL THEN 'kept'
                WHEN b.event_id IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM base b FULL JOIN updates u ON b.event_id = u.event_id
    """,
    tags=("join", "merge", "cdc"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge/upsert semantics on plain parquet relations: one full
    outer join on the key, COALESCE picking update-over-base, action
    column for audit.  This is what MERGE INTO compiles to without a
    transactional table format; at scale the join is key-partitioned
    sort-merge and the result rewrites only affected partitions."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 3 != 0).select("event_id", "user_id", "value")
    updates = ev.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", (F.col("value") * 2).alias("value")
    )
    b = base.alias("b")
    u = updates.alias("u")
    return b.join(u, F.col("b.event_id") == F.col("u.event_id"), "full").select(
        F.coalesce(F.col("b.event_id"), F.col("u.event_id")).alias("event_id"),
        F.coalesce(F.col("u.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("u.value"), F.col("b.value")).alias("value"),
        F.when(F.col("u.event_id").isNull(), "kept")
        .when(F.col("b.event_id").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )


@query(
    "scd2_history",
    oracle="""
    SELECT user_id, event_id, value AS state_value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           LEAD(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM events
    WHERE event_type = 'signup' OR event_type = 'purchase'
    """,
    tags=("window", "scd2", "cdc"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build: each state-change event becomes a
    versioned row with [valid_from, valid_to) from lead(ts); the open
    row (valid_to NULL) is current.  One window pass over the change
    stream — the standard dimension-history materialization."""
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "signup") | (F.col("event_type") == "purchase")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("state_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Deterministic mode / weighted aggregates / time-bucket rollup
# ---------------------------------------------------------------------------
@query(
    "agg_mode_top1",
    oracle="""
    SELECT o_orderstatus, mode_priority, n
    FROM (
      SELECT o_orderstatus, o_orderpriority AS mode_priority, COUNT(*) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY COUNT(*) DESC, o_orderpriority
             ) AS rn
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority
    )
    WHERE rn = 1
    """,
    tags=("agg", "mode"),
)
def agg_mode_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic statistical mode per group.  Built-in ``mode()`` is
    tie-nondeterministic across engines, so the portable formulation is
    count-per-value -> row_number with an explicit value tiebreak.  The
    count aggregate map-side combines; only the (group, value) pairs —
    not the raw rows — reach the window sort."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@query(
    "agg_weighted_avg",
    oracle=f"""
    SELECT l_returnflag,
           {dec_sum_sql(_DISCOUNT_SQL)} AS sum_weighted,
           {dec_sum_sql('l_extendedprice')} AS sum_weight,
           {dec_sum_sql(_DISCOUNT_SQL)} / {dec_sum_sql('l_extendedprice')}
             AS wavg_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-weighted average discount: two decimal sums and one double
    division — order-independent, so bit-exact across engines.  One
    map-side-combining hash aggregate; no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    sw = dec_sum(dec_money("l_extendedprice") * dec_rate("l_discount"))
    tw = dec_sum("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        sw.alias("sum_weighted"),
        tw.alias("sum_weight"),
        (sw / tw).alias("wavg_discount"),
    )


@query(
    "agg_time_bucket_hourly",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           {dec_sum_sql('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "time", "rollup"),
)
def agg_time_bucket_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly hypertable-style rollup of the event stream: time-bucket +
    type grain with count / distinct-user / decimal-sum measures.  The
    batch mirror of the streaming tumbling window — at scale this is the
    continuous-aggregate materialization pattern, and date_trunc keeps
    the bucket computation inside codegen (no UDF, no shuffle before the
    partial agg)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dec_sum("value").alias("sum_value"),
    )


@query(
    "fn_struct_argmax",
    oracle="""
    SELECT o_custkey, o_totalprice AS best_price, o_orderkey AS best_orderkey
    FROM (
      SELECT o_custkey, o_totalprice, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey DESC
             ) AS rn
      FROM orders
    )
    WHERE rn = 1
    """,
    tags=("fn", "struct", "agg"),
)
def fn_struct_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-ordering argmax: max(struct(price, key)) compares structs
    lexicographically, so one hash aggregate (with map-side partial max)
    replaces the window row_number formulation — no full per-partition
    sort, which is the cheaper plan at 100 TB.  Also exercises struct
    construction and field extraction."""
    o = load_table(spark, sf_dir, "orders")
    best = F.max(
        F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    )
    return o.groupBy("o_custkey").agg(best.alias("b")).select(
        "o_custkey",
        F.col("b.p").alias("best_price"),
        F.col("b.k").alias("best_orderkey"),
    )


@query("agg_sketch_panel", tags=("agg", "sketch", "approx"))
def agg_sketch_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch panel (Apache DataSketches, built into Spark
    4.x): per-group HLL and Theta distinct-count estimates next to the
    exact count, plus an ALL row whose HLL estimate comes from UNIONING
    the per-group sketches — the property that matters at 100 TB, where
    per-shard/per-day sketches are persisted once and re-aggregated
    along any rollup without touching raw data again.  Both sketch
    types are insertion-order independent (register max / k-min hash),
    so results are partition-deterministic; KLL quantile sketches are
    NOT (sampling is stream-order dependent) and are deliberately
    excluded.  Rows-only: no SQL oracle can replay these exact sketch
    internals; tests/test_sketches.py bounds the estimates against the
    exact counts instead."""
    li = load_table(spark, sf_dir, "lineitem")
    groups = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).cast("long").alias("hll_orders"),
        F.theta_sketch_estimate(F.theta_sketch_agg("l_orderkey"))
        .cast("long")
        .alias("theta_orders"),
        F.hll_sketch_agg("l_orderkey").alias("_sk"),
    )
    merged = groups.agg(
        F.sum("exact_orders").alias("exact_orders"),  # sums group-distincts, not global
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).cast("long").alias("hll_orders"),
        F.lit(None).cast("long").alias("theta_orders"),
    ).select(F.lit("ALL_UNIONED").alias("l_returnflag"), "exact_orders", "hll_orders", "theta_orders")
    return groups.drop("_sk").unionByName(merged)


@query(
    "agg_weighted_percentile_exact",
    oracle=f"""
    WITH w AS (
      SELECT l_returnflag, l_quantity,
             {cents_sql('l_extendedprice')} AS wt,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    cum AS (
      SELECT l_returnflag, l_quantity, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY l_quantity, l_orderkey, l_linenumber
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
      FROM w
    ),
    hits AS (
      SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity, cw) AS rn
      FROM cum WHERE cw * 2 >= tw
    )
    SELECT c.l_returnflag, h.l_quantity AS weighted_median_qty,
           CAST(MAX(c.tw) AS BIGINT) AS total_weight_cents
    FROM cum c JOIN hits h ON c.l_returnflag = h.l_returnflag AND h.rn = 1
    GROUP BY c.l_returnflag, h.l_quantity
    """,
    tags=("agg", "stats", "window"),
)
def agg_weighted_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group (weight = revenue cents): the
    smallest value whose cumulative weight reaches half the group total
    — the quality-weighted budget question ('the median token is in a
    document of what quality?') that unweighted percentiles cannot
    answer and approximate sketches answer nondeterministically.

    Determinism: weights integerize to cents via FLOOR (no cast-rounding
    divergence) and the lower-weighted-median rule (cw*2 >= tw) is pure
    integer arithmetic.

    Scale shape (round-13 rewrite): the weight mass first collapses to
    the VALUE DOMAIN (one row per (flag, quantity) — a map-side-partial
    aggregate; TPC-H quantities have 50 distinct values, and even a
    continuous column is bounded by its distinct count), then the
    running weight comes from the weighted bucket-offset global index —
    NOT the pre-rewrite per-flag cumulative window over RAW rows, which
    sorted the whole table at parallelism 3 (measured 1.58 s → 7.91 s
    sf0.1→sf1, the Spearman/gini curve).  The median value is invariant
    under the rollup: the first RAW row past half-weight lies inside
    some value v's run, so all of v's predecessors are below half-weight
    and v's inclusive value-level cumulative reaches it — the same v the
    value-level scan picks.  The final pick is a MIN over a monotone
    threshold condition — no window at all above the index."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    li = load_table(spark, sf_dir, "lineitem")
    vc = (
        li.select(
            "l_returnflag",
            "l_quantity",
            cents("l_extendedprice").alias("wt"),
        )
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.sum("wt").alias("wt"))
    )
    idx = with_global_index(
        vc, "l_quantity", ["l_quantity"], group_cols=["l_returnflag"], weight_col="wt"
    )
    return idx.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("_gcum") * 2 >= F.col("_gwtot"), F.col("l_quantity"))
        ).alias("weighted_median_qty"),
        F.max("_gwtot").cast("long").alias("total_weight_cents"),
    )


@query(
    "join_null_aware_anti",
    oracle=f"""
    SELECT COUNT(*) AS n_orders, {dec_sum_sql('o_totalprice')} AS total_price
    FROM orders
    WHERE o_custkey NOT IN (SELECT nullif(c_custkey, -1) FROM customer
                            WHERE c_acctbal < 0)
    """,
    tags=("join", "subquery", "null"),
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a NULLABLE subquery — the null-aware anti join.  Q16
    runs NOT IN over a provably non-null key (a plain LeftAnti); here
    the subquery column is nullable (nullif), so three-valued logic
    applies and Spark must plan the null-aware variant — the executed
    plan shows ``BroadcastHashJoin ... LeftAnti, BuildRight, true``
    (trailing flag = isNullAwareAntiJoin; asserted in test_plans).  At
    scale NAAJ requires the build side to broadcast (streamed-side NULL
    checks need the whole set per task); if the subquery outgrows the
    broadcast threshold the rewrite is the documented
    NOT EXISTS + explicit null guard, which shuffles instead."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        f"""
        SELECT COUNT(*) AS n_orders,
               {dec_sum_sql('o_totalprice')} AS total_price
        FROM orders
        WHERE o_custkey NOT IN (SELECT nullif(c_custkey, -1) FROM customer
                                WHERE c_acctbal < 0)
        """
    )


@query(
    "subquery_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c JOIN LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t ON true
    WHERE c.c_custkey % 500 = 0
    """,
    tags=("join", "subquery", "window"),
)
def subquery_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (SQL
    top-2-orders-per-customer), run through ``spark.sql`` literally —
    Spark 4 decorrelates the lateral into a ranked join rather than
    executing it per row, which is exactly the window formulation
    window_topk_per_group writes by hand.  Registered to pin that the
    LATERAL surface itself works and keeps the decorrelated (non-
    iterative) plan; the customer filter keeps the probe set small and
    pushes to the scan."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey % 500 = 0
        """
    )


CMS_DEPTH = 4      # independent hash rows
CMS_WIDTH = 64     # counters per row
CMS_SAMPLE_MOD = 97  # which user_ids the report shows (bounded output)


def _cms_oracle() -> str:
    return f"""
    WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS dep),
    h AS MATERIALIZED (
      SELECT e.user_id, d.dep,
             {md5_long_sql("'cms' || CAST(d.dep AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}
                  % {CMS_WIDTH} AS b
      FROM events e CROSS JOIN depths d
    ),
    counters AS (SELECT dep, b, COUNT(*) AS c FROM h GROUP BY dep, b),
    tru AS (
      SELECT user_id, COUNT(*) AS true_cnt FROM events
      WHERE user_id % {CMS_SAMPLE_MOD} = 0 GROUP BY user_id
    ),
    uh AS (SELECT DISTINCT user_id, dep, b FROM h
           WHERE user_id % {CMS_SAMPLE_MOD} = 0),
    est AS (
      SELECT u.user_id, MIN(c.c) AS cms_est
      FROM uh u JOIN counters c ON c.dep = u.dep AND c.b = u.b
      GROUP BY u.user_id
    )
    SELECT t.user_id, CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est
    FROM tru t JOIN est e ON t.user_id = e.user_id
    """


@query(
    "agg_cms_frequency",
    oracle=_cms_oracle(),
    tags=("agg", "approx", "sketch"),
)
def agg_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan) point queries, made
    oracle-checkable the same way as ``agg_kmv_distinct``: the d=4
    salted md5 hashes are replayed bit-identically by both engines, so
    the sketch — normally "approximate" — is DETERMINISTIC given the
    hash family.  Counters[dep][h_dep(key)] accumulate row counts; a
    point estimate is min over depths; the report joins the estimate to
    the true per-user count (est >= true always — CMS errs only upward,
    which the driver hash implicitly verifies on every sampled user).

    Scale: the counter relation is d x w = {CMS_DEPTH * CMS_WIDTH} rows
    REGARDLESS of input size, and the groupBy reaches it through
    map-side partial aggregation — per partition at most d*w counter
    rows cross the exchange, the textbook mergeable-sketch property
    (the same argument as agg_incremental_merge).  Point lookups then
    BROADCAST the counters; nothing keyed by user ever shuffles except
    the true-count comparison, which a production sketch consumer
    wouldn't compute.  The fixture width keeps collisions visible
    (1500+ users onto 64 counters/row) so the est-vs-true gap is a real
    demonstration, not a degenerate identity."""
    ev = load_table(spark, sf_dir, "events")

    def bucket(dep: int):
        return md5_long(F.concat(F.lit(f"cms{dep}:"), F.col("user_id").cast("string"))) % CMS_WIDTH

    hashed = ev.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dep).alias("dep"), bucket(dep).alias("b"))
                    for dep in range(CMS_DEPTH)
                ]
            )
        ).alias("db"),
    ).select("user_id", F.col("db.dep").alias("dep"), F.col("db.b").alias("b"))
    counters = hashed.groupBy("dep", "b").agg(F.count(F.lit(1)).alias("c"))
    sampled = F.col("user_id") % CMS_SAMPLE_MOD == 0
    tru = ev.where(sampled).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    uh = hashed.where(sampled).distinct()
    est = (
        uh.join(F.broadcast(counters), ["dep", "b"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_est"))
    )
    return tru.join(est, "user_id").select(
        "user_id",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
    )


HLL_M = 64          # registers (2^6 buckets)
HLL_ALPHA_M = 0.709  # standard alpha for m = 64
# register sum scaled by 2^HLL_SHIFT so Z = sum(2^-M_j) is EXACT BIGINT
# arithmetic: max sum = m * 2^56 = 2^62 < 2^63, and the smallest term
# 2^(56-55) = 2 is still integral (rank <= 55 on a 54-bit suffix).
HLL_SHIFT = 56
# the estimator numerator alpha * m^2 * 2^shift folded to ONE double in
# Python and injected verbatim into BOTH engines — folding it engine-side
# would round differently (DuckDB parses 0.709 as DECIMAL, Spark as
# DOUBLE), and a 1-ulp numerator drift shows up in the hash.
HLL_NUMERATOR = HLL_ALPHA_M * HLL_M * HLL_M * float(1 << HLL_SHIFT)


def _hll_oracle() -> str:
    return f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             {md5_long_sql("'hll:' || CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    jw AS (SELECT event_type, hv % {HLL_M} AS j, hv // {HLL_M} AS w FROM h),
    ranks AS (
      SELECT event_type, j,
             CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS r
      FROM jw
    ),
    regs AS (SELECT event_type, j, MAX(r) AS m_j FROM ranks GROUP BY event_type, j),
    axis AS (
      SELECT t.event_type, b.j
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(range(0, {HLL_M})) AS j) b
    ),
    full_regs AS (
      SELECT a.event_type, COALESCE(r.m_j, 0) AS m_j
      FROM axis a LEFT JOIN regs r ON a.event_type = r.event_type AND a.j = r.j
    ),
    s AS (
      SELECT event_type,
             SUM(1::BIGINT << ({HLL_SHIFT} - m_j)) AS reg_sum,
             SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS n_zero
      FROM full_regs GROUP BY event_type
    ),
    tru AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY event_type)
    SELECT t.event_type, CAST(t.exact_distinct AS BIGINT) AS exact_distinct,
           {HLL_NUMERATOR!r} / s.reg_sum AS hll_estimate,
           CAST(s.n_zero AS BIGINT) AS zero_registers
    FROM tru t JOIN s ON t.event_type = s.event_type
    """


@query(
    "agg_hll_deterministic",
    oracle=_hll_oracle(),
    tags=("agg", "approx", "sketch"),
)
def agg_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (Flajolet et al.) distinct-count, DETERMINISTIC and
    oracle-checked — completing the replayable-sketch trio (KMV
    ``agg_kmv_distinct`` for distincts by order statistics, CMS
    ``agg_cms_frequency`` for point frequencies, HLL here for distincts
    by register maxima).  Spark's own HLL (``agg_approx``) stays
    rows-only because its hash is engine-internal; seeding the register
    pipeline with the shared md5 hash makes every register — and hence
    the estimate — bit-identical across engines.

    All-integer register math: the 60-bit hash splits into bucket j
    (low 6 bits) and a 54-bit suffix w; rank = 55 - bit_length(w)
    (leading zeros + 1, via the shared ``bin()`` string — no float
    log2, which is NOT portable at power-of-two boundaries).  The
    harmonic denominator Z = sum(2^-M_j) is rescaled by 2^{HLL_SHIFT} so the
    register sum is EXACT BIGINT (max 2^62); alpha*m^2/Z is then ONE
    IEEE divide — the float-portability convention.  The raw estimator
    is emitted as-is with zero_registers alongside: production HLL
    switches to linear counting (m*ln(m/V)) below 2.5m, but ln() is a
    libm call this repo's portability rules exclude, and the report
    carries V so a consumer can apply it.

    Scale: registers are the textbook mergeable state — the per-group
    relation is m = {HLL_M} rows REGARDLESS of input (partial max per
    (group, j) combines map-side), the full-axis completion joins a
    broadcast {HLL_M}-row axis, and nothing keyed by user survives past
    the first dedup-aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hv = md5_long(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    h = ev.select("event_type", hv.alias("hv")).distinct()
    # w must be the exact integer quotient: hv is 60 bits, and a double
    # divide would lose bits above 2^53 — `div` keeps it in BIGINT.
    jw = h.select(
        "event_type",
        (F.col("hv") % HLL_M).alias("j"),
        F.expr(f"hv div {HLL_M}").alias("w"),
    )
    ranks = jw.select(
        "event_type",
        "j",
        F.when(F.col("w") == 0, F.lit(55)).otherwise(
            F.lit(55) - F.length(F.bin("w"))
        ).alias("r"),
    )
    regs = ranks.groupBy("event_type", "j").agg(F.max("r").alias("m_j"))
    types = ev.select("event_type").distinct()
    axis = types.crossJoin(
        F.broadcast(
            ev.sparkSession.range(HLL_M).select(F.col("id").cast("long").alias("j"))
        )
    )
    full_regs = axis.join(regs, ["event_type", "j"], "left").select(
        "event_type", F.coalesce("m_j", F.lit(0)).alias("m_j")
    )
    s = full_regs.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(1L, {HLL_SHIFT} - m_j)")).alias("reg_sum"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0)).alias("n_zero"),
    )
    tru = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    # raw estimate as the bare IEEE divide — no round(): an integer
    # round of a computed double is a half-tie landmine cross-engine
    est = F.lit(HLL_NUMERATOR) / F.col("reg_sum")
    return tru.join(s, "event_type").select(
        "event_type",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        est.alias("hll_estimate"),
        F.col("n_zero").cast("long").alias("zero_registers"),
    )


def contingency_table(df: DataFrame, rcol: str, ccol: str) -> DataFrame:
    """The zero-filled contingency grid of two bounded-domain columns:
    one row per (rl, cl) level pair with n_obs, the margins n_row and
    n_col, the total n_tot, the expected count n_row*n_col/n_tot and the
    chi-square contribution (o-e)^2/e.

    Counts are exact BIGINT; the margin product is an ``int128`` (BIGINT
    overflows at ~3e9 rows per margin) entering the double world through
    ONE ``to_double``, so expected and contrib are identical IEEE op
    trees on both engines.  groupBy yields only OBSERVED cells, but an
    empty cell still contributes its full expected count, so the grid
    is row-margin x col-margin with counts left-joined back as 0.  The
    cell relation is materialized (three margin re-reads) and every
    join is a broadcast of a bounded aggregate."""
    cells = materialize(
        df.groupBy(F.col(rcol).alias("rl"), F.col(ccol).alias("cl"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    r = cells.groupBy("rl").agg(F.sum("n_obs").cast("long").alias("n_row"))
    c = cells.groupBy("cl").agg(F.sum("n_obs").cast("long").alias("n_col"))
    t = cells.agg(F.sum("n_obs").cast("long").alias("n_tot"))
    expected = to_double(int128("n_row") * F.col("n_col")) / F.col("n_tot")
    diff = F.col("n_obs").cast("double") - F.col("expected")
    return (
        r.crossJoin(F.broadcast(c))
        .join(F.broadcast(cells), ["rl", "cl"], "left")
        .crossJoin(F.broadcast(t))
        .select(
            "rl",
            "cl",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            "n_row",
            "n_col",
            "n_tot",
            expected.alias("expected"),
        )
        .withColumn("contrib", diff * diff / F.col("expected"))
    )


def contingency_table_sql(idx: int | str, table: str, rcol: str, ccol: str) -> str:
    """DuckDB twin of ``contingency_table``: the CTE chain ending in
    ``e{idx}``, suffixed with ``idx`` so several tables share one flat
    WITH."""
    return f"""
    cells{idx} AS MATERIALIZED (
      SELECT {rcol} AS rl, {ccol} AS cl, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM {table} GROUP BY 1, 2
    ),
    r{idx} AS (SELECT rl, CAST(SUM(n_obs) AS BIGINT) AS n_row FROM cells{idx} GROUP BY 1),
    c{idx} AS (SELECT cl, CAST(SUM(n_obs) AS BIGINT) AS n_col FROM cells{idx} GROUP BY 1),
    t{idx} AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM cells{idx}),
    x{idx} AS (
      SELECT rl, cl, COALESCE(n_obs, 0) AS n_obs, n_row, n_col, n_tot,
             {to_double_sql(int128_sql('n_row') + ' * n_col')} / n_tot AS expected
      FROM r{idx} CROSS JOIN c{idx}
      LEFT JOIN cells{idx} USING (rl, cl)
      CROSS JOIN t{idx}
    ),
    e{idx} AS (
      SELECT *, (CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected)
                  / expected AS contrib
      FROM x{idx}
    )"""


@query(
    "agg_chi_square_independence",
    oracle="WITH " + contingency_table_sql("", "orders", "o_orderpriority", "o_orderstatus") + """
    SELECT rl AS priority, cl AS status, n_obs, n_row, n_col, expected, contrib
    FROM e
    """,
    tags=("agg", "stats", "experiment"),
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status: the full contingency table with each cell's
    expected count and chi-square contribution (o-e)^2/e — the residual
    view an analyst actually reads (the scalar statistic is the sum of
    the contrib column; summing IEEE doubles in engine-defined order is
    the one non-portable step, so the cells stay unsummed).

    The grid, its margins, expected counts and contributions come from
    ``contingency_table`` (shared with dq_association_cramers_v).

    Scale shape: ONE scan with a map-side-partial groupBy on the two
    key columns; the cell relation (|priorities| x |statuses| = 15
    rows) is lazily materialized, so the three margin re-reads
    cost nothing, and every join after the scan is a broadcast over
    <= 15 rows.  No reference counterpart (main.py:144-146)."""
    o = load_table(spark, sf_dir, "orders")
    return contingency_table(o, "o_orderpriority", "o_orderstatus").select(
        F.col("rl").alias("priority"), F.col("cl").alias("status"),
        "n_obs", "n_row", "n_col", "expected", "contrib",
    )


BAND_CENTS = 2500  # |acctbal difference| <= $25
BAND_TOP = 20


@query(
    "join_band_closest_pairs",
    oracle=f"""
    WITH s AS (
      SELECT s_suppkey, s_nationkey,
             {cents_sql('s_acctbal')} AS bal
      FROM supplier
    )
    SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
           a.s_nationkey AS nation_a, b.s_nationkey AS nation_b,
           CAST(abs(a.bal - b.bal) AS BIGINT) AS diff_cents
    FROM s a JOIN s b
      ON a.s_suppkey < b.s_suppkey
      AND abs(a.bal - b.bal) <= {BAND_CENTS}
    ORDER BY diff_cents, supp_a, supp_b
    LIMIT {BAND_TOP}
    """,
    tags=("join", "topk"),
    bench=True,
)
def join_band_closest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (theta) join made shuffle-joinable: the {BAND_TOP} supplier
    pairs with the closest account balances, restricted to the
    |diff| <= $25 band.  Naive SQL states this as a quadratic
    theta-join (the oracle does exactly that); the Spark plan buckets
    the balance axis at the band width, explodes the LEFT side to its
    bucket plus both neighbors, equi-joins on the bucket key, and
    re-checks the band as a residual filter — every qualifying pair is
    found exactly once (the right row's bucket is unique, so probing
    b-1/b/b+1 from the left covers |diff| <= width without dupes).

    Exactness: balances are exact FLOOR cents (FLOOR, not CAST — DuckDB
    CAST(double AS BIGINT) rounds while Spark truncates); bucket =
    floor(bal/width) is pure integer-valued floor on a <= 2^53 double;
    the distance, ordering, and ties (diff, supp_a, supp_b) are all
    integers.

    Scale shape: the equi-join shuffles on the bucket key, so per-task
    work is bounded by 3x bucket occupancy ~ n * width / value_range —
    linear per row, never the n^2 scan of the theta form (Spark would
    otherwise plan BroadcastNestedLoopJoin).  Output is top-k through
    TakeOrderedAndProject.  The full band RESULT is inherently
    ~n^2 * width / range rows — the top-k cap is what keeps the
    operator's output (and this query) scale-stable."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        cents("s_acctbal").alias("bal"),
    )
    bucket = F.floor(F.col("bal") / F.lit(float(BAND_CENTS))).cast("long")
    left = s.select(
        F.col("s_suppkey").alias("supp_a"),
        F.col("s_nationkey").alias("nation_a"),
        F.col("bal").alias("bal_a"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bk"),
    )
    right = s.select(
        F.col("s_suppkey").alias("supp_b"),
        F.col("s_nationkey").alias("nation_b"),
        F.col("bal").alias("bal_b"),
        bucket.alias("bk"),
    )
    pairs = left.join(right, "bk").where(
        (F.col("supp_a") < F.col("supp_b"))
        & (F.abs(F.col("bal_a") - F.col("bal_b")) <= BAND_CENTS)
    )
    return (
        pairs.select(
            "supp_a",
            "supp_b",
            "nation_a",
            "nation_b",
            F.abs(F.col("bal_a") - F.col("bal_b")).cast("long").alias("diff_cents"),
        )
        .orderBy("diff_cents", "supp_a", "supp_b")
        .limit(BAND_TOP)
    )


@query(
    "agg_covariance_matrix",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS q,
             {cents_sql('l_extendedprice')} AS p,
             {cents_sql('l_discount')} AS d
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {exact_sum_sql('q')} AS sq,
             {exact_sum_sql('p')} AS sp,
             {exact_sum_sql('d')} AS sd,
             {exact_dot_sql('q', 'q')} AS sqq,
             {exact_dot_sql('p', 'p')} AS spp,
             {exact_dot_sql('d', 'd')} AS sdd,
             {exact_dot_sql('q', 'p')} AS sqp,
             {exact_dot_sql('q', 'd')} AS sqd,
             {exact_dot_sql('p', 'd')} AS spd
      FROM b
    )
    SELECT n,
      {to_double_sql(comoment_sql('n', 'sqq', 'sq'))}
        / (CAST(n AS DOUBLE) * (n - 1)) AS var_qty,
      {to_double_sql(comoment_sql('n', 'spp', 'sp'))}
        / (CAST(n AS DOUBLE) * (n - 1)) AS var_price,
      {to_double_sql(comoment_sql('n', 'sdd', 'sd'))}
        / (CAST(n AS DOUBLE) * (n - 1)) AS var_disc,
      {to_double_sql(comoment_sql('n', 'sqp', 'sq', 'sp'))}
        / (CAST(n AS DOUBLE) * (n - 1)) AS cov_qty_price,
      {to_double_sql(comoment_sql('n', 'sqd', 'sq', 'sd'))}
        / (CAST(n AS DOUBLE) * (n - 1)) AS cov_qty_disc,
      {to_double_sql(comoment_sql('n', 'spd', 'sp', 'sd'))}
        / (CAST(n AS DOUBLE) * (n - 1)) AS cov_price_disc
    FROM s
    """,
    tags=("agg", "stats"),
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 3x3 sample covariance matrix of (quantity, price cents,
    discount pct) over lineitem in ONE pass: every entry derives from
    the 9 exact cross-moment sums (``exact_dot``) via cov(X,Y) = (n*Sxy -
    Sx*Sy) / (n*(n-1)) — the n-scaled form that never materializes a
    mean, so the only doubles are one ``to_double`` per exact numerator
    and a fixed divide tree (identical both engines).  Spp*n stays
    inside 38 digits to ~1e11 rows at 1e7-cent prices.

    Scale shape: ONE scan, ONE map-side-partial aggregate to a single
    9-sum row — the textbook all-reduce; nothing downstream touches
    data rows.  This is agg_corr_regr generalized from a single pair to
    the moment matrix a multivariate OLS/PCA step consumes."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.floor(F.col("l_quantity")).cast("long")
    p = cents("l_extendedprice")
    d = cents("l_discount")
    b = li.select(q.alias("q"), p.alias("p"), d.alias("d"))
    s = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        exact_sum("q").alias("sq"),
        exact_sum("p").alias("sp"),
        exact_sum("d").alias("sd"),
        exact_dot("q", "q").alias("sqq"),
        exact_dot("p", "p").alias("spp"),
        exact_dot("d", "d").alias("sdd"),
        exact_dot("q", "p").alias("sqp"),
        exact_dot("q", "d").alias("sqd"),
        exact_dot("p", "d").alias("spd"),
    )
    n = F.col("n")
    den = n.cast("double") * (n - 1)

    def cov(sxy, sx, sy):
        return to_double(comoment(n, sxy, sx, sy)) / den

    return s.select(
        "n",
        cov("sqq", "sq", "sq").alias("var_qty"),
        cov("spp", "sp", "sp").alias("var_price"),
        cov("sdd", "sd", "sd").alias("var_disc"),
        cov("sqp", "sq", "sp").alias("cov_qty_price"),
        cov("sqd", "sq", "sd").alias("cov_qty_disc"),
        cov("spd", "sp", "sd").alias("cov_price_disc"),
    )


def _det3_sql(a, b, c, d, e, f, g, h, i):
    """3x3 determinant as one explicitly-parenthesized SQL double tree —
    the SAME association the Spark builder below produces, so both
    engines round identically at every step."""
    return (
        f"((({a}) * ((({e}) * ({i})) - (({f}) * ({h}))))"
        f" - (({b}) * ((({d}) * ({i})) - (({f}) * ({g}))))"
        f" + (({c}) * ((({d}) * ({h})) - (({e}) * ({g})))))"
    )


def _ols2_oracle() -> str:
    mom = f"""
    WITH b AS (
      SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS q,
             {cents_sql('l_discount')} AS d,
             {cents_sql('l_extendedprice')} AS p
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {exact_sum_sql('q')} AS sq,
             {exact_sum_sql('d')} AS sd,
             {exact_sum_sql('p')} AS sp,
             {exact_dot_sql('q', 'q')} AS sqq,
             {exact_dot_sql('d', 'd')} AS sdd,
             {exact_dot_sql('q', 'd')} AS sqd,
             {exact_dot_sql('q', 'p')} AS sqp,
             {exact_dot_sql('d', 'p')} AS sdp
      FROM b
    ),
    f AS (
      SELECT n,
             CAST(n AS DOUBLE) AS nn,
             {to_double_sql('sq')} AS q1,
             {to_double_sql('sd')} AS d1,
             {to_double_sql('sp')} AS p1,
             {to_double_sql('sqq')} AS qq,
             {to_double_sql('sdd')} AS dd,
             {to_double_sql('sqd')} AS qd,
             {to_double_sql('sqp')} AS qp,
             {to_double_sql('sdp')} AS dp
      FROM s
    )
    SELECT n,
           {{det0}} / {{detA}} AS beta_intercept_cents,
           {{det1}} / {{detA}} AS beta_per_qty_cents,
           {{det2}} / {{detA}} AS beta_per_disc_pct_cents
    FROM f
    """
    detA = _det3_sql("nn", "q1", "d1", "q1", "qq", "qd", "d1", "qd", "dd")
    det0 = _det3_sql("p1", "q1", "d1", "qp", "qq", "qd", "dp", "qd", "dd")
    det1 = _det3_sql("nn", "p1", "d1", "q1", "qp", "qd", "d1", "dp", "dd")
    det2 = _det3_sql("nn", "q1", "p1", "q1", "qq", "qp", "d1", "qd", "dp")
    return mom.format(detA=detA, det0=det0, det1=det1, det2=det2)


@query(
    "agg_ols_two_features",
    oracle=_ols2_oracle(),
    tags=("agg", "stats", "experiment"),
)
def agg_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS in one pass: price_cents ~ quantity + discount_pct
    solved from the 3x3 normal equations by Cramer's rule — the
    multivariate step up from agg_corr_regr's simple regression, and the
    moment-matrix consumer agg_covariance_matrix's docstring promises.

    Exactness: the normal-equation matrix entries are the exact
    integer moment sums (``exact_dot``); each enters the double world through ONE
    ``to_double``, and the four 3x3 determinants are a SINGLE
    explicitly-parenthesized IEEE tree emitted by the same helper for
    both engines (_det3_sql / the Column builder here) — deterministic
    cross-engine, while integer determinants would overflow any fixed
    decimal at ~1e60.

    Scale shape: ONE scan, ONE map-side-partial aggregate folding nine
    sums to a single row; the solve is scalar arithmetic on that row.
    This is the classic 'ML on moments' pattern: the shuffle cost of a
    d-feature OLS is O(d^2) doubles per partition, independent of rows."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor(F.col("l_quantity")).cast("long").alias("q"),
        cents("l_discount").alias("d"),
        cents("l_extendedprice").alias("p"),
    )
    s = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        exact_sum("q").alias("sq"),
        exact_sum("d").alias("sd"),
        exact_sum("p").alias("sp"),
        exact_dot("q", "q").alias("sqq"),
        exact_dot("d", "d").alias("sdd"),
        exact_dot("q", "d").alias("sqd"),
        exact_dot("q", "p").alias("sqp"),
        exact_dot("d", "p").alias("sdp"),
    )
    f = s.select(
        "n",
        F.col("n").cast("double").alias("nn"),
        to_double(F.col("sq")).alias("q1"),
        to_double(F.col("sd")).alias("d1"),
        to_double(F.col("sp")).alias("p1"),
        to_double(F.col("sqq")).alias("qq"),
        to_double(F.col("sdd")).alias("dd"),
        to_double(F.col("sqd")).alias("qd"),
        to_double(F.col("sqp")).alias("qp"),
        to_double(F.col("sdp")).alias("dp"),
    )

    def det3(a, b_, c, d, e, ff, g, h, i):
        # same association as _det3_sql: (t1 - t2) + t3
        t1 = F.col(a) * ((F.col(e) * F.col(i)) - (F.col(ff) * F.col(h)))
        t2 = F.col(b_) * ((F.col(d) * F.col(i)) - (F.col(ff) * F.col(g)))
        t3 = F.col(c) * ((F.col(d) * F.col(h)) - (F.col(e) * F.col(g)))
        return t1 - t2 + t3

    det_a = det3("nn", "q1", "d1", "q1", "qq", "qd", "d1", "qd", "dd")
    det0 = det3("p1", "q1", "d1", "qp", "qq", "qd", "dp", "qd", "dd")
    det1 = det3("nn", "p1", "d1", "q1", "qp", "qd", "d1", "dp", "dd")
    det2 = det3("nn", "q1", "p1", "q1", "qq", "qp", "d1", "qd", "dp")
    return f.select(
        "n",
        (det0 / det_a).alias("beta_intercept_cents"),
        (det1 / det_a).alias("beta_per_qty_cents"),
        (det2 / det_a).alias("beta_per_disc_pct_cents"),
    )


WINSOR_LO = 0.05
WINSOR_HI = 0.95


@query(
    "agg_winsorized_trimmed_mean",
    oracle=f"""
    WITH w AS (
      SELECT o_orderstatus AS status,
             {cents_sql('o_totalprice')} AS cents
      FROM orders
    ),
    q AS (
      SELECT status,
             CAST(quantile_disc(cents, {WINSOR_LO}) AS BIGINT) AS p05,
             CAST(quantile_disc(cents, {WINSOR_HI}) AS BIGINT) AS p95
      FROM w GROUP BY status
    )
    SELECT w.status,
           CAST(COUNT(*) AS BIGINT) AS n,
           p05, p95,
           CAST((1000 * SUM({hugeint_sql('LEAST(GREATEST(cents, p05), p95)')}))
                // COUNT(*) AS BIGINT) AS winsorized_mean_milli,
           CAST((1000 * SUM(CASE WHEN cents BETWEEN p05 AND p95
                                 THEN {hugeint_sql('cents')} ELSE 0 END))
                // SUM(CASE WHEN cents BETWEEN p05 AND p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS trimmed_mean_milli
    FROM w JOIN q USING (status)
    GROUP BY w.status, p05, p95
    """,
    tags=("agg", "stats", "skew-source"),
)
def agg_winsorized_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means of order value per status at the
    [p05, p95] EXACT percentile fences — the outlier-robust location
    estimates every metrics pipeline reaches for when a few whale
    orders (or corrupt rows) drag the plain mean: winsorizing CLAMPS
    the tails to the fences, trimming DROPS them; reporting both makes
    tail mass visible (they diverge exactly when the tails are heavy).

    Exactness end to end: fences are exact quantile_disc order
    statistics from the value-domain pre-aggregation + weighted
    global-index rank (the registry-wide ban on percentile() buffer
    aggregates — per-task state is a bucket of DISTINCT cent values,
    never raw rows; quantile bucketer, since money is heavy-tailed);
    means stay INTEGER all the way (exact 128-bit sums — a
    BIGINT cents sum overflows past ~9e13 rows — and milli-unit floor
    division), so rows are bit-identical across engines with no double
    anywhere.

    Scale shape: one map-side partial to the (status x cents-domain)
    relation feeding BOTH the fence pass and the final fold; fences
    (<= 3 rows) broadcast back; the final aggregate is map-side partial
    again.  No raw-row window, no data-sized join side."""
    from oracle_parquet_dumper_spark.operators.global_index import weighted_quantiles

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        cents("o_totalprice").alias("cents"),
    )
    vc = materialize(
        o.groupBy("status", "cents")
        .agg(F.count(F.lit(1)).alias("_w"))
        # cents first: the checkpointed value-domain relation must NOT
        # lead with 'status', which this query's scoped bounded-domain
        # entry blesses for the <= 3-row fence relations — leading with
        # the value column keeps the lint able to flag a (hypothetical)
        # forced broadcast of this data-sized relation
        .select("cents", "status", "_w")
    )  # value-domain relation, 2 consumers
    q = weighted_quantiles(
        vc,
        "cents",
        "_w",
        group_cols=["status"],
        disc={"p05": WINSOR_LO, "p95": WINSOR_HI},
        bucketer="quantile",
    ).select("status", F.col("p05").cast("long").alias("p05"), F.col("p95").cast("long").alias("p95"))
    j = vc.join(F.broadcast(q), "status")
    clamped = F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
    inside = F.col("cents").between(F.col("p05"), F.col("p95"))
    agg = j.groupBy("status", "p05", "p95").agg(
        F.sum("_w").cast("long").alias("n"),
        exact_dot(clamped, "_w").alias("s_w"),
        exact_dot(F.when(inside, F.col("cents")).otherwise(0), "_w").alias("s_t"),
        F.sum(F.when(inside, F.col("_w")).otherwise(0)).cast("long").alias("n_t"),
    )
    return agg.select(
        "status",
        "n",
        "p05",
        "p95",
        F.expr("CAST((1000 * s_w) div n AS BIGINT)").alias("winsorized_mean_milli"),
        F.expr("CAST((1000 * s_t) div n_t AS BIGINT)").alias("trimmed_mean_milli"),
    )


# --- exact distinct via bitmap aggregation ----------------------------------


@query(
    "agg_bitmap_distinct",
    oracle="""
    WITH bm AS (
      SELECT l_returnflag AS flag, l_suppkey // 63 AS bkt,
             bit_or(CAST(1 AS BIGINT) << CAST(l_suppkey % 63 AS INT)) AS word
      FROM lineitem GROUP BY 1, 2
    )
    SELECT flag, CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM bm GROUP BY flag
    """,
    tags=("agg", "sketch"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT COUNT(DISTINCT) as a two-level bitmap aggregation — the
    roaring/bitmap-index technique (Chambi et al., "Better bitmap
    performance with Roaring bitmaps"): dense integer keys fold into
    (key div 63) words via BIT_OR of single set bits, then popcounts
    sum per group.

    Why it matters at 100 TB: a plain COUNT(DISTINCT key) keeps every
    distinct key alive through the shuffle (the partial state IS the
    key set), while the bitmap's partial state is <= keyspace/63 words
    per group REGARDLESS of row count — BIT_OR is associative and
    commutative, so map-side combine crushes each partition to the
    word relation before anything moves, and re-aggregation (merging
    two days' bitmaps) is another BIT_OR, making the state MERGEABLE
    the way sketches are but without approximation.  63-bit words keep
    the shift inside BIGINT on both engines (DuckDB raises on 1 << 63;
    Spark wraps silently — the planted test pins the equality against
    COUNT(DISTINCT) so neither convention can drift).  ``n_words`` is
    the materialized bitmap size, the op's own memory audit."""
    li = load_table(spark, sf_dir, "lineitem")
    words = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            (F.col("l_suppkey") / 63).cast("long").alias("bkt"),
            # F.shiftleft only takes a literal bit count; the SQL form
            # shifts by a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 63 AS INT))").alias("bit"),
        )
        .groupBy("flag", "bkt")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    return words.groupBy("flag").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_distinct"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


# --- point-in-time (temporal) join ------------------------------------------


@query(
    "join_point_in_time",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_id AS version_id, value AS state_value,
             CAST(ts AS TIMESTAMP) AS valid_from,
             LEAD(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type = 'signup' OR event_type = 'purchase'
    ),
    facts AS (
      SELECT event_id AS fact_id, user_id, CAST(ts AS TIMESTAMP) AS fact_ts
      FROM events WHERE event_type = 'view'
    )
    SELECT f.fact_id, f.user_id, v.version_id, v.state_value
    FROM facts f JOIN versions v
      ON f.user_id = v.user_id
     AND f.fact_ts >= v.valid_from
     AND (v.valid_to IS NULL OR f.fact_ts < v.valid_to)
    """,
    tags=("join", "scd2", "window"),
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join — the feature-store / temporal-warehouse
    staple: each fact row joins the dimension VERSION that was valid at
    the fact's own timestamp (training-serving skew prevention: a model
    trained on today's attributes for last month's facts is leaking the
    future).  The versioned side is the scd2_history relation (signup/
    purchase state changes per user, [valid_from, valid_to) intervals
    from one LEAD window); facts are the view events.

    vs join_asof: asof picks the nearest PRIOR event by pure timestamp
    proximity; PIT picks the version whose VALIDITY INTERVAL contains
    the fact — closed-open interval semantics, exactly one match per
    fact (intervals partition each user's timeline past the first
    version), NULL-valid_to open tail included.

    Scale shape: the join is EQUI on user_id — Spark plans a hash/SMJ
    partitioned by user_id and evaluates the interval predicate as a
    post-join filter within each key group, so cost is per-user
    (versions_u x facts_u), bounded by per-user activity, never
    data-sized; the version relation's window rides the same user_id
    partitioning the join shuffles on."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    versions = (
        ev.where(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            F.col("event_id").alias("version_id"),
            F.col("value").alias("state_value"),
            F.col("ts").alias("valid_from"),
        )
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                W.partitionBy("user_id").orderBy("valid_from", "version_id")
            ),
        )
    )
    facts = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("fact_id"), "user_id", F.col("ts").alias("fact_ts")
    )
    return (
        facts.join(versions, "user_id")
        .where(
            (F.col("fact_ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("fact_ts") < F.col("valid_to")))
        )
        .select("fact_id", "user_id", "version_id", "state_value")
    )


# --- Theil inequality decomposition (r11) -----------------------------------


@query(
    "agg_theil_decomposition",
    oracle=f"""
    WITH x AS (
      SELECT c.c_mktsegment AS segment,
             {cents_sql('o.o_totalprice')} AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS ng,
             {hugeint_sql('SUM(cents)')} AS xg
      FROM x GROUP BY segment
    ),
    tot AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n, {hugeint_sql('SUM(xg)')} AS xt
      FROM g
    ),
    terms AS (
      SELECT x.segment, cents,
             CAST(round(ln(CAST(cents AS DOUBLE) * CAST(g.ng AS DOUBLE)
                           / {to_double_sql('g.xg')}) * 1000000)
                  AS BIGINT) AS t
      FROM x JOIN g ON x.segment = g.segment
    ),
    within AS (
      SELECT segment, {exact_dot_sql('cents', 't')}
               AS num
      FROM terms GROUP BY segment
    )
    SELECT g.segment, g.ng AS n_orders,
           CAST((1000000 * g.xg) // tot.xt AS BIGINT) AS share_ppm,
           {to_double_sql('w.num')} / {to_double_sql('g.xg')} / 1000000 AS theil_within,
           ln({to_double_sql('g.xg * tot.n')} / {to_double_sql('tot.xt * g.ng')}) AS between_term
    FROM g JOIN within w ON g.segment = w.segment CROSS JOIN tot
    ORDER BY g.segment
    """,
    tags=("agg", "join", "stats"),
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality DECOMPOSITION of order revenue across
    customer market segments: per segment its revenue share, the
    within-segment Theil index, and the between-segment term — the
    additively decomposable inequality measure (Theil 1967; Gini is
    NOT decomposable, which is why profile_gini_concentration cannot
    answer "is the concentration BETWEEN segments or WITHIN them?").
    T = sum_g share_g * T_g + sum_g share_g * ln(mean_g / mean); this
    query emits each group's pieces.

    Determinism: cents are exact BIGINT, group/global sums exact
    128-bit integers (``exact_sum``).  Each row's ln enters through the single-ln micro-nat
    convention (one correctly-rounded double ln, integerized at 1e-6) so
    the per-group weighted sums are exact integer folds — order-free;
    the final per-group divides and the between-term ln are single IEEE
    ops over ``to_double``-converted exact decimals (the
    events_welch_ttest recipe).  ln arguments (cents * ng, xg * n) stay
    below 2^53 through ~sf100 — exact in a double; past that the
    micro-nat terms would need a decimal pre-scale.

    Scale shape: one orders-customer equi-join (AQE picks broadcast vs
    shuffle; customer is data-sized, so no forced hint), a per-segment
    fold to 5 rows (c_mktsegment, a bounded catalog domain), a
    row-local ln projection, and a second 5-row fold.  The group
    relation joins back by segment — a bounded-domain groupBy, the
    broadcast-lint's allow-pattern."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        cents("o_totalprice").alias("cents"),
    )
    g = x.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        exact_sum("cents").alias("xg"),
    )
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"), exact_sum("xg").alias("xt")
    )
    terms = x.join(F.broadcast(g), "segment").select(
        "segment",
        "cents",
        F.round(
            F.log(
                F.col("cents").cast("double")
                * F.col("ng").cast("double")
                / to_double(F.col("xg"))
            )
            * 1000000
        )
        .cast("long")
        .alias("t"),
    )
    within = terms.groupBy("segment").agg(
        exact_dot("cents", "t").alias("num")
    )
    return (
        g.join(within, "segment")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("ng").alias("n_orders"),
            F.expr("CAST((1000000 * xg) div xt AS BIGINT)").alias("share_ppm"),
            (to_double("num") / to_double("xg") / F.lit(1000000.0)).alias("theil_within"),
            F.log(
                to_double(F.col("xg") * F.col("n")) / to_double(F.col("xt") * F.col("ng"))
            ).alias("between_term"),
        )
        .orderBy("segment")
    )


# --- empirical-Bayes rate shrinkage (fixed prior strength, r11) -------------

EB_M = 20       # prior strength in pseudo-observations
EB_TOP = 20


@query(
    "agg_rate_shrinkage_eb",
    oracle=f"""
    WITH per AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
      SELECT {hugeint_sql('SUM(n)')} AS nn, {hugeint_sql('SUM(x)')} AS xx
      FROM per
    )
    SELECT l_suppkey, n, x,
           CAST((1000000 * x) // n AS BIGINT) AS raw_ppm,
           CAST((1000000 * ({hugeint_sql('x')} * nn + {EB_M} * xx))
                // (nn * (n + {EB_M})) AS BIGINT) AS shrunk_ppm
    FROM per CROSS JOIN tot
    ORDER BY shrunk_ppm DESC, l_suppkey
    LIMIT {EB_TOP}
    """,
    tags=("agg", "stats", "topk"),
)
def agg_rate_shrinkage_eb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes RATE SHRINKAGE: each supplier's lineitem return
    rate pulled toward the global rate with a fixed prior strength of
    {EB_M} pseudo-observations — shrunk = (x + M*p0) / (n + M) with
    p0 = X/N — then the top-{EB_TOP} suppliers by SHRUNK rate.  This is
    the standard fix for small-n leaderboards (a 2/2 supplier must not
    outrank a 95/100 one); the beta-binomial posterior mean with a
    Beta(M*p0, M*(1-p0)) prior.

    Fully EXACT: substituting p0 = X/N makes the shrunk rate the
    integer rational (x*N + M*X) / (N*(n + M)), integerized once as
    ppm by decimal floor-division — no floats anywhere, so the ranking
    and the tie-break (suppkey) are bit-deterministic.  128-bit
    integers keep x*N exact past BIGINT at large SF.

    Scale shape: one map-side-partial fold per supplier (the natural
    key), a 1-row global fold broadcast back (bounded, the 1-row-
    aggregate allow-pattern), a row-local rational, and a top-k heap
    (TakeOrderedAndProject) — no global sort of the supplier
    relation."""
    per = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    tot = per.agg(exact_sum("n").alias("nn"), exact_sum("x").alias("xx"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "l_suppkey",
            "n",
            "x",
            F.expr("CAST((1000000 * x) div n AS BIGINT)").alias("raw_ppm"),
            F.expr(
                f"CAST((1000000 * ({int128_sql('x')} * nn + {EB_M} * xx))"
                f" div (nn * (n + {EB_M})) AS BIGINT)"
            ).alias("shrunk_ppm"),
        )
        .orderBy(F.col("shrunk_ppm").desc(), "l_suppkey")
        .limit(EB_TOP)
    )


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman concentration index (round 12)
# ---------------------------------------------------------------------------
@query(
    "agg_herfindahl_concentration",
    oracle=f"""
    WITH cust AS (
      SELECT o_orderpriority AS priority, o_custkey,
             CAST(SUM({dec6_sql('o_totalprice')}) AS DECIMAL(18,4)) AS c
      FROM orders GROUP BY 1, 2
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           {to_double_sql('SUM(c)')} AS total_rev,
           -- c is cast to width 19 (not 18) ONLY to force DuckDB's int128
           -- multiply path: at width <= 18 DuckDB 1.0 multiplies the int64
           -- payloads and overflows at runtime (seen at sf0.01); the
           -- (19,4)x(19,4) product is DECIMAL(38,8), same values as
           -- Spark's (18,4)x(18,4) -> (37,8)
           {to_double_sql('SUM(CAST(c AS DECIMAL(19,4)) * CAST(c AS DECIMAL(19,4)))')}
             / ({to_double_sql('SUM(c)')} * {to_double_sql('SUM(c)')}) AS hhi,
           {to_double_sql('SUM(CAST(c AS DECIMAL(19,4)) * CAST(c AS DECIMAL(19,4)))')}
             / ({to_double_sql('SUM(c)')} * {to_double_sql('SUM(c)')}) * COUNT(*) AS hhi_norm
    FROM cust GROUP BY priority ORDER BY priority
    """,
    tags=("agg", "stats"),
)
def agg_herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of customer revenue concentration per
    order priority: HHI = Σᵢ shareᵢ² where shareᵢ is customer i's slice
    of the priority's revenue — the standard market-concentration
    measure (1/n = perfectly even, 1 = monopoly); hhi_norm = HHI·n
    rescales out the customer count so priorities are comparable.

    Determinism: Σ share² is algebraically Σc²/(Σc)² — the division is
    hoisted OUT of the sum, so no order-dependent double accumulation
    exists.  Per-customer totals are exact decimals (2-decimal money);
    the (18,4) recast is exact (values have ≤2 decimals, far below the
    14-digit headroom) and keeps c·c inside DECIMAL(37,8).  Both exact
    sums cross to double once (``to_double``), then one division.

    Scale shape: two-level aggregation — map-side partial groupBy on
    (priority, custkey), then a bounded-domain (5-priority) rollup;
    the second shuffle carries one row per customer-priority.  No
    window, no join, no broadcast."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(
        F.col("o_orderpriority").alias("priority"), "o_custkey"
    ).agg(
        F.sum(dec6("o_totalprice"))
        .cast("decimal(18,4)")
        .alias("c")
    )
    sum_c = F.sum("c").cast("double")
    sum_c2 = F.sum(F.col("c") * F.col("c")).cast("double")
    return (
        cust.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            sum_c.alias("total_rev"),
            (sum_c2 / (sum_c * sum_c)).alias("hhi"),
            (sum_c2 / (sum_c * sum_c) * F.count(F.lit(1))).alias("hhi_norm"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Weighted least squares (round 12)
# ---------------------------------------------------------------------------

def _wls2_oracle() -> str:
    det_a = _det3_sql("w0", "q1", "d1", "q1", "qq", "qd", "d1", "qd", "dd")
    det0 = _det3_sql("p1", "q1", "d1", "qp", "qq", "qd", "dp", "qd", "dd")
    det1 = _det3_sql("w0", "p1", "d1", "q1", "qp", "qd", "d1", "dp", "dd")
    det2 = _det3_sql("w0", "q1", "p1", "q1", "qq", "qp", "d1", "qd", "dp")
    return f"""
    WITH b AS (
      SELECT CAST(1 + l_suppkey % 4 AS BIGINT) AS w,
             CAST(FLOOR(l_quantity) AS BIGINT) AS q,
             {cents_sql('l_discount')} AS d,
             {cents_sql('l_extendedprice')} AS p
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {exact_sum_sql('w')} AS sw,
             {exact_dot_sql('w', 'q')} AS swq,
             {exact_dot_sql('w', 'd')} AS swd,
             {exact_dot_sql('w', 'p')} AS swp,
             {exact_dot_sql('w', 'q', 'q')} AS swqq,
             {exact_dot_sql('w', 'd', 'd')} AS swdd,
             {exact_dot_sql('w', 'q', 'd')} AS swqd,
             {exact_dot_sql('w', 'q', 'p')} AS swqp,
             {exact_dot_sql('w', 'd', 'p')} AS swdp
      FROM b
    ),
    f AS (
      SELECT n,
             {to_double_sql('sw')} AS w0,
             {to_double_sql('swq')} AS q1,
             {to_double_sql('swd')} AS d1,
             {to_double_sql('swp')} AS p1,
             {to_double_sql('swqq')} AS qq,
             {to_double_sql('swdd')} AS dd,
             {to_double_sql('swqd')} AS qd,
             {to_double_sql('swqp')} AS qp,
             {to_double_sql('swdp')} AS dp
      FROM s
    )
    SELECT n,
           {det0} / {det_a} AS beta_intercept_cents,
           {det1} / {det_a} AS beta_per_qty_cents,
           {det2} / {det_a} AS beta_per_disc_pct_cents
    FROM f
    """


@query(
    "agg_wls_two_features",
    oracle=_wls2_oracle(),
    tags=("agg", "stats", "experiment"),
)
def agg_wls_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED least squares: price_cents ~ quantity + discount_pct
    under integer row weights (a synthetic 1..4 supplier-tier weight —
    the inverse-variance / frequency-weight shape) — the reliability-
    aware step up from agg_ols_two_features, same one-pass
    moments-then-Cramer architecture: the weighted normal equations
    (X'WX)β = X'Wy need exactly the nine w-weighted moment sums.

    Exactness: integer weights keep every moment an exact integer
    sum (``exact_dot``; a fractional weight would reintroduce order-dependent float
    accumulation); each crosses to double once, and the 3x3
    determinants share the explicitly-parenthesized tree of _det3_sql.
    Setting w ≡ 1 reduces every output to agg_ols_two_features —
    pinned by the planted test.

    Scale shape: ONE scan, ONE map-side-partial aggregate to a single
    row; O(d²) doubles per partition regardless of rows."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        (F.lit(1) + F.col("l_suppkey") % 4).cast("long").alias("w"),
        F.floor(F.col("l_quantity")).cast("long").alias("q"),
        cents("l_discount").alias("d"),
        cents("l_extendedprice").alias("p"),
    )

    s = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        exact_sum("w").alias("sw"),
        exact_dot("w", "q").alias("swq"),
        exact_dot("w", "d").alias("swd"),
        exact_dot("w", "p").alias("swp"),
        exact_dot("w", "q", "q").alias("swqq"),
        exact_dot("w", "d", "d").alias("swdd"),
        exact_dot("w", "q", "d").alias("swqd"),
        exact_dot("w", "q", "p").alias("swqp"),
        exact_dot("w", "d", "p").alias("swdp"),
    )
    f = s.select(
        "n",
        to_double(F.col("sw")).alias("w0"),
        to_double(F.col("swq")).alias("q1"),
        to_double(F.col("swd")).alias("d1"),
        to_double(F.col("swp")).alias("p1"),
        to_double(F.col("swqq")).alias("qq"),
        to_double(F.col("swdd")).alias("dd"),
        to_double(F.col("swqd")).alias("qd"),
        to_double(F.col("swqp")).alias("qp"),
        to_double(F.col("swdp")).alias("dp"),
    )

    def det3(a, b_, c, d, e, ff, g, h, i):
        t1 = F.col(a) * ((F.col(e) * F.col(i)) - (F.col(ff) * F.col(h)))
        t2 = F.col(b_) * ((F.col(d) * F.col(i)) - (F.col(ff) * F.col(g)))
        t3 = F.col(c) * ((F.col(d) * F.col(h)) - (F.col(e) * F.col(g)))
        return t1 - t2 + t3

    det_a = det3("w0", "q1", "d1", "q1", "qq", "qd", "d1", "qd", "dd")
    det0 = det3("p1", "q1", "d1", "qp", "qq", "qd", "dp", "qd", "dd")
    det1 = det3("w0", "p1", "d1", "q1", "qp", "qd", "d1", "dp", "dd")
    det2 = det3("w0", "q1", "p1", "q1", "qq", "qp", "d1", "qd", "dp")
    return f.select(
        "n",
        (det0 / det_a).alias("beta_intercept_cents"),
        (det1 / det_a).alias("beta_per_qty_cents"),
        (det2 / det_a).alias("beta_per_disc_pct_cents"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (round 12)
# ---------------------------------------------------------------------------
@query(
    "agg_spearman_rank_corr",
    oracle=f"""
    WITH r AS (
      SELECT l_returnflag,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rq,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS rp
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             {exact_sum_sql('rq')} AS sq,
             {exact_sum_sql('rp')} AS sp,
             {exact_dot_sql('rq', 'rp')} AS sqp,
             {exact_dot_sql('rq', 'rq')} AS sqq,
             {exact_dot_sql('rp', 'rp')} AS spp
      FROM r GROUP BY 1
    )
    SELECT l_returnflag, n,
           {to_double_sql(comoment_sql('n', 'sqp', 'sq', 'sp'))}
           / sqrt({to_double_sql(comoment_sql('n', 'sqq', 'sq'))}
                  * {to_double_sql(comoment_sql('n', 'spp', 'sp'))}) AS spearman_rho
    FROM s ORDER BY l_returnflag
    """,
    tags=("agg", "stats", "window", "skew-source"),
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    return flag — the outlier-robust companion to agg_corr_regr's
    Pearson: monotone association on RANKS, immune to the heavy price
    tail that drags a raw-value correlation.

    Tie handling: textbook MID-RANKS, carried as DOUBLED integer
    ranks 2·RANK() + ties − 1 (the mid-rank ×2) — Pearson is invariant
    under affine rescaling of each variable, so doubling changes
    nothing statistically while keeping every moment an exact integer
    AND making the statistic permutation-independent under ties (a
    unique-key ROW_NUMBER tiebreak was tried first and is NOT total on
    this fixture — (l_orderkey, l_linenumber) repeats — which showed up
    as a 5th-digit cross-engine drift in sqp; mid-ranks remove the
    permutation dependence instead of chasing a unique key).

    Determinism: rank moments are exact integer sums (rq·rp ~ n²,
    so BIGINT sums overflow one decade past sf1), and the co-moment
    numerators n·Σxy − Σx·Σy (``comoment``) are exact too: each
    numerator crosses to double once (``to_double``), then
    Pearson-on-ranks is one shared IEEE tree.

    Scale shape — the first draft was a scale-killer and the decade
    sweep caught it: RANK() windows partitioned by l_returnflag have
    THREE partitions, so two full-table sorts ran at parallelism 3
    (measured 4.3 s → 27.9 s, 6.48x/decade at sf0.1→sf1).  The ranks
    now come from the two-pass bucket-offset global index
    (operators/global_index.py, group_cols=[flag]) — quantity on the
    width bucketer (bounded 1..50 domain), price on the QUANTILE
    bucketer (heavy-tailed money, the skew-source rule) — and the
    mid-rank fold needs only min(idx)/count over (flag, value) tie
    groups, which are tie-sized, never partition-sized.  Parallelism is
    now the bucket count at any SF."""
    from pyspark.sql import Window as W

    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    # global 0-based indexes per flag; the within-tie permutation is
    # irrelevant because only min(idx)/count per tie group are consumed
    d1 = with_global_index(
        li, "l_quantity", ["l_orderkey", "l_linenumber"],
        group_cols=["l_returnflag"], idx_col="_iq", n_col="_nq",
    )
    d2 = with_global_index(
        d1, "l_extendedprice", ["l_orderkey", "l_linenumber"],
        group_cols=["l_returnflag"], idx_col="_ip", n_col="_np",
        bucketer="quantile",
    )
    wq = W.partitionBy("l_returnflag", "l_quantity")
    wp = W.partitionBy("l_returnflag", "l_extendedprice")
    # doubled mid-rank: 2*(min_idx+1) + (ties-1) == 2*min_idx + ties + 1
    r = d2.select(
        "l_returnflag",
        (2 * F.min("_iq").over(wq) + F.count(F.lit(1)).over(wq) + 1).alias("rq"),
        (2 * F.min("_ip").over(wp) + F.count(F.lit(1)).over(wp) + 1).alias("rp"),
    )
    s = r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        exact_sum("rq").alias("sq"),
        exact_sum("rp").alias("sp"),
        exact_dot("rq", "rp").alias("sqp"),
        exact_dot("rq", "rq").alias("sqq"),
        exact_dot("rp", "rp").alias("spp"),
    )
    n = F.col("n")
    cov = to_double(comoment(n, "sqp", "sq", "sp"))
    var_q = to_double(comoment(n, "sqq", "sq"))
    var_p = to_double(comoment(n, "spp", "sp"))
    return s.select(
        "l_returnflag", "n", (cov / F.sqrt(var_q * var_p)).alias("spearman_rho")
    ).orderBy("l_returnflag")
