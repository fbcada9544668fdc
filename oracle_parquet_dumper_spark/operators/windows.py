"""Window-function surface + as-of join.

Absent from the reference (SURVEY.md §2 "What the reference does NOT
implement"); required by the Part B extension.  All frames are built-in
``Window`` specs — ranking, offsets, running/moving aggregates — and the
as-of join is the scalable union-sort formulation (one sort-merge pass,
no row-multiplying pre-join).
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
    exact_dot,
    exact_dot_sql,
    exact_sum,
    exact_sum_sql,
    to_double,
    to_double_sql,
)
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.sources.tables import load_table


@query(
    "window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
    tags=("window",),
    bench=True,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number + filter. Unique tiebreak
    (o_orderkey) keeps the result deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("long").alias("rn"))
    )


@query(
    "window_rank_dense_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
           DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk,
           NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
    tags=("window",),
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, value,
           LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
           LAG(value, 2, -1.0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev2_or_default
    FROM events
    """,
    tags=("window", "events"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset functions over per-user event time-lines."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_or_default"),
    )


@query(
    "window_running_sum",
    oracle=f"""
    SELECT user_id, event_id,
           {to_double_sql(f"SUM({dec6_sql('value')}) OVER w")} AS running_value,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "events"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/count with an explicit rows frame (decimal-summed
    for order-independent exactness)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        to_double(F.sum(dec6("value")).over(w)).alias("running_value"),
        F.count(F.lit(1)).over(w).cast("long").alias("running_n"),
    )


@query(
    "window_moving_avg",
    oracle=f"""
    SELECT user_id, event_id,
           {to_double_sql(f"SUM({dec6_sql('value')}) OVER w")} / COUNT(*) OVER w AS mov_avg3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "events"),
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average (bounded rows frame)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, W.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        (to_double(F.sum(dec6("value")).over(w)) / F.count(F.lit(1)).over(w)).alias("mov_avg3"),
    )


@query(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
           LAST_VALUE(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
    FROM orders
    """,
    tags=("window",),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over the full-partition frame (the default
    frame would make last_value = current row — classic trap)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
    )


@query(
    "join_asof",
    oracle="""
    SELECT t.event_id, t.user_id, t.ts_us AS trade_ts, t.value AS trade_value,
           q.value AS last_view_value
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts_us, value
          FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN
         (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_us, value
          FROM events WHERE event_type = 'view') q
    ON t.user_id = q.user_id AND q.ts_us <= t.ts_us
    """,
    tags=("join", "asof", "events"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent prior-or-equal view
    by the same user.

    Spark has no ASOF JOIN; the scalable formulation is union-the-streams
    + one window pass (last non-null carried value), which costs a single
    sort-merge by (user_id, ts) instead of an O(pairs) inequality join.
    """
    ev = load_table(spark, sf_dir, "events")
    trades = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_trade")
    )
    quotes = ev.where(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        "value",
        F.lit(0).alias("is_trade"),
    )
    merged = trades.unionByName(quotes)
    # Quotes sort before trades at equal ts (is_trade asc) => inclusive <=.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_trade")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.withColumn(
        "last_view_value",
        F.last(F.when(F.col("is_trade") == 0, F.col("value")), ignorenulls=True).over(w),
    )
    return carried.where(F.col("is_trade") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("trade_ts"),
        F.col("value").alias("trade_value"),
        "last_view_value",
    )


@query(
    "window_percent_cume",
    oracle="""
    SELECT o_orderkey,
           round(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
           round(CUME_DIST() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cume
    FROM orders
    WHERE o_orderkey % 25 = 0
    """,
    tags=("window", "skew-source"),
)
def window_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist over a global ordering.  The oracle keeps
    the window form; the Spark plan derives both from a distributed
    global row index (two-pass bucket-offset pattern,
    operators/global_index.py) — the ordering is unique (key tie-break),
    so rank == index+1 and

        percent_rank = idx / (N-1)        cume_dist = (idx+1) / N

    each a single IEEE divide of exact integers, bit-identical to the
    engines' own window functions.  No row ever crosses a
    single-partition WindowExec, however large the input.  Quantile
    bucketer: totalprice is unbounded monetary data (same skew class as
    dq_histogram_equidepth), and the index is bucketer-invariant."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 25 == 0)
    idx = with_global_index(
        o.select("o_totalprice", "o_orderkey"),
        "o_totalprice",
        ["o_orderkey"],
        bucketer="quantile",
    )
    pct = F.when(F.col("_gn") == 1, F.lit(0.0)).otherwise(
        F.col("_gidx").cast("double") / (F.col("_gn") - 1).cast("double")
    )
    cume = (F.col("_gidx") + 1).cast("double") / F.col("_gn").cast("double")
    return idx.select(
        "o_orderkey",
        F.round(pct, 6).alias("pct_rank"),
        F.round(cume, 6).alias("cume"),
    )


@query(
    "window_range_numeric",
    oracle=f"""
    SELECT c_custkey, c_acctbal,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_neighbors,
           {to_double_sql(f"SUM({dec6_sql('c_acctbal')}) OVER w")} AS near_balance
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal
                 RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
    """,
    tags=("window", "range"),
)
def window_range_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame: aggregate over value-neighborhoods (within
    +/-500 of each row's balance), not row counts — the density-window
    primitive."""
    o = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal").rangeBetween(-500, 500)
    return o.select(
        "c_custkey",
        "c_acctbal",
        F.count(F.lit(1)).over(w).cast("long").alias("n_neighbors"),
        to_double(F.sum(dec6("c_acctbal")).over(w)).alias("near_balance"),
    )


@query(
    "window_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS d
      FROM events
    ),
    marked AS (
      SELECT user_id, d,
             CASE WHEN d - LAG(d) OVER (PARTITION BY user_id ORDER BY d) = INTERVAL '1 day'
                  THEN 0 ELSE 1 END AS is_start
      FROM days
    ),
    islands AS (
      SELECT user_id, d,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY d
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM marked
    )
    SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
           MIN(d) AS streak_start, MAX(d) AS streak_end, COUNT(*) AS streak_days
    FROM islands
    GROUP BY user_id, island_id
    """,
    tags=("window", "events", "islands"),
    bench=True,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-active-day streaks per user via the
    lag + cumulative-flag-sum composition — the canonical sessionization
    relative (here over calendar days, vs session_window's event gaps)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    marked = days.withColumn(
        "is_start",
        F.when(
            F.col("d") - F.lag("d").over(w) == F.expr("INTERVAL 1 DAY"), 0
        ).otherwise(1),
    )
    wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    islands = marked.withColumn("island_id", F.sum("is_start").over(wc).cast("long"))
    return islands.groupBy("user_id", "island_id").agg(
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
        F.count(F.lit(1)).alias("streak_days"),
    )


@query(
    "window_event_transitions",
    oracle="""
    SELECT from_type, to_type, COUNT(*) AS n
    FROM (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    )
    WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("window", "sequence"),
)
def window_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts): lead()
    per user ordered by (ts, event_id — unique tiebreak), then a global
    count per (from, to) pair.  The window shuffles once on user_id; the
    follow-up aggregate sees only K^2 pairs after map-side combine."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "window_count_distinct_running",
    oracle="""
    SELECT event_id, user_id,
           COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_types_so_far
    FROM events
    WHERE user_id < 20
    """,
    tags=("window", "events"),
)
def window_count_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — a real Spark gap: DISTINCT
    aggregates are not allowed in window functions, so the engine
    expresses it as size(collect_set() OVER w), which is semantically
    identical (set semantics, growing frame).  State per frame is the
    distinct-value set — fine for low-cardinality columns like
    event_type; for high-cardinality use the HLL sketch union instead
    (agg_sketch_panel shows the mergeable form)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_types_so_far"),
    )


SESSION_GAP_SECONDS = 1800


@query(
    "window_sessionize_30min",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) > {SESSION_GAP_SECONDS} * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, event_id,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
    tags=("window", "events", "sessionize"),
    bench=True,
)
def window_sessionize_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a new session starts after a
    >{SESSION_GAP_SECONDS}s silence; session_id = running sum of
    new-session flags (the lag + cumulative-flag composition, same
    per-user ordering both passes so ONE shuffle+sort serves lag and the
    running sum).  This is the batch twin of the state-store
    ``session_window`` stream (streaming/ops.py) with identical gap
    semantics; output is the per-session event count."""
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.timestamp_diff("MICROSECOND", F.lag("ts").over(wo), F.col("ts"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    wsum = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    numbered = flagged.select(
        "user_id", F.sum("new_session").over(wsum).cast("long").alias("session_id")
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH merged AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, 1 AS is_trade
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, 0 AS is_trade
      FROM events WHERE event_type = 'view'
    ),
    carried AS (
      SELECT event_id, user_id, ts, value, is_trade,
        last_value(CASE WHEN is_trade = 0 THEN value END IGNORE NULLS) OVER wp AS pv,
        last_value(CASE WHEN is_trade = 0 THEN ts END IGNORE NULLS) OVER wp AS pt,
        first_value(CASE WHEN is_trade = 0 THEN value END IGNORE NULLS) OVER wn AS nv,
        first_value(CASE WHEN is_trade = 0 THEN ts END IGNORE NULLS) OVER wn AS nt
      FROM merged
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, is_trade, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY user_id ORDER BY ts, is_trade, event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts AS trade_ts, value AS trade_value,
      CASE WHEN pv IS NULL THEN nv
           WHEN nv IS NULL THEN pv
           WHEN date_diff('microsecond', pt, ts) <= date_diff('microsecond', ts, nt)
             THEN pv ELSE nv END AS nearest_view_value,
      CASE WHEN pv IS NULL AND nv IS NULL THEN NULL
           WHEN nv IS NULL THEN 'before'
           WHEN pv IS NULL THEN 'after'
           WHEN date_diff('microsecond', pt, ts) <= date_diff('microsecond', ts, nt)
             THEN 'before' ELSE 'after' END AS direction
    FROM carried WHERE is_trade = 1
    """,
    tags=("join", "asof", "events"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each purchase matched to the view
    with the smallest |time difference| in EITHER direction (ties break
    to the earlier view) — the variant backtest/sensor pipelines ask for
    when the reference clock may lag or lead.

    Same scalable formulation as ``join_asof``: union both event roles
    and make ONE (user_id, ts)-sorted window pass carrying the previous
    and next view (value, ts) pairs with ignore-nulls frames; no
    inequality join, no per-pair blow-up.  At equal timestamps views
    sort before trades (is_trade asc), so an equal-ts view counts as
    'before' with distance zero; event_id completes the ordering so
    equal-ts VIEWS resolve identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    trades = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_trade")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value", F.lit(0).alias("is_trade")
    )
    merged = trades.unionByName(views)
    wo = W.partitionBy("user_id").orderBy("ts", "is_trade", "event_id")
    wp = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    wn = wo.rowsBetween(W.currentRow, W.unboundedFollowing)
    view_val = F.when(F.col("is_trade") == 0, F.col("value"))
    view_ts = F.when(F.col("is_trade") == 0, F.col("ts"))
    carried = merged.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "is_trade",
        F.last(view_val, ignorenulls=True).over(wp).alias("pv"),
        F.last(view_ts, ignorenulls=True).over(wp).alias("pt"),
        F.first(view_val, ignorenulls=True).over(wn).alias("nv"),
        F.first(view_ts, ignorenulls=True).over(wn).alias("nt"),
    )
    prev_diff = F.timestamp_diff("MICROSECOND", F.col("pt"), F.col("ts"))
    next_diff = F.timestamp_diff("MICROSECOND", F.col("ts"), F.col("nt"))
    prefer_prev = prev_diff <= next_diff
    return carried.where(F.col("is_trade") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("trade_ts"),
        F.col("value").alias("trade_value"),
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(prefer_prev, F.col("pv"))
        .otherwise(F.col("nv"))
        .alias("nearest_view_value"),
        F.when(F.col("pv").isNull() & F.col("nv").isNull(), F.lit(None).cast("string"))
        .when(F.col("nv").isNull(), F.lit("before"))
        .when(F.col("pv").isNull(), F.lit("after"))
        .when(prefer_prev, F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("direction"),
    )


@query(
    "window_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP) + (event_id % 50 + 10) * INTERVAL 1 MINUTE AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    numbered AS (
      SELECT user_id, s, e,
             CAST(SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS island_id
      FROM flagged
    )
    SELECT user_id, island_id, MIN(s) AS span_start, MAX(e) AS span_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, island_id
    """,
    tags=("window", "events", "timeseries"),
)
def window_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval coalescing (the interval-union / calendar-
    merge primitive): each event carries a validity interval
    [ts, ts + (event_id % 50 + 10) min]; intervals that overlap OR nest
    merge into one span per user.  Unlike gap-sessionization (fixed
    silence threshold between POINTS), the island break compares each
    start against the running MAX of all PRIOR interval ENDS — a long
    interval correctly swallows later short ones that start inside it.

    One (user_id, s, event_id) sort serves BOTH window frames and the
    final per-island aggregate: the island numbering must replay the
    exact order the flags were computed in — numbering by a different
    ordering (an earlier draft used (s, e)) assigns flag-0 rows that
    share a start timestamp with a flag-1 row to the WRONG island,
    producing overlapping "merged" spans; event_id completes the
    ordering so ties resolve identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(event_id % 50 + 10 AS INT), ts)").alias("e"),
    )
    wprior = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prior_max_end = F.max("e").over(wprior)
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(prior_max_end.isNull() | (F.col("s") > prior_max_end), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    wsum = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    numbered = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(wsum).cast("long").alias("island_id")
    )
    return numbered.groupBy("user_id", "island_id").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


MED_WIN = 15  # trailing frame: 14 preceding + current


@query(
    "window_moving_median",
    oracle=f"""
    WITH cents AS (
      SELECT user_id, event_id, ts, value,
             {cents_sql('value')} AS v
      FROM events
    ),
    framed AS (
      SELECT user_id, event_id, value,
             list_sort(list(v) OVER w) AS ls,
             COUNT(*) OVER w AS n
      FROM cents
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {MED_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, value, CAST(n AS BIGINT) AS n_win,
           CAST(ls[CAST((n + 1) // 2 AS INT)]
                + ls[CAST((n + 2) // 2 AS INT)] AS BIGINT) AS med_x2_cents
    FROM framed
    """,
    tags=("window", "timeseries"),
)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (robust smoother) of event value over a
    trailing {MED_WIN}-row frame per user — the order statistic the
    moving average (window_moving_avg) can't give you when the series
    has spikes; pairs with ts_anomaly_rolling_zscore as the robust
    baseline.

    Exactness without floats: values become cents and the median is
    emitted DOUBLED (lower middle + upper middle), so even-count frames
    never divide — the oracle comparison is pure BIGINT.  The frame's
    collect_list is bounded at {MED_WIN} elements, so window state is
    O(1) per row; one shuffle keyed by user_id, same as every
    per-entity window here.  (At 100 TB a quantile sketch would replace
    the exact sort only if the frame itself grew unbounded — a FIXED
    trailing frame stays exact at any corpus size.)"""
    ev = load_table(spark, sf_dir, "events")
    v = cents("value")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(MED_WIN - 1), 0)
    )
    framed = ev.select(
        "user_id",
        "event_id",
        "value",
        F.array_sort(F.collect_list(v).over(w)).alias("ls"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    m1 = F.element_at("ls", F.floor((F.col("n") + 1) / 2).cast("int"))
    m2 = F.element_at("ls", F.floor((F.col("n") + 2) / 2).cast("int"))
    return framed.select(
        "user_id",
        "event_id",
        "value",
        F.col("n").cast("long").alias("n_win"),
        (m1 + m2).cast("long").alias("med_x2_cents"),
    )


@query(
    "window_range_time",
    oracle=f"""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           {to_double_sql(f"SUM({dec6_sql('value')}) OVER w")} AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range", "timeseries"),
)
def window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE frame: per-user trailing-one-HOUR count and value sum
    — the wall-clock sibling of the row-count frames (rate limiting,
    rolling spend, burst detection all want "last hour", not "last N
    rows").  Both engines express the interval range over epoch
    MICROSECONDS (-3.6e9..0): ordering by whole seconds truncates where
    an INTERVAL frame over raw timestamps does not, and the two
    disagree on sub-second data — caught by the sf0.1 sweep, whose
    timestamps carry microseconds.  The sum stays in DECIMAL inside the
    frame (range frames re-aggregate as rows enter/leave — decimal is
    association-free) and casts to double at the end.  Ties on ts are
    fine: RANGE frames include ALL peer rows of the current timestamp
    in both engines.  One shuffle keyed by user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is
        # the identity instant and unix_micros is well-defined
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_last_hour"),
        to_double(F.sum(dec6("value")).over(w)).alias("sum_last_hour"),
    )


@query(
    "window_rolling_slope",
    oracle=f"""
    WITH xy AS (
      SELECT user_id, event_id, ts,
             date_diff('second',
                       MIN(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id),
                       CAST(ts AS TIMESTAMP)) AS x,
             {cents_sql('value')} AS y
      FROM events
    ),
    s AS (
      SELECT user_id, event_id,
             COUNT(*)   OVER w AS n,
             {exact_sum_sql('x')} OVER w AS sx,
             {exact_sum_sql('y')} OVER w AS sy,
             {exact_dot_sql('x', 'y')} OVER w AS sxy,
             {exact_dot_sql('x', 'x')} OVER w AS sxx
      FROM xy
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(n AS BIGINT) AS n_pts,
           CASE WHEN {comoment_sql('n', 'sxx', 'sx')} > 0
                THEN {to_double_sql(comoment_sql('n', 'sxy', 'sx', 'sy'))}
                     / {to_double_sql(comoment_sql('n', 'sxx', 'sx'))}
           END AS slope_cents_per_s
    FROM s
    """,
    tags=("window", "events", "stats", "timeseries"),
)
def window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend: per user, the least-squares slope of event
    value over time across the trailing 8 events — the "is this metric
    drifting" primitive a moving average (window_moving_avg) can't give
    you, since an average is blind to direction.

    All-integer accumulation: x = seconds since the user's first event
    (BIGINT, anchored per user to keep it small), exact windowed moments
    (``exact_sum``/``exact_dot``) and slope numerator/denominator
    (``comoment``), each entering the double world through ONE
    ``to_double``, and ONE IEEE divide at the end — the repo's
    float-portability convention, so the DuckDB twin is bit-identical.  A constant-time window (all x equal,
    e.g. same-second burst) has zero denominator -> NULL slope.

    Scale: one (user) shuffle shared by the anchor window and the
    rolling frame; the 8-row ROWS frame is O(1) state per row in both
    engines' streaming window operators."""
    ev = load_table(spark, sf_dir, "events")
    anchor = W.partitionBy("user_id")
    xy = ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.unix_timestamp("ts") - F.min(F.unix_timestamp("ts")).over(anchor)).alias(
            "x"
        ),
        cents("value").alias("y"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-7, W.currentRow)
    s = xy.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n"),
        exact_sum("x").over(w).alias("sx"),
        exact_sum("y").over(w).alias("sy"),
        exact_dot("x", "y").over(w).alias("sxy"),
        exact_dot("x", "x").over(w).alias("sxx"),
    )
    den = comoment("n", "sxx", "sx")
    num = comoment("n", "sxy", "sx", "sy")
    return s.select(
        "user_id",
        "event_id",
        F.col("n").cast("long").alias("n_pts"),
        F.when(den > 0, to_double(num) / to_double(den)).alias("slope_cents_per_s"),
    )


EWMA_K = 8  # trailing window; weights 2^-(0..7), integer-scaled by 2^7


@query(
    "window_ewma_truncated",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_id, ts,
             {cents_sql('value')} AS c
      FROM events
    ),
    l AS (
      SELECT user_id, event_id, c,
             lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
             lag(c, 3) OVER w AS c3, lag(c, 4) OVER w AS c4,
             lag(c, 5) OVER w AS c5, lag(c, 6) OVER w AS c6,
             lag(c, 7) OVER w AS c7
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(c * 128
                + COALESCE(c1, 0) * 64 + COALESCE(c2, 0) * 32
                + COALESCE(c3, 0) * 16 + COALESCE(c4, 0) * 8
                + COALESCE(c5, 0) * 4 + COALESCE(c6, 0) * 2
                + COALESCE(c7, 0) AS DOUBLE)
           / (128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                  + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                  + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                  + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
                  + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
                  + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
                  + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END)
             AS ewma_cents
    FROM l
    """,
    tags=("window", "events", "timeseries"),
)
def window_ewma_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2) truncated to
    the trailing {EWMA_K} events per user — the streaming smoother
    behind latency/error-rate dashboards.  A full EWMA is an infinite
    recurrence no SQL window expresses; truncating at 8 terms bounds
    the tail contribution below 2^-7 < 0.8% while keeping the operator
    a plain window — and, more importantly here, keeps it EXACT.

    Float portability trick: with alpha = 1/2 the weights are dyadic
    (2^-k), so scaling by 2^7 makes numerator and denominator exact
    BIGINTs (num <= 255 * max_cents, den = 255 for a full window) and
    the EWMA itself ONE IEEE divide — the convention every float
    emitting query in this repo follows.  An arbitrary-alpha EWMA
    would multiply doubles per term and diverge cross-engine in the
    last ulp; the dyadic family is the portable sweet spot.

    Scale shape: ONE (user_id) exchange feeds a single WindowExec
    evaluating all 7 lag()s (both engines batch same-frame window
    functions); O(1) state per row in the streaming window operator.
    The ``streaming/stateful.py`` ring-buffer kernel is the
    applyInPandasWithState twin of exactly this shape."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.select(
        "user_id",
        "event_id",
        "ts",
        cents("value").alias("c"),
    )
    lags = [F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, EWMA_K)]
    l = x.select("user_id", "event_id", "c", *lags)
    num = F.col("c") * 128
    den = F.lit(128)
    for k in range(1, EWMA_K):
        wgt = 1 << (7 - k)
        num = num + F.coalesce(F.col(f"c{k}"), F.lit(0)) * wgt
        den = den + F.when(F.col(f"c{k}").isNull(), 0).otherwise(wgt)
    return l.select(
        "user_id",
        "event_id",
        (num.cast("double") / den).alias("ewma_cents"),
    )


def _holt_coeffs(n: int) -> list[int]:
    """Integer coefficients (over denominator 2^14) of the one-step
    Holt forecast l_t + b_t for a length-``n`` trailing window, oldest
    value first, with alpha = beta = 1/2 and l_0 = y_0, b_0 = 0.

    With dyadic smoothing constants every level/trend update divides by
    2, so after at most 7 updates all weights are exact multiples of
    2^-14 — the same float-portability trick as window_ewma_truncated,
    extended to a two-state recurrence.  The weights always sum to 2^14
    (a constant series forecasts itself) and older points carry the
    NEGATIVE weights that make Holt extrapolate trend, which no
    single-state EWMA can."""
    from fractions import Fraction

    lvl: dict[int, Fraction] = {0: Fraction(1)}
    trd: dict[int, Fraction] = {}
    for j in range(1, n):
        keys = set(lvl) | set(trd) | {j}
        nl = {
            k: Fraction(
                (Fraction(1) if k == j else Fraction(0))
                + lvl.get(k, Fraction(0))
                + trd.get(k, Fraction(0)),
                2,
            )
            for k in keys
        }
        nt = {
            k: (nl.get(k, Fraction(0)) - lvl.get(k, Fraction(0))) / 2
            + trd.get(k, Fraction(0)) / 2
            for k in keys
        }
        lvl, trd = nl, nt
    f = {k: lvl.get(k, Fraction(0)) + trd.get(k, Fraction(0)) for k in set(lvl) | set(trd)}
    out = [f.get(j, Fraction(0)) * 2**14 for j in range(n)]
    assert all(c.denominator == 1 for c in out)
    return [int(c) for c in out]


def _holt_case_sql() -> str:
    """One CASE expression over the lag columns c, c1..c7 computing the
    scaled Holt forecast numerator — textually identical SQL for Spark
    and DuckDB, generated from the same coefficient table so the two
    engines cannot drift."""

    def branch(n: int) -> str:
        cs = _holt_coeffs(n)
        # y_0 (oldest) = lag n-1, ..., y_{n-1} (newest) = lag 0 = c
        terms = []
        for j, coef in enumerate(cs):
            lag = n - 1 - j
            col = "c" if lag == 0 else f"c{lag}"
            terms.append(f"({coef}) * {col}")
        return " + ".join(terms)

    whens = "\n           ".join(
        f"WHEN c{n - 1} IS NOT NULL THEN {branch(n)}" for n in range(EWMA_K, 1, -1)
    )
    return f"CASE {whens}\n           ELSE 16384 * c END"


@query(
    "window_holt_linear_truncated",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_id, ts,
             {cents_sql('value')} AS c
      FROM events
    ),
    l AS (
      SELECT user_id, event_id, c,
             lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
             lag(c, 3) OVER w AS c3, lag(c, 4) OVER w AS c4,
             lag(c, 5) OVER w AS c5, lag(c, 6) OVER w AS c6,
             lag(c, 7) OVER w AS c7
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST({_holt_case_sql()} AS DOUBLE) / 16384 AS holt_forecast_cents
    FROM l
    """,
    tags=("window", "events", "timeseries"),
)
def window_holt_linear_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) one-step forecast, alpha =
    beta = 1/2, truncated to the trailing {EWMA_K} events per user —
    the trend-aware upgrade of ``window_ewma_truncated``: a steadily
    rising series is forecast ABOVE its last value (the trend state
    extrapolates) where any EWMA lags below it.

    Exactness: the two-state recurrence (l_t = (y_t + l_{{t-1}} +
    b_{{t-1}})/2; b_t = (l_t - l_{{t-1}})/2 + b_{{t-1}}/2, seeded l = y,
    b = 0 at the window edge) unrolls to fixed per-window-length weight
    vectors that are exact multiples of 2^-14 (``_holt_coeffs``), so
    the numerator is pure BIGINT (|num| <= 2^14 * max_cents ~ 9e10) and
    the forecast is ONE IEEE divide by 2^14 — bit-identical across
    engines.  Both the Spark expression and the DuckDB oracle embed the
    SAME generated CASE text (``_holt_case_sql``), eliminating
    transcription drift.

    Scale shape: identical to the EWMA — ONE (user_id) exchange, one
    WindowExec batching all 7 lag()s, O(1) per-row state; the
    streaming ring-buffer kernel (streaming/stateful.py) carries the
    same trailing window across micro-batches."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.select(
        "user_id",
        "event_id",
        "ts",
        cents("value").alias("c"),
    )
    lags = [F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, EWMA_K)]
    l = x.select("user_id", "event_id", "c", *lags)
    return l.select(
        "user_id",
        "event_id",
        (F.expr(_holt_case_sql()).cast("double") / 16384).alias(
            "holt_forecast_cents"
        ),
    )


@query(
    "window_peak_open_orders",
    oracle="""
    WITH b AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
      UNION ALL
      SELECT o_custkey, CAST(o_orderdate AS DATE) + 30 AS d, -1 AS delta
      FROM orders
    ),
    net AS (
      SELECT o_custkey, d, CAST(SUM(delta) AS BIGINT) AS net
      FROM b GROUP BY o_custkey, d
    ),
    cum AS (
      SELECT o_custkey, d,
             CAST(SUM(net) OVER (PARTITION BY o_custkey ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_now
      FROM net
    ),
    pk AS (
      SELECT o_custkey, open_now AS peak_open, d AS peak_date,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY open_now DESC, d) AS rk
      FROM cum
    )
    SELECT o_custkey, peak_open, strftime(peak_date, '%Y-%m-%d') AS peak_date
    FROM pk WHERE rk = 1
    ORDER BY peak_open DESC, o_custkey
    LIMIT 20
    """,
    tags=("window", "timeseries", "topk"),
)
def window_peak_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency by sweep-line: for each customer, the
    maximum number of simultaneously OPEN orders (an order stays open
    for 30 days from o_orderdate) and the first date that peak is
    reached — the classic interval-overlap-counting pattern (staffing
    peaks, concurrent sessions, in-flight shipments) that naive SQL
    states as a quadratic self-join ``a.start <= b.start < a.end``.

    Sweep-line: every interval becomes +1 at its start and -1 at its
    exclusive end; net deltas are pre-aggregated PER (customer, date)
    so same-date boundary order is moot; the running sum at date d is
    then exactly #(start <= d < start+30).  All integers; no floats
    anywhere.

    Scale shape: the cumulative window is PARTITIONED BY o_custkey —
    per-customer state, millions of independent partitions, the
    scalable window class (never the single-partition global sweep) —
    over rows already reduced to distinct boundary dates.  The peak is
    a map-side-partial struct-max argmax per customer (the oracle's
    row_number-over-DESC states the identical selection), and the
    global top-20 is TakeOrderedAndProject.
    No reference counterpart (main.py:144-146)."""
    o = load_table(spark, sf_dir, "orders")
    # o_orderdate is TIMESTAMP_NTZ in the fixture; normalize to DATE so
    # the union does not coerce the boundaries back to timestamps
    starts = o.select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), F.lit(1).alias("delta")
    )
    ends = o.select(
        "o_custkey",
        F.date_add(F.to_date("o_orderdate"), 30).alias("d"),
        F.lit(-1).alias("delta"),
    )
    net = (
        starts.unionByName(ends)
        .groupBy("o_custkey", "d")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = net.select(
        "o_custkey", "d", F.sum("net").over(w).cast("long").alias("open_now")
    )
    pk = cum.groupBy("o_custkey").agg(
        F.max(
            F.struct(
                F.col("open_now").alias("peak_open"),
                (-F.unix_date("d")).alias("neg_days"),
                F.col("d").alias("peak_date"),
            )
        ).alias("b")
    )
    return (
        pk.select(
            "o_custkey",
            F.col("b.peak_open").alias("peak_open"),
            F.date_format("b.peak_date", "yyyy-MM-dd").alias("peak_date"),
        )
        .orderBy(F.col("peak_open").desc(), "o_custkey")
        .limit(20)
    )


@query(
    "window_max_drawdown",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(SUM({cents_sql('value')})
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM events
    ),
    dd AS (
      SELECT user_id, event_id, cum,
             CAST(MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) - cum AS BIGINT)
               AS drawdown
      FROM c
    ),
    pk AS (
      SELECT user_id, drawdown AS max_drawdown_cents, event_id AS at_event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY drawdown DESC, event_id) AS rk
      FROM dd
    )
    SELECT user_id, max_drawdown_cents, at_event_id
    FROM pk WHERE rk = 1
    ORDER BY max_drawdown_cents DESC, user_id
    LIMIT 20
    """,
    tags=("window", "events", "timeseries", "topk"),
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: the largest peak-to-trough drop of the
    cumulative value series in (ts, event_id) order — the standard
    risk/regression metric, computed as running_max(cumsum) - cumsum
    with an argmax over the trough event.  Top-20 users by drawdown.

    All-integer: cents cumsum, running max, and difference are exact
    BIGINT (no floats anywhere).  Both windows use the SAME
    (ts, event_id) time ordering, so the drawdown follows the actual
    event sequence AND Spark evaluates both passes in one WindowExec
    over one exchange+sort.

    Scale shape: both windows are PARTITIONED BY user_id (per-user
    state, the scalable class); Spark executes them in one WindowExec
    pair over one (user_id)-hash exchange + sort; the per-user argmax
    is a map-side-partial struct-max and the global top-20 is
    TakeOrderedAndProject.  No reference counterpart."""
    ev = load_table(spark, sf_dir, "events")
    cw = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(cents("value")).over(cw).cast("long").alias("cum"),
    )
    mw = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dd = c.select(
        "user_id",
        "event_id",
        (F.max("cum").over(mw) - F.col("cum")).cast("long").alias("drawdown"),
    )
    pk = dd.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("drawdown").alias("max_drawdown_cents"),
                (-F.col("event_id")).alias("neg_id"),
                F.col("event_id").alias("at_event_id"),
            )
        ).alias("b")
    )
    return (
        pk.select(
            "user_id",
            F.col("b.max_drawdown_cents").alias("max_drawdown_cents"),
            F.col("b.at_event_id").alias("at_event_id"),
        )
        .orderBy(F.col("max_drawdown_cents").desc(), "user_id")
        .limit(20)
    )


@query(
    "window_skyline_pareto",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, {cents_sql('p_retailprice')} AS price_cents, p_size
      FROM part
    ),
    w AS (
      SELECT *,
             MIN(p_size) OVER (ORDER BY price_cents
                               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_lt,
             MIN(p_size) OVER (PARTITION BY price_cents) AS min_eq
      FROM p
    )
    SELECT p_partkey, price_cents, p_size
    FROM w
    WHERE (min_lt IS NULL OR min_lt > p_size) AND min_eq >= p_size
    """,
    tags=("window", "olap"),
)
def window_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (p_retailprice, p_size), both minimized — q dominates p when q is
    <= on both axes and strictly < on at least one.  The classic OLAP
    operator the reference's delegated SQL engine would own
    (README.md:9); absent from Spark's builtin surface.

    Scale shape: for 2-D the skyline is a running-min sweep, NOT a
    quadratic dominance join — sort by price, and a point survives iff
    no cheaper point has seen an equal-or-smaller size.  The sweep is
    distributed with the bucket-offset trick from ``global_index``:
    range-bucket on price (equal prices share a bucket, so a strictly
    lower bucket means strictly lower price), per-bucket min-size rolls
    through a <= 64-row running-min window into broadcast prefix minima,
    and the within-bucket sweep is a PARTITIONED range-frame window.
    The oracle states the same sweep with one global RANGE window."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        cents("p_retailprice").alias("price_cents"),
        "p_size",
    )
    bounds = p.agg(
        F.min("price_cents").alias("_mn"), F.max("price_cents").alias("_mx")
    )
    width = (F.col("_mx") - F.col("_mn")) / 64.0
    bucket = (
        F.when(F.col("_mx") <= F.col("_mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("price_cents") - F.col("_mn")) / width), F.lit(63)
            )
        )
        .cast("int")
    )
    hb = p.crossJoin(F.broadcast(bounds)).withColumn("_gb", bucket).drop("_mn", "_mx")
    # per-bucket min size -> exclusive prefix minima over <= 64 rows
    # (the allowlisted bucket-offsets window shape).
    prefix = hb.groupBy("_gb").agg(F.min("p_size").alias("_bmin")).select(
        "_gb",
        F.min("_bmin")
        .over(W.orderBy("_gb").rowsBetween(W.unboundedPreceding, -1))
        .alias("_min_lower"),
    )
    in_w = (
        W.partitionBy("_gb")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    eq_w = W.partitionBy("_gb", "price_cents")
    big = F.lit(2_147_483_647)
    dominated = (
        (F.coalesce(F.col("_min_lower"), big) <= F.col("p_size"))
        | (F.coalesce(F.min("p_size").over(in_w), big) <= F.col("p_size"))
        | (F.min("p_size").over(eq_w) < F.col("p_size"))
    )
    return (
        hb.join(F.broadcast(prefix), "_gb")
        .withColumn("_dom", dominated)
        .where(~F.col("_dom"))
        .select("p_partkey", "price_cents", "p_size")
    )


@query(
    "window_largest_remainder_alloc",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, {cents_sql('l_extendedprice')} AS wc
      FROM lineitem
    ),
    o AS (SELECT o_orderkey, {cents_sql('o_totalprice')} AS t FROM orders),
    j AS (
      SELECT l_orderkey, l_linenumber, wc, t,
             SUM(wc) OVER (PARTITION BY l_orderkey) AS wsum
      FROM li JOIN o ON l_orderkey = o_orderkey
    ),
    b AS (
      SELECT *, (t * wc) // wsum AS base, (t * wc) % wsum AS rem FROM j
    ),
    r AS (
      SELECT *,
             t - SUM(base) OVER (PARTITION BY l_orderkey) AS extra,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber, wc) AS rn
      FROM b
    )
    SELECT l_orderkey, l_linenumber,
           CAST(base + CASE WHEN rn <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
    FROM r
    """,
    tags=("window", "finance"),
)
def window_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional allocation with largest-remainder rounding: spread
    each order's total price across its lineitems proportionally to
    l_extendedprice, in whole cents, such that the allocations sum to
    EXACTLY the order total — floor(T*w/W) per item, then the leftover
    cents go to the largest fractional remainders (tie-break by line
    number).  The standard exact-sum allocation used in finance and
    budget fan-out; all-integer, so both engines agree bit-for-bit.

    Scale shape: every window is partitioned by l_orderkey (bounded
    groups, <= 7 lines), the orders side joins on the same key, and the
    products t*wc stay under 2^50 — no decimal widening needed."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        cents("l_extendedprice").alias("wc"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        cents("o_totalprice").alias("t"),
    )
    ow = W.partitionBy("l_orderkey")
    j = li.join(o, "l_orderkey").withColumn("wsum", F.sum("wc").over(ow))
    b = j.withColumn("base", F.expr("(t * wc) div wsum")).withColumn(
        "rem", (F.col("t") * F.col("wc")) % F.col("wsum")
    )
    r = b.withColumn("extra", F.col("t") - F.sum("base").over(ow)).withColumn(
        "rn",
        F.row_number().over(
            ow.orderBy(F.col("rem").desc(), "l_linenumber", "wc")
        ),
    )
    return r.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base") + F.when(F.col("rn") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_cents"),
    )


# --- clamped running sum (inventory / budget balance with floor+cap) --------

CLAMP_LO = 0
CLAMP_HI = 100_000  # cents


@query(
    "window_clamped_running_sum",
    oracle=f"""
    WITH RECURSIVE rows_ AS (
      SELECT user_id, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN {cents_sql('value')}
                  ELSE -{cents_sql('value')} END AS delta,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    bal AS (
      SELECT user_id, event_id, rn,
             GREATEST(CAST({CLAMP_LO} AS BIGINT),
                      LEAST(CAST({CLAMP_HI} AS BIGINT), delta)) AS balance
      FROM rows_ WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.event_id, r.rn,
             GREATEST(CAST({CLAMP_LO} AS BIGINT),
                      LEAST(CAST({CLAMP_HI} AS BIGINT), b.balance + r.delta))
      FROM rows_ r JOIN bal b ON r.user_id = b.user_id AND r.rn = b.rn + 1
    )
    SELECT user_id, event_id, balance AS balance_cents FROM bal
    """,
    tags=("window", "pandas_udf", "events"),
)
def window_clamped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLAMPED running sum — per user, a running balance that saturates
    at a floor and a cap (inventory on-hand, prepaid budget burn-down,
    token-bucket rate limits): b_i = clamp(b_{i-1} + delta_i, LO, HI).

    This is the canonical operator plain window functions CANNOT
    express: the clamp makes the recurrence NON-ASSOCIATIVE (once a
    prefix saturates, later rows depend on where it clipped, so no
    prefix-sum decomposition exists — contrast window_running_sum).
    It lands on rung (b) of the engine's custom-operator ladder
    (SURVEY.md §7): a grouped ``applyInPandas`` fold, ordered within
    each key.  The DuckDB twin states the same recurrence as a
    RECURSIVE CTE stepping rn -> rn+1 — declarative, engine-checked,
    and the reason this op is oracle-checkable at all.

    Determinism: deltas are integerized to cents IN SPARK SQL
    (F.round = HALF_UP, matching DuckDB round) BEFORE the kernel, so
    the Python fold is pure integer arithmetic with no rounding mode
    of its own; order is pinned by (ts, event_id).

    Scale shape: one hash exchange on user_id, then each group folds
    independently inside an Arrow batch — state is one long per key,
    rows stream through; cost O(events/user) per task, the same
    shape as every stateful-kernel twin in streaming/stateful.py."""
    sign = F.when(F.col("event_type").isin("purchase", "signup"), F.lit(1)).otherwise(
        F.lit(-1)
    )
    rows = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        (sign * cents("value")).alias("delta"),
    )

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        bal, out = 0, []
        for d in pdf["delta"]:
            bal = max(CLAMP_LO, min(CLAMP_HI, bal + int(d)))
            out.append(bal)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "balance_cents": out,
            }
        )

    return rows.groupBy("user_id").applyInPandas(
        fold, "user_id long, event_id long, balance_cents long"
    )


# --- rolling correlation (value vs inter-arrival gap, r11) ------------------

CORR_WIN = 8


@query(
    "window_rolling_corr",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id,
             {cents_sql('value')} AS y,
             COALESCE(date_diff('microsecond',
                        lag(ts) OVER (PARTITION BY user_id ORDER BY event_id),
                        ts) // 1000000, 0) AS x
      FROM events
    ),
    m AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
             CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
      FROM g
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN {CORR_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST({CORR_WIN} * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST({CORR_WIN} * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST({CORR_WIN} * syy - sy * sy AS DOUBLE))) AS corr8
    FROM m
    WHERE rn >= {CORR_WIN}
      AND {CORR_WIN} * sxx - sx * sx > 0 AND {CORR_WIN} * syy - sy * sy > 0
    """,
    tags=("window", "events", "stats"),
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling PEARSON CORRELATION per user between event value and the
    inter-arrival gap, over the trailing {CORR_WIN} events — "do big
    values cluster after short gaps?"  The normalized companion to
    window_rolling_slope (a slope has units and scale; r is bounded
    [-1, 1] and comparable across users), and the windowed form of
    agg_corr_regr's global correlation.

    Exactness: gaps in whole seconds (floor of the exact microsecond
    diff — the engines' shared convention), values in cents; all five
    windowed moments (sx, sy, sxx, syy, sxy) are exact BIGINT sums
    over the frame, and r is ONE identical float expression per row
    (two correctly-rounded sqrts, one divide).  Zero-variance windows
    (constant gaps or values) are excluded on both engines rather
    than emitting 0/0.

    Scale shape: the lag, row_number and all five moment windows ride
    ONE user-partitioned sort; output is row-per-event past the
    warm-up, no join, no Python."""
    w = W.partitionBy("user_id").orderBy("event_id")
    wf = w.rowsBetween(-(CORR_WIN - 1), 0)
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        "event_id",
        cents("value").alias("y"),
        F.coalesce(
            F.expr(
                "timestampdiff(MICROSECOND,"
                " lag(ts) OVER (PARTITION BY user_id ORDER BY event_id), ts)"
                " div 1000000"
            ),
            F.lit(0),
        ).alias("x"),
    )
    m = g.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.sum("x").over(wf).cast("long").alias("sx"),
        F.sum("y").over(wf).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(wf).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(wf).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(wf).cast("long").alias("sxy"),
    )
    n = F.lit(CORR_WIN)
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.where((F.col("rn") >= CORR_WIN) & (varx > 0) & (vary > 0))
        .select(
            "user_id",
            "event_id",
            (
                (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
            ).alias("corr8"),
        )
    )


# --- Hampel despike filter (rolling median +- MAD, r11) ---------------------

HAMPEL_WIN = 7   # trailing window, odd so the median is an element
HAMPEL_K = 3     # flag if |v - med| > K * MAD
HAMPEL_MAD_FLOOR = 50  # cents; flat windows would otherwise flag everything


@query(
    "window_hampel_despike",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, {cents_sql('value')} AS v,
             ROW_NUMBER() OVER w AS rn,
             list({cents_sql('value')}) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN {HAMPEL_WIN - 1} PRECEDING AND CURRENT ROW) AS win
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    m AS (
      SELECT user_id, event_id, v,
             list_sort(win)[{HAMPEL_WIN // 2 + 1}] AS med,
             list_sort(list_transform(win,
               x -> ABS(x - list_sort(win)[{HAMPEL_WIN // 2 + 1}])
             ))[{HAMPEL_WIN // 2 + 1}] AS mad
      FROM g WHERE rn >= {HAMPEL_WIN}
    )
    SELECT user_id, event_id, v AS value_cents, med AS median_cents,
           mad AS mad_cents
    FROM m
    WHERE ABS(v - med) > {HAMPEL_K} * GREATEST(mad, {HAMPEL_MAD_FLOOR})
    """,
    tags=("window", "events", "validation"),
)
def window_hampel_despike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMPEL outlier filter: flag events whose value deviates from the
    trailing-{HAMPEL_WIN} rolling MEDIAN by more than {HAMPEL_K}x the
    rolling MAD — the robust despiking standard for sensor/metric
    streams (a z-score filter corrupts its own mean and stddev with
    the spike it is trying to catch; median/MAD have a 50% breakdown
    point).  Emits the flagged rows with their window median and MAD.

    Exactness: values in cents; the window is an ODD fixed length so
    both order statistics are ELEMENTS (position {HAMPEL_WIN // 2 + 1}
    of the sorted window array) — exact integers, no interpolation, no
    float convention.  The MAD floor ({HAMPEL_MAD_FLOOR} cents) keeps
    flat windows (MAD 0) from flagging every tiny wiggle — the
    events_seasonal_anomaly convention.

    Scale shape: ONE user-partitioned sort carries the row_number and
    the collect_list frame; the per-row sort of a {HAMPEL_WIN}-element
    array is O(1) inside codegen.  This is NOT the exact-percentile
    buffer hazard the audit bans: the window is a FIXED-length frame
    (bounded state per row), not a per-group sort of all values."""
    wo = W.partitionBy("user_id").orderBy("event_id")
    wf = wo.rowsBetween(-(HAMPEL_WIN - 1), 0)
    mid = HAMPEL_WIN // 2 + 1
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        "event_id",
        cents("value").alias("v"),
        F.row_number().over(wo).alias("rn"),
        F.collect_list(cents("value")).over(wf).alias("win"),
    )
    med = F.element_at(F.array_sort("win"), mid)
    m = g.where(F.col("rn") >= HAMPEL_WIN).select(
        "user_id",
        "event_id",
        "v",
        med.alias("med"),
        F.element_at(
            F.array_sort(F.transform("win", lambda x: F.abs(x - med))), mid
        ).alias("mad"),
    )
    return m.where(
        F.abs(F.col("v") - F.col("med"))
        > HAMPEL_K * F.greatest("mad", F.lit(HAMPEL_MAD_FLOOR))
    ).select(
        "user_id",
        "event_id",
        F.col("v").alias("value_cents"),
        F.col("med").alias("median_cents"),
        F.col("mad").alias("mad_cents"),
    )


# ---------------------------------------------------------------------------
# Bollinger-band breakout screen (round 12)
# ---------------------------------------------------------------------------

BOLL_W = 19  # trailing frame length (current row excluded)
BOLL_K = 2.0  # band half-width in standard deviations


@query(
    "window_bollinger_breakout",
    oracle=f"""
    WITH cents AS (
      SELECT user_id, event_id, ts,
             {cents_sql('value')} AS v
      FROM events
    ),
    framed AS (
      SELECT user_id, event_id, v,
             COUNT(*) OVER w AS n,
             CAST(SUM(v) OVER w AS BIGINT) AS s,
             CAST(SUM(v * v) OVER w AS BIGINT) AS ss
      FROM cents
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {BOLL_W} PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, v AS value_cents,
           CAST(s AS DOUBLE) / n AS mid,
           CAST(s AS DOUBLE) / n
             + {BOLL_K} * sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(n AS DOUBLE) * (n - 1))) AS upper_band,
           CAST(s AS DOUBLE) / n
             - {BOLL_K} * sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(n AS DOUBLE) * (n - 1))) AS lower_band,
           v > CAST(s AS DOUBLE) / n
             + {BOLL_K} * sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(n AS DOUBLE) * (n - 1))) AS breakout_up
    FROM framed WHERE n = {BOLL_W}
    """,
    tags=("window", "events"),
)
def window_bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout screen: per user, flag values above the
    trailing {BOLL_W}-observation mean + {BOLL_K}σ band (current row
    EXCLUDED from its own baseline, so a spike can't mask itself — the
    same leakage rule as window_hampel_despike's trailing frame).
    Emits only rows with a FULL trailing frame: a band from 3 points is
    an alert-storm generator, not a baseline.

    Determinism: values are integer cents; the frame's Σv and Σv² are
    exact integer window sums, so mean and the sample-variance identity
    (nΣv² − (Σv)²)/(n(n−1)) are identical IEEE trees on both engines —
    no order-dependent float accumulation (the window_moving_avg
    convention, taken further: ints instead of decimals).

    Scale shape: one user-keyed sort window, frame state O({BOLL_W})
    per row; no join, no second shuffle."""
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "user_id",
        "event_id",
        "ts",
        cents("value").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-BOLL_W, -1)
    )
    framed = vals.select(
        "user_id",
        "event_id",
        "v",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).cast("long").alias("ss"),
    ).where(F.col("n") == BOLL_W)
    mid = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("n") * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double"))
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return framed.select(
        "user_id",
        "event_id",
        F.col("v").alias("value_cents"),
        mid.alias("mid"),
        (mid + BOLL_K * sd).alias("upper_band"),
        (mid - BOLL_K * sd).alias("lower_band"),
        (F.col("v") > mid + BOLL_K * sd).alias("breakout_up"),
    )
