"""Batch-equivalent declarations of the streaming operators
(streaming/ops.py) — same logical plans over the static events table, so
the DuckDB oracle can check them (SURVEY.md §7 hard part 6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import (
    cents_sql,
    comoment_sql,
    dec_sum_sql,
    exact_dot_sql,
    exact_sum_sql,
    to_double_sql,
)
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.sources.tables import load_table
from oracle_parquet_dumper_spark.streaming.ops import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS n,
           {dec_sum_sql('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
    bench=True,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h windows per event type (batch form of the watermarked
    streaming agg; F.window and time_bucket share the epoch-aligned
    origin for hour-multiples)."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev.drop("props"))


@query(
    "stream_sliding_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) - (k * INTERVAL '6 hours') AS window_start,
           COUNT(*) AS n
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    GROUP BY 1
    """,
    tags=("streaming", "window"),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 12h/6h windows: every event belongs to exactly two
    windows (width/slide = 2) — the SQL mirror enumerates both via the
    k in {0,1} offset trick."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev.drop("props"))


@query(
    "stream_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '2 days'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '2 days' AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess_id
    """,
    tags=("streaming", "session"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (2-day gap) per user.  The SQL mirror is the
    classic lag/cumsum sessionization; Spark's session_window end =
    last event + gap, reproduced as MAX(ts) + gap."""
    ev = load_table(spark, sf_dir, "events")
    return session_windows(ev.drop("props"))


@query(
    "stream_dedup_pairs",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_first_seen
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of in-stream dedup on (user_id, event_type): the
    surviving-row count per type equals the distinct-user count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_first_seen"))
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS p_ts,
           CAST(v.ts AS TIMESTAMP) AS v_ts,
           v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL '1 hour'
    """,
    tags=("streaming", "join", "interval"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-stream interval join (purchases x
    preceding-hour views per user).  In batch the equi key carries the
    shuffle and the interval is a post-filter; in streaming the same
    plan runs with watermark-expired state."""
    from oracle_parquet_dumper_spark.streaming.ops import interval_join_purchases_views

    ev = load_table(spark, sf_dir, "events").drop("props")
    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view")
    # reuse the streaming builder on batch frames (withWatermark is a
    # no-op in batch mode) - one definition, two execution modes
    return interval_join_purchases_views(purchases, views)


@query(
    "stream_static_enrich",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS nc FROM customer)
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           round({dec_sum_sql('e.value')}, 6) AS total_value
    FROM events e
    CROSS JOIN n
    JOIN customer c ON c.c_custkey = e.user_id % n.nc + 1
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join", "agg"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-static enrichment join: events mapped to
    customers (user_id mod |customer| + 1), broadcast-joined to the
    static dimension, aggregated per market segment.  The same
    ``enrich_with_dimension`` builder runs in both modes;
    tests/test_streaming.py asserts stream == batch."""
    from oracle_parquet_dumper_spark.streaming.ops import enrich_with_dimension

    ev = load_table(spark, sf_dir, "events").drop("props")
    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()  # dimension cardinality: bounded driver scalar
    return enrich_with_dimension(ev, cust, n)


@query(
    "stream_ohlc_hourly",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type,
             CAST(date_diff('microsecond', date_trunc('hour', ts), ts) AS DECIMAL(10,0))
               * CAST('10000000000000000000' AS DECIMAL(20,0))
               + CAST(event_id AS DECIMAL(19,0)) AS ord,
             value
      FROM events
    )
    SELECT window_start, event_type,
           arg_min(value, ord) AS open_v, MAX(value) AS high_v,
           MIN(value) AS low_v, arg_max(value, ord) AS close_v,
           COUNT(*) AS n_events
    FROM b GROUP BY window_start, event_type
    """,
    tags=("streaming", "window", "timeseries"),
)
def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the watermarked tumbling-hour OHLC stream
    (streaming/ops.ohlc_tumbling) — identical plan over the static
    events table; tests/test_streaming.py asserts the streaming
    execution emits exactly this answer."""
    from oracle_parquet_dumper_spark.streaming.ops import ohlc_tumbling

    ev = load_table(spark, sf_dir, "events")
    return ohlc_tumbling(ev.drop("props"))


@query(
    "stream_drift_mean_shift",
    oracle=f"""
    WITH ref AS (
      SELECT event_type, COUNT(*) AS rn,
             {exact_sum_sql('cents')} AS rs,
             {exact_dot_sql('cents', 'cents')} AS rq
      FROM (SELECT event_type, {cents_sql('value')} AS cents FROM events)
      GROUP BY event_type
    ),
    r2 AS (
      SELECT event_type,
             {to_double_sql('rs')} / rn AS ref_mean_cents,
             sqrt({to_double_sql(comoment_sql('rn', 'rq', 'rs'))}) / rn AS ref_sd_cents
      FROM ref
    ),
    w AS (
      SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n,
             {exact_sum_sql(cents_sql('value'))} AS s
      FROM events GROUP BY 1, 2
    )
    SELECT w.window_start, w.event_type, CAST(w.n AS BIGINT) AS n,
           {to_double_sql('w.s')} / w.n AS mean_cents,
           r2.ref_mean_cents, r2.ref_sd_cents,
           ({to_double_sql('w.s')} / w.n - r2.ref_mean_cents) / r2.ref_sd_cents AS shift
    FROM w JOIN r2 ON r2.event_type = w.event_type
    """,
    tags=("streaming", "window", "stats", "drift"),
)
def stream_drift_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming drift monitor (streaming/ops.py
    drift_mean_shift): per tumbling 6h window and event type, the mean
    purchase-value shift standardized by the STATIC reference profile
    (exact-integer-moment mean/sd) — identical logical plan over the
    static table, so the DuckDB oracle checks the same arithmetic the
    watermarked stream executes; tests/test_streaming.py asserts
    stream == batch on this function pair."""
    from oracle_parquet_dumper_spark.streaming.ops import (
        drift_mean_shift,
        drift_reference,
    )

    ev = load_table(spark, sf_dir, "events")
    return drift_mean_shift(ev.drop("props"), drift_reference(ev))


@query(
    "stream_cumulative_distinct",
    oracle="""
    WITH fd AS (
      SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS d0
      FROM events GROUP BY 1, 2
    ),
    newc AS (SELECT event_type, d0, COUNT(*) AS n_new FROM fd GROUP BY 1, 2),
    grid AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS d FROM events)
    SELECT g.event_type, strftime(g.d, '%Y-%m-%d') AS day,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (
             PARTITION BY g.event_type ORDER BY g.d) AS BIGINT) AS cum_users
    FROM grid g LEFT JOIN newc n ON n.event_type = g.event_type AND n.d0 = g.d
    """,
    tags=("streaming", "agg", "sketch"),
)
def stream_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the running count of DISTINCT users ever seen,
    one row per active day — the audience-growth monitor.  Batch form:
    each user contributes on their FIRST day only (groupBy min-date =
    one exact pass, state O(users)), then a cumulative window over the
    <=(types x days) day grid; no day-over-day re-distinct.

    The STREAMING twin (streaming/stateful.py:cumulative_distinct_
    monitor) holds the agg_bitmap_distinct 63-bit-word bitmap as
    per-type state — users/63 longs, exact, mergeable — and its emitted
    rows are BIT-IDENTICAL to this query (pinned in
    tests/test_streaming.py::test_stream_cumulative_distinct_equals_
    batch); an HLL-state monitor could not be bit-checked like this."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    fd = (
        ev.select("event_type", "user_id", F.to_date("ts").alias("d"))
        .groupBy("event_type", "user_id")
        .agg(F.min("d").alias("d0"))
    )
    newc = fd.groupBy("event_type", "d0").agg(F.count(F.lit(1)).alias("n_new"))
    grid = ev.select("event_type", F.to_date("ts").alias("d")).distinct()
    return (
        grid.join(
            newc,
            (grid.event_type == newc.event_type) & (grid.d == newc.d0),
            "left",
        )
        .select(grid.event_type, grid.d, F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.sum("n_new")
            .over(W.partitionBy("event_type").orderBy("d"))
            .cast("long")
            .alias("cum_users"),
        )
    )


@query(
    "stream_closed_sessions",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) > 1800 * 1000000::BIGINT
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    ),
    per AS (
      SELECT user_id, sess, MIN(ts) AS t0, MAX(ts) AS t1,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(sess) OVER (PARTITION BY user_id) AS last_sess
      FROM s GROUP BY user_id, sess
    )
    SELECT user_id, strftime(t0, '%Y-%m-%d %H:%M:%S') AS session_start,
           n_events,
           CAST(date_diff('microsecond', t0, t1) // 1000000 AS BIGINT) AS duration_s
    FROM per WHERE sess < last_sess
    """,
    tags=("streaming", "window", "agg"),
)
def stream_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSED sessions per user — 30-minute-gap sessionization emitting
    only sessions PROVEN over by a later event, i.e. every session
    except each user's last.  This is the batch twin of the stateful
    streaming sessionizer (streaming/stateful.py:
    closed_sessions_monitor, 3 longs of state per user): a stream
    cannot emit a session it doesn't yet know has ended, so the honest
    shared contract drops the trailing session on BOTH sides — making
    the stateful kernel's emitted rows bit-identical to this query
    (pinned in tests/test_streaming.py).  Complements
    events_bounce_rate_sessions (the daily rollup) with the session
    RELATION itself.

    Exact integers: microsecond-exact gap comparisons (the engines'
    shared convention), whole-second durations by floored division,
    wall-clock session_start strings.

    Scale shape: lag + running session counter + the per-user
    last-session max all ride ONE user-partitioned sort; the session
    fold reuses the same clustering.  No join, no Python (the Python
    kernel is the STREAMING side's job)."""
    from pyspark.sql import Window as W

    gap_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(gap_w).isNull()
            | (
                F.timestamp_diff("MICROSECOND", F.lag("ts").over(gap_w), F.col("ts"))
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    s = o.select(
        "user_id",
        "ts",
        F.sum("new_s").over(gap_w.rowsBetween(W.unboundedPreceding, 0)).alias("sess"),
    )
    per = s.groupBy("user_id", "sess").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t1"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    per = per.withColumn(
        "last_sess", F.max("sess").over(W.partitionBy("user_id"))
    )
    return per.where(F.col("sess") < F.col("last_sess")).select(
        "user_id",
        F.date_format("t0", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        F.expr("timestampdiff(MICROSECOND, t0, t1) div 1000000")
        .cast("long")
        .alias("duration_s"),
    )


@query(
    "stream_user_day_class",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
    ),
    lagged AS (
      SELECT user_id, d,
             lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
      FROM days
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
           CASE WHEN prev_d IS NULL THEN 'new'
                WHEN date_diff('day', prev_d, d) <= 7 THEN 'returning'
                ELSE 'resurrected' END AS user_class
    FROM lagged
    """,
    tags=("streaming", "events", "window"),
)
def stream_user_day_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, active day) growth classification — new / returning /
    resurrected (7-day gap) — the ROW-LEVEL relation under
    events_growth_accounting's daily rollup, and the batch twin of the
    stateful streaming classifier (streaming/stateful.py:
    growth_class_monitor, ONE date string of state per user, emitted
    rows bit-identical — pinned in tests/test_streaming.py).  A
    realtime audience pipeline keys campaigns off exactly this stream
    ("resurrected this morning -> send the win-back survey").

    Scale shape: one distinct to user-days (map-side partial), one lag
    window on the same user clustering, a row-local CASE.  No join,
    no Python on the batch side."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    lagged = days.select("user_id", "d", F.lag("d").over(w).alias("prev_d"))
    return lagged.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.when(F.col("prev_d").isNull(), "new")
        .when(F.datediff("d", "prev_d") <= 7, "returning")
        .otherwise("resurrected")
        .alias("user_class"),
    )


@query(
    "stream_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT strftime(time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, CAST(rank AS BIGINT) AS rank, event_type, n FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, event_type) AS rank
      FROM c
    ) WHERE rank <= 3
    """,
    tags=("streaming", "window", "agg"),
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 event types per tumbling 6h window — the
    heavy-hitters dashboard's batch form: one (window, type) groupBy
    (map-side partial; the rank window's partitions hold ≤ |type
    domain| ~12 rows, never data-sized).

    The STREAMING twin (streaming/stateful.py:heavy_hitters_monitor)
    keys applyInPandasWithState by window start and holds the bounded
    per-type count table as state — EXACT counting, not a Misra–Gries
    sketch, precisely so its final emission is BIT-IDENTICAL to this
    query (pinned in tests/test_round12_ops.py, with a FakeState
    batch-boundary redelivery test alongside).  Update-mode keying
    caveat (ADVICE r12): the twin re-emits the CURRENT top-3 per
    touched window, so equality holds for a consumer upserting by
    (window_start, rank) — rank r's row is superseded in place when a
    type drops out of the top-3; a consumer keying by (window_start,
    event_type) would retain the dropped type's stale row.  The
    redelivery test pins exactly this supersession.  window_start is
    emitted
    as a formatted string on both paths because the state key crosses
    the Arrow boundary; F.window and DuckDB's time_bucket share the
    epoch-aligned origin for hour multiples."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.groupBy(
            F.date_format(F.window("ts", "6 hours").start, "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        c.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n")
    )
