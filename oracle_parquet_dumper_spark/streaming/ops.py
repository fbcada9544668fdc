"""Structured Streaming operators over the events stream.

The reference has no streaming at all (SURVEY.md §2 negative result);
this is the Part B extension.  Each operator here has a batch-equivalent
query registered in ``operators.streaming_batch`` — the driver checks
those against DuckDB, and ``tests/test_streaming.py`` asserts that the
*streaming* execution (file source, availableNow trigger, memory sink)
produces exactly the batch answer, which is the Structured Streaming
correctness contract (incremental view maintenance of the same plan).

Scale notes: watermarks bound state; tumbling/sliding windows keyed by
(window, type) shard across executors; session windows use Spark's
native session_window state merging.  Dedup-in-stream (``stream_dedup``)
is a global ``dropDuplicates`` on (user_id, event_type): its state holds
every distinct pair for the life of the query, because the watermark
column is not part of the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_parquet_dumper_spark.functions.rounding import (
    cents,
    comoment,
    dec_sum,
    exact_dot,
    exact_sum,
    to_double,
)

# Event-time lateness every stream operator here and in ``stateful``
# tolerates before a window closes or state is dropped.
WATERMARK = "1 hour"


def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, normalized to the same
    TIMESTAMP_NTZ ``ts`` the batch loader produces.  Streams must declare
    their schema up front, so detect the fixture's physical timestamp
    unit the same way ``sources/tables.py`` does: nanosecond storage is
    read as raw longs (``nanosAsLong``) and truncated to micros;
    micro/milli storage reads natively as timestamp."""
    from oracle_parquet_dumper_spark.sources.tables import _ns_timestamp_columns, table_path

    ns_cols = _ns_timestamp_columns(table_path(sf_dir, "events"))
    # The file source wants a directory: stream the fixture dir with a
    # glob pinned to the events table.
    reader = spark.readStream.option("maxFilesPerTrigger", 1).option(
        "pathGlobFilter", "events.parquet"
    )
    # NOTE: watermarks require TIMESTAMP (not TIMESTAMP_NTZ), so the
    # stream keeps ts as session-tz TIMESTAMP; the session runs in UTC,
    # making window bounds render identically to the batch NTZ values.
    if "ts" in ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = reader.schema(_events_stream_schema(T.LongType())).parquet(sf_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = reader.schema(_events_stream_schema(T.TimestampType())).parquet(sf_dir)
    return raw


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked 6-hour tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Watermarked 12-hour windows sliding by 6 hours (each event lands
    in two windows)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "12 hours", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Session windows per user: events closer than 2 days merge into
    one session (native session_window state store merging)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "2 days").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """In-stream exact dedup on (user_id, event_type): one event per pair
    survives, as in the batch twin ``stream_dedup_pairs``.

    ``ts`` is not a dedup key, so the watermark never evicts a pair:
    state grows with the number of distinct pairs (on the events
    fixture the dedupe operator ends with ``numRowsTotal`` equal to the
    distinct-pair count and ``numRowsRemoved`` 0).  Eviction would need
    ``dropDuplicatesWithinWatermark``, which only drops repeats inside
    the horizon and so is not the batch twin's global dedup."""
    return events.withWatermark("ts", WATERMARK).dropDuplicates(["user_id", "event_type"])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Execute a streaming plan to completion (availableNow) into an
    in-memory table; returns after the sink is final."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def interval_join_purchases_views(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's views in the preceding hour.  The time-range condition
    plus both-side watermarks lets Spark expire join state — without
    them stream-stream join state grows forever."""
    p = purchases.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = views.withWatermark("ts", WATERMARK).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("view_value"),
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour"))
    )
    return p.join(v, cond, "inner").select(
        "purchase_id", F.col("p_user").alias("user_id"), "p_ts", "v_ts", "view_value"
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame, n_dim_rows: int) -> DataFrame:
    """Stream-static enrichment join + windowless aggregate: each event
    is mapped onto a dimension key (user_id mod |dim| + 1, the synthetic
    user->customer assignment) and broadcast-joined against the STATIC
    dimension — no join state, no watermark on the static side; the
    dimension is re-read per micro-batch, which is how slowly-changing
    lookup tables stay fresh in long-running streams.  The aggregate
    (count + decimal sum per segment) is the stateful part and is
    bounded by segment cardinality."""
    keyed = events.withWatermark("ts", WATERMARK).withColumn(
        "cust_key", (F.col("user_id") % F.lit(n_dim_rows)) + 1
    )
    # no forced broadcast: the customer dim grows with the business —
    # Spark size-gates the static side per micro-batch (broadcast while
    # it fits, shuffled stream-static join when it doesn't)
    enriched = keyed.join(
        dim.select(F.col("c_custkey"), F.col("c_mktsegment")),
        F.col("cust_key") == F.col("c_custkey"),
    )
    return enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(dec_sum("value"), 6).alias("total_value"),
    )


def ohlc_tumbling(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1h OHLC per event type — the streaming form
    of operators/events_analytics.ts_resample_ohlc.  open/close are
    min_by/max_by on the same exact DECIMAL ordering key (within-hour
    microsecond offset in the high digits, event_id in the low — see
    ts_resample_ohlc for the width proof), so argmin/argmax tie-breaks
    are deterministic for ANY bigint event_id and the stream reproduces
    the batch answer bit-for-bit.  State per window is O(1) per
    (window, type): declarative aggregates (min_by et al.) merge
    incrementally; the watermark expires closed windows."""
    hour = F.date_trunc("hour", F.col("ts"))
    ord_key = (
        F.timestamp_diff("MICROSECOND", hour, F.col("ts")).cast("decimal(10,0)")
        * F.lit("10000000000000000000").cast("decimal(20,0)")
        + F.col("event_id").cast("decimal(19,0)")
    )
    return (
        events.withWatermark("ts", WATERMARK)
        .withColumn("ord", ord_key)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", F.col("ord")).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", F.col("ord")).alias("close_v"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "open_v", "high_v", "low_v", "close_v", "n_events")
    )


def drift_reference(events_batch: DataFrame) -> DataFrame:
    """Static per-type reference profile for the drift monitor: exact
    integer moments (count, cents sum, cents sum-of-squares, exact
    128-bit sums — the events_welch_ttest recipe) folded to mean and
    population sd in double.  In production this is a stored profile
    table maintained by the batch layer; here it derives from the same
    fixture so the stream==batch contract stays checkable."""
    vc = cents("value")
    g = events_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("rn"),
        exact_sum(vc).alias("rs"),
        exact_dot(vc, vc).alias("rq"),
    )
    return g.select(
        "event_type",
        (to_double(F.col("rs")) / F.col("rn")).alias("ref_mean_cents"),
        (
            F.sqrt(to_double(comoment("rn", "rq", "rs")))
            / F.col("rn")
        ).alias("ref_sd_cents"),
    )


def drift_mean_shift(events: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-window drift monitor: each 6-hour tumbling window's per-type mean
    value, standardized against the static reference profile —
    shift = (window_mean - ref_mean)/ref_sd, the alerting metric a
    model-serving pipeline watches for input drift.

    Streaming shape: the static reference joins BEFORE the aggregation
    (plain stream-static broadcast enrich, always legal), and the
    reference scalars ride through the single stateful aggregate as
    first() — one watermarked state store keyed by (window, type), no
    post-aggregation join restrictions."""
    vc = cents("value")
    enriched = events.join(F.broadcast(reference), "event_type")
    g = (
        enriched.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum(vc).alias("s"),
            F.first("ref_mean_cents").alias("ref_mean_cents"),
            F.first("ref_sd_cents").alias("ref_sd_cents"),
        )
    )
    mean_w = to_double(F.col("s")) / F.col("n")
    return g.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n",
        mean_w.alias("mean_cents"),
        "ref_mean_cents",
        "ref_sd_cents",
        ((to_double("s") / F.col("n") - F.col("ref_mean_cents")) / F.col("ref_sd_cents")).alias(
            "shift"
        ),
    )
