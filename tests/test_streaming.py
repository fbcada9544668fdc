"""Streaming execution tests: the watermarked streaming plans
(file source -> availableNow -> memory sink) must produce exactly their
batch-equivalent answers, plus a custom stateful operator via
applyInPandasWithState."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_parquet_dumper_spark.sources.tables import load_table
from oracle_parquet_dumper_spark.streaming import ops


def _normalize(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


def test_stream_tumbling_equals_batch(spark, smoke_sf_dir):
    stream = ops.tumbling_counts(ops.read_events_stream(spark, smoke_sf_dir))
    ops.run_to_memory(stream, "t_tumbling")
    got = spark.table("t_tumbling")
    expect = ops.tumbling_counts(load_table(spark, smoke_sf_dir, "events").drop("props"))
    assert _normalize(got) == _normalize(expect)


def test_stream_session_equals_batch(spark, smoke_sf_dir):
    stream = ops.session_windows(ops.read_events_stream(spark, smoke_sf_dir))
    ops.run_to_memory(stream, "t_session")
    got = spark.table("t_session")
    expect = ops.session_windows(load_table(spark, smoke_sf_dir, "events").drop("props"))
    assert _normalize(got) == _normalize(expect)


def test_stream_dedup_keeps_every_pair(spark, smoke_sf_dir):
    stream = ops.stream_dedup(ops.read_events_stream(spark, smoke_sf_dir))
    q = ops.run_to_memory(stream, "t_dedup", output_mode="append")
    got = spark.table("t_dedup")
    batch = load_table(spark, smoke_sf_dir, "events")
    # one survivor per (user_id, event_type) pair
    pairs = batch.select("user_id", "event_type").distinct().count()
    assert got.count() == pairs
    assert got.select("user_id", "event_type").distinct().count() == got.count()
    # state is bounded by the distinct pairs, not by the watermark: ts is
    # not a key, so no pair is ever evicted
    (dedupe,) = q.lastProgress["stateOperators"]
    assert (dedupe["numRowsTotal"], dedupe["numRowsRemoved"]) == (pairs, 0)


def test_apply_in_pandas_with_state(spark, smoke_sf_dir):
    from oracle_parquet_dumper_spark.streaming.stateful import running_totals

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = running_totals(events)
    ops.run_to_memory(stream, "t_state", output_mode="update")
    got = spark.table("t_state")
    # final state per user equals the batch per-user sum
    batch = (
        load_table(spark, smoke_sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("expected"))
    )
    # take the last emitted row per user (memory sink keeps all updates)
    latest = (
        got.groupBy("user_id").agg(F.max("running_total").alias("running_total"))
    )
    joined = latest.join(batch, "user_id")
    mismatches = joined.where(
        F.abs(F.col("running_total") - F.col("expected")) > 0.011
    ).count()
    assert mismatches == 0


def test_stream_to_parquet_sink_with_checkpoint(spark, smoke_sf_dir, tmp_path):
    """Streaming ingest -> rolled parquet files with exactly-once
    checkpointing — the streaming counterpart of the exporter sink."""
    events = ops.read_events_stream(spark, smoke_sf_dir)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        events.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(out)
    batch = load_table(spark, smoke_sf_dir, "events")
    assert written.count() == batch.count()
    # restart with same checkpoint: no new data -> no duplicates
    q2 = (
        ops.read_events_stream(spark, smoke_sf_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == batch.count()


def test_stream_interval_join_equals_batch(spark, smoke_sf_dir):
    ev_stream = ops.read_events_stream(spark, smoke_sf_dir)
    stream = ops.interval_join_purchases_views(
        ev_stream.where("event_type = 'purchase'"),
        ev_stream.where("event_type = 'view'"),
    )
    ops.run_to_memory(stream, "t_ssjoin", output_mode="append")
    got = spark.table("t_ssjoin")
    ev = load_table(spark, smoke_sf_dir, "events").drop("props")
    expect = ops.interval_join_purchases_views(
        ev.where("event_type = 'purchase'"), ev.where("event_type = 'view'")
    )
    assert _normalize(got) == _normalize(expect)


def test_foreach_batch_into_exporter_layout(spark, smoke_sf_dir, tmp_path):
    """Streaming ingest through foreachBatch into the reference's
    <schema>/<table>/ layout — the streaming->exporter integration:
    each micro-batch appends rolled parquet under the table directory."""
    out = str(tmp_path / "warehouse" / "main" / "events")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(batch_df, batch_id):
        (
            batch_df.write.mode("append")
            .option("compression", "zstd")
            .parquet(out)
        )

    q = (
        ops.read_events_stream(spark, smoke_sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(out)
    expect = load_table(spark, smoke_sf_dir, "events")
    assert written.count() == expect.count()
    assert set(written.columns) == set(expect.columns)


def test_stream_static_enrich_equals_batch(spark, smoke_sf_dir):
    from oracle_parquet_dumper_spark.plans.registry import REGISTRY

    cust = load_table(spark, smoke_sf_dir, "customer")
    stream = ops.enrich_with_dimension(
        ops.read_events_stream(spark, smoke_sf_dir), cust, cust.count()
    )
    ops.run_to_memory(stream, "t_enrich", output_mode="complete")
    got = {tuple(r) for r in spark.table("t_enrich").collect()}
    batch = {
        tuple(r)
        for r in REGISTRY["stream_static_enrich"].fn(spark, smoke_sf_dir).collect()
    }
    assert got == batch


def test_stream_ohlc_equals_batch(spark, smoke_sf_dir):
    stream = ops.ohlc_tumbling(ops.read_events_stream(spark, smoke_sf_dir))
    ops.run_to_memory(stream, "t_ohlc")
    got = spark.table("t_ohlc")
    expect = ops.ohlc_tumbling(load_table(spark, smoke_sf_dir, "events").drop("props"))
    assert _normalize(got) == _normalize(expect)


def test_ohlc_ordering_key_survives_huge_event_ids(spark):
    """The open/close ordering key must stay timestamp-major for ANY
    bigint event_id.  The old bigint key (offset_us * 1e9 + event_id)
    broke once event_id >= 1e9: here the EARLIER event carries id 2e9,
    so its old key (0*1e9 + 2e9) outranked the later event's
    (1*1e9 + 0) and arg_min picked the wrong open — and both engines
    computed the same wrong key, so the differential oracle could never
    see it.  The DECIMAL(32,0) key (offset_us * 10^19 + event_id) keeps
    the offset in strictly higher digits than any bigint id."""
    from pyspark.sql import functions as F

    rows = [
        # (event_id, ts, value): earlier event, huge id, value 1.0
        (2_000_000_000, "2024-01-01 10:00:00.000000", 1.0),
        # later event, tiny id, value 2.0
        (0, "2024-01-01 10:00:00.000001", 2.0),
        (1, "2024-01-01 10:00:00.000002", 3.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, value double").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.lit("trade").alias("event_type"),
        "value",
    )
    out = {r["event_type"]: r for r in ops.ohlc_tumbling(ev).collect()}
    assert out["trade"]["open_v"] == 1.0   # earliest ts wins, not smallest id
    assert out["trade"]["close_v"] == 3.0  # latest ts wins


def test_stream_anomaly_equals_batch(spark, smoke_sf_dir):
    """The applyInPandasWithState rolling z-score twin emits exactly the
    batch query's rows when data arrives in order (single batch)."""
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.streaming.stateful import rolling_anomalies

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = rolling_anomalies(events.drop("props"))
    ops.run_to_memory(stream, "t_anom", output_mode="update")
    got = {
        (r.user_id, r.event_id, r.n_win, r.z2_milli)
        for r in spark.table("t_anom").collect()
    }
    want = {
        (r.user_id, r.event_id, r.n_win, r.z2_milli)
        for r in REGISTRY["ts_anomaly_rolling_zscore"].fn(spark, smoke_sf_dir).collect()
    }
    assert got == want


def test_stream_anomaly_state_carries_across_batches(spark, tmp_path):
    """Split one user's in-order history across two micro-batches: the
    ring buffer must carry, so the stream over two batches equals the
    batch query over the union."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.streaming.stateful import rolling_anomalies

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    d0 = dt.datetime(2026, 1, 1)
    calm = [
        (i, d0 + dt.timedelta(minutes=i), 1, "view", 100.0 + (0.02 if i % 2 else -0.02), "{}")
        for i in range(14)
    ]
    # batch 2: finishes the warm-up (14..19) then spikes
    later = [
        (i, d0 + dt.timedelta(minutes=i), 1, "view", 100.0 + (0.02 if i % 2 else -0.02), "{}")
        for i in range(14, 20)
    ] + [(99, d0 + dt.timedelta(minutes=60), 1, "view", 400.0, "{}")]

    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(calm, schema).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(later, schema).coalesce(1).write.parquet(str(src / "b1"))
    # FileStreamSource orders by modification time: pin b0 strictly older
    now = 1_700_000_000
    for i, sub in enumerate(("b0", "b1")):
        for root, _, files in os.walk(src / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 1000, now + i * 1000))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    # watermarks need TIMESTAMP, not NTZ (session TZ is UTC → identity)
    out = rolling_anomalies(
        stream.drop("props").withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_anom2")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.event_id, r.n_win, r.z2_milli)
        for r in spark.table("t_anom2").collect()
    }
    # batch twin over the union of both files
    full = tmp_path / "full"
    spark.createDataFrame(calm + later, schema).write.parquet(str(full / "events.parquet"))
    want = {
        (r.user_id, r.event_id, r.n_win, r.z2_milli)
        for r in REGISTRY["ts_anomaly_rolling_zscore"].fn(spark, str(full)).collect()
    }
    assert want  # the spike must be flagged
    assert got == want


def test_stream_ewma_equals_batch(spark, smoke_sf_dir):
    """The applyInPandasWithState truncated-EWMA twin emits exactly the
    batch window query's doubles when data arrives in order (single
    batch) — same integer numerator/denominator, same one IEEE
    divide."""
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.streaming.stateful import ewma_stream

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = ewma_stream(events.drop("props"))
    ops.run_to_memory(stream, "t_ewma", output_mode="update")
    got = {
        (r.user_id, r.event_id, r.ewma_cents)
        for r in spark.table("t_ewma").collect()
    }
    want = {
        (r.user_id, r.event_id, r.ewma_cents)
        for r in REGISTRY["window_ewma_truncated"].fn(spark, smoke_sf_dir).collect()
    }
    assert got == want


def test_stream_holt_equals_batch(spark, smoke_sf_dir):
    """The applyInPandasWithState Holt twin runs the level/trend
    recurrence directly in Fractions; the batch query evaluates the
    unrolled 2^-14 coefficient CASE.  Bit-identical doubles from the
    two INDEPENDENT formulations cross-check the algebra end to end."""
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.streaming.stateful import holt_stream

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = holt_stream(events.drop("props"))
    ops.run_to_memory(stream, "t_holt", output_mode="update")
    got = {
        (r.user_id, r.event_id, r.holt_forecast_cents)
        for r in spark.table("t_holt").collect()
    }
    want = {
        (r.user_id, r.event_id, r.holt_forecast_cents)
        for r in REGISTRY["window_holt_linear_truncated"].fn(spark, smoke_sf_dir).collect()
    }
    assert got == want


def test_stream_markov_equals_batch(spark, smoke_sf_dir):
    """The applyInPandasWithState last-value kernel emits one (src, dst)
    row per per-user transition; aggregating them reproduces the batch
    lead()-window transition counts exactly — two independent pairings
    of the same sequences."""
    from collections import Counter

    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.streaming.stateful import markov_stream

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = markov_stream(events.drop("props"))
    ops.run_to_memory(stream, "t_markov", output_mode="append")
    got = Counter((r.src, r.dst) for r in spark.table("t_markov").collect())
    want = {
        (r.src, r.dst): r.n_pairs
        for r in REGISTRY["events_markov_transitions"].fn(spark, smoke_sf_dir).collect()
    }
    assert dict(got) == want


def test_stream_markov_state_carries_across_batches(spark, tmp_path):
    """Two single-row files for one user arriving in separate
    micro-batches must still produce the cross-batch transition — the
    last-value state is the only way the second batch can know the
    first's type."""
    import datetime

    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.streaming.stateful import markov_stream

    t0 = datetime.datetime(2024, 1, 1)
    d = tmp_path / "stream"
    base = spark.createDataFrame(
        [(1, t0, 7, "view", 1.0), (2, t0 + datetime.timedelta(seconds=5), 7, "purchase", 2.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    # one file per event -> maxFilesPerTrigger=1 yields two micro-batches
    for i in (1, 2):
        base.where(F.col("event_id") == i).coalesce(1).write.mode("append").parquet(str(d))
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema(base.schema)
        .parquet(str(d))
    )
    out = markov_stream(stream)
    ops.run_to_memory(out, "t_markov_carry", output_mode="append")
    rows = [(r.user_id, r.src, r.dst) for r in spark.table("t_markov_carry").collect()]
    assert rows == [(7, "view", "purchase")]


def test_stream_drift_monitor_equals_batch(spark, smoke_sf_dir):
    ref = ops.drift_reference(load_table(spark, smoke_sf_dir, "events"))
    stream = ops.drift_mean_shift(ops.read_events_stream(spark, smoke_sf_dir), ref)
    ops.run_to_memory(stream, "t_drift")
    got = spark.table("t_drift")
    expect = ops.drift_mean_shift(
        load_table(spark, smoke_sf_dir, "events").drop("props"), ref
    )
    assert _normalize(got) == _normalize(expect)


def test_stream_sprt_equals_batch(spark, smoke_sf_dir):
    """The stateful streaming SPRT monitor must emit BIT-IDENTICAL
    (arm, day) rows to the batch twin events_sprt_sequential — same
    cumulative counts, micro-nat LLR, and boundary decisions (the
    smoke fixture streams as one file = one in-order batch).  Also pins
    the kernel's re-declared constants to the operators module."""
    from oracle_parquet_dumper_spark.operators.events_analytics import (
        SPRT_B_MICRO,
        SPRT_A_MICRO,
        SPRT_L0,
        SPRT_L1,
        events_sprt_sequential,
    )
    from oracle_parquet_dumper_spark.streaming import stateful

    import inspect

    src = inspect.getsource(stateful.sprt_kernel)
    for const in (SPRT_L1, SPRT_L0, SPRT_A_MICRO, SPRT_B_MICRO):
        assert repr(const) in src, (
            f"kernel constant drifted from events_analytics: {const!r}"
        )

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = stateful.sprt_monitor(events)
    ops.run_to_memory(stream, "t_sprt", output_mode="update")
    got = sorted(tuple(r) for r in spark.table("t_sprt").collect())
    want = sorted(
        tuple(r) for r in events_sprt_sequential(spark, smoke_sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_cumulative_distinct_equals_batch(spark, smoke_sf_dir):
    """The stateful bitmap monitor must emit BIT-IDENTICAL
    (event_type, day, cum_users) rows to the batch twin
    stream_cumulative_distinct — exact distinct counts from 63-bit-word
    popcounts, no approximation (the smoke fixture streams as one file
    = one in-order batch)."""
    from oracle_parquet_dumper_spark.operators.streaming_batch import (
        stream_cumulative_distinct,
    )
    from oracle_parquet_dumper_spark.streaming import stateful

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = stateful.cumulative_distinct_monitor(events)
    ops.run_to_memory(stream, "t_cumd", output_mode="update")
    got = sorted(tuple(r) for r in spark.table("t_cumd").collect())
    want = sorted(
        tuple(r) for r in stream_cumulative_distinct(spark, smoke_sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_cumd_kernel_state_is_bitmap_words(spark, smoke_sf_dir):
    """The monitor's state contract: words/63 longs, batch-boundary
    safe — feeding the same day across TWO batches must not double
    count (set-bit idempotence)."""
    import pandas as pd

    from oracle_parquet_dumper_spark.streaming.stateful import cumd_kernel

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, t):
            self.exists, self.get = True, t

    st = FakeState()
    b1 = pd.DataFrame({"day": ["d1", "d1"], "user_id": [1, 64]})
    (out1,) = list(cumd_kernel(("view",), [b1], st))
    assert list(out1.cum_users) == [2]
    # user 1 again + one new user, same day, NEXT batch
    b2 = pd.DataFrame({"day": ["d1"] * 2, "user_id": [1, 2]})
    (out2,) = list(cumd_kernel(("view",), [b2], st))
    assert list(out2.cum_users) == [3], "re-seen user double-counted"
    idxs, words = st.get
    assert list(idxs) == [0, 1]  # users 1,2 -> word 0; user 64 -> word 1
    assert words[0] == (1 << 1) | (1 << 2) and words[1] == 1 << (64 % 63)


def test_stream_closed_sessions_equals_batch(spark, smoke_sf_dir):
    """The stateful per-user sessionizer must emit BIT-IDENTICAL
    closed-session rows to the batch twin stream_closed_sessions —
    both sides drop each user's trailing (unproven) session, the
    honest streaming contract."""
    from oracle_parquet_dumper_spark.operators.streaming_batch import (
        stream_closed_sessions,
    )
    from oracle_parquet_dumper_spark.streaming import stateful

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = stateful.closed_sessions_monitor(events)
    ops.run_to_memory(stream, "t_csess", output_mode="update")
    got = _normalize(spark.table("t_csess"))
    want = _normalize(stream_closed_sessions(spark, smoke_sf_dir))
    assert got == want and len(got) > 0


def test_closed_sessions_kernel_batch_boundary(spark):
    """State contract: a session spanning TWO micro-batches must close
    exactly once, when the gap-proving event arrives in the second
    batch — no double emit, no lost events."""
    import datetime as dt

    import pandas as pd

    from oracle_parquet_dumper_spark.streaming.stateful import (
        CSESS_OUT,
        closed_sessions_kernel,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, v):
            self.exists = True
            self.get = v

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    st = FakeState()
    # batch 1: two events 5 min apart — session stays OPEN in state
    b1 = pd.DataFrame(
        {"ts": [t0, t0 + dt.timedelta(minutes=5)], "event_id": [1, 2]}
    )
    out1 = pd.concat(list(closed_sessions_kernel((7,), iter([b1]), st)))
    assert len(out1) == 0 and st.exists and st.get[2] == 2
    # batch 2: one event 40 min later — closes the first session
    b2 = pd.DataFrame({"ts": [t0 + dt.timedelta(minutes=45)], "event_id": [3]})
    out2 = pd.concat(list(closed_sessions_kernel((7,), iter([b2]), st)))
    assert list(out2.columns) == [c.name for c in CSESS_OUT.fields]
    assert len(out2) == 1
    r = out2.iloc[0]
    assert (r.user_id, r.n_events, r.duration_s) == (7, 2, 300)
    assert r.session_start == "2024-03-01 10:00:00"
    assert st.get == (None, None, None) or st.get[2] == 1  # new open session


def test_stream_growth_class_equals_batch(spark, smoke_sf_dir):
    """The stateful growth classifier must emit BIT-IDENTICAL
    (user_id, day, class) rows to the batch twin
    stream_user_day_class."""
    from oracle_parquet_dumper_spark.operators.streaming_batch import (
        stream_user_day_class,
    )
    from oracle_parquet_dumper_spark.streaming import stateful

    events = ops.read_events_stream(spark, smoke_sf_dir)
    stream = stateful.growth_class_monitor(events)
    ops.run_to_memory(stream, "t_growth", output_mode="update")
    got = _normalize(spark.table("t_growth"))
    want = _normalize(stream_user_day_class(spark, smoke_sf_dir))
    assert got == want and len(got) > 0


def test_growth_class_kernel_batch_boundary():
    """State contract: a user's day in batch 2 classifies against the
    last day carried in state from batch 1; a redelivered same day
    emits nothing."""
    import pandas as pd

    from oracle_parquet_dumper_spark.streaming.stateful import growth_class_kernel

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, v):
            self.exists = True
            self.get = v

    st = FakeState()
    b1 = pd.DataFrame({"day": ["2024-03-01"]})
    out1 = pd.concat(list(growth_class_kernel((5,), iter([b1]), st)))
    assert list(out1.user_class) == ["new"] and st.get == ("2024-03-01",)
    # redelivery of the same day: nothing new
    out1b = pd.concat(list(growth_class_kernel((5,), iter([b1]), st)))
    assert len(out1b) == 0
    b2 = pd.DataFrame({"day": ["2024-03-05", "2024-03-20"]})
    out2 = pd.concat(list(growth_class_kernel((5,), iter([b2]), st)))
    assert list(out2.user_class) == ["returning", "resurrected"]
    assert st.get == ("2024-03-20",)
