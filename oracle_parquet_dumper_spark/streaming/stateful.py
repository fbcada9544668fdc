"""Custom stateful streaming operators (applyInPandasWithState).

The GroupState-backed shape for operators Structured Streaming lacks
natively: per-key running aggregates, custom session logic, CDC-style
last-value stores.  State is partitioned by group key across executors
and checkpointed; memory is O(keys), not O(events).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from oracle_parquet_dumper_spark.functions.rounding import cents_py
from oracle_parquet_dumper_spark.streaming.ops import WATERMARK

# Ship the stateful kernels by value (see operators/multimodal.py): the
# Python workers must not need this package on their import path.
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

RUNNING_TOTAL_STATE = T.StructType([T.StructField("total", T.DoubleType())])
RUNNING_TOTAL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("running_total", T.DoubleType()),
        T.StructField("n_batches", T.IntegerType()),
    ]
)


def running_total_kernel(key, pdfs, state):
    """Per-user running total of ``value`` across micro-batches; emits
    the updated total once per batch in which the key appears."""
    total = state.get[0] if state.exists else 0.0
    n = 0
    for pdf in pdfs:
        total += float(pdf["value"].sum())
        n += 1
    state.update((total,))
    yield pd.DataFrame(
        {"user_id": [key[0]], "running_total": [round(total, 2)], "n_batches": [n]}
    )


def running_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running value totals via applyInPandasWithState."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            running_total_kernel,
            outputStructType=RUNNING_TOTAL_OUT,
            stateStructType=RUNNING_TOTAL_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


# --- streaming rolling z-score anomaly screen ------------------------------
# Streaming twin of operators/events_analytics.ts_anomaly_rolling_zscore:
# same constants, same all-integer 3-sigma cross-multiplication; state is
# the per-user ring buffer of the last ZSCORE_WIN cent values (O(1) per
# key).  With in-order arrival (or any single batch, which the kernel
# sorts) the emitted rows are BIT-IDENTICAL to the batch query — asserted
# by tests/test_streaming.py::test_stream_anomaly_equals_batch.

ANOMALY_WIN = 20  # = events_analytics.ZSCORE_WIN
ANOMALY_MIN_N = 12  # = events_analytics.ZSCORE_MIN_N

ANOMALY_STATE = T.StructType([T.StructField("ring", T.ArrayType(T.LongType()))])
ANOMALY_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_win", T.LongType()),
        T.StructField("z2_milli", T.LongType()),
    ]
)


def rolling_anomaly_kernel(key, pdfs, state):
    """Per-user trailing-{ANOMALY_WIN} z-score screen across
    micro-batches; rows within a batch are processed in (ts, event_id)
    order, matching the batch window's ordering."""
    import pandas as pd

    ring = list(state.get[0]) if state.exists else []
    out = {k: [] for k in ("user_id", "event_id", "value", "n_win", "z2_milli")}
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    for row in pdf.itertuples():
        v = cents_py(row.value)
        # invariant: ring is trimmed to the last ANOMALY_WIN entries at
        # the end of every iteration (and state restores already-trimmed
        # rings), so the whole ring IS the trailing window.
        win = ring
        n = len(win)
        if n >= ANOMALY_MIN_N:
            s = sum(win)
            ssq = sum(x * x for x in win)
            dev2 = (n * v - s) * (n * v - s)
            varn = n * (n * ssq - s * s)
            if (n - 1) * dev2 > 9 * varn:
                out["user_id"].append(key[0])
                out["event_id"].append(row.event_id)
                out["value"].append(row.value)
                out["n_win"].append(n)
                out["z2_milli"].append(
                    (1000 * (n - 1) * dev2) // varn if varn else None
                )
        ring.append(v)
        ring = ring[-ANOMALY_WIN:]
    state.update((ring,))
    yield pd.DataFrame(out)


def rolling_anomalies(events: DataFrame) -> DataFrame:
    """Streaming per-user rolling z-score anomalies via
    applyInPandasWithState (ring-buffer state, update mode)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            rolling_anomaly_kernel,
            outputStructType=ANOMALY_OUT,
            stateStructType=ANOMALY_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


# --- streaming truncated EWMA ----------------------------------------------
# Streaming twin of operators/windows.window_ewma_truncated: alpha=1/2
# EWMA truncated at EWMA_K terms, integer-scaled by 2^(EWMA_K-1) so
# numerator/denominator are exact BIGINTs and the emitted double is one
# IEEE divide — bit-identical to the batch window query (asserted by
# tests/test_streaming.py::test_stream_ewma_equals_batch).  State is the
# per-user ring of the last EWMA_K-1 cent values, O(1) per key.

EWMA_K = 8  # = windows.EWMA_K

EWMA_STATE = T.StructType([T.StructField("ring", T.ArrayType(T.LongType()))])
EWMA_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ewma_cents", T.DoubleType()),
    ]
)


def ewma_kernel(key, pdfs, state):
    """Per-user trailing-{EWMA_K} dyadic EWMA across micro-batches; rows
    within a batch process in (ts, event_id) order, matching the batch
    window's ordering."""
    ring = list(state.get[0]) if state.exists else []  # oldest .. newest
    out = {k: [] for k in ("user_id", "event_id", "ewma_cents")}
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    top = 1 << (EWMA_K - 1)
    for row in pdf.itertuples():
        c = cents_py(row.value)
        num, den = c * top, top
        for k, prev in enumerate(reversed(ring[-(EWMA_K - 1):]), start=1):
            w = 1 << (EWMA_K - 1 - k)
            num += prev * w
            den += w
        out["user_id"].append(key[0])
        out["event_id"].append(row.event_id)
        out["ewma_cents"].append(num / den)
        ring.append(c)
        ring = ring[-(EWMA_K - 1):]
    state.update((ring,))
    yield pd.DataFrame(out)


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user truncated EWMA via applyInPandasWithState."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            ewma_kernel,
            outputStructType=EWMA_OUT,
            stateStructType=EWMA_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


# --- streaming truncated Holt linear forecast ------------------------------
# Streaming twin of operators/windows.window_holt_linear_truncated: the
# level+trend recurrence with dyadic alpha=beta=1/2 over the trailing
# EWMA_K values.  The kernel runs the recurrence DIRECTLY in exact
# Fractions (the batch side runs the unrolled 2^-14 coefficient form;
# tests assert both agree bit-for-bit — a genuine two-implementation
# cross-check of the same math).  State: per-user ring of the last
# EWMA_K-1 cent values, O(1) per key.

HOLT_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("holt_forecast_cents", T.DoubleType()),
    ]
)


def holt_kernel(key, pdfs, state):
    """Per-user trailing-{EWMA_K} Holt one-step forecast across
    micro-batches; rows within a batch process in (ts, event_id) order,
    matching the batch window's ordering.  The emitted double is exact:
    the forecast is a dyadic rational with denominator <= 2^14, and
    float(Fraction) rounds correctly (here: exactly)."""
    from fractions import Fraction

    ring = list(state.get[0]) if state.exists else []  # oldest .. newest
    out = {k: [] for k in ("user_id", "event_id", "holt_forecast_cents")}
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    for row in pdf.itertuples():
        c = cents_py(row.value)
        window = (ring + [c])[-EWMA_K:]
        lvl, trd = Fraction(window[0]), Fraction(0)
        for y in window[1:]:
            nl = Fraction(y + lvl + trd, 2)
            trd = (nl - lvl) / 2 + trd / 2
            lvl = nl
        out["user_id"].append(key[0])
        out["event_id"].append(row.event_id)
        out["holt_forecast_cents"].append(float(lvl + trd))
        ring.append(c)
        ring = ring[-(EWMA_K - 1) :]
    state.update((ring,))
    yield pd.DataFrame(out)


def holt_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user truncated Holt forecast via
    applyInPandasWithState (ring-buffer state, update mode)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            holt_kernel,
            outputStructType=HOLT_OUT,
            stateStructType=EWMA_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


# --- streaming Markov transition extraction --------------------------------
# Streaming twin of operators/events_analytics.events_markov_transitions'
# pair-extraction stage: per-user last-event state (a CDC-style
# last-value store) emits one (src, dst) row per transition, across
# micro-batch boundaries.  The batch side derives the same pairs from a
# lead() window / the global-index self-join; the equivalence test
# aggregates the stream's pairs and compares counts — two independent
# formulations of the same sequence pairing.  State: one (type) tuple
# per user, O(1) per key.

MARKOV_STATE = T.StructType([T.StructField("last_type", T.StringType())])
MARKOV_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
    ]
)


def markov_kernel(key, pdfs, state):
    """Per-user transition pairs across micro-batches; rows within a
    batch process in (ts, event_id) order, matching the batch lead()
    window's ordering."""
    last = state.get[0] if state.exists else None
    out = {k: [] for k in ("user_id", "src", "dst")}
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    for row in pdf.itertuples():
        if last is not None:
            out["user_id"].append(key[0])
            out["src"].append(last)
            out["dst"].append(row.event_type)
        last = row.event_type
    state.update((last,))
    yield pd.DataFrame(out)


def markov_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user transition extraction via
    applyInPandasWithState (last-value state, append mode)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            markov_kernel,
            outputStructType=MARKOV_OUT,
            stateStructType=MARKOV_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


# --- streaming SPRT sequential A/B monitor ----------------------------------
# Streaming twin of operators/events_analytics.events_sprt_sequential:
# same Python-literal LLR increments and integer thresholds; state per
# arm is the (n_cum, k_cum) cumulant pair plus the last processed day —
# O(1) per key, the textbook sequential-test state.  With in-order
# arrival (or any single batch, which the kernel sorts by day) the
# emitted (arm, day) rows are BIT-IDENTICAL to the batch query —
# asserted by tests/test_streaming.py::test_stream_sprt_equals_batch.

SPRT_STATE = T.StructType(
    [
        T.StructField("n_cum", T.LongType()),
        T.StructField("k_cum", T.LongType()),
        T.StructField("last_day", T.StringType()),
    ]
)
SPRT_OUT = T.StructType(
    [
        T.StructField("arm", T.LongType()),
        T.StructField("day", T.StringType()),
        T.StructField("n_cum", T.LongType()),
        T.StructField("k_cum", T.LongType()),
        T.StructField("llr_micro", T.LongType()),
        T.StructField("decision", T.StringType()),
    ]
)


def sprt_kernel(key, pdfs, state):
    """Fold each arm's (day, trials, successes) into the cumulative
    Wald LLR, one emitted row per day.  Constants are re-declared here
    (ship-by-value: workers must not import the operators package) and
    equality with the batch module is pinned in the test."""
    import math

    L1 = 0.4054651081081642  # ln(1.5)  — events_analytics.SPRT_L1
    L0 = -0.4054651081081643  # ln(2/3) — events_analytics.SPRT_L0
    A_MICRO, B_MICRO = 2772589, -1558145

    n_cum, k_cum, last_day = (
        (state.get[0], state.get[1], state.get[2]) if state.exists else (0, 0, "")
    )
    days: dict[str, tuple[int, int]] = {}
    for pdf in pdfs:
        for d, k in zip(pdf["day"], pdf["k"]):
            n, s = days.get(d, (0, 0))
            days[d] = (n + 1, s + int(k))
    out = {c.name: [] for c in SPRT_OUT.fields}
    for d in sorted(days):  # in-order fold within the batch
        n, s = days[d]
        n_cum += n
        k_cum += s
        # HALF-AWAY-FROM-ZERO to the micro-nat, matching the batch
        # twin's F.round (BigDecimal HALF_UP) and DuckDB's round();
        # Python's round() is banker's (half-to-even) and would
        # diverge on an exact .5 tie (ADVICE r9)
        x = (k_cum * L1 + (n_cum - k_cum) * L0) * 1e6
        llr = math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
        out["arm"].append(key[0])
        out["day"].append(d)
        out["n_cum"].append(n_cum)
        out["k_cum"].append(k_cum)
        out["llr_micro"].append(llr)
        out["decision"].append(
            "reject_h0" if llr >= A_MICRO else ("accept_h0" if llr <= B_MICRO else "continue")
        )
        last_day = max(last_day, d)
    state.update((n_cum, k_cum, last_day))
    yield pd.DataFrame(out)


def sprt_monitor(events: DataFrame) -> DataFrame:
    """Streaming Wald SPRT monitor: per arm (user_id % 2), cumulative
    trials/successes over view+purchase events and the boundary decision
    per day — the always-valid experiment monitor as a stateful stream
    (state = two longs per arm)."""
    from pyspark.sql import functions as F

    trials = (
        events.withWatermark("ts", WATERMARK)
        .where(F.col("event_type").isin("view", "purchase"))
        .select(
            (F.col("user_id") % 2).alias("arm"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("k"),
            F.col("ts"),
        )
    )
    return trials.groupBy("arm").applyInPandasWithState(
        sprt_kernel,
        outputStructType=SPRT_OUT,
        stateStructType=SPRT_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --- streaming cumulative-distinct monitor (bitmap state) -------------------

CUMD_STATE = T.StructType(
    [
        T.StructField("idxs", T.ArrayType(T.LongType())),
        T.StructField("words", T.ArrayType(T.LongType())),
    ]
)
CUMD_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("day", T.StringType()),
        T.StructField("cum_users", T.LongType()),
    ]
)


def cumd_kernel(key, pdfs, state):
    """Fold each event type's (day, user_id) rows into a 63-bit-word
    bitmap of users ever seen, emitting one row per day with the EXACT
    cumulative distinct user count — the streaming twin of
    agg_bitmap_distinct's mergeable-bitmap technique: state is
    <= keyspace/63 words regardless of event volume, and popcount over
    the words is the count (no approximation, unlike an HLL monitor).
    63-bit words match the batch/oracle convention (1 << 63 overflows
    DuckDB's BIGINT)."""
    words: dict[int, int] = (
        dict(zip(state.get[0], state.get[1])) if state.exists else {}
    )
    days: dict[str, list] = {}
    for pdf in pdfs:
        for d, u in zip(pdf["day"], pdf["user_id"]):
            days.setdefault(d, []).append(int(u))
    out = {c.name: [] for c in CUMD_OUT.fields}
    for d in sorted(days):  # in-order fold within the batch
        for u in days[d]:
            words[u // 63] = words.get(u // 63, 0) | (1 << (u % 63))
        out["event_type"].append(key[0])
        out["day"].append(d)
        out["cum_users"].append(sum(bin(w).count("1") for w in words.values()))
    idxs = sorted(words)
    state.update((idxs, [words[i] for i in idxs]))
    yield pd.DataFrame(out)


def cumulative_distinct_monitor(events: DataFrame) -> DataFrame:
    """Per event type, the running number of DISTINCT users ever seen,
    one row per day — the audience-growth monitor as a stateful stream
    whose state is a bitmap, not a user set (state size = users/63
    longs; a set-valued state would be data-sized and an approximate
    HLL would not be bit-checkable against the batch twin)."""
    from pyspark.sql import functions as F

    rows = events.withWatermark("ts", WATERMARK).select(
        F.col("event_type"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.col("user_id"),
        F.col("ts"),
    )
    return rows.groupBy("event_type").applyInPandasWithState(
        cumd_kernel,
        outputStructType=CUMD_OUT,
        stateStructType=CUMD_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --- closed-session emitter (streaming sessionization, r11) -----------------

SESS_GAP_US = 30 * 60 * 1_000_000  # the events_bounce_rate_sessions gap

CSESS_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
CSESS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("duration_s", T.LongType()),
    ]
)


def _us_to_str(us: int) -> str:
    import datetime as dt

    return dt.datetime.utcfromtimestamp(us / 1_000_000).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def closed_sessions_kernel(key, pdfs, state):
    """Per-user sessionizer emitting CLOSED sessions only: a session is
    proven over when a later event arrives more than {SESS_GAP_US} us
    after its last event — until then it lives in state (3 longs per
    user, bounded regardless of volume).  This is the honest streaming
    contract: the trailing session of a user is NOT emitted, because
    the stream cannot know it ended (the batch twin
    stream_closed_sessions drops each user's last session for exactly
    this reason, making the two BIT-IDENTICAL).  In-batch rows fold in
    (ts, event_id) order — the batch twin's window order."""
    cur = (
        [state.get[0], state.get[1], state.get[2]] if state.exists else None
    )
    rows = []
    for pdf in pdfs:
        for ts, eid in zip(pdf["ts"], pdf["event_id"]):
            rows.append((int(pd.Timestamp(ts).value) // 1000, int(eid)))
    rows.sort()
    out = {c.name: [] for c in CSESS_OUT.fields}
    for us, _eid in rows:
        if cur is None:
            cur = [us, us, 1]
        elif us - cur[1] > SESS_GAP_US:
            out["user_id"].append(int(key[0]))
            out["session_start"].append(_us_to_str(cur[0]))
            out["n_events"].append(cur[2])
            out["duration_s"].append((cur[1] - cur[0]) // 1_000_000)
            cur = [us, us, 1]
        else:
            cur[1] = us
            cur[2] += 1
    state.update((cur[0], cur[1], cur[2]))
    yield pd.DataFrame(out)


def closed_sessions_monitor(events: DataFrame) -> DataFrame:
    """Streaming sessionization with closed-session semantics — the
    stateful twin of stream_closed_sessions (operators/
    streaming_batch.py): per-user state is (start, last, count), three
    longs; sessions are emitted the moment a gap proves them over."""
    from pyspark.sql import functions as F

    rows = events.withWatermark("ts", WATERMARK).select(
        F.col("user_id"), F.col("ts"), F.col("event_id")
    )
    return rows.groupBy("user_id").applyInPandasWithState(
        closed_sessions_kernel,
        outputStructType=CSESS_OUT,
        stateStructType=CSESS_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --- growth-accounting classifier (new/returning/resurrected, r11) ----------

GROWTH_GAP_DAYS = 7  # events_growth_accounting's resurrection gap

GROWTH_STATE = T.StructType([T.StructField("last_day", T.StringType())])
GROWTH_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("day", T.StringType()),
        T.StructField("user_class", T.StringType()),
    ]
)


def growth_class_kernel(key, pdfs, state):
    """Per-user growth-accounting classifier: each NEW active day is
    labeled new (never seen), returning (last active <=
    {GROWTH_GAP_DAYS} days ago) or resurrected (longer gap) — ONE
    date string of state per user, folded in day order within the
    batch.  The realtime feed under the events_growth_accounting
    dashboard: day-level rollups are that batch query; this emits the
    per-user classification stream the moment the user shows up."""
    import datetime as dt

    last = state.get[0] if state.exists else None
    days = set()
    for pdf in pdfs:
        days.update(pdf["day"])
    out = {c.name: [] for c in GROWTH_OUT.fields}
    for d in sorted(days):
        if last is None:
            cls = "new"
        elif d == last:
            continue  # same-day re-delivery: already classified
        else:
            gap = (
                dt.date.fromisoformat(d) - dt.date.fromisoformat(last)
            ).days
            cls = "returning" if gap <= GROWTH_GAP_DAYS else "resurrected"
        out["user_id"].append(int(key[0]))
        out["day"].append(d)
        out["user_class"].append(cls)
        last = d
    state.update((last,))
    yield pd.DataFrame(out)


def growth_class_monitor(events: DataFrame) -> DataFrame:
    """Streaming twin of stream_user_day_class (operators/
    streaming_batch.py): per-user state is ONE date string; emitted
    rows are bit-identical to the batch classification."""
    from pyspark.sql import functions as F

    rows = events.withWatermark("ts", WATERMARK).select(
        F.col("user_id"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.col("ts"),
    )
    return rows.groupBy("user_id").applyInPandasWithState(
        growth_class_kernel,
        outputStructType=GROWTH_OUT,
        stateStructType=GROWTH_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --- exact heavy-hitters monitor (r12) --------------------------------------

HH_TOP = 3

HH_STATE = T.StructType(
    [
        T.StructField("types", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)
HH_OUT = T.StructType(
    [
        T.StructField("window_start", T.StringType()),
        T.StructField("rank", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def heavy_hitters_kernel(key, pdfs, state):
    """Fold the window's rows into per-type counts held as state (the
    event-type domain is bounded ~12, so state is O(domain) per window
    — EXACT counting, not a Misra–Gries sketch, which keeps the twin
    bit-checkable) and emit the current top-{HH_TOP} with (count DESC,
    type) ranking.  Re-emitted with corrected ranks every time a batch
    touches the window — update-mode semantics whose upsert key is
    (window_start, rank), NOT (window_start, event_type): a type that
    falls out of the top-{HH_TOP} is superseded at its old rank by the
    type that displaced it, never retracted by type (ADVICE r12;
    pinned by the FakeState supersession test in
    tests/test_round12_ops.py)."""
    counts: dict[str, int] = (
        dict(zip(state.get[0], state.get[1])) if state.exists else {}
    )
    for pdf in pdfs:
        for t in pdf["event_type"]:
            counts[t] = counts.get(t, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:HH_TOP]
    out = {c.name: [] for c in HH_OUT.fields}
    for i, (t, n) in enumerate(top, start=1):
        out["window_start"].append(key[0])
        out["rank"].append(i)
        out["event_type"].append(t)
        out["n"].append(n)
    types = sorted(counts)
    state.update((types, [counts[t] for t in types]))
    yield pd.DataFrame(out)


def heavy_hitters_monitor(events: DataFrame) -> DataFrame:
    """Per tumbling 6h window, the exact top-{HH_TOP} event types by
    count as a stateful stream — the heavy-hitters dashboard.  Keyed by
    window start; state per key is the bounded type-count table."""
    from pyspark.sql import functions as F

    rows = events.withWatermark("ts", WATERMARK).select(
        F.date_format(
            F.window("ts", "6 hours").start, "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        "event_type",
        "ts",
    )
    return rows.groupBy("window_start").applyInPandasWithState(
        heavy_hitters_kernel,
        outputStructType=HH_OUT,
        stateStructType=HH_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
