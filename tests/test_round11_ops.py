"""Round-11 structural fixes: the checkpoint-fragment plan lint
(VERDICT r10 #1), the de-hinted graph family (#2/#3), the plan-level
banded-join detector (#5), and the BFS bucketed-state twin (#8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- capture_checkpoints: the localCheckpoint blind spot ------------------


def test_checkpoint_fragment_capture_sees_hidden_hint(spark):
    """The motivating r10 bug, planted: a forced broadcast of an
    unbounded relation hidden behind a localCheckpoint.  The final
    optimized plan (all the old audit read) must stay blind — that IS
    the blind spot — while the captured pre-checkpoint fragment trips
    the boundedness rule."""
    from oracle_parquet_dumper_spark.plans.audit import (
        _unbounded_broadcast_builds,
        capture_checkpoints,
    )

    big = spark.createDataFrame([(i, i % 3) for i in range(50)], "k long, v long")
    probe = spark.createDataFrame([(1, 10)], "k long, w long")
    with capture_checkpoints() as frags:
        chk = probe.join(F.broadcast(big), "k").localCheckpoint(eager=False)
    assert len(frags) == 1

    hidden_h, hidden_bad = _unbounded_broadcast_builds(frags[0])
    assert hidden_h == 1 and hidden_bad  # the fragment sees the hint

    final = chk.select("k")._jdf.queryExecution().optimizedPlan().toString()
    final_h, final_bad = _unbounded_broadcast_builds(final)
    assert final_h == 0 and not final_bad  # the final plan alone is blind


def test_checkpoint_fragment_capture_restores_method(spark):
    """The patch is strictly context-scoped: after the with-block the
    concrete DataFrame class has its original methods back, and a
    checkpoint outside the block captures nothing."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from oracle_parquet_dumper_spark.plans.audit import capture_checkpoints

    before = ClassicDF.localCheckpoint
    with capture_checkpoints() as frags:
        assert ClassicDF.localCheckpoint is not before
    assert ClassicDF.localCheckpoint is before
    spark.range(3).localCheckpoint(eager=False)
    assert frags == []


def test_audit_query_lints_fragments_end_to_end(spark, smoke_sf_dir):
    """audit_query with df=None must run the capture: the iterative
    graph queries (checkpoint per round) report fragments > 0 and stay
    clean, and the one scoped bounded-domain entry (the checkpointed
    1-row nn fold) keeps graph_pagerank_bucketed green."""
    from oracle_parquet_dumper_spark.plans.audit import audit_query

    a = audit_query(spark, smoke_sf_dir, "graph_pagerank")
    assert a.checkpoint_fragments >= 5 and not a.warnings
    b = audit_query(spark, smoke_sf_dir, "graph_pagerank_bucketed")
    assert b.checkpoint_fragments >= 5 and not b.warnings


# --- the de-hinted graph family (VERDICT r10 #2/#3) -----------------------


def test_graph_family_has_no_forced_node_sized_broadcast():
    """No unconditional F.broadcast of an O(#nodes) relation anywhere in
    graph.py: the only F.broadcast occurrences are of the 1-row node
    count fold (the allow-pattern by name, n1) — source-level pin so a
    reintroduced hint fails even if hidden behind a checkpoint."""
    import re

    import oracle_parquet_dumper_spark.operators.graph as g

    src = open(g.__file__).read()
    for m in re.finditer(r"F\.broadcast\(([^)]*)", src):
        assert m.group(1).startswith("n1"), (
            "forced broadcast of a non-1-row relation in graph.py: "
            f"F.broadcast({m.group(1)!r}) — node-sized relations must "
            "join unhinted (AQE size-gates at runtime); VERDICT r10 #2/#3"
        )


def test_triangle_count_planted(spark, tmp_path):
    """4-clique on parts {1,2,3,4} (one 4-part order) plus a dangling
    edge 4-5: each clique node closes C(3,2)=3 triangles, node 5 none.
    Pins the window-degree orientation rewrite's semantics."""
    rows = []
    for p in (1, 2, 3, 4):
        rows.append((100, p, 1))
    rows += [(101, 4, 1), (101, 5, 2)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber int"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    from oracle_parquet_dumper_spark.operators.graph import graph_triangle_count

    got = sorted(
        (r.node, r.n_triangles)
        for r in graph_triangle_count(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 3), (2, 3), (3, 3), (4, 3)]


def test_bfs_bucketed_twin_matches_checkpointed(spark, smoke_sf_dir):
    """graph_bfs_reachability_bucketed (shared pagerank_edge_state
    bucketed scan) returns the exact row set of the checkpointed base
    form — the VERDICT r10 #8 equality pin."""
    from oracle_parquet_dumper_spark.operators.graph import (
        graph_bfs_reachability,
        graph_bfs_reachability_bucketed,
    )

    base = sorted(
        (r.node, r.depth)
        for r in graph_bfs_reachability(spark, smoke_sf_dir).collect()
    )
    bucketed = sorted(
        (r.node, r.depth)
        for r in graph_bfs_reachability_bucketed(spark, smoke_sf_dir).collect()
    )
    assert base and base == bucketed


# --- plan-level banded-join detector (VERDICT r10 #5) ---------------------


def test_banded_join_detector_plan_level(spark):
    """A (band, bucket) equi-join is detected in the optimized logical
    plan regardless of registry tags; the lint fires for an untagged
    query and stays quiet for an lsh-tagged one or a written waiver."""
    from oracle_parquet_dumper_spark.plans.audit import (
        BANDED_JOIN_WAIVERS,
        PlanAudit,
        _banded_join_count,
        lint,
    )

    d = spark.createDataFrame(
        [(1, 0, "01"), (2, 0, "01"), (3, 1, "10")], "id long, band long, bucket string"
    )
    j = d.alias("a").join(
        d.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    )
    logical = j._jdf.queryExecution().optimizedPlan().toString()
    n = _banded_join_count(logical)
    assert n >= 1

    a = PlanAudit(name="synthetic_untagged_banded")
    a.banded_joins = n
    assert any("band_bits" in w for w in lint(a, ()))  # untagged -> fires

    a2 = PlanAudit(name="synthetic_tagged_banded")
    a2.banded_joins = n
    assert not lint(a2, ("lsh",))  # tagged -> the registry rule owns it

    BANDED_JOIN_WAIVERS["synthetic_waived_banded"] = "test waiver"
    try:
        a3 = PlanAudit(name="synthetic_waived_banded")
        a3.banded_joins = n
        assert not lint(a3, ())
    finally:
        del BANDED_JOIN_WAIVERS["synthetic_waived_banded"]


def test_plain_join_is_not_banded(spark):
    """A join keyed on ordinary columns must not trip the detector —
    the signature requires BOTH band and bucket equalities."""
    from oracle_parquet_dumper_spark.plans.audit import _banded_join_count

    d = spark.createDataFrame([(1, 0)], "id long, band long")
    j = d.alias("a").join(d.alias("b"), "band")
    logical = j._jdf.queryExecution().optimizedPlan().toString()
    assert _banded_join_count(logical) == 0


# --- retry tier: no_oracle is seen, not errored (ADVICE r10) --------------


def test_retry_tier_treats_no_oracle_as_seen(tmp_path, monkeypatch):
    """The adjudicated rows-only queries (err='no_oracle' by design)
    must land in the SEEN tier, not squat the errored-first retry
    slots; a real crash record still sorts first."""
    import json
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    art = {
        "agg_approx": {"err": "no_oracle", "rows": 3},
        "crashed_q": {"err": "OutOfMemoryError", "rows": None},
        "green_q": {"err": None, "rows": 10},
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(art))
    monkeypatch.setattr(
        entry.os.path, "dirname", lambda p: str(tmp_path)
    )
    n_valid, seen, errored = entry._sampled_before()
    assert n_valid == 1
    assert "agg_approx" in seen and "green_q" in seen
    assert errored == frozenset({"crashed_q"})


# --- round-11 operator planted tests --------------------------------------

import datetime as _dt

import pyspark.sql.types as T


def _write(spark, tmp_path, table, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / f"{table}.parquet")
    )


def test_ratio_metric_delta_method_planted(spark, tmp_path):
    """Two users per arm with hand-computable per-user (Y, N) moments;
    the ratio and the delta-method SE must match the closed form."""
    t0 = _dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # arm 0: users 0 (Y=300c,N=2), 2 (Y=100c,N=1); arm 1: users 1, 3
    plan = {0: (3.0, 2), 2: (1.0, 1), 1: (2.0, 2), 3: (2.0, 2)}
    for uid, (pv, nv) in plan.items():
        rows.append((eid, t0, uid, "purchase", pv, "{}")); eid += 1
        for _ in range(nv):
            rows.append((eid, t0, uid, "view", 0.5, "{}")); eid += 1
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    from oracle_parquet_dumper_spark.operators.events_analytics import (
        events_ratio_metric_delta_method,
    )

    got = {r.arm: r for r in events_ratio_metric_delta_method(spark, str(tmp_path)).collect()}
    import math

    for arm, users in ((0, [(300, 2), (100, 1)]), (1, [(200, 2), (200, 2)])):
        n = len(users)
        sy, sn = sum(y for y, _ in users), sum(v for _, v in users)
        r = sy / sn
        nbar = sn / n
        vy = (n * sum(y * y for y, _ in users) - sy * sy) / (n * n * (n - 1))
        vn = (n * sum(v * v for _, v in users) - sn * sn) / (n * n * (n - 1))
        vyn = (n * sum(y * v for y, v in users) - sy * sn) / (n * n * (n - 1))
        se = math.sqrt((vy - 2 * r * vyn + r * r * vn) / (n * nbar * nbar))
        assert got[arm].n_users == n
        assert abs(got[arm].ratio_cents_per_view - r) < 1e-12
        assert abs(got[arm].se_delta - se) < 1e-12


def test_bounce_rate_sessions_planted(spark, tmp_path):
    """User 1: two events 5 min apart = ONE 2-event session (no
    bounce); user 2: one event = bounce; user 3: two events 40 min
    apart = two bounces.  All on one day: 4 sessions, 3 bounces."""
    t0 = _dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (1, t0, 1, "view", 0.0, "{}"),
        (2, t0 + _dt.timedelta(minutes=5), 1, "click", 0.0, "{}"),
        (3, t0, 2, "view", 0.0, "{}"),
        (4, t0, 3, "view", 0.0, "{}"),
        (5, t0 + _dt.timedelta(minutes=40), 3, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    from oracle_parquet_dumper_spark.operators.events_analytics import (
        events_bounce_rate_sessions,
    )

    [r] = events_bounce_rate_sessions(spark, str(tmp_path)).collect()
    assert (r.day, r.n_sessions, r.n_bounces, r.bounce_ppm) == ("2024-03-01", 4, 3, 750000)


def test_out_of_order_lag_planted(spark, tmp_path):
    """Arrival (event_id) order 1,2,3 with ts 10:00, 9:58, 10:01: the
    second event is 120 s behind the high-water mark; the third is in
    order."""
    t = lambda m: _dt.datetime(2024, 3, 1, 10, 0, 0) + _dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        (1, t(0), 7, "view", 0.0, "{}"),
        (2, t(-2), 7, "view", 0.0, "{}"),
        (3, t(1), 7, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    from oracle_parquet_dumper_spark.operators.events_analytics import (
        events_out_of_order_lag,
    )

    [r] = events_out_of_order_lag(spark, str(tmp_path)).collect()
    assert (r.n_events, r.n_out_of_order, r.max_lag_s) == (3, 1, 120)
    assert r.ooo_ppm == 1000000 // 3


def _bucket_of(doc_id: int) -> int:
    import hashlib

    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100


def test_split_leakage_audit_planted(spark, tmp_path):
    """A near-identical doc planted on each side of the split boundary
    must be reported as ONE leaked test doc; an unrelated test doc must
    not."""
    train_id = next(i for i in range(1000) if _bucket_of(i) < 80)
    test_id = next(i for i in range(1000) if _bucket_of(i) >= 90)
    test_id2 = next(i for i in range(test_id + 1, 2000) if _bucket_of(i) >= 90)
    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (train_id, dup, "en", "web", len(dup)),
        (test_id, dup, "en", "web", len(dup)),
        (test_id2, "completely different words with zero overlap here", "en", "web", 49),
    ]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")

    from oracle_parquet_dumper_spark.operators.dedup import pipeline_split_leakage_audit

    [r] = pipeline_split_leakage_audit(spark, str(tmp_path)).collect()
    assert (r.n_test_docs, r.n_leaked_test_docs, r.n_cross_pairs) == (2, 1, 1)
    assert r.leak_ppm == 500000


def test_threshold_sensitivity_planted(spark, tmp_path):
    """Two identical docs agree on all 16 minhashes -> decile
    (10*16) div 16 = 10 with exactly one pair; nothing else collides."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "web", 35),
        (2, "alpha beta gamma delta epsilon zeta", "en", "web", 35),
        (3, "totally unrelated vocabulary set here now", "en", "web", 41),
    ]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")

    from oracle_parquet_dumper_spark.operators.dedup import dedup_threshold_sensitivity

    got = {r.est_decile: r.n_pairs for r in dedup_threshold_sensitivity(spark, str(tmp_path)).collect()}
    assert got.get(10) == 1 and sum(got.values()) == 1


def test_systematic_interval_planted(spark, tmp_path):
    """200 orders with keys 0..199: positions 0, 97, 194 selected —
    evenly spaced, anchored at the smallest key."""
    rows = [(i, float(i)) for i in range(200)]
    _write(spark, tmp_path, "orders", rows, "o_orderkey long, o_totalprice double")

    from oracle_parquet_dumper_spark.operators.dedup import sample_systematic_interval

    got = sorted(r.o_orderkey for r in sample_systematic_interval(spark, str(tmp_path)).collect())
    assert got == [0, 97, 194]


def test_mattr_planted(spark, tmp_path):
    """20 identical tokens -> one window, MATTR = 1/20; 30 distinct
    tokens -> two windows, MATTR = 1; a 5-token doc is excluded."""
    mono = " ".join(["spam"] * 20)
    rich = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, mono, "en", "web", len(mono)),
        (2, rich, "en", "web", len(rich)),
        (3, "too short to score", "en", "web", 18),
    ]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")

    from oracle_parquet_dumper_spark.operators.text import text_mattr_lexical_diversity

    got = {r.doc_id: r for r in text_mattr_lexical_diversity(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2}
    assert (got[1].n_windows, got[1].mattr_ppm) == (1, 50000)
    assert (got[2].n_windows, got[2].mattr_ppm) == (2, 1000000)


def test_mm_chunk_dedup_planted(spark, tmp_path):
    """Two payloads sharing one identical 64-byte chunk: 4 full chunks
    total, 3 distinct, hottest chunk has 2 copies, dup_ppm = 250000."""
    shared = "x" * 64
    rows = [
        (1, shared + "a" * 64 + "tail", "en", "web", 132),
        (2, shared + "b" * 64, "en", "web", 128),
    ]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")

    from oracle_parquet_dumper_spark.operators.multimodal import mm_chunk_dedup

    [r] = mm_chunk_dedup(spark, str(tmp_path)).collect()
    assert (r.n_chunks, r.n_distinct_chunks, r.max_chunk_copies, r.dup_ppm) == (4, 3, 2, 250000)


def test_theil_decomposition_planted(spark, tmp_path):
    """Equal prices inside each segment -> within-Theil exactly 0;
    segment means 100 vs 300 vs global 200 give between terms
    ln(1/2) and ln(3/2); shares 250000/750000 ppm."""
    orders = [(1, 10, 100.0), (2, 11, 100.0), (3, 12, 300.0), (4, 13, 300.0)]
    cust = [(10, "A"), (11, "A"), (12, "B"), (13, "B")]
    _write(spark, tmp_path, "orders", orders, "o_orderkey long, o_custkey long, o_totalprice double")
    _write(spark, tmp_path, "customer", cust, "c_custkey long, c_mktsegment string")

    from oracle_parquet_dumper_spark.operators.relational import agg_theil_decomposition
    import math

    got = {r.segment: r for r in agg_theil_decomposition(spark, str(tmp_path)).collect()}
    assert got["A"].theil_within == 0.0 and got["B"].theil_within == 0.0
    assert got["A"].share_ppm == 250000 and got["B"].share_ppm == 750000
    assert abs(got["A"].between_term - math.log(0.5)) < 1e-12
    assert abs(got["B"].between_term - math.log(1.5)) < 1e-12


def test_rate_shrinkage_planted(spark, tmp_path):
    """The 2/2 supplier's raw rate (100%) must shrink BELOW the 95/100
    supplier's shrunk rate — the small-n leaderboard fix, checked
    against the exact integer rational."""
    rows = []
    for _ in range(2):
        rows.append((1, "R"))
    for i in range(100):
        rows.append((2, "R" if i < 95 else "N"))
    _write(spark, tmp_path, "lineitem", rows, "l_suppkey long, l_returnflag string")

    from oracle_parquet_dumper_spark.operators.relational import EB_M, agg_rate_shrinkage_eb

    got = {r.l_suppkey: r for r in agg_rate_shrinkage_eb(spark, str(tmp_path)).collect()}
    N, X = 102, 97
    p0_ppm = 1000000 * X // N
    for k, (x, n) in ((1, (2, 2)), (2, (95, 100))):
        assert got[k].raw_ppm == (1000000 * x) // n
        assert got[k].shrunk_ppm == (1000000 * (x * N + EB_M * X)) // (N * (n + EB_M))
        # every shrunk rate sits strictly between its raw rate and the
        # global prior, and the small-n supplier moves much further
        assert min(got[k].raw_ppm, p0_ppm) <= got[k].shrunk_ppm <= max(got[k].raw_ppm, p0_ppm)
    move = lambda k: abs(got[k].shrunk_ppm - got[k].raw_ppm)  # noqa: E731
    assert move(1) > 10 * move(2)  # n=2 shrinks hard, n=100 barely


def test_reconciliation_planted(spark, tmp_path):
    """Order 1 balances exactly, order 2 drifts 5 cents, order 3 has no
    line items (reconciles against 0) — per-status counts pinned."""
    orders = [(1, "O", 220.0), (2, "O", 110.05), (3, "F", 50.0)]
    li = [
        (1, 100.0, 0.0, 0.1),   # 110.00
        (1, 100.0, 0.0, 0.1),   # 110.00 -> order 1 sums to 220.00
        (2, 100.0, 0.0, 0.1),   # 110.00 vs header 110.05 -> 5c drift
    ]
    _write(spark, tmp_path, "orders", orders,
           "o_orderkey long, o_orderstatus string, o_totalprice double")
    _write(spark, tmp_path, "lineitem", li,
           "l_orderkey long, l_extendedprice double, l_discount double, l_tax double")

    from oracle_parquet_dumper_spark.operators.validation import (
        dq_reconciliation_orders_lineitem,
    )

    got = {r.status: r for r in dq_reconciliation_orders_lineitem(spark, str(tmp_path)).collect()}
    assert (got["O"].n_orders, got["O"].n_mismatched, got["O"].max_abs_diff_cents) == (2, 1, 5)
    assert (got["F"].n_orders, got["F"].n_mismatched, got["F"].max_abs_diff_cents) == (1, 1, 5000)
    assert got["O"].total_abs_diff_cents == 5


def test_range_search_radius_planted(spark, tmp_path):
    """A copy of the query vector (cos 1.0, same bucket) is in radius;
    its negation (cos -1.0, the complementary bucket — Hamming 8 away)
    is excluded by BOTH the probe set and the radius."""
    import random

    rnd = random.Random(7)
    qv = [rnd.uniform(-1, 1) for _ in range(64)]
    rows = [
        (0, qv, 0),
        (1, list(qv), 1),             # identical -> cos 1.0
        (2, [-x for x in qv], 2),     # negation -> cos -1.0
    ]
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    from oracle_parquet_dumper_spark.operators.similarity import sim_range_search_radius

    got = sim_range_search_radius(spark, str(tmp_path)).collect()
    assert [r.vec_id for r in got] == [1]
    assert abs(got[0].cos - 1.0) < 1e-9


def test_growth_accounting_planted(spark, tmp_path):
    """User 1: days 1, 2, 12 -> new, returning, resurrected (gap 10 >
    7); user 2: day 2 only -> new.  The accounting identity holds on
    every row."""
    t = lambda d: _dt.datetime(2024, 3, d, 12, 0, 0)  # noqa: E731
    rows = [
        (1, t(1), 1, "view", 0.0, "{}"),
        (2, t(2), 1, "view", 0.0, "{}"),
        (3, t(12), 1, "view", 0.0, "{}"),
        (4, t(2), 2, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    from oracle_parquet_dumper_spark.operators.events_analytics import (
        events_growth_accounting,
    )

    got = {r.day: r for r in events_growth_accounting(spark, str(tmp_path)).collect()}
    assert (got["2024-03-01"].n_new, got["2024-03-01"].n_active) == (1, 1)
    assert (got["2024-03-02"].n_new, got["2024-03-02"].n_returning) == (1, 1)
    assert (got["2024-03-12"].n_resurrected, got["2024-03-12"].n_active) == (1, 1)
    for r in got.values():
        assert r.n_active == r.n_new + r.n_returning + r.n_resurrected


# --- batch-3 planted tests -------------------------------------------------


def test_emd_numeric_planted(spark, tmp_path):
    """Side A at {100, 200}, side B at {200, 300} (one order each):
    EMD = integral of |CDF_A - CDF_B| = 100 cents exactly."""
    orders = [(0, 1.00), (2, 2.00), (1, 2.00), (3, 3.00)]
    _write(spark, tmp_path, "orders", orders, "o_orderkey long, o_totalprice double")

    from oracle_parquet_dumper_spark.operators.validation import dq_drift_emd_numeric

    [r] = dq_drift_emd_numeric(spark, str(tmp_path)).collect()
    assert (r.n_a, r.n_b) == (2, 2)
    assert abs(r.emd_cents - 100.0) < 1e-9


def test_stickiness_planted(spark, tmp_path):
    """User 1 active both days, user 2 only day 2: day-1 DAU/MAU = 1/1,
    day-2 DAU 2 over MAU 2 (day-1 actives still in the 28-day
    window)."""
    t = lambda d: _dt.datetime(2024, 3, d, 12, 0, 0)  # noqa: E731
    rows = [
        (1, t(1), 1, "view", 0.0, "{}"),
        (2, t(2), 1, "view", 0.0, "{}"),
        (3, t(2), 2, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    from oracle_parquet_dumper_spark.operators.events_analytics import (
        events_stickiness_dau_mau,
    )

    got = {r.day: r for r in events_stickiness_dau_mau(spark, str(tmp_path)).collect()}
    assert (got["2024-03-01"].dau, got["2024-03-01"].mau) == (1, 1)
    assert (got["2024-03-02"].dau, got["2024-03-02"].mau) == (2, 2)
    assert got["2024-03-02"].stickiness_ppm == 1000000


def test_rolling_corr_planted(spark, tmp_path):
    """Value is an exact affine function of the inter-arrival gap —
    y = x/100 dollars for user 1 (corr exactly +1 in every full
    window), y = (500 - x)/100 for user 2 (exactly -1).  Event 0's
    zero gap participates too: its value follows the same line, so
    even the first full window is perfectly correlated."""
    rows = []
    eid = 0
    for uid, sign in ((1, +1), (2, -1)):
        t = _dt.datetime(2024, 3, 1, 10, 0, 0)
        for i in range(9):
            gap = 0 if i == 0 else 60 + 10 * i  # varying -> nonzero variance
            t = t + _dt.timedelta(seconds=gap)
            val = gap / 100.0 if sign > 0 else (500 - gap) / 100.0
            rows.append((eid, t, uid, "view", val, "{}"))
            eid += 1
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    from oracle_parquet_dumper_spark.operators.windows import window_rolling_corr

    got = window_rolling_corr(spark, str(tmp_path)).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append(r.corr8)
    # exact expectation replayed in Python with the SAME cent rounding
    import math

    from oracle_parquet_dumper_spark.functions.rounding import cents_py

    def corr(pairs):
        n = len(pairs)
        sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        return (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )

    for uid, sign in ((1, +1), (2, -1)):
        xs = [0] + [60 + 10 * i for i in range(1, 9)]
        vals = [
            (x / 100.0 if sign > 0 else (500 - x) / 100.0) for x in xs
        ]
        ys = [cents_py(v) for v in vals]
        pts = list(zip(xs, ys))
        expect = [corr(pts[0:8]), corr(pts[1:9])]
        assert len(by_user[uid]) == 2
        for gotc, expc in zip(by_user[uid], expect):
            assert abs(gotc - expc) < 1e-12
        # and the directional contract holds
        assert all((c > 0.99) if sign > 0 else (c < -0.99) for c in by_user[uid])


def test_knn_classify_planted(spark, tmp_path):
    """Seven near-copies of the query labeled 5 and three labeled 9
    inside the top-10: majority label 5 with 7 votes."""
    import random

    import pyspark.sql.types as T

    rnd = random.Random(11)
    qv = [rnd.uniform(-1, 1) for _ in range(64)]

    def near(seed, eps):
        r2 = random.Random(seed)
        return [x + r2.uniform(-eps, eps) for x in qv]

    rows = [(0, qv, 0)]
    for i in range(7):
        rows.append((1 + i, near(i, 0.01), 5))
    for i in range(3):
        rows.append((10 + i, near(100 + i, 0.02), 9))
    rows.append((20, [-x for x in qv], 3))  # far away, outside top-10
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    from oracle_parquet_dumper_spark.operators.similarity import sim_knn_classify_majority

    [r] = sim_knn_classify_majority(spark, str(tmp_path)).collect()
    assert (r.predicted_label, r.n_votes) == (5, 7)


def test_audio_silence_planted(spark, tmp_path):
    """256 'a' samples per frame: frames of constant bytes are silent
    (zero deviation energy... 'a'=97 -> (97-128)^2 per sample, NOT
    silent); frames of alternating high-contrast bytes even less so.
    A doc of 3 silent frames (byte 128 = chr(128) is non-ASCII, so use
    ' ' padding trick: values near 128 aren't reachable in ASCII) —
    instead pin the RELATIVE contract: constant-'~' frames (126,
    (126-128)^2=4 < 16) are silent, 'a' frames (961) are not, and the
    longest run counts consecutive silent frames."""
    silent_frame = "~" * 256
    loud_frame = "a" * 256
    rows = [
        (1, silent_frame * 2 + loud_frame + silent_frame, "en", "web", 1024),
        (2, loud_frame, "en", "web", 256),
    ]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")

    from oracle_parquet_dumper_spark.operators.multimodal import mm_audio_silence_ratio

    got = {r.doc_id: r for r in mm_audio_silence_ratio(spark, str(tmp_path)).collect()}
    assert (got[1].n_frames, got[1].n_silent, got[1].longest_silence_frames) == (4, 3, 2)
    assert got[1].silence_ppm == 750000
    assert (got[2].n_silent, got[2].longest_silence_frames) == (0, 0)


def test_partition_advisor_planted(spark, tmp_path):
    """Two months, one tiny: both recommend 1 file; the byte estimate
    is the exact fixed+varchar sum (32 + status + priority)."""
    t = _dt.datetime(2024, 1, 15)
    t2 = _dt.datetime(2024, 2, 15)
    orders = [(1, 10, "O", 1.0, t, "1-URGENT"), (2, 11, "F", 2.0, t2, "5-LOW")]
    _write(spark, tmp_path, "orders", orders,
           "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string")

    from oracle_parquet_dumper_spark.operators.layout_queries import (
        layout_partition_size_advisor,
    )

    got = {r.month: r for r in layout_partition_size_advisor(spark, str(tmp_path)).collect()}
    assert got["2024-01"].est_bytes == 32 + 1 + len("1-URGENT")
    assert got["2024-02"].est_bytes == 32 + 1 + len("5-LOW")
    assert all(r.n_files_recommended == 1 and r.rows_per_file == 1 for r in got.values())


def test_cross_source_matrix_planted(spark, tmp_path):
    """Identical docs planted web<->curated and web<->web: the matrix
    reports one off-diagonal and one diagonal pair, unordered keys."""
    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, dup, "en", "web", len(dup)),
        (2, dup, "en", "curated", len(dup)),
        (3, dup, "en", "web", len(dup)),
        (4, "completely different vocabulary in this one here", "en", "web", 48),
    ]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")

    from oracle_parquet_dumper_spark.operators.dedup import dedup_cross_source_matrix

    got = {
        (r.source_a, r.source_b): r.n_pairs
        for r in dedup_cross_source_matrix(spark, str(tmp_path)).collect()
    }
    # pairs among {1,2,3}: (1,2) web-curated, (1,3) web-web, (2,3) curated-web
    assert got == {("curated", "web"): 2, ("web", "web"): 1}


def test_join_key_coverage_planted(spark, tmp_path):
    """One orphan per FK: coverage ppm floors exactly."""
    _write(spark, tmp_path, "lineitem", [(1, 10), (2, 10), (3, 99)][:3],
           "l_partkey long, l_suppkey long")
    # rebuild with distinct keys: partkeys {1,2,3}, suppkeys {10,10,99}
    _write(spark, tmp_path, "part", [(1,), (2,)], "p_partkey long")
    _write(spark, tmp_path, "supplier", [(10,)], "s_suppkey long")
    _write(spark, tmp_path, "orders", [(5,), (6,)], "o_custkey long")
    _write(spark, tmp_path, "customer", [(5,)], "c_custkey long")

    from oracle_parquet_dumper_spark.operators.profiling import (
        profile_join_key_coverage,
    )

    got = {r.fk: r for r in profile_join_key_coverage(spark, str(tmp_path)).collect()}
    part = got["lineitem.l_partkey -> part"]
    assert (part.n_fact_rows, part.n_matched, part.coverage_ppm) == (3, 2, 666666)
    supp = got["lineitem.l_suppkey -> supplier"]
    assert (supp.n_fact_rows, supp.n_matched) == (3, 2)
    cust = got["orders.o_custkey -> customer"]
    assert (cust.n_matched, cust.coverage_ppm) == (1, 500000)


def test_triangle_sampled_planted(spark, tmp_path):
    """DOULION on a planted graph: sampling is deterministic (pair
    md5), the sampled count is exact on the surviving subgraph, and
    the estimate is count * 64.  Cross-checked against a Python replay
    of the same hash coin."""
    import hashlib

    # a 6-clique on parts 1..6 in one order: C(6,3) = 20 triangles
    rows = [(100, p, 1) for p in range(1, 7)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber int"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    def kept(u, v):
        lo, hi = min(u, v), max(u, v)
        h = int(hashlib.md5(f"{lo}_{hi}".encode()).hexdigest()[:8], 16)
        return h % 4 == 0

    edges = {(u, v) for u in range(1, 7) for v in range(1, 7)
             if u != v and kept(u, v)}
    expect = sum(
        1
        for a in range(1, 7)
        for b in range(a + 1, 7)
        for c in range(b + 1, 7)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )

    from oracle_parquet_dumper_spark.operators.graph import (
        graph_triangle_count_sampled,
    )

    [r] = graph_triangle_count_sampled(spark, str(tmp_path)).collect()
    assert r.n_sampled_triangles == expect
    assert r.est_total_triangles == expect * 64


def test_fragment_lint_covers_windows_and_percentiles(spark):
    """The r11 fragment lint extension: an unpartitioned Window or an
    exact percentile() hidden behind a localCheckpoint is still
    counted.  (audit_query path exercised via a synthetic registry-free
    replay of its fragment loop.)"""
    import re

    from pyspark.sql import Window as W

    from oracle_parquet_dumper_spark.plans.audit import (
        _is_unpartitioned_window,
        _nodes,
        capture_checkpoints,
    )

    d = spark.createDataFrame([(i, i % 3) for i in range(20)], "v long, g long")
    with capture_checkpoints() as frags:
        d.select(
            "v", F.sum("v").over(W.orderBy("v")).alias("cum")
        ).localCheckpoint(eager=False)
        d.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("p50")).localCheckpoint(
            eager=False
        )
    assert len(frags) == 2
    upwin = sum(
        1 for f in frags for _, t in _nodes(f) if _is_unpartitioned_window(t)
    )
    pct = sum(
        len(re.findall(r"\b(?:percentile|percentile_disc|median)\(", f))
        for f in frags
    )
    assert upwin >= 1 and pct >= 1


def test_hampel_despike_planted(spark, tmp_path):
    """A flat $1.00 stream with one $50 spike: the spike (and only the
    spike) is flagged once it has a full trailing window; the window
    median stays at the flat level and the MAD floors."""
    rows = []
    t0 = _dt.datetime(2024, 3, 1, 10, 0, 0)
    for i in range(12):
        val = 50.0 if i == 8 else 1.0
        rows.append((i, t0 + _dt.timedelta(minutes=i), 1, "view", val, "{}"))
    _write(spark, tmp_path, "events", rows,
           "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    from oracle_parquet_dumper_spark.operators.windows import window_hampel_despike

    got = window_hampel_despike(spark, str(tmp_path)).collect()
    assert [(r.event_id, r.value_cents, r.median_cents, r.mad_cents) for r in got] == [
        (8, 5000, 100, 0)
    ]
