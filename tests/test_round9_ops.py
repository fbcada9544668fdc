"""Planted-math tests for the five queries registered at the round-8
snapshot (VERDICT r8 #1): known inputs with hand-computable answers,
independent of the DuckDB differential (which checks Spark==DuckDB but
not Spark==math)."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

from oracle_parquet_dumper_spark.sources import layouts


def _write_documents(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))


def test_mixture_temperature_planted(spark, tmp_path):
    """Sources a=900, b=100, c=1, z=0 tokens.  z_sum = 30+10+1 = 41,
    total = 1001, budget = 2*1001 = 2002.

    w_ppm  = round(1e6*sqrt(n)/41):    a 731707, b 243902, c 24390, z 0
    target = w_ppm*2002 div 1e6:       a 1464,   b 488,    c 48,    z 0
    cap 4*n_tok:                       a 3600,   b 400,    c 4,     z 0
    capped:                            a no,     b YES,    c YES,   z no
    final:                             a 1464,   b 400,    c 4,     z 0
    leftover = (488-400)+(48-4) = 132
    epochs_milli = 1000*final div n:   a 1626, b 4000, c 4000, z NULL
    share_ppm = 1e6*n div 1001:        a 899100, b 99900, c 999, z 0

    z is a whitespace-only doc (n_tok = 0): epochs_milli must be NULL,
    not a division error (ADVICE r8)."""
    rows = [
        (1, " ".join(["w"] * 900), "en", "a", 1800),
        (2, " ".join(["w"] * 100), "en", "b", 200),
        (3, "w", "en", "c", 1),
        (4, " ", "en", "z", 1),
    ]
    _write_documents(spark, tmp_path, rows)

    from oracle_parquet_dumper_spark.operators.pipeline_prep import (
        pipeline_mixture_temperature,
    )

    out = {
        r["source"]: r
        for r in pipeline_mixture_temperature(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"a", "b", "c", "z"}
    a, b, c, z = out["a"], out["b"], out["c"], out["z"]
    assert (a.n_tok, b.n_tok, c.n_tok, z.n_tok) == (900, 100, 1, 0)
    assert (a.w_ppm, b.w_ppm, c.w_ppm, z.w_ppm) == (731707, 243902, 24390, 0)
    assert (a.share_ppm, b.share_ppm, c.share_ppm, z.share_ppm) == (
        899100,
        99900,
        999,
        0,
    )
    assert (a.target_tok, b.target_tok, c.target_tok, z.target_tok) == (
        1464,
        488,
        48,
        0,
    )
    assert (a.capped, b.capped, c.capped, z.capped) == (False, True, True, False)
    assert (a.final_tok, b.final_tok, c.final_tok, z.final_tok) == (1464, 400, 4, 0)
    assert a.leftover_tok == 132
    assert (a.epochs_milli, b.epochs_milli, c.epochs_milli) == (1626, 4000, 4000)
    assert z.epochs_milli is None  # div-by-zero guarded to NULL


def test_dq_k_anonymity_planted(spark, tmp_path):
    """Two QI classes: (F, 1-URGENT, 1995) with k=12 and prices cycling
    {10k, 60k, 120k} => 3 distinct 50k-bands (meets k>=10 and l>=3);
    (O, 2-HIGH, 1996) with k=3, constant price => l=1 (fails both).
    rows_below_k = 3, total = 15 => frac = 1e6*3 div 15 = 200000."""
    rows = []
    prices = [10000.0, 60000.0, 120000.0]
    for i in range(12):
        rows.append(
            (i, 1, "F", prices[i % 3], datetime(1995, 3, 1 + i), "1-URGENT")
        )
    for i in range(3):
        rows.append((100 + i, 2, "O", 10000.0, datetime(1996, 7, 4), "2-HIGH"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    from oracle_parquet_dumper_spark.operators.validation import dq_k_anonymity

    out = {(r.status, r.priority, r.yr): r for r in dq_k_anonymity(spark, str(tmp_path)).collect()}
    assert set(out) == {("F", "1-URGENT", 1995), ("O", "2-HIGH", 1996)}
    big = out[("F", "1-URGENT", 1995)]
    assert (big.k, big.l_distinct, big.meets_k, big.meets_l) == (12, 3, True, True)
    small = out[("O", "2-HIGH", 1996)]
    assert (small.k, small.l_distinct, small.meets_k, small.meets_l) == (
        3,
        1,
        False,
        False,
    )
    assert big.frac_rows_below_k_ppm == 200000
    assert small.frac_rows_below_k_ppm == 200000


def test_events_jsd_drift_planted(spark, tmp_path):
    """Events at t0+{0,10,50}s (type a) and t0+{90,100}s (type b):
    midpoint = 50 s; the boundary event (exactly the midpoint) goes to
    the POST half (2*ts >= mn+mx).  So a: n_pre=2 n_post=1, b: n_pre=0
    n_post=2; tot_pre=2, tot_post=3, k=2.  Expected micro-nat terms are
    computed here with math.log, replicating the published formula
    independently of both engines."""
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "a", 1.0, "{}"),
        (2, t0 + timedelta(seconds=10), 7, "a", 1.0, "{}"),
        (3, t0 + timedelta(seconds=50), 7, "a", 1.0, "{}"),  # boundary -> post
        (4, t0 + timedelta(seconds=90), 8, "b", 1.0, "{}"),
        (5, t0 + timedelta(seconds=100), 8, "b", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    from oracle_parquet_dumper_spark.operators.events_analytics import events_jsd_drift

    out = {r.event_type: r for r in events_jsd_drift(spark, str(tmp_path)).collect()}
    assert set(out) == {"a", "b"}
    assert (out["a"].n_pre, out["a"].n_post) == (2, 1)
    assert (out["b"].n_pre, out["b"].n_post) == (0, 2)

    def term(n_pre, n_post, tot_pre, tot_post, k):
        p = (n_pre + 1.0) / (tot_pre + k)
        q = (n_post + 1.0) / (tot_post + k)
        m = 0.5 * p + 0.5 * q
        return round((0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)) * 1e6)

    exp_a = term(2, 1, 2, 3, 2)
    exp_b = term(0, 2, 2, 3, 2)
    assert out["a"].jsd_term_micro == exp_a
    assert out["b"].jsd_term_micro == exp_b
    assert out["a"].jsd_total_micro == exp_a + exp_b
    # JSD terms are non-negative (p, q > 0 after smoothing) and the
    # boundary event moved a's mass post-ward, so a drifted DOWN: p > q.
    assert exp_a > 0 and exp_b > 0


def test_text_oov_rate_planted(spark, tmp_path):
    """Corpus vocabulary = tokens seen >= 5 times.  x appears 6 times
    (in vocab), y appears 4 times (OOV).  s1 = 'x'*5: 0/5 OOV; s2 =
    'x y y y y': 4/5 OOV => oov_ppm = 4e6 div 5 = 800000."""
    rows = [
        (1, "x x x x x", "en", "s1", 9),
        (2, "x y y y y", "en", "s2", 9),
    ]
    _write_documents(spark, tmp_path, rows)

    from oracle_parquet_dumper_spark.operators.text import text_oov_rate

    out = {r.source: r for r in text_oov_rate(spark, str(tmp_path)).collect()}
    assert set(out) == {"s1", "s2"}
    assert (out["s1"].n_tok, out["s1"].n_oov, out["s1"].oov_ppm) == (5, 0, 0)
    assert (out["s2"].n_tok, out["s2"].n_oov, out["s2"].oov_ppm) == (5, 4, 800000)


def test_text_repetition_screen_planted(spark, tmp_path):
    """doc 1 = 'a b a b a b': 5 bigram slots, 2 distinct ('a b' x3,
    'b a' x2) => dup = 1000*3 div 5 = 600, top = 1000*3 div 5 = 600,
    both over the Gopher thresholds => keep False.  doc 2 = 10 distinct
    tokens: 9 slots, 9 distinct, top 1 => dup 0, top = 1000 div 9 =
    111 => keep True.  doc 3 has one token (no bigrams) and doc 4 is
    empty: both excluded."""
    rows = [
        (1, "a b a b a b", "en", "s1", 11),
        (2, "c d e f g h i j k l", "en", "s1", 19),
        (3, "solo", "en", "s1", 4),
        (4, "", "en", "s1", 0),
    ]
    _write_documents(spark, tmp_path, rows)

    from oracle_parquet_dumper_spark.operators.text import text_repetition_screen

    out = {r.doc_id: r for r in text_repetition_screen(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    rep = out[1]
    assert (rep.n_bigrams, rep.n_distinct) == (5, 2)
    assert (rep.dup_frac_milli, rep.top_frac_milli, rep.keep) == (600, 600, False)
    ok = out[2]
    assert (ok.n_bigrams, ok.n_distinct) == (9, 9)
    assert (ok.dup_frac_milli, ok.top_frac_milli, ok.keep) == (0, 111, True)


def test_dedup_stored_state_lifecycle(spark, tmp_path, monkeypatch):
    """VERDICT r8 #3 + VERDICT r9 #3: regenerate the corpus in place ->
    a NEW key is built and the query stays green, while the OLD state
    key is garbage-collected on the TWO-PHASE tombstone protocol: the
    supersede pass only tombstones it (a concurrent session may still
    be mid-scan — its DataFrame keeps working), and removal happens on
    a later build pass once the tombstone has outlived the grace
    period.  Also pins the two-level layout (pathkey/fingerprint) that
    makes superseded siblings identifiable."""
    import os

    def corpus(version):
        rows = [
            (i, f"{version} common words {i % 3} repeated here for shingles", "en", "s1", 40)
            for i in range(1, 22)
        ]
        _write_documents(spark, tmp_path, rows)

    from oracle_parquet_dumper_spark.operators.dedup import dedup_state_dir
    from oracle_parquet_dumper_spark.plans import REGISTRY

    corpus("alpha")
    q = REGISTRY["dedup_incremental_stored"].fn
    assert q(spark, str(tmp_path)).count() > 0
    d1 = dedup_state_dir(str(tmp_path))
    assert os.path.isfile(os.path.join(d1, "corpus_bands", "_SUCCESS"))
    # session A: a reader over the soon-to-be-superseded state
    reader_a = spark.read.parquet(os.path.join(d1, "corpus_digests"))
    n_a = reader_a.count()

    # regenerate in place: same path, new bytes -> new fingerprint
    import shutil

    shutil.rmtree(str(tmp_path / "documents.parquet"))
    corpus("beta")
    d2 = dedup_state_dir(str(tmp_path))
    assert d2 != d1, "content fingerprint did not rotate on regeneration"
    assert q(spark, str(tmp_path)).count() > 0
    assert os.path.isfile(os.path.join(d2, "corpus_bands", "_SUCCESS"))
    # both keys sit under the same pathkey dir (siblings, GC-able)
    assert os.path.dirname(d1) == os.path.dirname(d2)
    # phase 1: superseded sibling is TOMBSTONED, not deleted -- the
    # concurrent reader's scan still completes (VERDICT r9 #3)
    assert os.path.isfile(os.path.join(d1, ".superseded"))
    assert reader_a.count() == n_a, "live reader broken by supersede GC"

    # phase 2: with the grace period elapsed (grace=0 here), the NEXT
    # build pass removes the tombstoned sibling
    monkeypatch.setattr(layouts, "STATE_GC_GRACE_S", 0.0)
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    corpus("gamma")
    assert q(spark, str(tmp_path)).count() > 0
    assert not os.path.exists(d1), "tombstoned sibling survived past grace"
    assert os.path.isfile(os.path.join(d2, ".superseded"))  # next in line


def test_pagerank_edge_state_lifecycle(spark, tmp_path):
    """VERDICT r8 #3 / ADVICE r8: the bucketed-edge state must survive
    all four (metastore x data-path) disagreement states:
    - both present: no-op;
    - table without data (tmp cleaned): drop + rebuild;
    - data without table (fresh session): register existing files
      WITHOUT rewriting them;
    - corpus regenerated in place: new fingerprint built, superseded
      sibling dir AND its catalog entry dropped."""
    import os
    import shutil

    def lineitem(version):
        rows = [
            (o, s + version, 1)
            for o in range(1, 30)
            for s in range(1, 4)
        ]
        spark.createDataFrame(
            rows, "l_orderkey long, l_suppkey long, l_linenumber int"
        ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    from oracle_parquet_dumper_spark.operators.graph import pagerank_edge_state

    lineitem(0)
    t1 = pagerank_edge_state(spark, str(tmp_path))
    assert spark.catalog.tableExists(t1)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {t1}")
        .where("col_name = 'Location'")
        .collect()[0][1]
    ).replace("file:", "")
    assert os.path.isfile(os.path.join(loc, "_SUCCESS"))
    files = {
        f: os.path.getmtime(os.path.join(loc, f)) for f in os.listdir(loc)
    }

    # data without table: fresh-session analog -> register, DO NOT rewrite
    spark.sql(f"DROP TABLE {t1}")
    t1b = pagerank_edge_state(spark, str(tmp_path))
    assert t1b == t1 and spark.catalog.tableExists(t1)
    assert {
        f: os.path.getmtime(os.path.join(loc, f)) for f in os.listdir(loc)
    } == files, "warm path was rewritten on re-registration"
    assert spark.table(t1).count() > 0

    # table without data: tmp cleaned under a live metastore -> rebuild
    shutil.rmtree(loc)
    t1c = pagerank_edge_state(spark, str(tmp_path))
    assert t1c == t1
    assert os.path.isfile(os.path.join(loc, "_SUCCESS"))
    assert spark.table(t1).count() > 0

    # corpus regenerated in place -> new key; old sibling is TOMBSTONED
    # first (a concurrent session may be mid-scan over it), then
    # removed -- with its catalog entry -- on the next build pass once
    # the tombstone outlives the grace period (VERDICT r9 #3)
    old_scan = spark.table(t1)
    n_old = old_scan.count()
    shutil.rmtree(str(tmp_path / "lineitem.parquet"))
    lineitem(100)
    t2 = pagerank_edge_state(spark, str(tmp_path))
    assert t2 != t1
    assert os.path.isfile(os.path.join(loc, ".superseded"))
    assert old_scan.count() == n_old, "live reader broken by supersede GC"
    assert spark.table(t2).count() > 0

    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(layouts, "STATE_GC_GRACE_S", 0.0)
        shutil.rmtree(str(tmp_path / "lineitem.parquet"))
        lineitem(200)
        t3 = pagerank_edge_state(spark, str(tmp_path))
    assert t3 not in (t1, t2)
    assert not os.path.exists(loc), "tombstoned edge-state dir not GC'd"
    assert not spark.catalog.tableExists(t1), "superseded catalog entry kept"
    assert spark.table(t3).count() > 0


def test_label_prop_bucketed_matches_checkpointed(spark, sf_dir):
    """dedup_label_propagation_bucketed must return bit-identical label
    histograms to dedup_label_propagation — same integer votes and
    deterministic tie-breaks, different physical storage of the
    round-invariant edge relation (VERDICT r8 "Next" #4)."""
    from oracle_parquet_dumper_spark.plans import REGISTRY

    a = [tuple(r) for r in REGISTRY["dedup_label_propagation"].fn(spark, sf_dir).collect()]
    b = [
        tuple(r)
        for r in REGISTRY["dedup_label_propagation_bucketed"].fn(spark, sf_dir).collect()
    ]
    assert a == b and len(a) > 0


def test_events_sprt_sequential_planted(spark, tmp_path):
    """Hand-planted SPRT: arm 1 is all purchases (7 by day 2: LLR =
    7*ln(1.5) = 2.838 nats, crosses the A = ln(16) = 2.773 boundary ->
    reject_h0); arm 0 accumulates 9 views vs 2 purchases by day 2
    (LLR = 2*L1 + 9*L0 = -2.838 nats <= B -> accept_h0).  Day-1 states
    are both 'continue' — the monitor must not fire early."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 5, 1, 8, 0, 0)
    d2 = t0 + timedelta(days=1)
    rows = []
    eid = 0
    # arm 0 = even user ids; day 1: 3 views + 1 purchase; day 2: +1 purchase, +6 views
    for et, ts in [("view", t0), ("view", t0), ("view", t0), ("purchase", t0),
                   ("purchase", d2)] + [("view", d2)] * 6:
        eid += 1
        rows.append((eid, ts, 2, et, 1.0, "{}"))
    # arm 1 = odd user ids; day 1: 5 purchases; day 2: +2 purchases
    for et, ts in [("purchase", t0)] * 5 + [("purchase", d2)] * 2:
        eid += 1
        rows.append((eid, ts, 1, et, 1.0, "{}"))
    # a 'click' event must be ignored by the trials filter
    rows.append((eid + 1, t0, 2, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    from oracle_parquet_dumper_spark.operators.events_analytics import (
        SPRT_L0,
        SPRT_L1,
        events_sprt_sequential,
    )

    out = {
        (r.arm, r.day): r
        for r in events_sprt_sequential(spark, str(tmp_path)).collect()
    }
    assert set(out) == {(0, "2024-05-01"), (0, "2024-05-02"),
                        (1, "2024-05-01"), (1, "2024-05-02")}

    def micro(n, k):
        return round((k * SPRT_L1 + (n - k) * SPRT_L0) * 1e6)

    a0d1 = out[(0, "2024-05-01")]
    assert (a0d1.n_cum, a0d1.k_cum) == (4, 1)
    assert a0d1.llr_micro == micro(4, 1) and a0d1.decision == "continue"
    a0d2 = out[(0, "2024-05-02")]
    assert (a0d2.n_cum, a0d2.k_cum) == (11, 2)
    assert a0d2.llr_micro == micro(11, 2) == -2838256
    assert a0d2.decision == "accept_h0"
    a1d1 = out[(1, "2024-05-01")]
    assert (a1d1.n_cum, a1d1.k_cum) == (5, 5)
    assert a1d1.llr_micro == micro(5, 5) == 2027326
    assert a1d1.decision == "continue"
    a1d2 = out[(1, "2024-05-02")]
    assert (a1d2.n_cum, a1d2.k_cum) == (7, 7)
    assert a1d2.llr_micro == micro(7, 7) == 2838256
    assert a1d2.decision == "reject_h0"


def test_dq_freshness_lag_planted(spark, tmp_path):
    """'click' owns the corpus max ts (lag 0, fresh); 'error' last fired
    2 days earlier (lag 172800 s > the 86400 s SLA -> stale)."""
    from datetime import datetime, timedelta

    now = datetime(2024, 6, 10, 12, 0, 0)
    rows = [
        (1, now, 1, "click", 1.0, "{}"),
        (2, now - timedelta(hours=5), 2, "click", 1.0, "{}"),
        (3, now - timedelta(days=2), 3, "error", 1.0, "{}"),
        (4, now - timedelta(days=3), 3, "error", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    from oracle_parquet_dumper_spark.operators.validation import dq_freshness_lag

    out = {r.event_type: r for r in dq_freshness_lag(spark, str(tmp_path)).collect()}
    assert set(out) == {"click", "error"}
    assert (out["click"].n_events, out["click"].lag_s, out["click"].stale) == (2, 0, False)
    assert (out["error"].n_events, out["error"].lag_s, out["error"].stale) == (
        2,
        172800,
        True,
    )


def test_winsorized_trimmed_mean_planted(spark, tmp_path):
    """Status O: 20 orders at 1.00..20.00 (cents 100..2000).  Exact
    disc fences: p05 = ceil(0.05*20)th smallest = 100, p95 = 1900.
    Winsorize clamps only the 2000 -> 1900: mean = 20900/20 = 1045.000
    milli-cents 1045000.  Trim drops it: 19000/19 = exactly 1000.000.
    Status F checks an all-inside group: clamp and trim are no-ops."""
    from datetime import datetime

    rows = [
        (i, 1, "O", i / 1.0, datetime(1997, 1, 1), "1-URGENT")
        for i in range(1, 21)
    ]
    rows += [
        (100, 2, "F", 5.0, datetime(1997, 1, 1), "1-URGENT"),
        (101, 2, "F", 5.0, datetime(1997, 1, 1), "1-URGENT"),
        (102, 2, "F", 500.0, datetime(1997, 1, 1), "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    from oracle_parquet_dumper_spark.operators.relational import (
        agg_winsorized_trimmed_mean,
    )

    out = {
        r.status: r for r in agg_winsorized_trimmed_mean(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"O", "F"}
    o = out["O"]
    assert (o.n, o.p05, o.p95) == (20, 100, 1900)
    assert o.winsorized_mean_milli == 1045000
    assert o.trimmed_mean_milli == 1000000
    f = out["F"]
    assert (f.n, f.p05, f.p95) == (3, 500, 50000)
    assert f.winsorized_mean_milli == f.trimmed_mean_milli == 17000000


def test_set_symmetric_diff_planted(spark, tmp_path):
    """Keys {1,2,3} buy cheap, {3,4} buy pricey (2 also buys mid-range
    — invisible to both sides): symmetric diff = {1,2} lo_only, {4}
    hi_only; the shared key 3 and the mid-range-only key 5 are absent."""
    from datetime import datetime

    rows = [
        (10, 1, "O", 50000.0, datetime(1996, 1, 1), "1-URGENT"),
        (11, 2, "O", 60000.0, datetime(1996, 1, 2), "1-URGENT"),
        (12, 3, "O", 70000.0, datetime(1996, 1, 3), "1-URGENT"),
        (13, 3, "O", 200000.0, datetime(1996, 2, 1), "1-URGENT"),
        (14, 4, "O", 160000.0, datetime(1996, 2, 2), "1-URGENT"),
        (15, 2, "O", 120000.0, datetime(1996, 3, 1), "1-URGENT"),  # mid: neither side
        (16, 5, "O", 110000.0, datetime(1996, 3, 2), "1-URGENT"),  # mid-only key
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    from oracle_parquet_dumper_spark.operators.setops import set_symmetric_diff

    out = sorted(tuple(r) for r in set_symmetric_diff(spark, str(tmp_path)).collect())
    assert out == [(1, "lo_only"), (2, "lo_only"), (4, "hi_only")]


def test_levenshtein_lsh_cap_planted(spark, tmp_path):
    """20 identical names (custkeys 7..140, all %7==0): identical
    signatures put every key in the same 4 buckets.  The capped variant
    admits only the 16 smallest keys per bucket => exactly C(16,2) = 120
    pairs, all edit_dist 0, none involving the 4 largest keys; the
    uncapped flagship returns all C(20,2) = 190 — the declared
    recall-for-boundedness trade, pinned."""
    rows = [(7 * i, "identical template name", "SEG") for i in range(1, 21)]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_mktsegment string"
    ).write.parquet(str(tmp_path / "customer.parquet"))

    from oracle_parquet_dumper_spark.operators.dedup import (
        LEV_LSH_CAP,
        dedup_fuzzy_levenshtein_lsh,
        dedup_fuzzy_levenshtein_lsh_capped,
    )

    capped = [tuple(r) for r in dedup_fuzzy_levenshtein_lsh_capped(spark, str(tmp_path)).collect()]
    kept_keys = {7 * i for i in range(1, LEV_LSH_CAP + 1)}
    assert len(capped) == LEV_LSH_CAP * (LEV_LSH_CAP - 1) // 2  # 120
    assert all(d == 0 and a in kept_keys and b in kept_keys for a, b, d in capped)

    full = dedup_fuzzy_levenshtein_lsh(spark, str(tmp_path)).count()
    assert full == 20 * 19 // 2  # 190: the uncapped flagship keeps all
