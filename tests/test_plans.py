"""Physical-plan assertions: the scale-critical plan shapes must hold
(SURVEY.md §4 / M5).  These catch regressions where a query still returns
correct rows but stops broadcasting a dim, loses a parquet pushdown, or
turns a top-k into a global sort."""

from __future__ import annotations

import re

import pytest

from oracle_parquet_dumper_spark.plans import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns are read
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # map-side partial agg before the exchange, final after
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_star_join_broadcasts_dimension(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_inner_broadcast")
    assert "BroadcastHashJoin" in plan


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort_topk_global")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_left_semi")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_left_anti")


def test_projection_prunes_scan_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "proj_select_cast_alias")
    # orders has 6 columns; the query needs 5 — o_custkey must not be read
    assert "o_custkey" not in plan


def test_range_join_is_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_range_theta")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_udfs_in_relational_paths(spark, sf_dir):
    """Everything except the explicitly-pandas multimodal ops must stay
    JVM-side (no BatchEvalPython / ArrowEvalPython in the plan)."""
    for name, spec in REGISTRY.items():
        if "pandas_udf" in spec.tags or "udf" in spec.tags:
            continue
        plan = plan_of(spark, sf_dir, name)
        assert "EvalPython" not in plan, f"{name} fell back to Python execution"


def test_whole_stage_codegen_active(spark, sf_dir):
    # codegen'd stages print as "*(n) Operator"; under AQE the final
    # plan only materializes after execution
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    # supplier/nation/region all broadcast: at least 3 BroadcastHashJoins
    assert plan.count("BroadcastHashJoin") >= 3


def test_q18_semi_join_for_in_subquery(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q18_large_volume_customers")
    assert "LeftSemi" in plan


def test_knn_broadcasts_query_set(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sim_knn_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sort_within_partitions_no_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort_within_partitions")
    assert "Sort" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_profile_single_scan_single_aggregate(spark, sf_dir):
    """The column profiler must read the table ONCE: one scan feeding
    one (expanded, for the distincts) aggregation — never a scan per
    column."""
    plan = plan_of(spark, sf_dir, "profile_columns_customer")
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan  # the multi-count_distinct rewrite


def test_sessionize_single_sort_for_both_windows(spark, sf_dir):
    """Both window passes (lag flag + running sum) share the same
    (user_id; ts, event_id) ordering, so the plan must contain exactly
    one Exchange for the window stage plus the final aggregation's —
    never a second sort-shuffle pair for the second window."""
    plan = plan_of(spark, sf_dir, "window_sessionize_30min")
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
    assert plan.count("Window") >= 1


def test_quantized_topk_is_heap_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sim_topk_quantized_int8")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_retention_joins_on_user_key(spark, sf_dir):
    """The cohort join must be keyed by user_id (shuffle-key reuse with
    the first-seen reduction) — not a broadcast of the event log."""
    plan = plan_of(spark, sf_dir, "events_retention_cohorts")
    assert "user_id" in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_minhash_signatures_shuffle_free_and_staged(spark, sf_dir):
    """The MinHash signature pipeline must be pure per-row expressions:
    no KEYED shuffle (the only allowed Exchange is split_scan's
    round-robin scan-parallelism restore over the single-row-group
    fixture file — r14, guide §2.5; it vanishes on real multi-split
    tables), no Window, no explode of token rows — and the staged
    projections must not be inlined by CollapseProject (tokenize once
    per document: exactly one split(); hash once per shingle: exactly
    one md5() in the optimized expression tree)."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.operators.dedup import minhash_signatures_df
    from oracle_parquet_dumper_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    sig = minhash_signatures_df(d)
    physical = sig._jdf.queryExecution().executedPlan().toString()
    # every Exchange (if any) must be the round-robin scan split — an
    # allowlist, so a future SinglePartition/range/hash exchange fails
    # instead of slipping past a blacklist (ADVICE r14)
    for mode in re.findall(r"Exchange (\w+)", physical):
        assert mode.lower().startswith("roundrobin"), f"unexpected Exchange {mode}"
    assert "Window" not in physical
    assert "Generate" not in physical
    optimized = sig._jdf.queryExecution().optimizedPlan().toString()
    # one split() in the token projection + at most one more in the
    # pushed-down `size(toks) > 0` row filter; NOT one per shingle
    assert optimized.count("split(") <= 2
    assert optimized.count("md5(") == 1


def _final_plan(df) -> str:
    """The AQE FINAL executed plan of ``df`` (runs it; the toString
    appends the initial plan, which would double-count scans)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def _assert_band_relation_materialized_once(spark, sf_dir, monkeypatch, name, file_scans):
    """Every banded-LSH self-join goes through functions.lsh.band_pairs
    over a band relation materialized ONCE (a lazy localCheckpoint —
    see band_pairs' docstring): both join sides read the checkpointed
    RDD and none re-derives signatures or hyperplane dots from parquet.
    The query's own final plan holds exactly ``file_scans`` parquet
    scans, so a scan re-added under the band join fails too."""
    import oracle_parquet_dumper_spark.functions.lsh as lsh
    import oracle_parquet_dumper_spark.operators.dedup as dedup

    joins = []
    real = lsh.band_pairs

    def spy(bands, id_col, key_cols, cap=None, min_agree=None):
        joins.append((real(bands, id_col, key_cols, cap, min_agree), cap))
        return joins[-1][0]

    monkeypatch.setattr(lsh, "band_pairs", spy)
    monkeypatch.setattr(dedup, "band_pairs", spy)
    final = _final_plan(REGISTRY[name].fn(spark, sf_dir))
    assert final.count("FileScan parquet") == file_scans
    ((pairs, cap),) = joins
    band_join = _final_plan(pairs)
    assert "FileScan parquet" not in band_join
    # every checkpoint read is the band relation itself, not an upstream
    # checkpoint the signatures would be re-derived from
    reads = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", band_join)
    assert all(re.search(r"\bband#", r) for r in reads), reads
    if cap is None:
        assert "Window" not in band_join
        assert len(reads) == 2  # one per join side
    else:
        # the per-bucket cap window is read once; the other join side
        # reuses that window's (band, bucket) exchange
        assert len(reads) == 1
        assert "ReusedExchange" in band_join


# query -> parquet scans left in its final plan, each named.  Queries that
# checkpoint their pair relation (the evals, containment) hold the band
# join inside that checkpoint's build, not in the final plan.
MINHASH_BAND_JOIN_SCANS = {
    "dedup_minhash_lsh": 0,
    "dedup_threshold_sensitivity": 0,
    # the corpus is scanned only inside the eager exact-dedup checkpoint
    "pipeline_curation": 0,
    # one documents scan: the participant shingle sets' a side; the b
    # side reads it through a ReusedExchange
    "dedup_containment_lsh": 1,
    "dedup_minhash_accuracy_eval": 1,
    "dedup_minhash_accuracy_eval_sampled": 1,
    "dedup_minhash_oph_eval": 1,
    "dedup_minhash_oph_eval_sampled": 1,
    # one documents scan: the source re-attach's a side (b reuses it)
    "dedup_cross_source_matrix": 1,
}


@pytest.mark.parametrize("name", sorted(MINHASH_BAND_JOIN_SCANS))
def test_minhash_lsh_band_relation_materialized_once(spark, sf_dir, monkeypatch, name):
    """MinHash band self-joins: the band relation (signatures carried
    for the agree-verified queries) is checkpointed once, so the
    tokenize + shingle-md5 signature pipeline runs once per query."""
    _assert_band_relation_materialized_once(
        spark, sf_dir, monkeypatch, name, MINHASH_BAND_JOIN_SCANS[name]
    )


# one embeddings scan each: the cosine re-attach's a side (vectors and
# norms); the b side reads it through a ReusedExchange.  The sign-bit
# dot folds run only inside banded_buckets' checkpoint build.
EMBEDDING_BAND_JOIN_SCANS = {
    "dedup_embedding_cosine_lsh": 1,
    "dedup_embedding_cosine_narrow_demo": 1,
    "sim_threshold_join_lsh": 1,
    "sim_threshold_join_lsh_capped": 1,
}


@pytest.mark.parametrize("name", sorted(EMBEDDING_BAND_JOIN_SCANS))
def test_embedding_lsh_band_relation_materialized_once(spark, sf_dir, monkeypatch, name):
    """Embedding sign-LSH band self-joins: without the materialization
    the join would evaluate every hyperplane dot fold once per side."""
    _assert_band_relation_materialized_once(
        spark, sf_dir, monkeypatch, name, EMBEDDING_BAND_JOIN_SCANS[name]
    )


def test_global_shuffle_no_full_data_single_partition_window(spark, sf_dir):
    """pipeline_global_shuffle's data-row window must be partitioned by
    the hash bucket; the only SinglePartition exchange feeds the
    64-row-max bucket-offsets relation (counts), never document rows."""
    plan = plan_of(spark, sf_dir, "pipeline_global_shuffle")
    # per-bucket row_number: window partitioned on b
    assert "row_number()" in plan
    assert "hashpartitioning(b#" in plan
    # the offsets join comes back as a broadcast, not a shuffle of data rows
    assert "BroadcastHashJoin" in plan
    # the single-partition exchange exists (offsets running total) but its
    # input is an aggregate over buckets, not the document scan: the scan
    # feeds a hashpartitioning exchange first.
    assert "SinglePartition" in plan


def test_incremental_dedup_broadcasts_batch_bands(spark, sf_dir):
    """dedup_incremental: the band-bucket join must broadcast the
    (bounded) incoming-batch side so the corpus never shuffles for it."""
    plan = plan_of(spark, sf_dir, "dedup_incremental")
    assert "BroadcastHashJoin [band#" in plan  # (band, bucket) keys, batch side built


def test_runtime_bloom_filter_semi_join_reduction(spark, sf_dir):
    """The 100 TB semi-join-reduction story (SCALING.md: 'bloom-
    filterable at 100 TB'): with a selective creation side, Spark's
    InjectRuntimeFilter rewrites the big-side scan to
    might_contain(bloom_filter_agg(...)) BEFORE the shuffle join.  The
    application-side size threshold defaults to 10 GiB — sized for
    exactly the at-scale regime — so fixture-sized scans must lower it
    to observe the rewrite; production clusters hit it on defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gapfill_partial_agg_before_exchanges(spark, sf_dir):
    """ts_gapfill_interpolate (consecutive-pair formulation): the event
    log reduces map-side before anything shuffles (partial max under
    every exchange); ONE lead() window over present rows replaces the
    old spine join + row_number + two ignore-nulls frames; the gap
    expansion is a map-side Generate ABOVE the window — the spine is
    emitted, never shuffled, joined, or sorted."""
    plan = plan_of(spark, sf_dir, "ts_gapfill_interpolate")
    assert "partial_max" in plan
    assert plan.count("Window") == 1
    assert "Join" not in plan  # no spine join anymore
    # explode(sequence(...)) runs above (downstream of) the window
    assert plan.index("Generate") < plan.index("Window")
    # exactly two exchanges: the (user, hour) agg and the user window
    assert plan.count("Exchange hashpartitioning") == 2


def test_maxsim_broadcasts_query_tokens(spark, sf_dir):
    """sim_maxsim_multivector: fixed-size query side is broadcast (one
    map-side pass over the corpus, never a doc x doc shuffle) and the
    per-(label, token) max partial-aggregates before its exchange."""
    plan = plan_of(spark, sf_dir, "sim_maxsim_multivector")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_max" in plan


def test_zorder_tiles_broadcast_minmax_single_scan(spark, sf_dir):
    """layout_zorder_tiles: the min/max scaling bounds come from an
    in-plan broadcast one-row aggregate (no driver collect) and the
    Morton key + tile rollup partial-aggregates map-side."""
    plan = plan_of(spark, sf_dir, "layout_zorder_tiles")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_plan_audit_tool(spark, sf_dir):
    """plans/audit.py: the lint encodes the suite's scale rules — a
    broadcast star join audits clean, a known-python query is exempt via
    tags, and the full-registry lint reports no violations."""
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.plans.audit import audit_query, audit_text, lint

    a = audit_query(spark, sf_dir, "join_inner_broadcast")
    assert a.broadcast_joins >= 1 and not a.warnings
    u = audit_query(spark, sf_dir, "udf_scalar_pandas")
    assert u.python_eval >= 1 and not u.warnings  # exempted by tag
    # a synthetic bad plan trips the cartesian rule
    bad = audit_text("x", "CartesianProduct\n  FileScan parquet")
    assert lint(bad, ())
    # the fixed triangle count no longer re-derives its edge pipeline
    t = audit_query(spark, sf_dir, "graph_triangle_count")
    assert t.exchanges < 30 and not t.warnings


def test_audit_unpartitioned_window_rule(spark):
    """Round-4 verdict item: the lint must flag a Window with no
    partition spec (whole input through ONE task) while leaving
    partition-only and partitioned windows alone."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.plans.audit import audit_text, lint

    df = spark.range(10).withColumn("g", F.col("id") % 2)

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    bad = audit_text("bad", plan(df.select(F.row_number().over(W.orderBy("id")).alias("r"))))
    assert bad.unpartitioned_windows == 1
    assert any("unpartitioned Window" in w for w in lint(bad, ()))
    # partition-only spec (no order) also prints 2 bracket groups — must
    # NOT be confused with an order-only (unpartitioned) spec
    pon = audit_text(
        "pon", plan(df.select("g", F.count(F.lit(1)).over(W.partitionBy("g")).alias("c")))
    )
    assert pon.unpartitioned_windows == 0
    part = audit_text(
        "part", plan(df.select(F.row_number().over(W.partitionBy("g").orderBy("id")).alias("r")))
    )
    assert part.unpartitioned_windows == 0 and not lint(part, ())


def test_audit_would_have_caught_round4_offenders():
    """The allowlist bounds each fixed query at its single <=64-row
    offsets window; the pre-fix shape (an unlisted query, or a second
    unpartitioned window in a listed one) fails the lint."""
    from oracle_parquet_dumper_spark.plans.audit import PlanAudit, lint

    # events_rfm_segments has NO allowlist entry: one unpartitioned
    # window (the round-4 shape had three) is a violation
    assert lint(PlanAudit(name="events_rfm_segments", unpartitioned_windows=1), ())
    # listed queries are bounded at their recorded count, not blanket-exempt
    assert lint(PlanAudit(name="dq_histogram_equidepth", unpartitioned_windows=2), ())
    assert not lint(PlanAudit(name="dq_histogram_equidepth", unpartitioned_windows=1), ())


def test_audit_raw_global_sort_descendant_only():
    """ADVICE round-4 (audit.py:75): an aggregate in a SIBLING subtree
    printed after the sort must not exempt a raw full-shuffle sort — the
    aggregate has to be in the sort's own descendants."""
    from oracle_parquet_dumper_spark.plans.audit import audit_text

    sibling = (
        "SortMergeJoin [a], [b], Inner\n"
        ":- Sort [a ASC NULLS FIRST], true, 0\n"
        ":  +- FileScan parquet\n"
        "+- HashAggregate(keys=[b], functions=[count(1)])\n"
        "   +- FileScan parquet\n"
    )
    assert audit_text("x", sibling).raw_global_sorts == 1
    covered = (
        "Sort [a ASC NULLS FIRST], true, 0\n"
        "+- HashAggregate(keys=[a], functions=[count(1)])\n"
        "   +- FileScan parquet\n"
    )
    assert audit_text("x", covered).raw_global_sorts == 0


def test_rewritten_window_queries_audit_clean(spark, sf_dir):
    """The three round-4 single-partition-window queries (plus the two
    vocabulary rankers and RRF upgraded alongside) now lint clean: no
    unpartitioned window beyond each query's allowlisted bounded-offsets
    one, and the data-bearing windows are partitioned."""
    from oracle_parquet_dumper_spark.plans.audit import (
        BOUNDED_UNPARTITIONED_WINDOWS,
        audit_query,
    )

    for name in (
        "dq_histogram_equidepth",
        "events_rfm_segments",
        "window_percent_cume",
        "text_vocab_coverage",
        "text_zipf_fit",
        "sim_reciprocal_rank_fusion",
    ):
        a = audit_query(spark, sf_dir, name)
        assert not a.warnings, f"{name}: {a.warnings}"
        allowed, _ = BOUNDED_UNPARTITIONED_WINDOWS.get(name, (0, ""))
        assert a.unpartitioned_windows <= allowed, name


def test_seasonal_profile_broadcasts_profile(spark, sf_dir):
    """The 5x24 profile must broadcast back onto the events scan — a
    fact-fact shuffle here would move the whole log twice."""
    plan = plan_of(spark, sf_dir, "ts_seasonal_profile_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_kmeans_broadcasts_representatives(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_semantic_kmeans")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_attribution_single_window_exchange(spark, sf_dir):
    """Last-touch attribution = one user_id window pass + one bounded
    agg; no self-join against the touch subset."""
    plan = plan_of(spark, sf_dir, "events_attribution_last_touch")
    assert plan.count("Exchange") <= 3  # window shuffle + agg + result
    assert "Join" not in plan


def test_minhash_accuracy_joins_only_candidates(spark, sf_dir):
    """The exact-Jaccard verification must join shingle sets onto the
    candidate pairs (broadcast/hash), never build an all-pairs stage."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_accuracy_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_moving_median_bounded_frame_window(spark, sf_dir):
    """The rolling median's collect_list frame is bounded rows — the
    window must be partitioned (no global WindowExec)."""
    plan = plan_of(spark, sf_dir, "window_moving_median")
    assert "Window" in plan
    assert "No Partition Defined" not in plan


def test_not_in_nullable_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN over a nullable subquery must use the null-aware anti
    join (the trailing `true` flag on the LeftAnti BHJ) — a plain
    LeftAnti would return wrong rows under three-valued logic."""
    plan = plan_of(spark, sf_dir, "join_null_aware_anti")
    assert "LeftAnti, BuildRight, true" in plan


def test_lateral_topk_decorrelates_to_ranked_join(spark, sf_dir):
    """The LATERAL ORDER BY + LIMIT subquery must decorrelate — no
    per-row iteration artifacts (cartesian/BNLJ) in the executed plan."""
    plan = plan_of(spark, sf_dir, "subquery_lateral_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zonemap_cells_exchange_reused(spark, sf_dir):
    """layout_zonemap_pruning's (ztile, keytile, probe) cell aggregate
    feeds three consumers (two layout rollups + matching counts); the
    plan must REUSE that exchange, not rescan lineitem per consumer —
    physical lineitem passes stay at two (bounds agg + cells) at any
    scale.  Exchange reuse is an AQE-final-plan property, so execute
    first and read the adaptive plan."""
    df = REGISTRY["layout_zonemap_pruning"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2
    assert "CartesianProduct" not in plan


def test_ewma_single_window_single_exchange(spark, sf_dir):
    """All 7 lag()s share one frame -> ONE WindowExec over ONE user_id
    exchange; no joins, no extra passes."""
    plan = plan_of(spark, sf_dir, "window_ewma_truncated")
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_snapshot_diff_ships_digests_only(spark, sf_dir):
    """dq_snapshot_diff's full-outer join must move (key, digest) pairs
    only: the exchanges under the SMJ carry exactly the join key and
    the md5 column, never row bodies (o_custkey/o_orderstatus are
    consumed map-side by the digest)."""
    plan = plan_of(spark, sf_dir, "dq_snapshot_diff")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(k_(old|new)[^\n]*", plan):
        line = m.group(0)
        assert "o_orderstatus" not in line and "o_custkey" not in line


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """At 100 TB the single biggest shuffle saver on selective
    fact-dim joins is Spark's RUNTIME bloom-filter injection: the
    selective side's join keys build a bloom filter that is pushed
    into the fact scan as might_contain(), dropping non-matching rows
    BEFORE the exchange.  This pins the recipe (thresholds must be
    opened up — the defaults assume 10GB+ scans) and that the rewrite
    actually fires on this engine version."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # force a shuffle join: under a broadcast join Spark (correctly)
        # skips the bloom filter — the broadcast hash set already prunes
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        # and it guards the FACT side's scan subtree (filter on l_orderkey)
        assert any(
            "might_contain" in ln and "l_orderkey" in ln for ln in plan.splitlines()
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_adamic_adar_no_broadcast_one_reused_exchange(spark, sf_dir):
    """VERDICT r7 #1: graph_adamic_adar must NOT broadcast the degree
    relation (O(#parts) — data-sized at 100 TB) and its one-reused-
    p-exchange story must hold in the EXECUTED plan.  The r8 rewrite
    computes the degree as a count() window riding the repartition("p")
    exchange (no degree join at all, no localCheckpoint dropping
    outputPartitioning), so the final plan is: ONE lineitem scan, the
    distinct exchange, the p-repartition exchange (reused by the wedge
    b-side via ReusedExchange), one wedge SortMergeJoin, one pair-agg
    exchange, TakeOrderedAndProject."""
    from oracle_parquet_dumper_spark.plans import REGISTRY

    df = REGISTRY["graph_adamic_adar"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE appends the initial plan
    assert "BroadcastExchange" not in final
    assert final.count("ReusedExchange") >= 1
    assert final.count("Scan parquet") == 1
    assert final.count("SortMergeJoin") == 1
    fresh_exchanges = sum(  # ReusedExchange lines echo the reused node's text
        1
        for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    )
    assert fresh_exchanges <= 3
    assert "TakeOrderedAndProject" in final


def test_audit_broadcast_build_boundedness_rule(spark, sf_dir):
    """Round-7 verdict #2: a forced F.broadcast whose build side scans a
    base table with no domain-bounding node must fail the lint — the
    exact shape (broadcast of a key-grouped, data-sized degree relation)
    that graph_adamic_adar shipped in round 7 and the old bcast_join
    counter silently passed.  Bounded shapes (1-row folds, GlobalLimit,
    bounded-domain groupBys, region/nation dims) must pass."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.sources.tables import load_table
    from oracle_parquet_dumper_spark.plans.audit import (
        PlanAudit,
        _unbounded_broadcast_builds,
        lint,
    )

    def logical(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    deg = ps.groupBy("p").agg(F.count(F.lit(1)).alias("d"))  # O(#parts) rows

    # the round-7 offender: forced broadcast of the key-grouped relation
    hinted, bad = _unbounded_broadcast_builds(logical(ps.join(F.broadcast(deg), "p")))
    assert hinted == 1 and len(bad) == 1
    a = PlanAudit(name="not_allowlisted")
    a.hinted_broadcasts, a.unbounded_broadcast_builds = hinted, bad
    assert any("forced-broadcast" in w for w in lint(a, ()))

    # 1-row fold: bounded
    tot = li.agg(F.count(F.lit(1)).alias("n"))
    hinted, bad = _unbounded_broadcast_builds(logical(ps.crossJoin(F.broadcast(tot))))
    assert hinted == 1 and bad == []

    # GlobalLimit: bounded
    q = ps.orderBy("p").limit(8).select(F.col("p").alias("qp"))
    hinted, bad = _unbounded_broadcast_builds(
        logical(ps.join(F.broadcast(q), F.col("p") == F.col("qp")))
    )
    assert hinted == 1 and bad == []

    # bounded-domain groupBy (l_returnflag: 3 values at any SF): bounded
    fl = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    hinted, bad = _unbounded_broadcast_builds(logical(li.join(F.broadcast(fl), "l_returnflag")))
    assert hinted == 1 and bad == []

    # constant catalog dim (nation): bounded
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    hinted, bad = _unbounded_broadcast_builds(
        logical(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey))
    )
    assert hinted == 1 and bad == []

    # allowlisted query: bounded at its recorded count, not blanket-exempt
    a = PlanAudit(name="sim_topk_bruteforce")
    a.unbounded_broadcast_builds = ["x"]
    assert not lint(a, ())
    a.unbounded_broadcast_builds = ["x", "y"]
    assert any("forced-broadcast" in w for w in lint(a, ()))


def test_audit_bounded_domains_are_query_scoped(spark, sf_dir):
    """ADVICE r8: generic names ('src', 'dst', 'a', 'b', 't', 'status',
    'day') must NOT be blanket-bounded — graph relations use src/dst for
    data-sized supplier ids, dedup pair joins alias doc_id to a/b.  A
    forced broadcast of a groupBy('src') degree relation over part keys
    must fail the lint under the GLOBAL table and under any query scope
    that doesn't register 'src'; only the markov queries (whose src IS
    the ~12-value event-type domain) get the scoped entry."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.plans.audit import (
        BOUNDED_DOMAIN_COLS,
        QUERY_BOUNDED_DOMAIN_COLS,
        _bounded_cols,
        _unbounded_broadcast_builds,
    )
    from oracle_parquet_dumper_spark.sources.tables import load_table

    for generic in ("src", "dst", "a", "b", "t", "status", "priority", "flag", "day"):
        assert generic not in BOUNDED_DOMAIN_COLS, (
            f"'{generic}' blanket-bounded again — scope it per query "
            "(QUERY_BOUNDED_DOMAIN_COLS)"
        )

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))  # O(#parts)
    logical = (
        edges.join(F.broadcast(deg), "src")._jdf.queryExecution().optimizedPlan().toString()
    )
    # unscoped (global table only): the r7 defect shape must be flagged
    hinted, bad = _unbounded_broadcast_builds(logical, _bounded_cols("graph_pagerank"))
    assert hinted == 1 and len(bad) == 1
    # the markov scope blesses ITS OWN src (event-type domain) — the
    # same plan text passes there, which is exactly why the scope must
    # be per-query, not global
    hinted, bad = _unbounded_broadcast_builds(
        logical, _bounded_cols("events_markov_transitions")
    )
    assert hinted == 1 and bad == []
    assert "src" in QUERY_BOUNDED_DOMAIN_COLS["events_markov_transitions"]


def test_pagerank_bucketed_edges_never_exchange(spark, sf_dir):
    """graph_pagerank_bucketed's structural claim: with auto-broadcast
    disabled (the 100 TB regime, where the node-sized ranks relation no
    longer fits a broadcast), the per-round edges⋈ranks join reads the
    bucketBy(src) table's own clustering — the edge relation crosses
    ZERO exchanges; only ranks and the dst aggregate shuffle."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.operators.graph import pagerank_edge_state

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        table = pagerank_edge_state(spark, sf_dir)
        ed = spark.table(table)
        ranks = (
            ed.groupBy("src")
            .agg(F.first("deg").alias("deg"))
            .select(F.col("src").alias("node"), F.lit(100).alias("r"))
            .localCheckpoint(eager=True)  # same lost-partitioning state as a real round
        )
        body = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("sc"))
        )
        body.collect()
        plan = body._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in final  # the edge scan uses its buckets
        assert final.count("SortMergeJoin") == 1
        fresh = [
            ln
            for ln in final.splitlines()
            if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
        ]
        # ranks -> hashpartitioning(node), agg -> hashpartitioning(dst);
        # NO exchange keyed on the edge table's src column
        assert len(fresh) == 2
        assert not any("src#" in ln for ln in fresh)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_label_prop_bucketed_edges_never_exchange(spark, sf_dir):
    """dedup_label_propagation_bucketed's structural claim (VERDICT r8
    "Next" #4): with auto-broadcast disabled (the 100 TB regime, where
    the labels relation no longer fits a broadcast), the per-round vote
    join reads the bucketBy(y) edge table's own clustering — the
    |E|-sized edge relation crosses ZERO exchanges; only labels and the
    per-node vote aggregate shuffle."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.operators.dedup import label_prop_edge_state

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        table = label_prop_edge_state(spark, sf_dir)
        ed = spark.table(table)
        labels = (
            ed.select(F.col("y").alias("doc_id"))
            .distinct()
            .limit(50)
            .select("doc_id", F.lit("en").alias("assigned"))
            .localCheckpoint(eager=True)  # same lost-partitioning state as a real round
        )
        body = (
            ed.join(labels, ed.y == labels.doc_id)
            .groupBy("x", "assigned")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        body.collect()
        plan = body._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in final  # the edge scan uses its buckets
        assert final.count("SortMergeJoin") == 1
        fresh = [
            ln
            for ln in final.splitlines()
            if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
        ]
        # labels -> hashpartitioning(doc_id), agg -> hashpartitioning(x, assigned);
        # NO exchange keyed on the edge table's y column
        assert len(fresh) == 2
        assert not any(" y#" in ln or "(y#" in ln for ln in fresh)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
