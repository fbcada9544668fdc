"""Physical-plan auditing: parse a query's executed plan into a
structured report and lint it against the engine's scale rules.

The rules are the ones SCALING.md argues and tests/test_plans.py pins
per-query; this module makes them a reusable, user-facing tool:

    python -m oracle_parquet_dumper_spark.plans.audit q1_pricing_summary
    python -m oracle_parquet_dumper_spark.plans.audit --all

``--all`` lints every registered query and exits non-zero if any
non-exempt query violates a rule — the same contract the test suite
enforces, usable against a live cluster before shipping a new query.
The reference has no planner at all (its only "plan" is generated SQL
text, main.py:144-146); this is Part B engine tooling.
"""

from __future__ import annotations

import contextlib
import re
from dataclasses import dataclass, field


@dataclass
class PlanAudit:
    name: str
    exchanges: int = 0
    checkpoint_fragments: int = 0
    broadcast_exchanges: int = 0
    broadcast_joins: int = 0
    sort_merge_joins: int = 0
    nested_loop_joins: int = 0
    cartesian_products: int = 0
    global_sorts: int = 0
    raw_global_sorts: int = 0
    take_ordered: int = 0
    python_eval: int = 0
    scans: int = 0
    pushed_filter_scans: int = 0
    codegen_stages: int = 0
    unpartitioned_windows: int = 0
    quantile_bucketers: int = 0
    exact_percentiles: int = 0
    hinted_broadcasts: int = 0
    banded_joins: int = 0
    unbounded_broadcast_builds: list[str] = field(default_factory=list)
    unbounded_cross_fragments: list[str] = field(default_factory=list)
    bounded_partition_windows: list[str] = field(default_factory=list)
    aqe: bool = False
    warnings: list[str] = field(default_factory=list)


def _nodes(plan: str) -> list[tuple[int, str]]:
    """Parse the executedPlan string into (depth, operator-text) lines.

    Spark prints one operator per line, children indented under parents
    with ``+-``/``:-`` markers; the marker column IS the tree depth, so
    node i's descendants are exactly the following lines with a larger
    marker column (until one at <= its column).  WholeStageCodegen's
    ``*(N)`` prefix sits after the marker and doesn't disturb this.
    """
    out: list[tuple[int, str]] = []
    for ln in plan.splitlines():
        m = re.search(r"(\+-|:-) ", ln)
        if m:
            out.append((m.start(), ln[m.end():]))
        elif ln.strip():
            out.append((-1, ln.strip()))  # root — everything descends from it
    return out


def _descendants(nodes: list[tuple[int, str]], i: int):
    d = nodes[i][0]
    for j in range(i + 1, len(nodes)):
        if nodes[j][0] <= d:
            return
        yield nodes[j][1]


_AGG_RE = re.compile(r"(?:Hash|Sort|ObjectHash)Aggregate")


def _bracket_group_texts(text: str) -> list[str]:
    """Top-level ``[...]`` argument groups of an operator line.
    ``Window [funcs], [order]`` (2 groups, 2nd is an ORDER spec) is
    unpartitioned; ``Window [funcs], [partition]`` (2 groups, no order
    markers — e.g. ``count(*) OVER (PARTITION BY g)``) and
    ``Window [funcs], [partition], [order]`` (3 groups) are partitioned."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in text:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
        elif depth > 0:
            buf.append(ch)
    return groups


_ORDER_SPEC_RE = re.compile(r" (?:ASC|DESC) NULLS")


def _bounded_partition_window(text: str, bounded: dict[str, str]) -> bool:
    """True for a partitioned Window whose ENTIRE partition spec is
    bounded-domain columns — parallelism is then capped at the domain
    product no matter how large the input or the cluster (the round-12
    finding: Spearman's RANK over 3 return flags ran at parallelism 3
    and measured 6.48x/decade; profile_gini rode the same 5.72x curve).
    Invisible to the unpartitioned-window rule (the spec exists) and to
    the exchange counter (one exchange, correctly keyed), so it gets
    its own detector.  A spec with ANY unbounded column (a tie-group
    window like (flag, value)) keys on data and is fine."""
    if not re.match(r"(?:\*\(\d+\) )?Window \[", text):
        return False
    groups = _bracket_group_texts(text)
    if len(groups) != 3:
        return False
    cols = _split_top_level(groups[1])
    if not cols:
        return False
    for c in cols:
        m = _COL_NAME_RE.match(c)
        if not m or m.group(1) not in bounded:
            return False
        if m.group(1) in ("_gb", "_qb"):
            # the global index's OWN within-bucket windows partition by
            # (group, _gb) — the bucket id is the synthetic parallelism
            # unit this rule prescribes, sized to the cluster, not a
            # natural domain that silently caps it
            return False
    return True


def _windowed_subtree_is_data_sized(
    nodes: list[tuple[int, str]], i: int, bounded: dict[str, str]
) -> bool:
    """Whether Window node i's input subtree is data-sized: it scans a
    file/RDD relation with NO intervening bounded-cardinality fold.  A
    HashAggregate (or logical Aggregate) whose every grouping key is
    bounded caps the relation at the domain product; a window riding
    such a rollup is domain-sized work regardless of the scan below."""
    d = nodes[i][0]
    for j in range(i + 1, len(nodes)):
        dj, tj = nodes[j]
        if dj <= d:
            break
        m = re.match(r"(?:\*\(\d+\) )?(?:HashAggregate|SortAggregate|"
                     r"ObjectHashAggregate)\(keys=\[([^\]]*)\]", tj)
        if m is None and re.match(r"Aggregate \[", tj):
            g = _bracket_group_texts(tj)
            m = g[0] if len(g) == 2 else None
            keys = _split_top_level(m) if isinstance(m, str) else None
        else:
            keys = _split_top_level(m.group(1)) if m else None
        if keys is not None:
            if keys and all(
                (cm := _COL_NAME_RE.match(k)) and cm.group(1) in bounded
                for k in keys
            ):
                return False  # bounded rollup between window and scan
            continue
        if re.search(r"FileScan|BatchScan|Scan ExistingRDD", tj):
            return True
    return False


# Written waivers for bounded-partition-spec windows over data-sized
# inputs — the LSH_BAND_DOMAIN_RULINGS convention: each entry argues why
# the capped parallelism is acceptable AT ITS INPUT'S growth rate, and
# adding one without justification is a review-visible act.
BOUNDED_PARTITION_WINDOW_WAIVERS: dict[str, str] = {
    # --- mis-detections the text heuristic cannot prove bounded -------
    "events_markov_top1_accuracy": (
        "window input is the (prev,cur) transition matrix, <= |type "
        "domain|^2 rows — the bounding rollup is present but its keys "
        "are expression aliases the subtree heuristic can't resolve"
    ),
    "events_seasonal_decompose": (
        "window input is the (type, day) calendar grid — calendar-"
        "bounded upstream, same argument as its QUERY_BOUNDED entry"
    ),
    "stream_cumulative_distinct": (
        "window input is the (type, first-seen-day) grid — calendar-"
        "bounded; the user-sized work happened in the min-date groupBy"
    ),
    "pipeline_global_shuffle": (
        "partition key is the SHUF_BUCKETS synthetic shuffle bucket — "
        "the deliberate parallelism unit (the _gb argument), declared "
        "in QUERY_BOUNDED_DOMAIN_COLS"
    ),
    # --- genuinely domain-capped windows, argued or queued ------------
    "agg_listagg_ordered": (
        "ordered LISTAGG per status: an order-sensitive concatenation "
        "is sequential per group BY SEMANTICS; output is one row per "
        "3-value domain — capped parallelism is the operator"
    ),
    # (round 13 burned down the six queued rewrite waivers — kmv,
    # weighted-percentile, bigram-topk, engagement rollup, domain
    # mixture, per-group reservoir — on the global-index / grouped_topk
    # mechanics; decade ratios before/after in SCALING.md round-13.)
    "window_range_numeric": (
        "RANGE-frame surface demo over o_orderstatus — the window-"
        "function API coverage query; the scale path for global order "
        "statistics is operators/global_index.py (cross-referenced)"
    ),
    "window_rank_dense_ntile": (
        "rank/dense_rank/ntile surface demo over o_orderstatus — same "
        "ruling as window_range_numeric"
    ),
}


def _is_unpartitioned_window(text: str) -> bool:
    if not re.match(r"(?:\*\(\d+\) )?Window \[", text):
        return False
    groups = _bracket_group_texts(text)
    # 3 groups = funcs/partition/order; 2 groups is unpartitioned only
    # when the 2nd group is an order spec (a partition spec has no
    # ASC/DESC markers).
    return len(groups) == 2 and bool(_ORDER_SPEC_RE.search(groups[1]))


# Queries allowed to violate a rule, with the reason recorded here so an
# exemption is a documented decision, not a silent skip.
EXEMPT: dict[str, set[str]] = {
    # pandas/python execution is the point of the UDF surface + the
    # mapInPandas multimodal kernels
    "python": {"udf", "pandas_udf", "multimodal", "iterative"},
    # demo-tagged queries knowingly keep the naive shape
    "demo": {"demo"},
}

# An unpartitioned WindowExec funnels its ENTIRE input through one task —
# the 100 TB scale-killer this lint exists to catch (round-4 verdict:
# dq_histogram_equidepth / events_rfm_segments / window_percent_cume all
# passed the old lint because no rule covered the class; all three are
# now rewritten on operators/global_index.py).  The shape is only legal
# over a relation whose row count is BOUNDED regardless of data size, so
# every occurrence must be allowlisted here BY QUERY NAME with its bound
# — an unlisted query (or one exceeding its recorded count) fails the
# lint.  max_count keeps an exemption from silently covering a second,
# accidental unpartitioned window added later.
BOUNDED_UNPARTITIONED_WINDOWS: dict[str, tuple[int, str]] = {
    # the two-pass pattern's own offsets window: runs over the
    # per-bucket count relation (<= DEFAULT_BUCKETS/SHUF_BUCKETS rows
    # whatever the data size), never over data rows
    "pipeline_global_shuffle": (1, "bucket offsets, <= SHUF_BUCKETS rows"),
    "dq_histogram_equidepth": (1, "bucket offsets, <= 64 rows"),
    "window_percent_cume": (1, "bucket offsets, <= 64 rows"),
    "text_vocab_coverage": (1, "bucket offsets, <= 64 rows"),
    "text_zipf_fit": (1, "bucket offsets, <= 64 rows"),
    # cumulative sum over the AGGREGATED (n_tok -> count) length
    # distribution — rows = distinct document lengths, not documents
    "clean_length_band": (1, "aggregated length distribution"),
    # trailing average over per-month counts — rows = calendar months
    "dq_partition_completeness": (1, "per-month counts"),
    # reverse cumsum + total over the per-lifetime-day distribution —
    # rows = observation-window days (29 at the fixture), not users
    "events_survival_hazard": (1, "per-lifetime-day counts"),
    # KS runs the global-index primitive UNGROUPED (the ECDF order is
    # global), so its bucket-offsets window is unpartitioned — over the
    # <= 64-row bucket-count relation only
    "agg_ks_two_sample": (1, "bucket offsets, <= 64 rows"),
    # Mann-Whitney midranks: same ungrouped global-index shape as KS
    "agg_mannwhitney_u": (1, "bucket offsets, <= 64 rows"),
    # conversion-lag order statistics: ungrouped global index over the
    # per-user lag relation
    "events_conversion_lag_percentiles": (1, "bucket offsets, <= 64 rows"),
    # skyline sweep: per-bucket min-size prefix minima over <= 64 rows
    "window_skyline_pareto": (1, "bucket prefix minima, <= 64 rows"),
    # winsorize bounds: ungrouped global index (quantile bucketer) over
    # the orders relation; the offsets and totals windows stay separate
    # nodes under the checkpointed-boundaries subtree, both <= 64 rows
    "clean_winsorize_scale": (2, "bucket offsets + totals, <= 64 rows each"),
    # greedy budget fill: cumulative sum over the per-source aggregate
    # (bounded by the source catalog, never by data)
    "pipeline_token_budget_fill": (1, "source-level relation, <= #sources rows"),
    # global_index bucket-offsets window (<= 64 rows); it appears TWICE
    # because the indexed relation feeds both sides of the banded
    # neighbor self-join (the shuffle under it is reused, the 64-row
    # window recomputes per consumer — free)
    "dedup_sorted_neighborhood": (2, "bucket offsets, <= 64 rows x 2 join sides"),
    # two passes (forward + reversed key) x two join sides of each
    # banded self-join — four references to <= 64-row offsets windows
    "dedup_sorted_neighborhood_multipass": (
        4,
        "bucket offsets, <= 64 rows x 2 passes x 2 join sides",
    ),
    # uplift deciles: ungrouped global index over the per-user score
    # relation — offsets window over the <= 64-row bucket counts
    "events_uplift_by_decile": (1, "bucket offsets, <= 64 rows"),
    # Neyman allocation: largest-remainder windows over the stratum
    # relation (<= #strata rows; the grouped global index used for
    # per-stratum selection partitions its windows by stratum)
    "sample_stratified_neyman": (1, "stratum relation, <= #strata rows"),
    # curriculum phases: ungrouped global index (pass 1) offsets window
    # over <= 64 bucket counts; pass 2's windows partition by phase
    "pipeline_curriculum_order": (1, "bucket offsets, <= 64 rows"),
    # systematic every-k sample: ungrouped global index over orders —
    # the offsets window runs over the <= 64-row bucket counts only
    "sample_systematic_interval": (1, "bucket offsets, <= 64 rows"),
    # exact EMD: ungrouped WEIGHTED global index (cumulative CDF) —
    # offsets + weight-totals windows over <= 64 bucket rows, plus the
    # r15 next-bucket-first lead over the <= 64-row bucket-firsts fold
    "dq_drift_emd_numeric": (3, "bucket offsets + weight totals + next-bucket firsts, <= 64 rows each"),
}

# A FORCED F.broadcast()/hint("broadcast") overrides AQE's size
# threshold AT ANY SCALE, so its build side must be provably bounded
# regardless of data size.  The audit reads the OPTIMIZED LOGICAL plan
# (the only place hints survive as text) and, for each broadcast-hinted
# join side, requires every base relation in that subtree to sit under
# a 1-row aggregate or a GlobalLimit — or be a constant-cardinality
# catalog dim (region=5 / nation=25 rows at EVERY scale factor).
# Anything else (raw base tables, key-grouped aggregates whose group
# count is data-sized — the graph_adamic_adar O(#parts) degree relation
# that motivated this rule, VERDICT r7 #1/#2) must be allowlisted HERE
# by query name with its recorded bound; an unlisted occurrence (or one
# exceeding its count) fails the lint.  Auto/AQE broadcasts are exempt
# by construction: they are size-gated at runtime and simply don't
# happen at 100 TB.
BROADCAST_BUILD_ALLOWLIST: dict[str, tuple[int, str]] = {
    # ANN/kNN query batches: a bounded query set selected by key
    # (vec_id = 0, or vec_id < 8 for the multivector set) — the
    # "broadcast query batch" protocol; at scale the batch is the
    # user's query payload, never the corpus.
    "sim_ann_lsh": (1, "1 query vector (vec_id = 0)"),
    "sim_ann_lsh_multiprobe": (1, "1 query vector (vec_id = 0)"),
    "sim_range_search_radius": (1, "1 query vector (vec_id = 0)"),
    "sim_knn_classify_majority": (1, "1 query vector (vec_id = 0)"),
    "sim_ivf_coarse": (1, "1 query vector (vec_id = 0)"),
    "sim_maxsim_multivector": (1, "8 query token vectors (vec_id < 8)"),
    "sim_reciprocal_rank_fusion": (4, "1 query vector x 2 rankers x 2 index passes"),
    "sim_mmr_diversified_topk": (1, "1 query vector (vec_id = 0)"),
    "sim_topk_bruteforce": (1, "1 query vector (vec_id = 0)"),
    "sim_topk_hamming_binary": (1, "1 query vector (vec_id = 0)"),
    "sim_topk_mips": (1, "1 query vector (vec_id = 0)"),
    "sim_topk_quantized_int8": (1, "1 query vector (vec_id = 0)"),
    # incremental-dedup admission: the broadcast side is ONE crawl
    # batch (doc_id % INC_MOD) — bounded by the admission batch size
    # at scale, by protocol (the corpus side always streams).
    "dedup_incremental": (1, "one admission batch of band rows"),
    "dedup_incremental_stored": (3, "one admission batch: digests + bands + digest re-probe"),
    # BM25: the df relation is filtered to the literal query terms
    # (w IN (...)) before the aggregate — <= #query-terms rows.
    "text_bm25_search": (1, "df of the 3 literal query terms"),
    # zonemap probe rollup: grouped on the probe key, <= 8 probe rows
    # (spark.range(8) drives the probe set).
    "layout_zonemap_pruning": (1, "per-probe match counts, <= 8 probe keys"),
    # argmax set: suppliers whose revenue equals the broadcast 1-row
    # global max — ties only, ~1 row at any scale.
    "q15_top_supplier": (1, "argmax supplier set (revenue = global max)"),
}

# Columns whose cardinality is data-size-INDEPENDENT: fixed catalog
# domains (TPC-H flag/status/segment/priority columns), fixed algorithm
# parameters (bucket counts, sketch widths, k-means k), or calendar
# axes.  A grouped Aggregate whose every grouping key is listed here is
# a bounded relation (its row count is the product of these domains),
# and a checkpointed LogicalRDD whose FIRST column is listed here is
# recognized as the materialized form of such an aggregate.  Bounds are
# recorded so an entry is a documented decision.
BOUNDED_DOMAIN_COLS: dict[str, str] = {
    "_gb": "global-index bucket id, <= 64 (operators/global_index.py)",
    "_qb": "global-index quantile boundary array, <= 63 values/group",
    "event_type": "event-type domain, ~12",
    "prev_type": "event-type domain (markov)",
    "cur_type": "event-type domain (markov)",
    "lang": "language domain, <= ~10",
    "source": "source-catalog domain",
    "label": "embedding label domain",
    "cluster": "k-means cell id, k fixed",
    "l_returnflag": "3 (TPC-H)",
    "l_linestatus": "2 (TPC-H)",
    "l_shipmode": "7 (TPC-H)",
    "o_orderpriority": "5 (TPC-H)",
    "o_orderstatus": "3 (TPC-H)",
    "c_mktsegment": "5 (TPC-H)",
    "metric": "RFM metric axis, 3 literals",
    "phase": "curriculum phases, 3",
    "stratum": "stratification domain",
    "dep": "CMS sketch depth, 4",
    "hr": "hour of day, 24",
    "band": "LSH band id, fixed band count",
}

# Generic names are bounded only in the SPECIFIC query that aliases a
# fixed domain to them (ADVICE r8): a global entry for 'src'/'dst'/'a'/
# 'b'/'t'/'status'/'priority'/'flag'/'day' would blanket-bless
# broadcasts of data-sized relations that share the name — graph edges
# use src/dst for supplier/doc ids, the dedup pair joins alias
# doc_id/vec_id/c_custkey to a/b.  Keyed by query name; merged over
# BOUNDED_DOMAIN_COLS for that query only.
QUERY_BOUNDED_DOMAIN_COLS: dict[str, dict[str, str]] = {
    "events_markov_transitions": {
        "src": "event-type domain (markov), ~12",
        "dst": "event-type domain (markov), ~12",
    },
    "events_markov_top1_accuracy": {
        "src": "event-type domain (markov), ~12",
        "dst": "event-type domain (markov), ~12",
    },
    "events_audience_overlap": {"t": "event-type alias, ~12"},
    "profile_mutual_information": {
        "a": "MI axis alias (o_orderstatus), 3",
        "b": "MI axis alias (o_orderpriority), 5",
    },
    "agg_sketch_panel": {"b": "CMS width bucket, <= 16384 fixed"},
    "agg_approx": {"b": "CMS width bucket, <= 16384 fixed"},
    "dq_k_anonymity": {
        "status": "3 (o_orderstatus alias)",
        "priority": "5 (o_orderpriority alias)",
    },
    "agg_chi_square_independence": {
        "rl": "5 (o_orderpriority alias)",
        "cl": "3 (o_orderstatus alias)",
    },
    "dq_association_cramers_v": {
        "rl": "row-level alias (o_orderpriority 5 / l_returnflag 3)",
        "cl": "col-level alias (o_orderstatus 3 / l_linestatus 2)",
    },
    "agg_cms_frequency": {"b": "CMS width bucket, <= 64 fixed"},
    "events_bloom_returning_users": {
        "w": "bloom word index, <= 2^20/63 = 16645 fixed",
    },
    "events_seasonal_decompose": {"dow": "weekday alias, 7"},
    "events_seasonal_anomaly": {
        "dow": "weekday alias, 7",
        # |residual| values exist only per (type, day) grid row — the
        # relation is calendar-bounded upstream (one residual per
        # active day), so its value-count groupBy is grid-sized, never
        # event-sized
        "a": "abs residual milli over the (type, day) grid, <= types x days",
        "detr_milli": "detrended milli over the (type, day) grid, <= types x days",
    },
    "pipeline_global_shuffle": {"b": "shuffle bucket, SHUF_BUCKETS fixed"},
    "events_dau_wau": {"day": "observed calendar days in the window"},
    "sample_stratified_neyman": {"flag": "3 (l_returnflag alias)"},
    "agg_winsorized_trimmed_mean": {"status": "3 (o_orderstatus alias)"},
    # the checkpointed 1-row node-count fold (materialized
    # Aggregate, graph.py): surfaces as LogicalRDD [nn] inside each
    # round's checkpoint fragment — visible only since the r11
    # capture_checkpoints fix made fragments lintable
    "graph_pagerank_bucketed": {"nn": "1-row node-count fold (checkpointed)"},
    # same checkpointed 1-row nn fold, now also in the non-bucketed
    # variant (r14: materializing nn once removed 5 per-round
    # re-aggregations over the checkpointed edge relation)
    "graph_pagerank": {"nn": "1-row node-count fold (checkpointed)"},
    # per-segment stats relation: grouped on the 5-value c_mktsegment
    # domain (aliased), broadcast back onto the fact rows for the
    # row-local ln term
    "agg_theil_decomposition": {"segment": "5 (c_mktsegment alias)"},
}


def _bounded_cols(name: str) -> dict[str, str]:
    """The bounded-domain table in effect for ONE query: the globally
    unambiguous names plus that query's scoped generic aliases."""
    merged = dict(BOUNDED_DOMAIN_COLS)
    merged.update(QUERY_BOUNDED_DOMAIN_COLS.get(name, {}))
    return merged

# The >10-exchange heuristic flags accidental subtree re-derivation.
# A query listed here runs a DELIBERATE multi-sweep algorithm whose
# exchange count is the algorithm, not an accident — the budget pins
# the expected count so growth still fails the lint.
EXCHANGE_BUDGET: dict[str, tuple[int, str]] = {
    # 2 independent sort passes x the single-pass shape (6 exchanges
    # each: quantile boundaries, bucket counts, within-bucket ranks /
    # band join sides) + the cross-pass distinct
    "dedup_sorted_neighborhood_multipass": (14, "2 SNM passes + union distinct"),
    # 5 independent FD probes, each a groupBy + 1-row fold over its own
    # table, unioned — exchanges scale with #candidates, not data
    "dq_functional_dependencies": (16, "5 FD probes x groupBy+fold"),
    # TWO sequential bucket-offset global-index passes (quantity ranks,
    # then price ranks on the quantile bucketer), each the standard
    # 6-exchange shape + the mid-rank tie windows — deliberate: the
    # single-exchange RANK() form ran at parallelism 3 (one task per
    # l_returnflag) and measured 6.48x/decade before the rewrite
    "agg_spearman_rank_corr": (17, "2 global-index passes + tie windows"),
}


# A banded candidate join's plan signature: a logical Join whose
# condition equi-matches BOTH a band and a bucket column — e.g. the
# self-join functions/lsh.py band_pairs runs over banded_buckets or
# dedup.minhash_band_rows rows, and the minhash_band_rows train x test
# and batch x corpus joins.  The pHash (band, val) and Levenshtein
# (band, v0, v1) keys do not match it.  The registry-level band-domain
# rule (VERDICT r9 #2, plans/registry.py) keys off self-declared lsh-family TAGS; this
# plan-level detector closes the escape hatch VERDICT r10 #5 names — a
# future bucketed operator that banding-joins WITHOUT self-tagging now
# trips the lint instead of silently skipping domain review.
# expr-ids print with an optional type suffix (band#1L for long), so
# the id pattern is #\d+\w*
_BANDED_JOIN_RE = re.compile(
    r"^Join\b(?=.*\bband#\d+\w* = band#\d+\w*)(?=.*\bbucket#\d+\w* = bucket#\d+\w*)"
)

# Queries allowed to carry a (band, bucket) equi-join WITHOUT an
# lsh-family tag.  Every entry is a written waiver, the
# LSH_BAND_DOMAIN_RULINGS convention: adding a name here without
# justification is a review-visible act.
BANDED_JOIN_WAIVERS: dict[str, str] = {}


def _banded_join_count(logical: str) -> int:
    return sum(
        1 for _, text in _nodes(logical) if _BANDED_JOIN_RE.search(text)
    )


# Exact node names — substring counting would double-count
# ArrowEvalPython (contains "EvalPython") and miss the grouped-map
# nodes (FlatMapGroupsInPandas is applyInPandas's operator).  Measured:
# the OPTIMIZED LOGICAL plan prints the same node names as the physical
# one for every Python-eval form (MapInPandas / ArrowEvalPython /
# BatchEvalPython / FlatMapGroupsInPandas...), so this one regex also
# covers checkpointed fragments (VERDICT r11 #4).
_PY_EVAL_RE = re.compile(
    r"\b(?:BatchEvalPython|ArrowEvalPython|MapInPandas|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"FlatMapGroupsInPandasWithState|PythonMapInArrow|MapInArrow)\b"
)

_JOIN_HINT_RE = re.compile(r"\bJoin\b.*\b(?:leftHint|rightHint)=\(")
_REL_RE = re.compile(r"^(?:Relation|LogicalRDD) \[([^\]]*)")
_BOUNDING_RE = re.compile(r"^(?:GlobalLimit) ")
_CONST_DIM_PREFIXES = ("r_", "n_")  # region (5 rows) / nation (25 rows)


def _subtree(nodes: list[tuple[int, str]], k: int) -> list[tuple[int, str]]:
    """Node k's subtree as (depth, text) lines, k included first."""
    dk = nodes[k][0]
    sub = [(dk, nodes[k][1])]
    for j in range(k + 1, len(nodes)):
        if nodes[j][0] <= dk:
            break
        sub.append(nodes[j])
    return sub


def _first_unbounded_relation(
    sub: list[tuple[int, str]], bounded: dict[str, str]
) -> str | None:
    """First base relation in the subtree NOT provably bounded — not a
    constant dim (region/nation), not a bounded-domain checkpoint, and
    not dominated by a bounding ancestor (GlobalLimit / 1-row fold /
    bounded-domain groupBy).  None means every relation is bounded, so
    the subtree's row count is data-size-independent.  Shared by the
    broadcast-build rule and the fragment cross-join rule: both hazards
    are 'an unbounded relation where only a bounded one is safe'."""
    for si, (sd, st) in enumerate(sub):
        m = _REL_RE.match(st)
        if not m:
            continue
        first_col = m.group(1).split(",")[0].split("#")[0].strip()
        if first_col.startswith(_CONST_DIM_PREFIXES):
            continue  # region/nation: constant rows at any SF
        if st.startswith("LogicalRDD") and first_col in bounded:
            # checkpointed bounded state (quantile boundaries,
            # per-domain rollups) — the aggregate that bounded
            # it is hidden behind the checkpoint, so the column
            # convention is the marker (bound recorded in
            # BOUNDED_DOMAIN_COLS)
            continue
        # ancestors of this relation within the subtree
        anc = [
            at
            for aj, (ad, at) in enumerate(sub[:si])
            if ad < sd and all(sub[x][0] > ad for x in range(aj + 1, si))
        ]
        if any(
            _BOUNDING_RE.match(t)
            or _is_one_row_aggregate(t)
            or _is_bounded_grouped_aggregate(t, bounded)
            for t in anc
        ):
            continue
        return first_col
    return None


def _unbounded_cross_joins(
    logical: str, bounded: dict[str, str] | None = None
) -> list[str]:
    """Logical ``Join Cross`` nodes where NEITHER side is provably
    bounded — the genuine pair blow-up.  A cross against a 1-row fold /
    limit / constant dim / bounded-domain aggregate passes: that is
    exactly the shape the physical planner turns into a cheap broadcast
    nested-loop, which is why the physical CartesianProduct rule alone
    was the wrong fragment lint (VERDICT r11 #4 — the old global waiver
    is replaced by this per-join boundedness proof)."""
    if bounded is None:
        bounded = BOUNDED_DOMAIN_COLS
    nodes = _nodes(logical)
    out: list[str] = []
    for i, (_, text) in enumerate(nodes):
        if not re.match(r"Join Cross\b", text):
            continue
        kids = _child_indices(nodes, i)
        if len(kids) < 2:
            continue
        sides = [
            _first_unbounded_relation(_subtree(nodes, k), bounded)
            for k in kids[:2]
        ]
        if all(s is not None for s in sides):
            out.append(
                f"Join Cross with both sides unbounded "
                f"([{sides[0]}...] x [{sides[1]}...])"
            )
    return out


def _child_indices(nodes: list[tuple[int, str]], i: int) -> list[int]:
    """Indices of node i's DIRECT children: the descendants at the
    minimal depth below i (Spark prints all children of a node at the
    same marker column)."""
    d = nodes[i][0]
    kids: list[int] = []
    child_depth: int | None = None
    for j in range(i + 1, len(nodes)):
        if nodes[j][0] <= d:
            break
        if child_depth is None:
            child_depth = nodes[j][0]
        if nodes[j][0] == child_depth:
            kids.append(j)
    return kids


def _is_one_row_aggregate(text: str) -> bool:
    """Logical ``Aggregate [aggexprs]`` (ONE bracket group) is a global
    1-row fold; ``Aggregate [keys], [exprs]`` (two groups) is grouped —
    its row count is the key domain.  A bare ``Aggregate`` (both lists
    empty — a global fold whose outputs were all pruned) is 1 row."""
    if text.strip() == "Aggregate":
        return True
    return bool(re.match(r"Aggregate \[", text)) and len(_bracket_group_texts(text)) == 1


_COL_NAME_RE = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)#\d+")


def _is_bounded_grouped_aggregate(text: str, bounded: dict[str, str]) -> bool:
    """Grouped ``Aggregate [keys], [exprs]`` whose every grouping key is
    a bare column from the query's bounded-domain table: row count is
    the product of fixed domains, data-size-independent.  A computed
    key or any key not in the table disqualifies."""
    if not re.match(r"Aggregate \[", text):
        return False
    groups = _bracket_group_texts(text)
    if len(groups) != 2:
        return False
    keys = _split_top_level(groups[0])
    if not keys:
        return False
    for k in keys:
        m = _COL_NAME_RE.match(k)
        if not m or m.group(1) not in bounded:
            return False
    return True


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested in (), [] — grouping-key lists may
    contain function calls with their own commas."""
    out, buf, depth = [], [], 0
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        if ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        out.append("".join(buf).strip())
    return out


def _unbounded_broadcast_builds(
    logical: str, bounded: dict[str, str] | None = None
) -> tuple[int, list[str]]:
    """Scan the optimized LOGICAL plan for broadcast-hinted join sides
    whose subtree scans a base relation not dominated by a bounding
    node.  Returns (hinted_broadcast_side_count, violation descriptions).
    ``bounded`` is the query-scoped domain table (_bounded_cols)."""
    if bounded is None:
        bounded = BOUNDED_DOMAIN_COLS
    nodes = _nodes(logical)
    hinted = 0
    bad: list[str] = []
    for i, (_, text) in enumerate(nodes):
        if not _JOIN_HINT_RE.search(text):
            continue
        kids = _child_indices(nodes, i)
        sides: list[int] = []
        if "leftHint=(strategy=broadcast" in text and len(kids) >= 1:
            sides.append(kids[0])
        if "rightHint=(strategy=broadcast" in text and len(kids) >= 2:
            sides.append(kids[1])
        for k in sides:
            hinted += 1
            first_col = _first_unbounded_relation(_subtree(nodes, k), bounded)
            if first_col is not None:
                bad.append(
                    f"broadcast build scans unbounded relation "
                    f"[{first_col}...] with no bounding ancestor "
                    "(1-row fold / limit / bounded-domain groupBy)"
                )
    return hinted, bad


def audit_text(name: str, plan: str) -> PlanAudit:
    """Parse the executedPlan string (AQE final or initial) into counts."""
    a = PlanAudit(name=name)
    a.exchanges = len(re.findall(r"\bExchange (?:hash|range|Single)", plan))
    a.broadcast_exchanges = plan.count("BroadcastExchange")
    a.broadcast_joins = plan.count("BroadcastHashJoin")
    a.sort_merge_joins = plan.count("SortMergeJoin")
    a.nested_loop_joins = plan.count("BroadcastNestedLoopJoin")
    a.cartesian_products = plan.count("CartesianProduct")
    # a Sort with global=true ("Sort [...], true, 0") is a full-shuffle sort
    sort_re = re.compile(r"\bSort \[[^\]]*\], true,")
    a.global_sorts = len(sort_re.findall(plan))
    # a global sort ABOVE an aggregate orders already-reduced output
    # (bounded rows — fine); one with no aggregate below it orders raw
    # data (the 100 TB foot-gun).  The aggregate must be in the sort's
    # OWN subtree — "anywhere later in the plan string" would let an
    # aggregate in a sibling join branch (printed after the sort) exempt
    # a raw full-shuffle sort, so walk the indentation tree.
    nodes = _nodes(plan)
    a.raw_global_sorts = sum(
        1
        for i, (_, text) in enumerate(nodes)
        if sort_re.search(text)
        and not any(_AGG_RE.search(d) for d in _descendants(nodes, i))
    )
    # Window with no partition spec (2 bracket groups instead of 3): the
    # whole input crosses one Exchange SinglePartition into one task.
    # WindowGroupLimit is excluded: it is only ever inserted below a
    # Window node with the same spec, which this rule already counts.
    a.unpartitioned_windows = sum(
        1 for _, text in nodes if _is_unpartitioned_window(text)
    )
    # bounded-partition-spec window over a data-sized input: parallelism
    # capped at the domain product (the round-12 Spearman/gini finding)
    bounded = _bounded_cols(name)
    for i, (_, text) in enumerate(nodes):
        if _bounded_partition_window(text, bounded) and _windowed_subtree_is_data_sized(
            nodes, i, bounded
        ):
            part = _bracket_group_texts(text)[1]
            a.bounded_partition_windows.append(
                f"Window partitioned only by bounded-domain cols [{part[:60]}] "
                "over a data-sized input"
            )
    a.take_ordered = plan.count("TakeOrderedAndProject")
    a.python_eval = len(_PY_EVAL_RE.findall(plan))
    a.scans = plan.count("FileScan") + plan.count("BatchScan")
    a.pushed_filter_scans = len(
        re.findall(r"PushedFilters: \[(?!\])", plan)
    )
    a.codegen_stages = len(set(re.findall(r"\*\((\d+)\)", plan)))
    # the quantile bucketer's signature (operators/global_index.py):
    # the binary-search ladder indexes the broadcast boundary array as
    # `_qb#N[pos]` (F.get prints as bracket indexing; the round-7
    # rewrite of the old size(filter(_qb...)) lambda scan).  The
    # approx-percentile AGGREGATE itself is hidden behind the boundary
    # relation's localCheckpoint (a Scan ExistingRDD in the plan), so
    # the projection expression is the detectable marker; distinct
    # expr-ids keep re-derived subtrees from inflating the count.
    a.quantile_bucketers = len(set(re.findall(r"(_qb#\d+)\[", plan)))
    # Spark's EXACT percentile()/percentile_disc()/median() buffer
    # aggregates materialize EVERY input value of a group sorted in one
    # task's memory — O(group rows), the round-6 verdict's scale-killer
    # class.  \b keeps percentile_approx/approx_percentile (bounded
    # sketch state) out: the char before their "percentile" is '_' or
    # the match consumes "_approx(" which this pattern's literal "("
    # rejects.  The registry-wide ban has NO allowlist: exact order
    # statistics go through operators/global_index.weighted_quantiles
    # (value-domain pre-aggregation + weighted global-index rank).
    a.exact_percentiles = len(
        re.findall(r"\b(?:percentile|percentile_disc|median)\(", plan)
    )
    a.aqe = "AdaptiveSparkPlan" in plan
    return a


def lint(a: PlanAudit, tags: tuple[str, ...] = ()) -> list[str]:
    """Apply the engine's scale rules; returns human-readable violations."""
    t = set(tags)
    w: list[str] = []
    if a.cartesian_products and not (t & EXEMPT["demo"]):
        w.append("CartesianProduct: unbounded pair blow-up at scale")
    if a.unbounded_cross_fragments and not (t & EXEMPT["demo"]):
        w.append(
            "checkpointed fragment(s) with an unbounded cartesian: "
            + "; ".join(a.unbounded_cross_fragments[:3])
        )
    if a.python_eval and not (t & EXEMPT["python"]):
        w.append("Python execution in a relational path (should be JVM-side)")
    if a.raw_global_sorts and not a.take_ordered and "sort" not in t:
        w.append(
            f"{a.raw_global_sorts} global sort(s) over unaggregated data — "
            "full-shuffle ordering; use top-k or sortWithinPartitions"
        )
    if (
        a.bounded_partition_windows
        and a.name not in BOUNDED_PARTITION_WINDOW_WAIVERS
        and not (t & EXEMPT["demo"])
    ):
        w.append(
            f"{len(a.bounded_partition_windows)} window(s) partitioned ONLY by "
            "bounded-domain columns over a data-sized input — parallelism is "
            "capped at the domain size at ANY cluster scale (measured 5.7-6.5x/"
            "decade, SCALING.md round-12); rank/cumsum via "
            "operators/global_index.py (group_cols=...) or record a waiver in "
            "BOUNDED_PARTITION_WINDOW_WAIVERS: "
            + "; ".join(a.bounded_partition_windows[:2])
        )
    allowed, reason = BOUNDED_UNPARTITIONED_WINDOWS.get(a.name, (0, ""))
    if a.unpartitioned_windows > allowed:
        w.append(
            f"{a.unpartitioned_windows} unpartitioned Window(s) "
            f"(allowlisted: {allowed}{' — ' + reason if reason else ''}) — "
            "entire input through ONE task; use the two-pass bucket-offset "
            "pattern (operators/global_index.py) or partition the window"
        )
    # A query tagged `skew-source` declares that its global-index value
    # column is unbounded, heavy-tailed user data (monetary amounts,
    # prices): equi-width min/max bucketing concentrates such a
    # distribution into few buckets — a partial straggler at extreme
    # scale.  The tag therefore REQUIRES the quantile bucketer's
    # approx-percentile signature in the plan (round-6 verdict #7).
    if a.exact_percentiles and not (t & EXEMPT["demo"]):
        w.append(
            f"{a.exact_percentiles} exact percentile()/percentile_disc()/"
            "median() buffer aggregate(s) over raw input — per-group "
            "state is every value sorted in ONE task; pre-aggregate the "
            "value domain and use global_index.weighted_quantiles"
        )
    if "skew-source" in t and not a.quantile_bucketers:
        w.append(
            "skew-source query buckets equi-width — pass "
            'bucketer="quantile" to with_global_index so heavy-tailed '
            "values keep even bucket occupancy"
        )
    # graph analytics (wedge/closing joins) and multi-stage pipeline
    # resamplers legitimately chain many keyed exchanges; everything
    # else above the threshold has historically been accidental subtree
    # re-derivation (graph_triangle_count hit 109 before materializing
    # its oriented-edge relation once).
    budget = EXCHANGE_BUDGET.get(a.name, (10, ""))[0]
    if a.exchanges > budget and not (t & {"iterative", "graph", "pipeline"}):
        w.append(f"{a.exchanges} exchanges — audit for a reusable partitioning")
    # a (band, bucket) candidate join without an lsh-family tag escapes
    # the registry's band-domain declaration rule (plans/registry.py) —
    # the VERDICT r10 #5 escape hatch
    if (
        a.banded_joins
        and not (t & {"lsh", "simhash"})
        and a.name not in BANDED_JOIN_WAIVERS
    ):
        w.append(
            f"{a.banded_joins} (band, bucket) equi-join(s) in a query with "
            "no lsh/simhash tag — tag it so the band-domain rule "
            "(band_bits declaration, plans/registry.py) applies, or record "
            "a written waiver in BANDED_JOIN_WAIVERS"
        )
    b_allowed, b_reason = BROADCAST_BUILD_ALLOWLIST.get(a.name, (0, ""))
    if len(a.unbounded_broadcast_builds) > b_allowed and not (t & EXEMPT["demo"]):
        w.append(
            f"{len(a.unbounded_broadcast_builds)} forced-broadcast build side(s) "
            f"not provably bounded (allowlisted: {b_allowed}"
            f"{' — ' + b_reason if b_reason else ''}): "
            + "; ".join(a.unbounded_broadcast_builds[:3])
            + " — a F.broadcast hint overrides AQE at ANY scale; bound the "
            "build side (1-row fold, limit) or record the domain bound here"
        )
    a.warnings = w
    return w


@contextlib.contextmanager
def capture_checkpoints():
    """Record the PRE-checkpoint optimized logical plan of every
    relation that gets ``localCheckpoint``-ed / ``checkpoint``-ed while
    the context is active.

    This closes the audit's one structural blind spot (VERDICT r10 #1):
    a checkpoint truncates lineage to ``LogicalRDD``, so any forced
    broadcast hint INSIDE the materialized relation's build plan is
    invisible to the final optimized plan the broadcast-boundedness
    lint reads — graph_triangle_count audited ``fbcast=0`` for three
    rounds while its source carried two forced node-sized broadcasts.
    Patching ``DataFrame.localCheckpoint`` and ``DataFrame.checkpoint``
    (the two methods ``session.materialize``, the engine's single
    lineage cut, calls) captures each fragment at exactly the
    moment it disappears from downstream plans; ``audit_query`` then
    lints every fragment with the same rule as the final plan.

    The patch is audit-scoped and behavior-preserving: the original
    method runs unconditionally, and plan stringification is
    driver-side analysis only (no job)."""
    # patch the CONCRETE class: in PySpark 4 `pyspark.sql.DataFrame` is
    # the unified-API base and classic instances are
    # pyspark.sql.classic.dataframe.DataFrame, which OVERRIDES
    # localCheckpoint — patching only the base silently captures
    # nothing (measured: ckpt=0 across the registry)
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark: one concrete class
        from pyspark.sql import DataFrame

    frags: list[str] = []
    originals = {
        n: getattr(DataFrame, n) for n in ("localCheckpoint", "checkpoint")
    }

    def _wrap(orig):
        def inner(self, *args, **kwargs):
            try:
                frags.append(self._jdf.queryExecution().optimizedPlan().toString())
            except Exception:
                # never let capture change behavior; a genuinely broken
                # plan fails identically in the original call below
                pass
            return orig(self, *args, **kwargs)

        return inner

    for n, orig in originals.items():
        setattr(DataFrame, n, _wrap(orig))
    try:
        yield frags
    finally:
        for n, orig in originals.items():
            setattr(DataFrame, n, orig)


def audit_query(spark, sf_dir: str, name: str) -> PlanAudit:
    """Audit one registered query: build it under
    ``capture_checkpoints``, so the relations it checkpoints are linted
    with the same rules as its executed plan."""
    from oracle_parquet_dumper_spark.plans import REGISTRY

    spec = REGISTRY[name]
    with capture_checkpoints() as frags:
        df = spec.fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    a = audit_text(name, plan)
    bounded = _bounded_cols(name)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    a.hinted_broadcasts, a.unbounded_broadcast_builds = _unbounded_broadcast_builds(
        logical, bounded
    )
    a.banded_joins = _banded_join_count(logical)
    # lint each checkpointed relation's build plan with the SAME rules:
    # a hint (or banded join) that vanished behind a LogicalRDD is
    # still there at runtime (VERDICT r10 #1)
    a.checkpoint_fragments = len(frags)
    for frag in frags:
        h, bad = _unbounded_broadcast_builds(frag, bounded)
        a.hinted_broadcasts += h
        a.unbounded_broadcast_builds.extend(
            b + " [behind a checkpoint]" for b in bad
        )
        a.banded_joins += _banded_join_count(frag)
        # the quantile-bucketer projection (skew-source marker) can sit
        # inside a checkpointed relation too (dq_drift_emd_numeric's
        # indexed CDF) — count it there as well
        a.quantile_bucketers += len(set(re.findall(r"(_qb#\d+)\[", frag)))
        # the same blind-spot argument covers the OTHER single-task /
        # single-node hazards: an unpartitioned Window or an exact
        # percentile() buffer aggregate hidden inside a checkpointed
        # relation still executes when the checkpoint materializes —
        # logical Window nodes print the same bracket-group shape as
        # physical ones, so the one detector covers both.
        a.unpartitioned_windows += sum(
            1 for _, text in _nodes(frag) if _is_unpartitioned_window(text)
        )
        a.exact_percentiles += len(
            re.findall(r"\b(?:percentile|percentile_disc|median)\(", frag)
        )
        # the r11 residual gaps, closed (VERDICT r11 #4): Python eval
        # inside a fragment executes when the checkpoint materializes
        # (logical and physical plans print the same node names —
        # measured), so it joins the py= count and the registry-wide
        # Python-policy lint; and a fragment `Join Cross` is linted
        # against the SAME boundedness proof as broadcasts — flagged
        # only when NEITHER side is provably bounded, which is exactly
        # when "may become a bnlj over a 1-row fold" cannot apply.
        a.python_eval += len(_PY_EVAL_RE.findall(frag))
        a.unbounded_cross_fragments.extend(
            v + " [behind a checkpoint]"
            for v in _unbounded_cross_joins(frag, bounded)
        )
    lint(a, spec.tags)
    a._df = df  # for --explain; dataclass instances accept attributes
    return a


def _fmt(a: PlanAudit) -> str:
    parts = [
        f"exchanges={a.exchanges}",
        f"bcast_join={a.broadcast_joins + a.nested_loop_joins}",
        f"smj={a.sort_merge_joins}",
        f"scans={a.scans}(pushed={a.pushed_filter_scans})",
        f"codegen={a.codegen_stages}",
        f"topk={a.take_ordered}",
        f"gsort={a.global_sorts}(raw={a.raw_global_sorts})",
        f"upwin={a.unpartitioned_windows}",
        f"fbcast={a.hinted_broadcasts}(unb={len(a.unbounded_broadcast_builds)})",
        f"ckpt={a.checkpoint_fragments}",
        f"py={a.python_eval}",
    ]
    return " ".join(parts)


def main(argv: list[str] | None = None) -> int:
    import argparse

    from oracle_parquet_dumper_spark import plans
    from oracle_parquet_dumper_spark.session import get_spark

    p = argparse.ArgumentParser(
        prog="python -m oracle_parquet_dumper_spark.plans.audit",
        description="Audit registered query plans against the engine's scale rules.",
    )
    p.add_argument("query", nargs="?", help="registered query name (see OPERATORS.md)")
    p.add_argument("--all", action="store_true", help="lint every registered query")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--explain", action="store_true", help="also print the full plan")
    args = p.parse_args(argv)
    if not args.query and not args.all:
        p.error("give a query name or --all")

    spark = get_spark("plan_audit")
    names = sorted(plans.REGISTRY) if args.all else [args.query]
    bad = 0
    for name in names:
        if name not in plans.REGISTRY:
            print(f"unknown query: {name}")
            return 2
        # build INSIDE audit_query so capture_checkpoints sees every
        # lineage truncation (the r10 blind spot); the df is planned
        # exactly once either way
        a = audit_query(spark, args.sf_dir, name)
        df = a._df
        status = "WARN" if a.warnings else "ok"
        print(f"{name:40s} {status:4s} {_fmt(a)}")
        for msg in a.warnings:
            print(f"    - {msg}")
        bad += bool(a.warnings)
        if args.explain:
            print(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
