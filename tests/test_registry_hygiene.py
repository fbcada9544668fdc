"""Registry/doc hygiene: the paperwork conventions that drifted at the
round-7 snapshot (VERDICT r7 #3 — OPERATORS.md/README one query behind
the live registry, one query with no planted test) become mechanical
checks so the drift cannot recur."""

from __future__ import annotations

import ast
import os
import re

from oracle_parquet_dumper_spark.plans import REGISTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries adjudicated rows-only (no DuckDB oracle): the two engine-
# internal sketch panels, per VERDICT r5-r7.  Any growth here is a
# deliberate decision, recorded by editing this set.
ROWS_ONLY = {"agg_approx", "agg_sketch_panel"}


def test_every_query_has_oracle_or_rows_only_adjudication():
    missing = {n for n, s in REGISTRY.items() if not s.oracle} - ROWS_ONLY
    assert not missing, f"queries without oracle or adjudication: {sorted(missing)}"
    stale = ROWS_ONLY - set(REGISTRY)
    assert not stale, f"adjudicated names no longer registered: {sorted(stale)}"


def test_every_query_is_tagged():
    untagged = [n for n, s in REGISTRY.items() if not s.tags]
    assert not untagged


def test_lsh_band_domain_rule_registry_wide():
    """VERDICT r9 #2: band-key CARDINALITY, not band count, is the LSH
    scale limiter (the sf1 sweep measured mm_phash_neardup at N^2/256
    on 8-bit band keys).  Every lsh/simhash-tagged query must declare
    its band-key domain; fixed domains below 2^20 need an occupancy
    cap, capacity-scaled bands, a demo tag, or a written ruling."""
    from oracle_parquet_dumper_spark.plans.registry import (
        LSH_BAND_DOMAIN_RULINGS,
        lsh_band_domain_violations,
    )

    assert lsh_band_domain_violations() == []
    # rulings must name live queries (no stale adjudications)
    stale = set(LSH_BAND_DOMAIN_RULINGS) - set(REGISTRY)
    assert not stale, f"rulings for unregistered queries: {sorted(stale)}"


def test_lsh_band_domain_rule_fires_on_synthetic_violation():
    """The rule must actually FIRE — same pattern as the forced-
    broadcast boundedness rule (tests/test_plans.py): a synthetic
    8-bit-band query with no cap/ruling is flagged, and an undeclared
    lsh query is flagged."""
    from oracle_parquet_dumper_spark.plans.registry import (
        QuerySpec,
        lsh_band_domain_violations,
    )

    def dummy(spark, sf_dir):  # pragma: no cover - never run
        raise AssertionError

    synth = {
        # the round-9 pHash defect, re-staged: fixed 8-bit band keys
        "bad_8bit": QuerySpec("bad_8bit", dummy, tags=("dedup", "lsh"), band_bits=8),
        # missing declaration entirely
        "bad_undeclared": QuerySpec("bad_undeclared", dummy, tags=("lsh",)),
        # healthy shapes must NOT fire
        "ok_wide": QuerySpec("ok_wide", dummy, tags=("lsh",), band_bits=124),
        "ok_capped": QuerySpec(
            "ok_capped", dummy, tags=("lsh",), band_bits=8, capped_occupancy=True
        ),
        "ok_demo": QuerySpec("ok_demo", dummy, tags=("lsh", "demo"), band_bits=4),
        "ok_untagged": QuerySpec("ok_untagged", dummy, tags=("join",)),
    }
    got = lsh_band_domain_violations(synth)
    flagged = {m.split(":")[0] for m in got}
    assert flagged == {"bad_8bit", "bad_undeclared"}, got


def test_operators_md_matches_live_registry():
    """OPERATORS.md is generated (scripts/gen_operators_md.py); its
    total line and its per-query rows must match len(REGISTRY)."""
    text = open(os.path.join(REPO, "OPERATORS.md")).read()
    m = re.search(r"Total: (\d+) queries, (\d+) oracle-checked, (\d+) rows-only", text)
    assert m, "OPERATORS.md missing the Total line — regenerate it"
    assert int(m.group(1)) == len(REGISTRY), (
        f"OPERATORS.md says {m.group(1)} queries, registry has {len(REGISTRY)} — "
        "re-run scripts/gen_operators_md.py"
    )
    assert int(m.group(2)) == len(REGISTRY) - len(ROWS_ONLY)
    assert int(m.group(3)) == len(ROWS_ONLY)
    # every registered query appears by name
    missing = [n for n in REGISTRY if n not in text]
    assert not missing, f"queries absent from OPERATORS.md: {missing[:5]}"


def test_readme_query_count_matches_registry():
    text = open(os.path.join(REPO, "README.md")).read()
    m = re.search(r"(\d+) registered queries", text)
    assert m, "README.md lost its registered-queries line"
    assert int(m.group(1)) == len(REGISTRY), (
        f"README.md says {m.group(1)} registered queries, registry has "
        f"{len(REGISTRY)}"
    )


# Queries registered BEFORE this ratchet was added (round 8) that have
# no by-name reference in tests/ or SCALING.md: they are covered by the
# auto-parametrized DuckDB differential, the harness-safety sweep, the
# plan audit, and (for fn_*/window_*/set_*) the property fuzzers — all
# of which enumerate REGISTRY programmatically.  The set is FROZEN:
# names may leave (when they gain a dedicated test — delete them here),
# never join.  A new query must ship with a by-name planted test or a
# SCALING.md decade-ratio entry (the text_tokenizer_fertility lapse,
# VERDICT r7 #3, is what this ratchet prevents).
LEGACY_UNREFERENCED = frozenset(
    """clean_span_freq_dedup clean_length_band dedup_exact_multicol
    dedup_ngram_jaccard dedup_fuzzy_levenshtein dedup_fuzzy_levenshtein_lsh
    sample_weighted_hash sample_stratified_hash sample_reservoir_per_group
    dedup_containment_lsh events_funnel_signup_purchase graph_hierarchy_depth
    layout_hilbert_tiles mm_frame_sample mm_grouped_embed_agg
    text_chunk_sliding pipeline_seq_packing text_contamination_ngram
    pipeline_domain_mixture text_pii_redaction profile_key_skew
    profile_mutual_information profile_entropy profile_gini_concentration
    join_left_outer join_right_outer join_full_outer join_cross
    agg_basic_stats agg_var_stddev agg_having agg_collect_sorted agg_rollup
    agg_cube agg_grouping_sets agg_pivot agg_kmv_intersection
    agg_incremental_merge join_skew_planted_salted subquery_scalar
    subquery_correlated_exists agg_max_min_by agg_bool_bit
    q3_shipping_priority q10_returned_items q7_volume_shipping
    q8_market_share q14_promo_revenue agg_listagg_ordered
    q19_disjunctive_pushdown q16_supplier_cnt q21_waiting_orders
    q22_global_sales_opportunity q4_order_priority q6_forecast_revenue
    q13_customer_distribution q15_top_supplier q17_small_quantity_revenue
    q2_min_cost_supplier q9_product_type_profit q11_important_stock
    q12_priority_by_category q20_excess_stock_suppliers merge_upsert
    scd2_history agg_mode_top1 agg_weighted_avg agg_time_bucket_hourly
    fn_struct_argmax agg_weighted_percentile_exact filter_compound
    filter_like_rlike null_handling fn_string fn_date fn_math
    fn_conditional fn_array fn_explode_tokens fn_json fn_json_struct_agg
    fn_map fn_generator_sequence fn_unpivot fn_histogram_bins
    fn_string_extended agg_count_if_median fn_try_cast fn_bitwise
    fn_interval_arith fn_posexplode_outer fn_array_extended fn_json_tuple
    fn_variant_json fn_url_extract set_union_all set_intersect set_except
    sort_multi_col distinct_rows set_intersect_all set_except_all
    sim_threshold_join sim_threshold_join_lsh stream_sliding_counts
    stream_session_windows stream_dedup_pairs text_stats text_token_count
    text_lang_dist text_langid_heuristic text_quality_score
    text_fingerprint text_tfidf_topterms text_stopword_removal
    text_bigram_topk udf_plain_python udf_map_in_arrow
    udf_scalar_plain_pickle dq_table_checksum dq_benford_leading_digit
    window_rank_dense_ntile window_lag_lead window_running_sum
    window_moving_avg window_first_last join_asof window_range_numeric
    window_event_transitions window_count_distinct_running
    join_asof_nearest window_interval_merge""".split()
)


def test_no_new_unreferenced_queries():
    """Ratchet: every query registered after round 8 must appear by name
    in tests/ or SCALING.md (planted test or decade-ratio entry)."""
    corpus = ""
    tests_dir = os.path.join(REPO, "tests")
    for fn in os.listdir(tests_dir):
        if fn.endswith(".py") and fn != "test_registry_hygiene.py":
            corpus += open(os.path.join(tests_dir, fn)).read()
    # SCALING.md records the decade-ratio sweeps; count it too
    corpus += open(os.path.join(REPO, "SCALING.md")).read()
    unreferenced = {n for n in REGISTRY if n not in corpus}
    new = unreferenced - LEGACY_UNREFERENCED
    assert not new, (
        f"new queries with no by-name test or SCALING.md entry: {sorted(new)}"
    )
    gone = LEGACY_UNREFERENCED - set(REGISTRY)
    assert not gone, f"legacy names no longer registered — prune: {sorted(gone)}"


# The tokenize-and-hash policy lives in functions/tokens.py; a raw copy
# elsewhere can drift from its DuckDB twin unseen, because every fixture
# document is ASCII and non-null.  The word-split idioms are matched with
# their one-space delimiter: the character splits (split on '') share the
# prefix but compute something else and stay inline.
RAW_TOKEN_HASH_IDIOMS = {
    "Spark word split": re.compile(r'F\.split\(F\.lower\(.*\), " "\)'),
    "DuckDB word split": re.compile(r"string_split\(lower\(.*\), ' '\)"),
    "Spark md5 prefix": re.compile(re.escape("F.conv(F.substring(F.md5(")),
    "DuckDB md5 prefix": re.compile(re.escape("'0x' || substring(md5(")),
}


def _raw_idiom_hits(src: str) -> list[str]:
    return [name for name, pat in RAW_TOKEN_HASH_IDIOMS.items() if pat.search(src)]


def test_token_hash_policy_written_once():
    pkg = os.path.join(REPO, "oracle_parquet_dumper_spark")
    owner = os.path.join(pkg, "functions", "tokens.py")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            path = os.path.join(root, fn)
            if fn.endswith(".py") and path != owner:
                rel = os.path.relpath(path, REPO)
                for i, line in enumerate(open(path), 1):
                    hits += [f"{rel}:{i}: {name}" for name in _raw_idiom_hits(line)]
    assert not hits, "raw tokenize/hash copies; use functions/tokens.py:\n" + "\n".join(hits)
    # the rule fires on each raw form it replaces, and not on a char split
    raw = [
        'F.filter(F.split(F.lower(F.col("text")), " "), lambda t: F.length(t) > 0)',
        "list_filter(string_split(lower(text), ' '), x -> length(x) > 0)",
        'F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")',
        "CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)",
    ]
    assert [_raw_idiom_hits(s) for s in raw] == [[n] for n in RAW_TOKEN_HASH_IDIOMS]
    assert _raw_idiom_hits("string_split(lower(text), '')") == []


# The k-NN evaluation kit in operators/similarity.py and the rounded
# cosine in functions/vectors.py: each idiom below may appear in the
# package only inside its owner, where the rule must still find it.
KNN_KIT_IDIOMS = {
    "Spark query batch": (re.compile(r'F\.col\("vec_id"\) % 100'), "_query_batch"),
    "DuckDB query batch": (re.compile(r"\bvec_id % 100 = 0"), "_query_batch_sql"),
    "Hamming-1 flip": (re.compile(re.escape('F.substring("qbucket"')), "_probes"),
    "rounded cosine SQL": (re.compile(r"round\(list_dot_product\([^)]*\) /"), None),
}


def _knn_idiom_hits(src: str) -> list[str]:
    return [name for name, (pat, _owner) in KNN_KIT_IDIOMS.items() if pat.search(src)]


def test_knn_kit_and_rounded_cosine_written_once():
    import inspect

    from oracle_parquet_dumper_spark.functions import vectors
    from oracle_parquet_dumper_spark.operators import similarity

    def span(obj):
        lines, start = inspect.getsourcelines(obj)
        rel = os.path.relpath(inspect.getsourcefile(obj), REPO)
        return rel, range(max(start, 1), max(start, 1) + len(lines))

    owners = {
        name: span(vectors if owner is None else getattr(similarity, owner))
        for name, (_pat, owner) in KNN_KIT_IDIOMS.items()
    }
    pkg = os.path.join(REPO, "oracle_parquet_dumper_spark")
    stray, owned = [], set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                rel = os.path.relpath(path, REPO)
                for i, line in enumerate(open(path), 1):
                    for name in _knn_idiom_hits(line):
                        file, lines = owners[name]
                        if rel == file and i in lines:
                            owned.add(name)
                        else:
                            stray.append(f"{rel}:{i}: {name}")
    assert not stray, "k-NN kit / rounded-cosine copies outside their owner:\n" + "\n".join(stray)
    assert owned == set(KNN_KIT_IDIOMS)
    # the rule fires on each raw form it replaces ...
    raw = [
        'e.where(F.col("vec_id") % 100 == 0).orderBy("vec_id").limit(KNN_QUERY_SET_SIZE)',
        "WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 16",
        'F.concat(F.substring("qbucket", 1, i), flipped, rest)',
        "round(list_dot_product(b.emb, q.qvec) / (sqrt(list_dot_product(b.emb, b.emb)) *",
    ]
    assert [_knn_idiom_hits(s) for s in raw] == [[n] for n in KNN_KIT_IDIOMS]
    # ... and not on the expressions that compute something else: the
    # integer-ppm cosine, the sign bit, and the centroid distance
    assert _knn_idiom_hits(similarity._mmr_cos_ppm_sql("a", "b")) == []
    assert _knn_idiom_hits(
        "CASE WHEN round(list_dot_product(v, [0.5, -1.0]::DOUBLE[]), 6) >= 0 THEN '1' ELSE '0' END"
    ) == []
    assert _knn_idiom_hits(
        "round(list_dot_product(x, x) - 2 * list_dot_product(x, c) + list_dot_product(c, c), 6)"
    ) == []


# The float-portability policy lives in functions/rounding.py: each idiom
# below may appear in the package only there.  A raw copy elsewhere can
# drift from its twin unseen: DuckDB's direct decimal -> double cast goes
# 1 ulp off only once the decimal's integer payload passes 2^53, which
# most fixture values never reach.  The Spark string hop, a decimal SUM
# cast straight to DOUBLE and truncating cents (one cent low whenever
# x * 100 lands just below an integer) are written nowhere, the owner
# included.
# Each pattern matches across line breaks: the source is scanned whole.
FLOAT_POLICY_IDIOMS = {
    "SQL VARCHAR hop": re.compile(r"AS VARCHAR(\(\d+\))?\)\s*AS DOUBLE\)", re.I),
    "Spark string hop": re.compile(r'\.cast\("string"\)\s*\.cast\("double"\)'),
    "SQL cents": re.compile(r"CAST\(floor\([\w.{}]+\s*\*\s*100\)\s*AS BIGINT\)", re.I),
    "Spark cents": re.compile(r"F\.floor\(.*\s\*\s*100\)"),
    "DECIMAL(25,6) capture": re.compile(r"decimal\(25, ?6\)", re.I),
    "money capture": re.compile(r"decimal\(12, ?2\)", re.I),
    "rate capture": re.compile(r"decimal\(3, ?2\)", re.I),
    "SQL decimal SUM without hop": re.compile(
        r"CAST\(SUM\((?:(?!VARCHAR).)*DECIMAL\((?:(?!VARCHAR).)*\) AS DOUBLE\)", re.I
    ),
}
NOWHERE = {"Spark string hop", "SQL cents", "Spark cents", "SQL decimal SUM without hop"}


def _float_idiom_hits(src: str) -> list[str]:
    return [name for name, pat in FLOAT_POLICY_IDIOMS.items() if pat.search(src)]


def _policy_copies(idioms: dict[str, re.Pattern], nowhere: set[str]) -> tuple[list[str], set[str]]:
    """(copies outside functions/rounding.py as "file:line: idiom", the
    idioms its owner holds); a copy in the owner of a ``nowhere`` idiom
    counts as outside."""
    pkg = os.path.join(REPO, "oracle_parquet_dumper_spark")
    owner = os.path.join(pkg, "functions", "rounding.py")
    stray, owned = [], set()
    for root, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                src = open(path).read()
                for name, pat in idioms.items():
                    for m in pat.finditer(src):
                        if path == owner and name not in nowhere:
                            owned.add(name)
                        else:
                            line = src.count("\n", 0, m.start()) + 1
                            stray.append(f"{os.path.relpath(path, REPO)}:{line}: {name}")
    return stray, owned


def test_float_policy_written_once():
    stray, owned = _policy_copies(FLOAT_POLICY_IDIOMS, NOWHERE)
    assert not stray, "raw float-policy copies; use functions/rounding.py:\n" + "\n".join(stray)
    assert owned == set(FLOAT_POLICY_IDIOMS) - NOWHERE
    # the rule fires on each raw form it replaces ...
    raw = [
        "CAST(CAST(n * q - s * s AS VARCHAR) AS DOUBLE)",
        'dbl = lambda c: c.cast("string").cast("double")',
        "CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)",
        'F.floor(F.col("value") * 100).cast("long")',
        'F.sum(F.col("value").cast("decimal(25,6)")).alias("psum")',
        "CAST(l_extendedprice AS DECIMAL(12,2))",
        'F.col("l_discount").cast("decimal(3,2)")',
        "round(CAST(SUM(CAST(e AS DECIMAL(38,18))) AS DOUBLE), 6) AS s",
    ]
    assert [_float_idiom_hits(s) for s in raw] == [[n] for n in FLOAT_POLICY_IDIOMS]
    # ... also when split over lines (the chi-square expected-count hop)
    assert _float_idiom_hits('x.cast(d38)\n    .cast("string")\n    .cast("double")') == ["Spark string hop"]
    # ... and not on what computes something else: the export checksum,
    # DECIMAL(38,0) integer moments, and a plain integer-to-double cast
    assert _float_idiom_hits('F.sum(row_hash.cast("decimal(38,0)")).cast("string")') == []
    assert _float_idiom_hits("CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS q") == []
    assert _float_idiom_hits("F.sum(vc.cast(d38) * vc).cast(d38)") == []
    assert _float_idiom_hits("CAST(n AS DOUBLE) * sxy") == []
    # the hopped decimal SUM is one idiom, not two
    hopped = "CAST(CAST(SUM(CAST(v AS DECIMAL(25,6))) AS VARCHAR(64)) AS DOUBLE)"
    assert _float_idiom_hits(hopped) == ["SQL VARCHAR hop", "DECIMAL(25,6) capture"]


# The exact integer-moment policy (functions/rounding.py: int128,
# exact_sum, exact_dot, comoment and their DuckDB twins) is the only
# place the 128-bit integer type is spelled.  DECIMAL(38,18) and
# DECIMAL(38,12) are NOT this rule: they are the fixed-point vector
# sums of operators/similarity.py, so the pattern stops at scale 0.
# DECIMAL(18,0) is a hand-written narrower spelling of the same exact
# sums, and the owner never builds it.
# Integer cents, the moments' usual input, are ``cents``/``cents_py``.
MOMENT_POLICY_IDIOMS = {
    "DECIMAL(38,0)": re.compile(r"decimal\(\s*38\s*,\s*0\s*\)", re.I),
    "DECIMAL(18,0)": re.compile(r"decimal\(\s*18\s*,\s*0\s*\)", re.I),
    "d38 local": re.compile(r"\bd38\b"),
    "HUGEINT": re.compile(r"\bhugeint\b", re.I),
    "inline cents round": re.compile(r"\bround\(\s*[\w.\"(){}]+?\s*\*\s*100\s*\)"),
}
MOMENT_NOWHERE = {"d38 local", "DECIMAL(18,0)"}


def _moment_idiom_hits(src: str) -> list[str]:
    return [name for name, pat in MOMENT_POLICY_IDIOMS.items() if pat.search(src)]


def test_moment_policy_written_once():
    stray, owned = _policy_copies(MOMENT_POLICY_IDIOMS, MOMENT_NOWHERE)
    assert not stray, "raw integer-moment copies; use functions/rounding.py:\n" + "\n".join(stray)
    assert owned == set(MOMENT_POLICY_IDIOMS) - MOMENT_NOWHERE
    # the rule fires on each raw form it replaces, across line breaks ...
    raw = [
        "CAST(SUM(CAST(cents AS DECIMAL(38, 0))\n * cents) AS DECIMAL(38,0)) AS q",
        'd38 = "decimal(38,0)"',
        "SUM(CAST(v AS hugeint) * v) OVER w",
        'F.round(F.col("value") * 100).cast("long")',
        "SUM(CAST(du AS DECIMAL(18,0))\n * CAST(dv AS DECIMAL(18, 0)))",
        'F.count(F.lit(1)).over(w).cast("decimal(18,0)")',
    ]
    assert [_moment_idiom_hits(s) for s in raw] == [
        ["DECIMAL(38,0)"], ["DECIMAL(38,0)", "d38 local"], ["HUGEINT"], ["inline cents round"],
        ["DECIMAL(18,0)"], ["DECIMAL(18,0)"],
    ]
    for cents in ("CAST(round(value * 100) AS BIGINT)", "v = int(round(row.value * 100))"):
        assert _moment_idiom_hits(cents) == ["inline cents round"]
    # ... and not on the fixed-point vector sums, the owner's builder
    # names, or a rounding to other units
    assert _moment_idiom_hits("SUM(CAST(e AS DECIMAL(38,18))), CAST(x AS DECIMAL(38,12))") == []
    assert _moment_idiom_hits("hugeint_sql('1') << 63") == []
    assert _moment_idiom_hits("F.round(F.log(F.col('r')) * 1000000), round(x * 1000)") == []


# Package surface must be reached by the program, not only by tests.  A
# top-level function or class in the package is reached when its name
# appears as an AST Name, Attribute or import alias in a non-test .py
# file, outside its own definition and outside every other unreached
# definition (so the rule runs to a fixed point).  Registered queries
# (``@query``) are roots.  The names below are kept on purpose; each
# entry says why, and they count as roots too.
SURFACE_KEEP = {
    "compact_table": "public maintenance API: rewrite an export's small files, size-rolled",
    "lsh_band_domain_violations": "the LSH band-domain rule the registry tests enforce",
    "compare": "row-set diff driver for engine-vs-engine tests (testing.py)",
    "read_events_stream": "file-source driver of the events stream, beside its operators",
    "run_to_memory": "availableNow memory-sink driver, beside the stream operators",
    "stream_dedup": "dedup-in-stream (SURVEY §2 Streaming); batch twin stream_dedup_pairs",
    "register_synthetic_docs": "entry point the synthetic-docs data source documents",
    "register_jsonl_shards": "entry point the JSONL-shard sink documents",
    # applyInPandasWithState wrappers, each tested stream-equals-batch;
    # no batch query calls their kernels, so the twin is named here
    "running_totals": "stateful stream; checked against a batch per-user sum",
    "rolling_anomalies": "stateful stream; batch twin ts_anomaly_rolling_zscore",
    "ewma_stream": "stateful stream; batch twin window_ewma_truncated",
    "holt_stream": "stateful stream; batch twin window_holt_linear_truncated",
    "markov_stream": "stateful stream; batch twin events_markov_transitions",
    "sprt_monitor": "stateful stream; batch twin events_sprt_sequential",
    "cumulative_distinct_monitor": "stateful stream; batch twin stream_cumulative_distinct",
    "closed_sessions_monitor": "stateful stream; batch twin stream_closed_sessions",
    "growth_class_monitor": "stateful stream; batch twin stream_user_day_class",
    "heavy_hitters_monitor": "stateful stream; batch twin stream_heavy_hitters",
}

PKG = "oracle_parquet_dumper_spark"


def _program_sources() -> dict[str, str]:
    """relpath -> text of every non-test .py file in the repo."""
    out = {}
    for d, dirs, files in os.walk(REPO):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in ("tests", "__pycache__")]
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(d, fn)
                out[os.path.relpath(path, REPO)] = open(path).read()
    return out


def _names_used(node) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
    return used


def _is_query(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def _test_only_surface(sources: dict[str, str], keep=()) -> set[tuple[str, str]]:
    """(module, name) of every package definition no program code reaches."""
    defs = {}  # (module, name) -> names its body uses
    live = set()  # names used by module-level code, queries and kept names
    for rel, text in sources.items():
        for stmt in ast.parse(text).body:
            if rel.startswith(PKG + os.sep) and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                if _is_query(stmt) or stmt.name in keep:
                    live |= _names_used(stmt)
                else:
                    defs[(rel, stmt.name)] = _names_used(stmt) - {stmt.name}
            else:
                live |= _names_used(stmt)
    dead: set = set()
    while True:
        used = live.union(*(u for k, u in defs.items() if k not in dead))
        new = {k for k in defs if k[1] not in used} - dead
        if not new:
            return dead
        dead |= new


def test_no_test_only_package_surface():
    sources = _program_sources()
    dead = _test_only_surface(sources, SURFACE_KEEP)
    assert not dead, (
        "package names only tests reach; delete them or add a reasoned "
        f"SURFACE_KEEP entry: {sorted(f'{rel}:{name}' for rel, name in dead)}"
    )
    # every kept name is still defined and still needs its entry
    needed = {name for _, name in _test_only_surface(sources)}
    assert set(SURFACE_KEEP) <= needed, sorted(set(SURFACE_KEEP) - needed)
    # the rule fires on a planted test-only function, and runs to a
    # fixed point: a helper only that function calls goes with it
    planted = dict(sources)
    planted[os.path.join(PKG, "planted.py")] = (
        "def planted_helper():\n    return 1\n\n\n"
        "def planted_api():\n    return planted_helper()\n"
    )
    got = _test_only_surface(planted, SURFACE_KEEP)
    assert {name for _, name in got} == {"planted_api", "planted_helper"}, got


# Every option of the package must be set by the program.  An optional
# parameter of a package function or method (a dataclass field with a
# default counts as a parameter of its class) is set when a non-test call
# passes it by keyword or position, or forwards ``*args``/``**kwargs``
# that a call of the forwarding function set (resolved through that
# function's own callers).  Calls inside the definition itself and inside
# unreferenced methods do not count; a dataclass field is also set by an
# attribute store or mutation (``x.f = ...``, ``x.f += ...``,
# ``x.f.append(...)``).  Every method of a package class must be named by
# non-test code outside its own body (dunders are called implicitly).
# Keys are ``module:Qualname(param)`` for a parameter and
# ``module:Class.method`` for a method.
OPTION_KEEP = {
    "cli:main(argv)": "entry point: argparse reads sys.argv when None",
    "plans.audit:main(argv)": "entry point: argparse reads sys.argv when None",
    "cli:_AppendOverEnv.__call__(option_string)": "argparse Action protocol",
    "exporter:compact_table(target_file_size)": "public maintenance API; its target size",
    "exporter:compact_table(compression)": "public maintenance API; its codec",
    "exporter:compact_table(cluster_by)": "public maintenance API; curve-clustered rewrite",
    "exporter:compact_table(cluster_curve)": "public maintenance API; curve choice",
    "operators.dedup:connected_components(max_iterations)": "test seam bounding the round loop",
    "operators.graph:pagerank(iters)": "test seam bounding the round loop",
    "operators.global_index:with_global_index(n_buckets)": "test seam: the index is exact at any bucket count",
    "sources.layouts:gc_state_siblings(grace_s)": "test seam: the age a sibling must reach",
    "operators.dedup:dedup_incremental_stored(state_dir)": "test seam: a temp state directory",
    "plans.registry:lsh_band_domain_violations(registry)": "test seam: a planted registry",
    "streaming.ops:run_to_memory(output_mode)": "test seam: the sink mode of a probe stream",
    "session:get_spark(master)": "test seam: the session a test builds",
    "session:get_spark(shuffle_partitions)": "test seam: the session a test builds",
    "operators.udfs:SplitSentences.eval": "Spark calls a Python UDTF's eval",
    "sources.pydatasource:SyntheticDocsReader.partitions": "Spark calls DataSourceReader.partitions",
    "sources.pydatasource:SyntheticDocsSource.streamReader": "Spark calls DataSource.streamReader",
    "sources.pydatasource:SyntheticDocsStreamReader.initialOffset": "Spark calls it on a stream start",
    "sources.pydatasource:SyntheticDocsStreamReader.latestOffset": "Spark calls it per micro-batch",
    "sources.pydatasource:SyntheticDocsStreamReader.partitions": "Spark calls it per micro-batch",
    "sources.pydatasource:SyntheticDocsStreamReader.commit": "Spark calls it per micro-batch",
    "sources.pydatasource:JsonlShardBatchWriter.commit": "Spark calls it after a batch write",
    "sources.pydatasource:JsonlShardStreamWriter.commit": "Spark calls it per micro-batch",
    "sources.pydatasource:JsonlShardsSink.writer": "Spark calls DataSource.writer",
    "sources.pydatasource:JsonlShardsSink.streamWriter": "Spark calls DataSource.streamWriter",
    "sources.pydatasource:_JsonlShardWriterBase.abort": "Spark calls it when a batch write fails",
    "sources.pydatasource:JsonlShardStreamWriter.abort": "Spark calls it when a micro-batch fails",
}


def _is_dataclass(node) -> bool:
    return any(
        "dataclass" in (getattr(f, "id", None), getattr(f, "attr", None))
        for d in node.decorator_list
        for f in [d.func if isinstance(d, ast.Call) else d]
    )


def _package_defs(trees: dict[str, ast.Module]):
    """(key, owner class or None, def node) of every package function,
    method and dataclass; keys as in ``OPTION_KEEP``."""
    for rel, tree in trees.items():
        if not rel.startswith(PKG + os.sep):
            continue
        mod = rel[len(PKG) + 1 : -3].replace(os.sep, ".")
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{mod}:{stmt.name}", None, stmt
            elif isinstance(stmt, ast.ClassDef):
                if _is_dataclass(stmt):
                    yield f"{mod}:{stmt.name}", stmt.name, stmt
                for m in stmt.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        yield f"{mod}:{stmt.name}.{m.name}", stmt.name, m


def _name_of(node) -> str | None:
    return getattr(node, "id", None) or getattr(node, "attr", None)


def _bound(node) -> bool:
    """A method's first parameter is ``self``/``cls``, not a call argument."""
    pos = node.args.posonlyargs + node.args.args
    return bool(pos) and pos[0].arg in ("self", "cls")


def _optional_params(node) -> list[tuple[int | None, str]]:
    """(call position, or None for keyword-only; name) of each parameter
    with a default, or of each defaulted field of a dataclass."""
    if isinstance(node, ast.ClassDef):
        fields = [s for s in node.body if isinstance(s, ast.AnnAssign)]
        return [(i, s.target.id) for i, s in enumerate(fields) if s.value is not None]
    a = node.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i - _bound(node), p.arg) for i, p in enumerate(pos) if i >= first]
    return out + [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _unset_options(sources: dict[str, str], keep=()) -> set[str]:
    """Keys of every package option and method the program never sets or
    names, less ``keep``."""
    trees = {rel: ast.parse(t) for rel, t in sources.items()}
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    mutators = ("append", "extend", "add", "update", "insert", "setdefault")
    encl = {}  # id(node) -> innermost enclosing function definition
    calls, names, subclasses, stored = {}, {}, {}, set()
    for tree in trees.values():
        stack = [(tree, None)]
        while stack:
            node, fn = stack.pop()
            for ch in ast.iter_child_nodes(node):
                encl[id(ch)] = fn
                stack.append((ch, ch if isinstance(ch, funcs) else fn))
            if isinstance(node, ast.Call):
                f = node.func
                calls.setdefault(_name_of(f), []).append(node)
                if isinstance(f, ast.Attribute) and f.attr in mutators:
                    stored.add(_name_of(f.value))  # x.f.append(...)
            elif isinstance(node, ast.ClassDef):
                for b in node.bases:
                    subclasses.setdefault(_name_of(b), set()).add(node.name)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Store):
                stored.add(node.attr)
            if isinstance(node, (ast.Name, ast.Attribute)):
                names.setdefault(_name_of(node), []).append(node)

    def inside(node, defs) -> bool:
        fn = encl.get(id(node))
        while fn is not None:
            if fn in defs:
                return True
            fn = encl.get(id(fn))
        return False

    defs = list(_package_defs(trees))
    methods = [
        n for k, owner, n in defs
        if owner and isinstance(n, funcs) and k not in keep
        and not (n.name.startswith("__") and n.name.endswith("__"))
    ]
    dead: set = set()
    while True:  # a method named only inside unreferenced methods is unreferenced too
        new = {
            n for n in methods
            if n not in dead and all(inside(x, dead | {n}) for x in names.get(n.name, ()))
        }
        if not new:
            break
        dead |= new

    def shapes(name_set, node, seen) -> list:
        """(positional count, keyword names or None = any) of each live
        call of a name in ``name_set``; forwarded ``*a``/``**kw`` resolve
        through the callers of the function that forwards them."""
        out = []
        for c in (c for n in name_set for c in calls.get(n, ())):
            if inside(c, dead | {node}):
                continue
            fn = encl.get(id(c))
            npos = sum(not isinstance(x, ast.Starred) for x in c.args)
            kws = {k.arg for k in c.keywords if k.arg}
            stars = [x.value for x in c.args if isinstance(x, ast.Starred)]
            dstars = [k.value for k in c.keywords if k.arg is None]
            varargs = {a.arg for a in (fn.args.vararg, fn.args.kwarg) if a} if fn else set()
            fwd = [s for s in stars + dstars if isinstance(s, ast.Name) and s.id in varargs]
            if not fwd or len(fwd) < len(stars) + len(dstars) or fn in seen:
                # a literal call, or one that unpacks some other value
                out.append((float("inf") if stars else npos, None if dstars else kws))
                continue
            pos = fn.args.posonlyargs + fn.args.args
            own = {p.arg for p in pos + fn.args.kwonlyargs}
            for opos, okws in shapes({fn.name}, fn, seen | {fn}):
                p = npos + max(0, opos - (len(pos) - _bound(fn))) if stars else npos
                k = kws if not dstars else None if okws is None else kws | (okws - own)
                out.append((p, k))
        return out

    unset = set()
    for key, owner, node in defs:
        if node in dead:
            unset.add(key)
            continue
        if isinstance(node, ast.ClassDef) or node.name == "__init__":
            # a constructor call names the class or a subclass
            callees, todo = {owner, "__init__"}, [owner]
            while todo:
                for sub in subclasses.get(todo.pop(), ()):
                    if sub not in callees:
                        callees.add(sub)
                        todo.append(sub)
        else:
            callees = {node.name}
        got = shapes(callees, node, frozenset())
        for pos, p in _optional_params(node):
            if isinstance(node, ast.ClassDef) and p in stored:
                continue
            if not any(k is None or p in k or (pos is not None and n > pos) for n, k in got):
                unset.add(f"{key}({p})")
    return unset - set(keep)


def test_no_unset_package_options():
    sources = _program_sources()
    unset = _unset_options(sources, OPTION_KEEP)
    assert not unset, (
        "package options or methods no program code sets or names; delete "
        f"them or add a reasoned OPTION_KEEP entry: {sorted(unset)}"
    )
    # every kept entry still exists and still needs its reason
    needed = _unset_options(sources)
    assert set(OPTION_KEEP) <= needed, sorted(set(OPTION_KEEP) - needed)
    # the rule fires on a planted never-set parameter and an unnamed
    # method, and a call from that method does not set anything
    planted = dict(sources)
    planted[os.path.join(PKG, "planted.py")] = (
        "def planted_fn(x, width=3, *, slide=1):\n    return x\n\n\n"
        "class Planted:\n"
        "    def used(self, a, b=2):\n        return planted_fn(a)\n\n"
        "    def unused(self):\n        return self.used(1, 2), planted_fn(1, slide=2)\n\n\n"
        "def caller():\n    return Planted().used(1)\n"
    )
    got = _unset_options(planted, OPTION_KEEP)
    assert got == {
        "planted:planted_fn(width)", "planted:planted_fn(slide)",
        "planted:Planted.used(b)", "planted:Planted.unused",
    }, got
