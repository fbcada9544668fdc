"""Distributed global ordering primitives: dense row index, exact NTILE,
percent_rank/cume_dist — WITHOUT a single-partition window.

``row_number() OVER (ORDER BY ...)`` (and ntile/percent_rank/cume_dist,
which are defined in terms of it) is the one window shape that cannot be
partitioned, so a naive plan funnels the ENTIRE relation through one
WindowExec task — correct at sf0.1, dead at 100 TB.  This module is the
reusable form of the two-pass bucket-offset pattern first proven in
``pipeline_prep.pipeline_global_shuffle``:

1. range-bucket every row with a monotone function of the leading order
   column (equi-width over a broadcast 1-row min/max, so bucket order ==
   value order and equal values always share a bucket);
2. per-bucket counts -> running-total offsets.  This window IS
   unpartitioned but touches exactly ``n_buckets`` rows whatever the
   data size — it never sees data rows (the shape ``plans/audit.py``
   allowlists per query, with the bound recorded);
3. broadcast the offsets back and add a per-bucket ``row_number``
   (PARTITIONED window: one reducer per bucket, more buckets = more
   parallelism), so ``global index = bucket offset + within-bucket rank``.

Determinism: bucketing only needs monotonicity, which IEEE subtraction /
division-by-a-positive-constant / floor all preserve, so float rounding
can never reorder rows across buckets — the exact index comes from the
integer offsets plus the exact within-bucket sort.  Equal leading values
land in one bucket, so the within-bucket tie-break columns see every tie.

ntile/percent_rank/cume_dist are then pure integer/IEEE arithmetic on
(index, N): bit-identical to the engines' own window functions (both
Spark and DuckDB implement the standard semantics this module states),
which is what lets the DuckDB oracles keep using the window form.

Skew note: equi-width bucketing concentrates heavily-skewed value
distributions into few buckets, recreating a partial straggler at
extreme scale.  ``bucketer="quantile"`` swaps step 1's bucket function
for approx-percentile boundaries — still monotone (bucket = number of
boundaries below the value), so the index math is untouched and even a
run-to-run wobble in the approximate boundaries cannot change the
output, only bucket sizes.  Callers whose value column is unbounded
user data (monetary amounts, prices) should use it; ties are the one
skew it cannot split (equal values MUST share a bucket for
correctness — a 50%-duplicated value puts 50% in one bucket under any
monotone bucketer).  The default 64 buckets matches local[32]; a
cluster run should set n_buckets ~= 2-4x executor cores.

No reference counterpart (the reference never orders anything but its
catalog listing, main.py:224-232); this is Part-B engine infrastructure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.session import materialize

DEFAULT_BUCKETS = 64


def with_global_index(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    group_cols: list[str] | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    idx_col: str = "_gidx",
    n_col: str = "_gn",
    weight_col: str | None = None,
    cum_col: str = "_gcum",
    bucketer: str = "width",
    bucket_col: str | None = None,
) -> DataFrame:
    """Add ``idx_col`` = dense 0-based index in ``(value_col ASC,
    *tiebreak_cols ASC)`` order and ``n_col`` = total row count —
    per ``group_cols`` group when given, else globally.

    ``value_col`` must be numeric (callers negate for DESC) and the
    combined ordering must be unique (tie-break on a key) for the index
    to be deterministic.  Internal columns are dropped; the output keeps
    every input column plus ``idx_col``/``n_col``.

    ``weight_col`` additionally computes ``cum_col`` = INCLUSIVE running
    sum of the weight in the same global order and ``_gwtot`` = total
    weight (per group) — the same two-pass trick applied to SUM instead
    of COUNT: per-bucket weight totals roll into broadcast offsets, the
    within-bucket running sum stays partitioned.  This is what replaces
    ``SUM(w) OVER (ORDER BY ...)`` at scale (e.g. vocabulary coverage
    curves).

    ``bucketer``: ``"width"`` (default) buckets equi-width over the
    broadcast min/max; ``"quantile"`` buckets by approx-percentile
    boundaries (bucket = #boundaries strictly below the value — monotone,
    ties share a bucket), which keeps bucket OCCUPANCY even under
    heavy-tailed value distributions.  Use it whenever ``value_col`` is
    unbounded user data.  The boundary relation is lazily checkpointed:
    approx percentiles are merge-order sensitive, and the two plan
    references to the bucketed relation (counts + join) must see ONE
    consistent boundary set.

    ``bucket_col`` keeps the internal bucket id under that name —
    bucket ids size the within-bucket window tasks 1:1, so
    ``groupBy(bucket_col).count()`` is the direct occupancy/straggler
    probe for a production corpus (and what the skew tests assert on).
    """
    gb = list(group_cols or [])
    v = F.col(value_col).cast("double")

    if bucketer not in ("width", "quantile"):
        raise ValueError(f"unknown bucketer: {bucketer!r}")

    # 1. broadcast per-group bounds; monotone bucketing.
    if bucketer == "quantile":
        pcts = [i / float(n_buckets) for i in range(1, n_buckets)]
        qagg = F.percentile_approx(v, F.array(*[F.lit(p) for p in pcts])).alias("_qb")
        bounds = materialize(df.groupBy(*gb).agg(qagg) if gb else df.agg(qagg))
        bounded = (
            df.join(F.broadcast(bounds), gb) if gb else df.crossJoin(F.broadcast(bounds))
        )
        # bucket = #boundaries strictly below v (monotone; ties share a
        # bucket).  BINARY search over the sorted boundary array — the
        # classic bit-ladder: pos ends as the largest 1-based index with
        # v > _qb[pos] (P(0) vacuously true; P monotone even with
        # duplicate boundaries since the array is ascending), i.e.
        # exactly the count the old O(n_buckets) interpreted
        # filter-lambda scan produced (round-6 verdict "Next" #6).  Each
        # ladder step lives in its OWN projection referencing the
        # previous step's pos ATTRIBUTE: a single nested when-tree would
        # inline pos twice per level (2^steps expression blow-up), while
        # chained projections stay O(log n) total and CollapseProject
        # keeps them separate (pos is referenced twice and non-cheap).
        # F.get (0-based, NULL out of range) never ANSI-throws; a NULL
        # comparison falls to otherwise(), leaving pos unchanged.
        n_bounds = n_buckets - 1
        step = 1
        while step * 2 <= n_bounds:
            step *= 2
        out_b = bounded.withColumn("_bsp", F.lit(0))
        while step >= 1:
            cand = F.col("_bsp") + F.lit(step)
            out_b = out_b.withColumn(
                "_bsp",
                F.when(
                    (cand <= F.lit(n_bounds)) & (v > F.get(F.col("_qb"), cand - 1)),
                    cand,
                ).otherwise(F.col("_bsp")),
            )
            step //= 2
        hb = out_b.withColumn("_gb", F.col("_bsp").cast("int")).drop("_qb", "_bsp")
    else:
        if gb:
            bounds = df.groupBy(*gb).agg(F.min(v).alias("_mn"), F.max(v).alias("_mx"))
            bounded = df.join(F.broadcast(bounds), gb)
        else:
            bounds = df.agg(F.min(v).alias("_mn"), F.max(v).alias("_mx"))
            bounded = df.crossJoin(F.broadcast(bounds))
        width = (F.col("_mx") - F.col("_mn")) / float(n_buckets)
        bucket = (
            F.when(F.col("_mx") <= F.col("_mn"), F.lit(0))
            .otherwise(F.least(F.floor((v - F.col("_mn")) / width), F.lit(n_buckets - 1)))
            .cast("int")
        )
        hb = bounded.withColumn("_gb", bucket).drop("_mn", "_mx")

    # 2. bucket counts -> exclusive running offsets + group totals.  The
    # count relation has <= n_buckets rows per group, so these windows
    # are bounded no matter the data size.
    aggs = [F.count(F.lit(1)).alias("_bn")]
    if weight_col:
        aggs.append(F.sum(weight_col).alias("_bw"))
    counts = hb.groupBy(*gb, "_gb").agg(*aggs)
    off_w = (
        W.partitionBy(*gb).orderBy("_gb").rowsBetween(W.unboundedPreceding, -1)
        if gb
        else W.orderBy("_gb").rowsBetween(W.unboundedPreceding, -1)
    )
    tot_w = (
        W.partitionBy(*gb) if gb else W.partitionBy()
    ).orderBy("_gb").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    off_cols = [
        F.coalesce(F.sum("_bn").over(off_w), F.lit(0)).alias("_off"),
        F.sum("_bn").over(tot_w).alias(n_col),
    ]
    if weight_col:
        off_cols += [
            F.coalesce(F.sum("_bw").over(off_w), F.lit(0)).alias("_woff"),
            F.sum("_bw").over(tot_w).alias("_gwtot"),
        ]
    offsets = counts.select(*gb, "_gb", *off_cols)

    # 3. partitioned within-bucket rank + broadcast offset = global index.
    within_w = W.partitionBy(*gb, "_gb").orderBy(value_col, *tiebreak_cols)
    out = (
        hb.join(F.broadcast(offsets), [*gb, "_gb"])
        .withColumn(idx_col, F.col("_off") + F.row_number().over(within_w) - 1)
    )
    if weight_col:
        # explicit ROWS frame: the default RANGE frame would be
        # equivalent only because the ordering is unique — say what we
        # mean and stay frame-exact if a caller ever relaxes that.
        run_w = within_w.rowsBetween(W.unboundedPreceding, W.currentRow)
        out = out.withColumn(
            cum_col, F.col("_woff") + F.sum(weight_col).over(run_w)
        ).drop("_woff")
    if bucket_col is not None:
        out = out.withColumnRenamed("_gb", bucket_col)
        return out.drop("_off")
    return out.drop("_gb", "_off")


def weighted_quantiles(
    vc: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str] | None = None,
    cont: dict[str, float] | None = None,
    disc: dict[str, float] | None = None,
    extra_aggs: dict[str, Column] | None = None,
    n_col: str | None = None,
    bucketer: str = "width",
) -> DataFrame:
    """Exact percentiles over a VALUE-AGGREGATED relation — the scale-safe
    replacement for Spark's exact ``percentile()`` / ``percentile_disc()``
    buffer aggregates, whose per-group state is EVERY raw input value
    sorted in one task's memory (round-6 verdict: the last scale-killer
    plan class in the registry).

    ``vc`` must carry one row per distinct ``value_col`` (per
    ``group_cols`` group) with ``weight_col`` = that value's raw-row
    count, i.e. the output of ``raw.groupBy(*groups, value).count()`` —
    a map-side-partial aggregate bounded by the VALUE DOMAIN, not the
    row count.  The order statistics then come from
    ``with_global_index(weight_col=...)``: ``_gcum`` (inclusive running
    weight) locates any 0-based weighted order statistic k on the row
    where ``cum - w <= k < cum``, so each percentile is one conditional
    MAX — per-task state is a bucket of DISTINCT values, never raw rows.

    Semantics are pinned to the engines' own aggregates so DuckDB
    oracles keep using ``quantile_cont``/``quantile_disc`` unchanged:

    - ``cont`` (alias -> p): Spark ``percentile()`` == DuckDB
      ``quantile_cont`` — position h = (N-1)*p in doubles, result
      ``v[floor h]`` when h is integral else
      ``v_lo*(ceil h - h) + v_hi*(h - floor h)`` (the exact operand
      order Spark's ``Percentile.getPercentile`` evaluates, so the
      doubles are bit-identical; fuzz-pinned by
      tests/test_global_index.py against Spark's own aggregate).
    - ``disc`` (alias -> p): SQL-standard ``percentile_disc`` == DuckDB
      ``quantile_disc`` — first value whose cume_dist >= p, i.e. the
      order statistic at k = max(ceil(p*N) - 1, 0).

    ``extra_aggs`` (alias -> aggregate Column) run over the indexed
    value-level relation in the same pass (e.g. ``F.max(value)``);
    ``n_col`` exposes the per-group total weight (raw-row count).
    """
    gb = list(group_cols or [])
    idx = with_global_index(
        vc,
        value_col,
        [value_col],
        group_cols=gb or None,
        weight_col=weight_col,
        bucketer=bucketer,
    )
    v = F.col(value_col).cast("double")
    cum = F.col("_gcum").cast("long")
    d = F.col(weight_col).cast("long")
    n = F.col("_gwtot").cast("long")

    def at(k: Column) -> Column:
        # value at 0-based weighted order statistic k: the unique row
        # whose inclusive-cumulative-weight interval covers k.
        return F.max(F.when((cum - d <= k) & (k < cum), v))

    aggs = [F.max(n).alias("_wq_n")]
    for a, p in (cont or {}).items():
        h = (n - 1).cast("double") * F.lit(float(p))
        aggs.append(at(F.floor(h)).alias(f"_wq_lo_{a}"))
        aggs.append(at(F.ceil(h)).alias(f"_wq_hi_{a}"))
    for a, p in (disc or {}).items():
        k = F.greatest(F.ceil(n.cast("double") * F.lit(float(p))) - 1, F.lit(0).cast("long"))
        aggs.append(at(k).alias(a))
    for a, c in (extra_aggs or {}).items():
        aggs.append(c.alias(a))
    out = idx.groupBy(*gb).agg(*aggs) if gb else idx.agg(*aggs)

    sel: list[Column] = [F.col(c) for c in gb]
    if n_col is not None:
        sel.append(F.col("_wq_n").alias(n_col))
    nn = F.col("_wq_n")
    for a, p in (cont or {}).items():
        h = (nn - 1).cast("double") * F.lit(float(p))
        lo, hi = F.floor(h), F.ceil(h)
        sel.append(
            F.when(lo == hi, F.col(f"_wq_lo_{a}"))
            .otherwise(
                F.col(f"_wq_lo_{a}") * (hi.cast("double") - h)
                + F.col(f"_wq_hi_{a}") * (h - lo.cast("double"))
            )
            .alias(a)
        )
    for a in disc or {}:
        sel.append(F.col(a))
    for a in extra_aggs or {}:
        sel.append(F.col(a))
    return out.select(*sel)


def ntile_expr(idx: Column, n: Column, tiles: int) -> Column:
    """Standard-SQL NTILE(tiles) from a dense 0-based index and total N:
    the first ``N % tiles`` tiles get ``ceil(N/tiles)`` rows, the rest
    ``floor(N/tiles)`` — exactly the assignment Spark's and DuckDB's
    window ntile produce, as pure integer arithmetic."""
    # Double division is exact here: idx/N are row COUNTS (< 2^53 rows
    # even at 100 TB), unlike the 2^60 hash values that force `div`
    # elsewhere (pipeline_global_shuffle's integer-div rule).
    q = F.floor(n / tiles).cast("long")
    r = (n % tiles).cast("long")
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading tiles
    # greatest(q,1): when N < tiles, q == 0 but idx < big always holds,
    # so the otherwise-branch divisor is never semantically used — the
    # guard only keeps codegen's eager integer division away from /0.
    return (
        F.when(idx < big, F.floor(idx / (q + 1)))
        .otherwise(r + F.floor((idx - big) / F.greatest(q, F.lit(1))))
        .cast("int")
        + 1
    )


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    k: int,
    rank_col: str = "_rk",
) -> DataFrame:
    """Exact top-k rows per group under ``order_cols`` (all ASC; negate a
    numeric column for DESC) — WITHOUT a window partitioned only by the
    group key, whose parallelism is capped at the group-domain size (the
    round-12 bounded-partition-window finding; round-13 burn-down).

    Two phases:

    1. pre-top-k per ``(group, _gb)`` where ``_gb`` is one of 32
       deterministic hash buckets of the last order column (a unique
       tie-break key in every caller).  The window partitions on
       32 × |groups| keys, so parallelism scales with the bucket count,
       not the group domain; each task keeps a k-row heap
       (WindowGroupLimit pushes the rank filter below the sort).
       Correctness: a global top-k row is top-k within ANY subset that
       contains it, in particular its own bucket — so the union of
       per-bucket top-ks is a superset of the global top-k.
    2. bounded merge: ``collect_list`` over the ≤ 32·k survivors
       per group, ``array_sort`` (struct comparison = field order, so
       ``order_cols`` lead the struct), slice k, posexplode for the
       final rank.  Per-group state is ≤ 32·k structs by
       construction — never data-sized.

    ``order_cols`` must be a total order per group (unique) — otherwise
    ties at the k-boundary resolve arbitrarily in phase 1 and the merge
    cannot reconstruct a deterministic rank.  All input columns are
    carried through; ``rank_col`` (1-based int) is appended.
    """
    carry = [c for c in df.columns if c not in order_cols]
    hb = df.withColumn("_gb", F.pmod(F.xxhash64(order_cols[-1]), F.lit(32)))
    pre = W.partitionBy(*group_cols, "_gb").orderBy(*order_cols)
    cand = (
        hb.withColumn("_prk", F.row_number().over(pre))
        .where(F.col("_prk") <= k)
        .drop("_gb", "_prk")
    )
    fields = [F.col(c) for c in order_cols] + [
        F.col(c) for c in carry if c not in group_cols
    ]
    merged = cand.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.collect_list(F.struct(*fields))), 1, k).alias("_top")
    )
    out = merged.select(
        *group_cols, F.posexplode("_top").alias("_pos", "_row")
    )
    keep = [c for c in df.columns if c not in group_cols]
    return out.select(
        *group_cols,
        *[F.col(f"_row.{c}").alias(c) for c in keep],
        (F.col("_pos") + 1).cast("int").alias(rank_col),
    )
