"""Data profiling: per-column statistics in one declarative pass.

The reference exports tables blind — it never inspects values (its only
schema awareness is the type-exclusion list, main.py:96-97).  A 100 TB
ingest needs the opposite: a cheap profile (row counts, null fractions,
distinct counts, value ranges) per column to validate an export, choose
partition/bucket/Z-order columns, and catch schema drift.

Shape: ONE wide aggregate computes every per-column statistic in a
single scan, then ``stack`` unpivots the 1-row result into one row per
column — the profile never touches the data twice.  Exact
``count_distinct`` over C columns plans an Expand (C passes over the
shuffle); at 100 TB swap it for ``approx_count_distinct`` (HLL, single
pass, mergeable) — the panel query ``agg_sketch_panel`` shows that form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import (
    cents,
    cents_sql,
    exact_dot,
    exact_sum,
    to_double,
    to_double_sql,
)
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.sources.tables import load_table

# customer's fixture schema (TESTDATA.md) — no timestamp columns, so the
# min/max string renderings are engine-portable.
CUSTOMER_COLS = (
    "c_custkey",
    "c_name",
    "c_nationkey",
    "c_acctbal",
    "c_mktsegment",
)


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_name, n_rows, n_null, n_distinct, min_s, max_s) per column,
    from one aggregate job."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.count_distinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols)
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_notnull, n_distinct, min_s, max_s)"
        ),
    ).select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_notnull")).alias("n_null"),
        "n_distinct",
        "min_s",
        "max_s",
    )


def _profile_oracle() -> str:
    branches = [
        f"""SELECT '{c}' AS col_name, (SELECT COUNT(*) FROM customer) AS n_rows,
           (SELECT COUNT(*) FROM customer) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_s, CAST(MAX({c}) AS VARCHAR) AS max_s
        FROM customer"""
        for c in CUSTOMER_COLS
    ]
    return " UNION ALL ".join(branches)


@query(
    "profile_columns_customer",
    oracle=_profile_oracle(),
    tags=("agg", "profiling"),
)
def profile_columns_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of the customer table — the
    export-validation / layout-selection primitive (see module doc)."""
    c = load_table(spark, sf_dir, "customer")
    return profile_columns(c, list(CUSTOMER_COLS))


@query(
    "profile_key_skew",
    oracle=f"""
    WITH k AS (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey),
    s AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(MAX(n) AS BIGINT) AS max_per_key,
             round({to_double_sql('SUM(n)')} / COUNT(*), 6) AS avg_per_key
      FROM k
    )
    SELECT n_keys, n_rows, max_per_key, avg_per_key,
           round(max_per_key / avg_per_key, 6) AS skew_factor
    FROM s
    """,
    tags=("agg", "profiling", "skew"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic: per-key cardinality rolled into
    (key count, row count, max rows per key, mean, max/mean skew
    factor).  The pre-flight a 100 TB join runs to decide between a
    plain shuffle join, AQE skew handling, or explicit salting (see
    join_skew_planted_* for the cure); two partial-aggregate passes,
    nothing leaves the executors but five numbers."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    avg = F.sum("n").cast("double") / F.count(F.lit(1))
    return k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_per_key"),
        F.round(avg, 6).alias("avg_per_key"),
    ).select(
        "n_keys",
        "n_rows",
        "max_per_key",
        "avg_per_key",
        F.round(F.col("max_per_key") / F.col("avg_per_key"), 6).alias("skew_factor"),
    )


@query(
    "profile_mutual_information",
    oracle=f"""
    WITH j AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS n FROM orders GROUP BY 1, 2
    ),
    t AS (SELECT {to_double_sql('SUM(n)')} AS total FROM j),
    pa AS (SELECT a, SUM(n) AS na FROM j GROUP BY a),
    pb AS (SELECT b, SUM(n) AS nb FROM j GROUP BY b)
    SELECT {to_double_sql('round(SUM(CAST(term AS DECIMAL(25,12))), 6)')} AS mi_nats,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM (SELECT (j.n / t.total) * ln((j.n / t.total) /
                 ((pa.na / t.total) * (pb.nb / t.total))) AS term
          FROM j, t JOIN pa ON j.a = pa.a JOIN pb ON j.b = pb.b)
    """,
    tags=("agg", "profiling", "stats"),
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (order status
    x priority) — the redundancy/association probe feature selection and
    layout design use (high MI => one column nearly determines the
    other, so cluster by the finer one).  Cell and marginal counts are
    exact integers; each cell's p*ln(p/(pa*pb)) term is identical IEEE
    double work in both engines, and the decimal-sum convention
    (functions/rounding.py) makes the reduction order-independent, so MI
    is oracle-exact to 6 digits."""
    o = load_table(spark, sf_dir, "orders")
    j = o.groupBy(
        F.col("o_orderstatus").alias("a"), F.col("o_orderpriority").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = j.agg(F.sum("n").cast("double").alias("total"))
    pa = j.groupBy("a").agg(F.sum("n").alias("na"))
    pb = j.groupBy("b").agg(F.sum("n").alias("nb"))
    term = (F.col("n") / F.col("total")) * F.log(
        (F.col("n") / F.col("total"))
        / ((F.col("na") / F.col("total")) * (F.col("nb") / F.col("total")))
    )
    return (
        j.crossJoin(F.broadcast(t))
        .join(F.broadcast(pa), "a")
        .join(F.broadcast(pb), "b")
        .agg(
            # cast the rounded decimal to DOUBLE: a decimal result
            # stringifies as '0.000032' where a double gives '3.2e-05',
            # and the hash compare is string-typed
            to_double(F.round(F.sum(term.cast("decimal(25,12)")), 6)).alias("mi_nats"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
    )


ENTROPY_COLS = ("c_mktsegment", "c_nationkey", "c_name")


@query(
    "profile_entropy",
    oracle=f"""
    WITH vals AS (
      SELECT col, val FROM (
        {" UNION ALL ".join(
            f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM customer"
            for c in ENTROPY_COLS
        )}
      )
    ),
    counts AS (SELECT col, val, COUNT(*) AS c FROM vals GROUP BY col, val),
    tot AS (SELECT col, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY col),
    terms AS (
      SELECT counts.col, c,
             CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT) AS t,
             n
      FROM counts JOIN tot ON counts.col = tot.col
    )
    SELECT col, COUNT(*) AS n_distinct,
           CAST(SUM(c * t) AS BIGINT) // MAX(n) AS entropy_micro_nats
    FROM terms GROUP BY col
    """,
    tags=("profile", "dq"),
)
def profile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per column (micro-nats) — the information-content
    profile that ranks columns from constant (0) to unique-key
    (ln N): the standard screen for candidate keys, degenerate columns,
    and skewed routing keys before choosing partition/bucket columns.

    Determinism: H = sum(c_i * round(ln(N/c_i)*1e6)) // N — each ln is
    integerized per distinct value BEFORE the sum (the micro-nat
    convention), the weighted sum is exact integer arithmetic, and the
    final normalization is integer division; no float rounding exists
    to tie-break differently across engines.  Scale shape: the unpivot
    is a map-side stack, counts partial-aggregate per (col, value), and
    the per-column rollup carries one row per distinct value — never
    raw rows."""
    c = load_table(spark, sf_dir, "customer")
    vals = c.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(col).alias("col"),
                        F.col(col).cast("string").alias("val"),
                    )
                    for col in ENTROPY_COLS
                ]
            )
        ).alias("cv")
    ).select("cv.col", "cv.val")
    counts = vals.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("col").agg(F.sum("c").cast("long").alias("n"))
    terms = counts.join(tot, "col").select(
        "col",
        "c",
        F.round(F.log(F.col("n").cast("double") / F.col("c")) * 1000000)
        .cast("long")
        .alias("t"),
        "n",
    )
    return terms.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.expr("CAST(sum(c * t) DIV max(n) AS BIGINT)").alias("entropy_micro_nats"),
    )


@query(
    "profile_gini_concentration",
    oracle=f"""
    WITH cents AS (
      SELECT l_returnflag, {cents_sql('l_extendedprice')} AS c,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    ranked AS (
      SELECT l_returnflag, c,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY c, l_orderkey, l_linenumber) AS r
      FROM cents
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(c) AS BIGINT) AS total_cents,
           CAST((2 * SUM(r * c) - (COUNT(*) + 1) * SUM(c)) * 1000000
                // (COUNT(*) * SUM(c)) AS BIGINT) AS gini_micro
    FROM ranked GROUP BY l_returnflag
    """,
    tags=("profile", "dq", "window"),
)
def profile_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of revenue per group — the inequality measure
    that tells a pipeline whether a key's mass is spread evenly (~0) or
    dominated by a few heavy rows (~1), i.e. the skew diagnostic behind
    salting/broadcast decisions, computed exactly.

    Uses the rank formulation G = (2*sum(r*x) - (n+1)*sum(x)) / (n*sum(x))
    over integer cents with a (value, unique-key) rank ordering — the
    whole computation is integer arithmetic ending in one integer
    division to micro-units, so it is bit-exact cross-engine.  Scale
    shape: one group-keyed sort (the rank window), then a partial
    aggregate; output is one row per group."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    priced = li.select(
        "l_returnflag",
        cents("l_extendedprice").alias("c"),
        "l_orderkey",
        "l_linenumber",
    )
    # Rank via the bucket-offset global index, NOT a per-flag
    # ROW_NUMBER window: the window form has exactly 3 partitions (one
    # per return flag), so both sort and rank ran at parallelism 3 at
    # any cluster size — measured 5.72x/decade sf0.1→sf1 (SCALING.md
    # round-12 residual table) before this rewrite, the same curve the
    # Spearman rewrite fixed.  Within-tie index assignment is arbitrary
    # under the non-unique tiebreak, and that is FINE here: equal-c
    # rows swap ranks freely and Σ r·c is invariant under any
    # permutation within a tie group (the same argument that let the
    # old non-unique ROW_NUMBER tiebreak pass 12 rounds of sweeps).
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    ranked = with_global_index(
        priced, "c", ["l_orderkey", "l_linenumber"],
        group_cols=["l_returnflag"], idx_col="_gi", n_col="_gin",
    ).select("l_returnflag", "c", (F.col("_gi") + 1).alias("r"))
    # Exact big-integer arithmetic: the rank-weighted sum overflows
    # BIGINT one decade up (r*c ~ 1e11 summed over millions of rows), so
    # everything accumulates exactly (``exact_dot``) — and the final floor
    # division is made EXACT by subtracting the modulo first (a decimal
    # divide of an exactly-divisible pair has no rounding to diverge
    # from DuckDB's 128-bit // floor division; the numerator is
    # non-negative by the Chebyshev sum inequality, so % == mod).
    agg = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("long").alias("total_cents"),
        exact_dot("r", "c").alias("s1"),
        exact_sum("c").alias("s0"),
    )
    num = F.expr("(2 * s1 - (n + 1) * s0) * 1000000")
    den = F.expr("n * s0")
    return agg.select(
        "l_returnflag",
        "n",
        "total_cents",
        ((num - num % den) / den).cast("long").alias("gini_micro"),
    )


# --- missingness-pattern mining --------------------------------------------


@query(
    "profile_missingness_patterns",
    oracle="""
    WITH nullable AS (
      SELECT
        CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS price,
        CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 2 = 0 THEN NULL
             ELSE o_orderpriority END AS priority,
        CASE WHEN o_custkey % 7 < 2 THEN NULL ELSE o_custkey END AS cust,
        CASE WHEN o_orderstatus = 'F' AND o_orderkey % 3 = 0 THEN NULL
             ELSE o_orderdate END AS odate
      FROM orders
    )
    SELECT
      (CASE WHEN price IS NULL THEN '0' ELSE '1' END ||
       CASE WHEN priority IS NULL THEN '0' ELSE '1' END ||
       CASE WHEN cust IS NULL THEN '0' ELSE '1' END ||
       CASE WHEN odate IS NULL THEN '0' ELSE '1' END) AS pattern,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST((CASE WHEN price IS NULL THEN 1 ELSE 0 END +
            CASE WHEN priority IS NULL THEN 1 ELSE 0 END +
            CASE WHEN cust IS NULL THEN 1 ELSE 0 END +
            CASE WHEN odate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM nullable
    GROUP BY 1, 3
    """,
    tags=("profile", "dq", "agg"),
)
def profile_missingness_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness-pattern mining (the co-missingness screen behind
    Little's MCAR diagnostics and imputation planning): group rows by
    the BITMAP of which nullable fields are absent and count each
    pattern — nested/correlated missingness (a field that is only ever
    null when another is) shows up as a missing pattern row, which no
    per-column null-rate profile can reveal.

    The fixture tables ship NULL-free, so the nullable fields are
    synthesized deterministically (key-mod rules, one deliberately
    NESTED inside another: ``priority`` can only be null where
    ``price`` is) — the PATTERN MINER is the operator under test, the
    rules just give it structure: 4 fields => at most 16 pattern rows,
    but only the patterns the nesting permits may appear (pinned by the
    planted test: no '0?1?' pattern with priority null but price
    present).

    Scale shape: one pass, map-side partial aggregation folds every
    partition to <= 16 rows before the shuffle — the output relation is
    2^k-bounded in the declared field count, never data-sized."""
    o = load_table(spark, sf_dir, "orders")
    nullable = o.select(
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 2 == 0), None)
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.when(F.col("o_custkey") % 7 < 2, None).otherwise(F.col("o_custkey")).alias("cust"),
        F.when((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0), None)
        .otherwise(F.col("o_orderdate"))
        .alias("odate"),
    )
    bit = lambda c: F.when(F.col(c).isNull(), F.lit("0")).otherwise(F.lit("1"))  # noqa: E731
    miss = lambda c: F.when(F.col(c).isNull(), 1).otherwise(0)  # noqa: E731
    cols = ["price", "priority", "cust", "odate"]
    return (
        nullable.select(
            F.concat(*[bit(c) for c in cols]).alias("pattern"),
            sum([miss(c) for c in cols[1:]], miss(cols[0])).cast("long").alias("n_missing"),
        )
        .groupBy("pattern", "n_missing")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select("pattern", "n_rows", "n_missing")
    )


# --- FK coverage profile (join planning, r11) -------------------------------


@query(
    "profile_join_key_coverage",
    oracle="""
    SELECT 'lineitem.l_partkey -> part' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_fact_rows,
           CAST(SUM(CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST((1000000 * SUM(CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS coverage_ppm
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN s.s_suppkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST((1000000 * SUM(CASE WHEN s.s_suppkey IS NOT NULL THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST((1000000 * SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY fk
    """,
    tags=("profiling", "join", "agg"),
)
def profile_join_key_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK COVERAGE profile: for each declared fact->dimension key, how
    many fact rows find their dimension row — the pre-join audit that
    tells you whether an inner join will silently drop data (coverage
    < 1e6 ppm) and whether a left join will null-fan (the missing
    rows' share).  Complements dq_constraint_report's single
    existence check with the full multi-FK coverage sweep, and
    dq_reconciliation's amount check with the row-level one.

    Exact integers end to end.  Scale shape: each probe is one keyed
    left join (dimension side data-sized -> NO forced hint, AQE
    chooses broadcast vs shuffle) folded to 1 row map-side; the three
    1-row results union to a 3-row report.  At 100 TB each probe reads
    the fact table once with only its key column (column pruning
    pushed to the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def probe(fact, fk_col, dim, pk_col, name):
        j = fact.select(fk_col).join(
            dim.select(pk_col), fact[fk_col] == dim[pk_col], "left"
        )
        matched = F.sum(F.when(F.col(pk_col).isNotNull(), 1).otherwise(0))
        return j.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).cast("long").alias("n_fact_rows"),
            matched.cast("long").alias("n_matched"),
            F.expr(
                f"CAST((1000000 * SUM(CASE WHEN {pk_col} IS NOT NULL THEN 1 ELSE 0 END))"
                " div COUNT(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )

    return (
        probe(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey -> part")
        .unionByName(
            probe(li, "l_suppkey", s, "s_suppkey", "lineitem.l_suppkey -> supplier")
        )
        .unionByName(
            probe(o, "o_custkey", c, "c_custkey", "orders.o_custkey -> customer")
        )
        .orderBy("fk")
    )
