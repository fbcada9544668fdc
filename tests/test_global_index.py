"""operators/global_index.py: the distributed two-pass global-index
primitives must reproduce the single-partition window functions they
replace — bit-for-bit, on data with duplicate order values, skew, and
group sizes that don't divide the tile count."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.operators.global_index import (
    ntile_expr,
    with_global_index,
)


def _fixture(spark, n=1000):
    # skewed duplicate-heavy values: v = (id*id) % 97 gives ~97 distinct
    # values over 1000 rows, exercising cross-bucket tie handling
    return spark.range(n).select(
        F.col("id").alias("k"), ((F.col("id") * F.col("id")) % 97).alias("v")
    )


def test_global_index_matches_row_number(spark):
    df = _fixture(spark)
    got = with_global_index(df, "v", ["k"], n_buckets=7).select("k", "_gidx")
    want = df.select(
        "k", (F.row_number().over(W.orderBy("v", "k")) - 1).alias("want")
    )
    diff = got.join(want, "k").where(F.col("_gidx") != F.col("want"))
    assert diff.count() == 0


def test_global_index_grouped(spark):
    df = _fixture(spark).withColumn("g", F.col("k") % 3)
    got = with_global_index(df, "v", ["k"], group_cols=["g"], n_buckets=5)
    want = df.select(
        "k",
        (F.row_number().over(W.partitionBy("g").orderBy("v", "k")) - 1).alias("want"),
        F.count(F.lit(1)).over(W.partitionBy("g")).alias("want_n"),
    )
    joined = got.join(want, "k")
    assert joined.where(F.col("_gidx") != F.col("want")).count() == 0
    assert joined.where(F.col("_gn") != F.col("want_n")).count() == 0


def test_ntile_expr_matches_ntile(spark):
    # sizes that don't divide 4, and N < tiles (each row its own tile)
    for n, tiles in ((1000, 4), (997, 4), (3, 7), (10, 3)):
        df = _fixture(spark, n)
        got = with_global_index(df, "v", ["k"]).select(
            "k", ntile_expr(F.col("_gidx"), F.col("_gn"), tiles).alias("tile")
        )
        want = df.select(
            "k", F.ntile(tiles).over(W.orderBy("v", "k")).alias("want")
        )
        assert got.join(want, "k").where(F.col("tile") != F.col("want")).count() == 0


def test_weighted_cumsum_matches_window_sum(spark):
    df = _fixture(spark).withColumn("wt", (F.col("k") % 13) + 1)
    got = with_global_index(df, "v", ["k"], weight_col="wt").select(
        "k", "_gcum", "_gwtot"
    )
    w_run = W.orderBy("v", "k").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = df.select(
        "k",
        F.sum("wt").over(w_run).alias("want_cum"),
        F.sum("wt").over(W.partitionBy()).alias("want_tot"),
    )
    joined = got.join(want, "k")
    assert joined.where(F.col("_gcum") != F.col("want_cum")).count() == 0
    assert joined.where(F.col("_gwtot") != F.col("want_tot")).count() == 0


def test_constant_value_column_degenerates_to_one_bucket(spark):
    df = spark.range(50).select(F.col("id").alias("k"), F.lit(7).alias("v"))
    got = with_global_index(df, "v", ["k"]).select("k", "_gidx", "_gn")
    rows = {r["k"]: r for r in got.collect()}
    assert all(rows[k]["_gidx"] == k for k in range(50))
    assert all(rows[k]["_gn"] == 50 for k in range(50))


def test_data_window_is_partitioned(spark):
    """The only unpartitioned window in the helper's plan is the
    <= n_buckets offsets window; the data-bearing row_number runs
    partitioned by bucket."""
    from oracle_parquet_dumper_spark.plans.audit import audit_text

    df = _fixture(spark, 5000)
    out = with_global_index(df, "v", ["k"], n_buckets=16)
    a = audit_text("gi", out._jdf.queryExecution().executedPlan().toString())
    assert a.unpartitioned_windows == 1  # the bounded offsets pass only
    # grouped form: even the offsets window is partitioned
    out_g = with_global_index(
        df.withColumn("g", F.col("k") % 2), "v", ["k"], group_cols=["g"]
    )
    a_g = audit_text("gig", out_g._jdf.queryExecution().executedPlan().toString())
    assert a_g.unpartitioned_windows == 0



def _zipf_fixture(spark, n=6400):
    # heavy-tailed: v ~ 1e6/rank — the top value is ~6400x the bottom,
    # so 64 equi-width buckets put ~99% of rows in bucket 0
    return spark.range(1, n + 1).select(
        F.col("id").alias("k"), (F.lit(1_000_000.0) / F.col("id")).alias("v")
    )


def _max_bucket_share(spark, bucketer, n=6400):
    df = _zipf_fixture(spark, n)
    out = with_global_index(df, "v", ["k"], bucketer=bucketer, bucket_col="b")
    top = out.groupBy("b").count().agg(F.max("count").alias("mx")).collect()[0]["mx"]
    return top / n


def test_quantile_bucketer_even_occupancy_under_zipf(spark):
    """Planted-Zipf occupancy (round-6 verdict #3 done-criteria): on a
    heavy-tailed value column the equi-width bucketer exceeds 1/2 max
    bucket share; the quantile bucketer stays <= 2/64."""
    assert _max_bucket_share(spark, "width") > 0.5
    assert _max_bucket_share(spark, "quantile") <= 2 / 64


def test_quantile_bucketer_same_exact_index(spark):
    """The index is bucketer-invariant: both bucketers reproduce the
    single-partition row_number truth bit-for-bit, ungrouped and
    grouped (boundaries only steer bucket sizes)."""
    df = _zipf_fixture(spark, 2000)
    want = df.select("k", (F.row_number().over(W.orderBy("v", "k")) - 1).alias("want"))
    for bucketer in ("width", "quantile"):
        got = with_global_index(df, "v", ["k"], bucketer=bucketer).select("k", "_gidx")
        assert got.join(want, "k").where(F.col("_gidx") != F.col("want")).count() == 0
    g = df.withColumn("g", F.col("k") % 3)
    got_g = with_global_index(
        g, "v", ["k"], group_cols=["g"], bucketer="quantile", n_buckets=16
    )
    want_g = g.select(
        "k",
        (F.row_number().over(W.partitionBy("g").orderBy("v", "k")) - 1).alias("want"),
    )
    assert got_g.join(want_g, "k").where(F.col("_gidx") != F.col("want")).count() == 0


def test_bucketer_arg_validation(spark):
    import pytest

    df = _zipf_fixture(spark, 10)
    with pytest.raises(ValueError, match="bucketer"):
        with_global_index(df, "v", ["k"], bucketer="bogus")


def test_skew_source_lint_requires_quantile_bucketer(spark):
    """plans/audit: a `skew-source`-tagged query must show the quantile
    bucketer's plan signature; the equi-width shape is flagged."""
    from oracle_parquet_dumper_spark.plans.audit import audit_text, lint

    df = _zipf_fixture(spark, 500)
    for bucketer, expect_warn in (("width", True), ("quantile", False)):
        out = with_global_index(df, "v", ["k"], bucketer=bucketer)
        a = audit_text("probe", out._jdf.queryExecution().executedPlan().toString())
        warns = lint(a, tags=("skew-source",))
        assert any("bucketer" in w for w in warns) == expect_warn, (bucketer, warns)


def test_weighted_quantiles_fuzz_matches_spark_aggregates(spark):
    """Pin weighted_quantiles' semantics BIT-EXACTLY to the engines' own
    aggregates it replaces (round-7 rewrite of the exact-percentile
    buffer plans): for random weighted multisets, the cont results must
    equal Spark's percentile() and the disc results Spark's
    percentile_disc() evaluated over the exploded raw rows — including
    the interpolation doubles, whose operand order the helper copies
    from Percentile.getPercentile."""
    import random

    from oracle_parquet_dumper_spark.operators.global_index import weighted_quantiles

    rng = random.Random(0xC0FFEE)
    rows = []
    for g in range(6):
        # mixed domains: small ints, halves, awkward doubles; skewed weights
        dom = {
            0: lambda: float(rng.randint(0, 9)),
            1: lambda: rng.randint(0, 40) / 2.0,
            2: lambda: rng.random() * 1e6,
        }[g % 3]
        for _ in range(rng.randint(1, 30)):
            rows.append((f"g{g}", dom(), rng.choice([1, 1, 1, 2, 3, 17])))
    vc = spark.createDataFrame(rows, "g string, v double, w int").groupBy(
        "g", "v"
    ).agg(F.sum("w").alias("w"))

    ps_cont = {"c_p01": 0.01, "c_p25": 0.25, "c_p50": 0.5, "c_p62": 0.62, "c_p90": 0.9, "c_p100": 1.0}
    ps_disc = {"d_p0": 0.0, "d_p10": 0.1, "d_p31": 0.31, "d_p50": 0.5, "d_p90": 0.9, "d_p100": 1.0}
    got = weighted_quantiles(
        vc, "v", "w", group_cols=["g"], cont=ps_cont, disc=ps_disc, n_col="n"
    )

    raw = vc.withColumn("_r", F.expr("explode(sequence(1, w))")).select("g", "v")
    want = raw.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.percentile("v", p).alias(a) for a, p in ps_cont.items()],
        *[
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY v)").alias(a)
            for a, p in ps_disc.items()
        ],
    )
    cols = ["n", *ps_cont, *ps_disc]
    g = {r["g"]: r for r in got.collect()}
    w = {r["g"]: r for r in want.collect()}
    assert g.keys() == w.keys()
    for k in g:
        for c in cols:
            assert g[k][c] == w[k][c], (k, c, g[k][c], w[k][c])


def test_exact_percentile_lint_bans_buffer_aggregate(spark):
    """plans/audit: a raw-input exact percentile()/percentile_disc()
    buffer aggregate fails the lint (no allowlist); the
    weighted_quantiles rewrite passes it."""
    from oracle_parquet_dumper_spark.operators.global_index import weighted_quantiles
    from oracle_parquet_dumper_spark.plans.audit import audit_text, lint

    df = _zipf_fixture(spark, 200)
    bad = df.agg(
        F.percentile("v", 0.5).alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").alias("p90"),
        F.median("v").alias("med"),
    )
    a = audit_text("probe", bad._jdf.queryExecution().executedPlan().toString())
    assert a.exact_percentiles >= 2, a.exact_percentiles
    assert any("buffer aggregate" in w for w in lint(a, tags=()))

    vc = df.groupBy("v").agg(F.count(F.lit(1)).alias("w"))
    good = weighted_quantiles(vc, "v", "w", cont={"p50": 0.5}, disc={"p90": 0.9})
    a2 = audit_text("probe", good._jdf.queryExecution().executedPlan().toString())
    assert a2.exact_percentiles == 0
    assert not any("buffer aggregate" in w for w in lint(a2, tags=()))


def test_quantile_bucketer_even_occupancy_under_lognormal_lags(spark):
    """Planted heavy-tail occupancy for the CONVERSION-LAG shape
    (round-6 verdict #3: the skew sweep missed inter-event-time
    columns): per-user first-view -> first-purchase lags are
    log-normal-ish — mass at short lags, a multi-decade tail.  On that
    shape equi-width min/max bucketing piles most users into the low
    buckets; the quantile bucketer keeps max bucket share near 1/64."""
    import math
    import random

    rng = random.Random(1907)
    n = 6400
    rows = [(i, int(math.exp(rng.gauss(8.0, 2.0))) + 1) for i in range(n)]
    lags = spark.createDataFrame(rows, "user_id long, lag_us long")
    out = with_global_index(
        lags, "lag_us", ["user_id"], bucketer="width", bucket_col="b"
    )
    top_w = out.groupBy("b").count().agg(F.max("count")).collect()[0][0] / n
    out_q = with_global_index(
        lags, "lag_us", ["user_id"], bucketer="quantile", bucket_col="b"
    )
    top_q = out_q.groupBy("b").count().agg(F.max("count")).collect()[0][0] / n
    assert top_w > 0.5, top_w       # equi-width: most lags in one bucket
    assert top_q <= 2 / 64, top_q   # quantile: even occupancy
