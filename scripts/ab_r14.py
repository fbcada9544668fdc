"""Within-session interleaved A/B timing for r14 optimization candidates.

Usage: python scripts/ab_r14.py <case> [reps]
Old = the registered query (current package code); New = the candidate
rewrite defined locally here.  Runs are interleaved (O N O N ...) with
gc+clearCache between reps, medians reported, and both variants'
results are hash-compared (same row-hash convention as the sweep).
"""

from __future__ import annotations

import gc
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Window as W  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def row_hash(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(str(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()[:12], len(rows)


# --------------------------------------------------------------------------
# candidate rewrites
# --------------------------------------------------------------------------


def new_triangle_sampled(spark, sf_dir):
    from oracle_parquet_dumper_spark.operators.graph import TRI_SAMPLE_MOD
    from oracle_parquet_dumper_spark.session import materialize
    from oracle_parquet_dumper_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    su = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("s")).distinct()
    a = su.select("o", F.col("s").alias("src"))
    b = su.select(F.col("o").alias("o2"), F.col("s").alias("dst"))
    # src < dst on the join => least/greatest are just (src, dst)
    keep = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_", F.col("src").cast("string"), F.col("dst").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % TRI_SAMPLE_MOD
        == 0
    )
    canon = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("src") < F.col("dst")))
        .where(keep)
        .select("src", "dst")
        .distinct()
    )
    edges = canon.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
                F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
            )
        ).alias("e")
    ).select(F.col("e.u").alias("src"), F.col("e.v").alias("dst"))
    oriented = (
        edges.withColumn("du", F.count(F.lit(1)).over(W.partitionBy("src")))
        .withColumn("dv", F.count(F.lit(1)).over(W.partitionBy("dst")))
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    oriented = materialize(oriented, eager=True)
    paths = (
        oriented.alias("p")
        .join(oriented.alias("q"), F.col("p.v") == F.col("q.u"))
        .select(F.col("p.u").alias("a"), F.col("p.v").alias("b"), F.col("q.v").alias("c"))
    )
    closing = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = paths.join(closing, ["a", "c"], "left_semi")
    return tri.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled_triangles"),
        (F.count(F.lit(1)) * TRI_SAMPLE_MOD**3)
        .cast("long")
        .alias("est_total_triangles"),
    )


def new_interval_overlap(spark, sf_dir):
    from oracle_parquet_dumper_spark.operators.global_index import grouped_topk
    from oracle_parquet_dumper_spark.operators.relational import (
        INTERVAL_BIN_DAYS,
        PEAK_HALF_DAYS,
        PEAK_TOPK,
    )
    from oracle_parquet_dumper_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    span = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("rev_cents"),
    )
    iv = (
        orders.join(span, orders.o_orderkey == span.l_orderkey)
        .where(F.col("last_ship") >= F.col("o_orderdate"))
        .select(
            "o_orderkey",
            "rev_cents",
            F.datediff("o_orderdate", epoch).alias("ts_s"),
            F.datediff("last_ship", epoch).alias("ts_e"),
        )
    )
    drev = (
        li.groupBy("l_shipdate")
        .agg(F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("day_rev"))
        .withColumn("yr", F.year("l_shipdate"))
        .withColumn("_negrev", -F.col("day_rev"))
    )
    peaks = grouped_topk(drev, ["yr"], ["_negrev", "l_shipdate"], PEAK_TOPK)
    win = peaks.select(
        "yr",
        F.col("l_shipdate").alias("peak_day"),
        (F.datediff("l_shipdate", epoch) - PEAK_HALF_DAYS).alias("w_s"),
        (F.datediff("l_shipdate", epoch) + PEAK_HALF_DAYS).alias("w_e"),
    )
    wbins = win.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.expr(f"w_s div {INTERVAL_BIN_DAYS}"),
                F.expr(f"w_e div {INTERVAL_BIN_DAYS}"),
            )
        ),
    )
    tbins = iv.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.expr(f"ts_s div {INTERVAL_BIN_DAYS}"),
                F.expr(f"ts_e div {INTERVAL_BIN_DAYS}"),
            )
        ),
    )
    # single-tree aggregation ladder replaces checkpoint + two branches:
    # dedupe at (yr, peak_day, o_orderkey), roll to (yr, o_orderkey), roll to yr
    dd = (
        tbins.join(wbins, "_bin")
        .where((F.col("ts_s") <= F.col("w_e")) & (F.col("w_s") <= F.col("ts_e")))
        .groupBy("yr", "peak_day", "o_orderkey")
        .agg(F.max("rev_cents").alias("rev_cents"))
    )
    per_order = dd.groupBy("yr", "o_orderkey").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.max("rev_cents").alias("rev"),
        F.collect_set("peak_day").alias("days"),
    )
    return per_order.groupBy("yr").agg(
        F.sum("n_p").alias("n_pairs"),
        F.count(F.lit(1)).alias("n_orders"),
        F.size(F.array_distinct(F.flatten(F.collect_set("days"))))
        .cast("long")
        .alias("n_windows"),
        F.sum("rev").alias("order_rev_cents"),
    )


def new_threshold_sensitivity(spark, sf_dir):
    from oracle_parquet_dumper_spark.operators.dedup import (
        N_MINHASH,
        minhash_band_rows,
        minhash_signatures_df,
    )
    from oracle_parquet_dumper_spark.session import materialize
    from oracle_parquet_dumper_spark.sources.tables import load_table

    sig = materialize(
        minhash_signatures_df(load_table(spark, sf_dir, "documents")), eager=True
    )
    bands = minhash_band_rows(sig, keep_sig=True)
    a = bands.select(
        F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    b = bands.select(
        F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e)
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", agree.alias("agree"))
        .dropDuplicates(["a", "b"])
    )
    return (
        pairs.groupBy(
            F.expr(f"CAST((10 * agree) div {N_MINHASH} AS BIGINT)").alias("est_decile")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("est_decile")
    )


def new_pagerank(spark, sf_dir):
    from oracle_parquet_dumper_spark.operators.graph import (
        PR_DAMPING,
        PR_ITERS,
        PR_SCALE,
        PR_TOP,
    )
    from oracle_parquet_dumper_spark.session import materialize
    from oracle_parquet_dumper_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    su = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")).distinct()
    a = su.select("o", F.col("s").alias("src"))
    b = su.select(F.col("o").alias("o2"), F.col("s").alias("dst"))
    canon = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("src") < F.col("dst")))
        .select("src", "dst")
        .distinct()
    )
    edges = canon.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
                F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
            )
        ).alias("e")
    ).select(F.col("e.u").alias("src"), F.col("e.v").alias("dst"))
    edges_deg = materialize(
        edges.withColumn("deg", F.count(F.lit(1)).over(W.partitionBy("src"))), eager=True
    )
    n1 = materialize(edges_deg.agg(F.count_distinct("src").alias("nn")), eager=True)
    d_num = int(round(PR_DAMPING * 100))
    ranks = (
        edges_deg.select("src")
        .distinct()
        .crossJoin(F.broadcast(n1))
        .select(F.col("src").alias("node"), F.expr(f"{PR_SCALE} div nn").alias("r"))
    )
    for _ in range(PR_ITERS):
        contribs = edges_deg.join(ranks, edges_deg.src == ranks.node).select(
            "dst", F.expr("r div deg").alias("c")
        )
        ranks = (
            contribs.groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .crossJoin(F.broadcast(n1))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"{(100 - d_num) * PR_SCALE} div (100 * nn) + ({d_num} * sc) div 100"
                ).alias("r"),
            )
        )
        ranks = materialize(ranks, eager=True)
    return (
        ranks.select(
            F.col("node").cast("long").alias("node"),
            (F.col("r") / F.lit(float(PR_SCALE))).alias("pr"),
        )
        .orderBy(F.col("pr").desc(), "node")
        .limit(PR_TOP)
    )


CASES = {
    "triangle_sampled": ("graph_triangle_count_sampled", new_triangle_sampled),
    "interval_overlap": ("join_interval_overlap_binned", new_interval_overlap),
    "threshold_sensitivity": ("dedup_threshold_sensitivity", new_threshold_sensitivity),
    "pagerank": ("graph_pagerank", new_pagerank),
}


def main() -> None:
    case = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    old_name, new_fn = CASES[case]
    from oracle_parquet_dumper_spark import plans
    from oracle_parquet_dumper_spark.session import get_spark
    from oracle_parquet_dumper_spark.sources.tables import load_table

    spark = get_spark("ab_r14")
    for t in ("orders", "lineitem", "documents", "events", "embeddings"):
        load_table(spark, SF_DIR, t).count()

    old_fn = plans.REGISTRY[old_name].fn
    # correctness first: identical row hashes
    h_old = row_hash(old_fn(spark, SF_DIR).toPandas())
    h_new = row_hash(new_fn(spark, SF_DIR).toPandas())
    print(f"hash old={h_old} new={h_new} match={h_old == h_new}", flush=True)
    if h_old != h_new:
        sys.exit(2)

    t_old, t_new = [], []
    for i in range(reps):
        for label, fn, acc in (("old", old_fn, t_old), ("new", new_fn, t_new)):
            gc.collect()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            acc.append(dt)
            print(f"rep {i} {label}: {dt:.3f}s", flush=True)
    t_old.sort(), t_new.sort()
    mo, mn = t_old[len(t_old) // 2], t_new[len(t_new) // 2]
    print(
        f"MEDIAN old={mo:.3f}s new={mn:.3f}s speedup={mo / mn:.2f}x "
        f"(old runs {t_old}, new runs {t_new})",
        flush=True,
    )


if __name__ == "__main__":
    main()
