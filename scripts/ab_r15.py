"""Within-session interleaved A/B timing for r15 optimization candidates.

Usage: python scripts/ab_r15.py <case> [reps]
Variants run interleaved (A B C A B C ...) with gc+clearCache between
reps, medians reported, and all variants' results are hash-compared
(same row-hash convention as the sweep).  Methodology per
OPTIMIZATION_r14.md "Box noise": never decide from cross-session
totals on this box.
"""

from __future__ import annotations

import gc
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def row_hash(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(str(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()[:12], len(rows)


# --------------------------------------------------------------------------
# candidates
# --------------------------------------------------------------------------


def _udf_ladder_base(spark, sf_dir, nsplit):
    """The three scalar-UDF queries' shared scan at a given split."""
    li = (
        __import__(
            "oracle_parquet_dumper_spark.sources.tables", fromlist=["load_table"]
        ).load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 5 == 0)
    )
    if nsplit:
        li = li.repartition(nsplit)
    return li


def make_udf_variants(which):
    """which in {pandas, arrow, pickle}: nosplit / split3 / split32."""
    from oracle_parquet_dumper_spark.operators.udfs import (
        clipped_ratio,
        clipped_ratio_arrow,
        clipped_ratio_pickle,
    )

    kern = {
        "pandas": clipped_ratio,
        "arrow": clipped_ratio_arrow,
        "pickle": clipped_ratio_pickle,
    }[which]

    def q(nsplit):
        def fn(spark, sf_dir):
            li = _udf_ladder_base(spark, sf_dir, nsplit)
            return li.select(
                "l_orderkey",
                "l_linenumber",
                kern("l_extendedprice", "l_quantity").alias("unit_price_clipped"),
            )

        return fn

    return {"nosplit": q(0), "split3": q(3), "split32": q(32)}


def dq_drift_emd_lead(spark, sf_dir):
    """Candidate: within-bucket lead() riding the index window + a
    <=64-row next-bucket-first fix-up, replacing the _gidx self-join."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index
    from oracle_parquet_dumper_spark.operators.validation import EMD_PACK
    from oracle_parquet_dumper_spark.sources.tables import load_table

    d38 = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders")
    v = (
        o.select(
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("o_orderkey") % 2).alias("side"),
        )
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("cb"),
        )
        .withColumn("w", F.col("ca") * EMD_PACK + F.col("cb"))
    )
    raw = with_global_index(
        v, "cents", [], weight_col="w", bucketer="quantile", bucket_col="_gb"
    )
    # lead rides the SAME (partition _gb, order cents) window the index
    # machinery already established -> no extra exchange/sort
    raw = raw.withColumn(
        "nxt_in", F.lead("cents").over(W.partitionBy("_gb").orderBy("cents"))
    )
    idx = raw.localCheckpoint(eager=False)
    firsts = idx.groupBy("_gb").agg(F.min("cents").alias("bf"))
    nxtb = firsts.select(
        "_gb", F.lead("bf").over(W.orderBy("_gb")).alias("nxt_bf")
    )
    idx2 = idx.join(F.broadcast(nxtb), "_gb", "left").select(
        "cents",
        F.expr(f"_gcum div {EMD_PACK}").alias("cuma"),
        F.expr(f"_gcum % {EMD_PACK}").alias("cumb"),
        F.expr(f"_gwtot div {EMD_PACK}").alias("na"),
        F.expr(f"_gwtot % {EMD_PACK}").alias("nb"),
        F.coalesce("nxt_in", "nxt_bf").alias("nxt"),
    )
    terms = idx2.where(F.col("nxt").isNotNull()).select(
        "na",
        "nb",
        (
            F.abs(
                F.col("cuma").cast(d38) * F.col("nb")
                - F.col("cumb").cast(d38) * F.col("na")
            )
            * (F.col("nxt") - F.col("cents"))
        )
        .cast(d38)
        .alias("term"),
    )
    dbl = lambda c: c.cast("string").cast("double")  # noqa: E731
    return (
        terms.groupBy("na", "nb")
        .agg(F.sum("term").cast(d38).alias("emd_num"))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            (
                dbl(F.col("emd_num"))
                / dbl((F.col("na").cast(d38) * F.col("nb")).cast(d38))
            ).alias("emd_cents"),
        )
    )


def dedup_incremental_noanti(spark, sf_dir):
    """Candidate: drop the rest=anti-join — near-hits computed over ALL
    batch docs (exactly the oracle's shape); rows for exact-dup docs are
    inert (verdict CASE checks exact first, coalesce(m_e, m_n)).
    Removes the digest-tier -> batch-sig serialization and the second
    derivation of exact_hit."""
    from oracle_parquet_dumper_spark.operators.dedup import (
        INC_MOD,
        N_MINHASH,
        minhash_band_rows,
        minhash_signatures_df,
    )
    from oracle_parquet_dumper_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    newb = d.where(F.col("doc_id") % INC_MOD == 0).select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % INC_MOD != 0).select("doc_id", "text")
    corp_dig = corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("matched_id")
    )
    new_dig = newb.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    exact_hit = new_dig.join(corp_dig, "h").select("doc_id", "matched_id")
    sig_new = minhash_signatures_df(newb)
    sig_corp = minhash_signatures_df(corpus)
    new_bands = minhash_band_rows(sig_new, keep_sig=True).select(
        F.col("doc_id").alias("n_id"), F.col("sig").alias("sig_n"), "band", "bucket"
    )
    corp_bands = minhash_band_rows(sig_corp, keep_sig=True).select(
        F.col("doc_id").alias("c_id"), F.col("sig").alias("sig_c"), "band", "bucket"
    )
    est = F.size(
        F.filter(F.zip_with("sig_n", "sig_c", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(float(N_MINHASH))
    near_hit = (
        corp_bands.join(F.broadcast(new_bands), ["band", "bucket"])
        .where(est >= 0.5)
        .groupBy(F.col("n_id").alias("doc_id"))
        .agg(F.min("c_id").alias("matched_id"))
    )
    e = exact_hit.select("doc_id", F.col("matched_id").alias("m_e"))
    h = near_hit.select("doc_id", F.col("matched_id").alias("m_n"))
    return (
        newb.select("doc_id")
        .join(e, "doc_id", "left")
        .join(h, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("m_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("m_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce("m_e", "m_n").alias("matched_id"),
        )
    )


def dedup_incremental_r13(spark, sf_dir):
    """The r13 shape: (n_id, c_id) pair-dedup exchange BEFORE the est
    filter (sig arrays carried through the dedup) — VERDICT r14 #2
    adjudication baseline."""
    from oracle_parquet_dumper_spark.operators.dedup import (
        INC_MOD,
        N_MINHASH,
        minhash_band_rows,
        minhash_signatures_df,
    )
    from oracle_parquet_dumper_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    newb = d.where(F.col("doc_id") % INC_MOD == 0).select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % INC_MOD != 0).select("doc_id", "text")
    corp_dig = corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("matched_id")
    )
    new_dig = newb.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    exact_hit = new_dig.join(corp_dig, "h").select("doc_id", "matched_id")
    rest = newb.join(exact_hit, "doc_id", "left_anti")
    sig_new = minhash_signatures_df(rest)
    sig_corp = minhash_signatures_df(corpus)
    new_bands = minhash_band_rows(sig_new, keep_sig=True).select(
        F.col("doc_id").alias("n_id"), F.col("sig").alias("sig_n"), "band", "bucket"
    )
    corp_bands = minhash_band_rows(sig_corp, keep_sig=True).select(
        F.col("doc_id").alias("c_id"), F.col("sig").alias("sig_c"), "band", "bucket"
    )
    est = F.size(
        F.filter(F.zip_with("sig_n", "sig_c", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(float(N_MINHASH))
    near_hit = (
        corp_bands.join(F.broadcast(new_bands), ["band", "bucket"])
        .select("n_id", "c_id", "sig_n", "sig_c")
        .dropDuplicates(["n_id", "c_id"])
        .where(est >= 0.5)
        .groupBy(F.col("n_id").alias("doc_id"))
        .agg(F.min("c_id").alias("matched_id"))
    )
    e = exact_hit.select("doc_id", F.col("matched_id").alias("m_e"))
    h = near_hit.select("doc_id", F.col("matched_id").alias("m_n"))
    return (
        newb.select("doc_id")
        .join(e, "doc_id", "left")
        .join(h, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("m_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("m_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce("m_e", "m_n").alias("matched_id"),
        )
    )


def stickiness_ckpt(spark, sf_dir):
    """events_stickiness_dau_mau with the user-day relation
    localCheckpointed once (it feeds obs, support AND dau — three
    re-derivations of the events scan + distinct without it)."""
    from oracle_parquet_dumper_spark.operators.events_analytics import (
        MAU_WINDOW_DAYS,
    )
    from oracle_parquet_dumper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    obs = ud.select("d").distinct()
    support = ud.select(
        "user_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {MAU_WINDOW_DAYS - 1}),"
                " i -> date_add(d, i))"
            )
        ).alias("day_at"),
    )
    mau = (
        support.join(obs.withColumnRenamed("d", "day_at"), "day_at", "left_semi")
        .groupBy("day_at")
        .agg(F.count_distinct("user_id").cast("long").alias("mau"))
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    return (
        dau.join(mau, dau.d == mau.day_at)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.expr("CAST((1000000 * dau) div mau AS BIGINT)").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


def pagerank_nockpt(spark, sf_dir):
    """graph_pagerank WITHOUT the per-round ranks localCheckpoint: each
    round's ranks has exactly ONE consumer (the next round's join), so
    the whole 5-round recurrence is a single tree evaluated once — the
    per-round truncation only pays 5 materializations + job barriers."""
    from oracle_parquet_dumper_spark.operators.graph import (
        PR_DAMPING,
        PR_ITERS,
        PR_SCALE,
        PR_TOP,
        supplier_edges,
    )
    from oracle_parquet_dumper_spark.session import materialize
    from pyspark.sql import Window as W

    edges = supplier_edges(spark, sf_dir)
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
    ranks = ranks.select("node", (F.col("r") / F.lit(float(PR_SCALE))).alias("pr"))
    return (
        ranks.select(F.col("node").cast("long").alias("node"), "pr")
        .orderBy(F.col("pr").desc(), "node")
        .limit(PR_TOP)
    )


# --------------------------------------------------------------------------
# harness
# --------------------------------------------------------------------------


def run(spark, variants: dict, reps: int):
    import statistics

    times = {k: [] for k in variants}
    hashes = {}
    # correctness check once, untimed
    for k, fn in variants.items():
        hashes[k] = row_hash(fn(spark, SF_DIR).toPandas())
    print("hashes:", hashes)
    assert len({h for h in hashes.values()}) == 1, "VARIANTS DISAGREE"
    for i in range(reps):
        for k, fn in variants.items():
            gc.collect()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times[k].append(time.perf_counter() - t0)
    for k, ts in times.items():
        print(
            f"{k:>10}: median={statistics.median(ts):.4f}  "
            f"runs={[round(t, 3) for t in ts]}"
        )


def main():
    case = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    from oracle_parquet_dumper_spark import plans
    from oracle_parquet_dumper_spark.session import get_spark

    spark = get_spark("ab_r15")
    if case in ("pandas", "arrow", "pickle"):
        variants = make_udf_variants(case)
    elif case == "dq_drift":
        variants = {
            "old": plans.REGISTRY["dq_drift_emd_numeric"].fn,
            "lead": dq_drift_emd_lead,
        }
    elif case == "incremental":
        variants = {
            "r13": dedup_incremental_r13,
            "r14": plans.REGISTRY["dedup_incremental"].fn,
        }
    elif case == "pagerank":
        variants = {
            "cur": plans.REGISTRY["graph_pagerank"].fn,
            "nockpt": pagerank_nockpt,
        }
    elif case == "stickiness":
        variants = {
            "cur": plans.REGISTRY["events_stickiness_dau_mau"].fn,
            "ckpt": stickiness_ckpt,
        }
    elif case == "inc_noanti":
        variants = {
            "r14": plans.REGISTRY["dedup_incremental"].fn,
            "noanti": dedup_incremental_noanti,
        }
    else:
        raise SystemExit(f"unknown case {case}")
    run(spark, variants, reps)


if __name__ == "__main__":
    main()
