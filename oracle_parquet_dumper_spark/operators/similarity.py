"""Similarity search over the ``embeddings`` table: exact brute-force
top-k (the baseline) and LSH/IVF bucketed variants (the scale path).

North-star extension (SURVEY.md §2 Part B "Similarity search").  The
brute-force pass broadcasts the query vector and scans once — at 100 TB
that is one map-side pass plus a TakeOrderedAndProject (per-partition
top-k heaps, driver merges k*partitions rows, no global sort).  The LSH
variant prunes the scan to matching buckets; buckets are precomputable
and bucketable/bucket-joinable at scale.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.lsh import _bucket_sql, _sign_bit
from oracle_parquet_dumper_spark.functions.rounding import (
    dec_sum,
    dec_sum_sql,
    hugeint_sql,
    int128_sql,
    to_double,
    to_double_sql,
)
from oracle_parquet_dumper_spark.functions.vectors import (
    as_double,
    cosine_prenormed,
    cosine_rounded,
    cosine_rounded_sql,
    dot,
    dot_sql,
    norm,
)
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table

QUERY_VEC_ID = 0
TOP_K = 10

# Deterministic hyperplanes for sign-LSH (seed fixed; SURVEY.md §7 hard
# part 5: seeded randomness only).
_rng = np.random.default_rng(42)
HYPERPLANES: list[list[float]] = [
    [round(float(x), 6) for x in _rng.standard_normal(64)] for x in range(8)
]


def _query_vector(spark: SparkSession, sf_dir: str):
    e = load_table(spark, sf_dir, "embeddings")
    return e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, {cosine_rounded_sql('embedding', 'qvec')} AS cos
    FROM embeddings CROSS JOIN q
    WHERE vec_id != {QUERY_VEC_ID}
    ORDER BY cos DESC, vec_id
    LIMIT {TOP_K}
    """,
    tags=("similarity",),
    bench=True,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for one query vector: broadcast the vector,
    one scan, per-partition heap top-k (TakeOrderedAndProject)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine_rounded("embedding", "qvec").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(TOP_K)
    )


@query(
    "sim_threshold_join",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 4 = 0)
    SELECT a.label, COUNT(*) AS n_pairs,
           MAX({cosine_rounded_sql('a.embedding', 'b.embedding')}) AS max_cos,
           MIN({cosine_rounded_sql('a.embedding', 'b.embedding')}) AS min_cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cosine_rounded_sql('a.embedding', 'b.embedding')} >= 0.2
    GROUP BY a.label
    """,
    tags=("similarity", "join", "demo"),
)
def sim_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise similarity join with threshold, blocked by label —
    the aggregate per block keeps output bounded.

    DEMO of exact-within-small-block scoring (O((n/10)^2) per label
    block): the scale path is the LSH-blocked flagship
    ``sim_threshold_join_lsh``."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double, cosine_prenormed, norm

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 4 == 0)
    a = e.select(
        F.col("vec_id").alias("a"),
        "label",
        as_double("embedding").alias("va"),
        norm("embedding").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("b"),
        F.col("label").alias("label_b"),
        as_double("embedding").alias("vb"),
        norm("embedding").alias("nb"),
    )
    cos = cosine_prenormed("va", "vb", "na", "nb")
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("a") < F.col("b")))
        .select("label", cos.alias("cos"))
        .where(F.col("cos") >= 0.2)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("cos").alias("max_cos"),
            F.min("cos").alias("min_cos"),
        )
    )


def _threshold_lsh_oracle() -> str:
    from oracle_parquet_dumper_spark.functions.lsh import banded_buckets_sql

    return f"""
    WITH bands AS MATERIALIZED ({banded_buckets_sql("embeddings", "vec_id", "embedding")}),
    cand AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    )
    SELECT a, b, {cosine_rounded_sql('ea.embedding', 'eb.embedding')} AS cos
    FROM cand JOIN embeddings ea ON ea.vec_id = a
              JOIN embeddings eb ON eb.vec_id = b
    WHERE {cosine_rounded_sql('ea.embedding', 'eb.embedding')} >= 0.2
    """


@query(
    "sim_threshold_join_lsh",
    oracle=_threshold_lsh_oracle(),
    tags=("similarity", "join", "lsh", "flagship"),
    band_bits=4,  # ruled: full-recall reference; capped twin is the scale path
)
def sim_threshold_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity threshold join blocked by banded sign-LSH — the
    scale-path flagship for pairwise similarity.

    ``sim_threshold_join`` blocks on the 10-value ``label``; within-block
    pair cost is O((n/10)^2).  Candidates here come from a (band, bucket)
    equi-join (4 bands x 4 sign bits, functions/lsh.py), so cost tracks
    bucket occupancy (~n/16 per band) and the bucket key
    bucket-partitions at 100 TB.  Candidates are verified with the exact
    rounded cosine; output is every surviving pair above threshold.
    Recall is the banded-LSH s-curve — tune with more bands/fewer bits.

    Oracle-checked: the SQL twin regenerates the identical seeded planes
    and rounded-dot sign bits."""
    return _threshold_join_lsh(spark, sf_dir)


SIM_LSH_CAP = 32  # max rows admitted per (band, bucket)


def _threshold_lsh_capped_oracle() -> str:
    from oracle_parquet_dumper_spark.functions.lsh import banded_buckets_sql

    return f"""
    WITH bands AS MATERIALIZED ({banded_buckets_sql("embeddings", "vec_id", "embedding")}),
    capped AS (
      SELECT vec_id, band, bucket FROM (
        SELECT vec_id, band, bucket,
               ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn
        FROM bands
      ) WHERE rn <= {SIM_LSH_CAP}
    ),
    cand AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM capped l JOIN capped r
        ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    )
    SELECT a, b, {cosine_rounded_sql('ea.embedding', 'eb.embedding')} AS cos
    FROM cand JOIN embeddings ea ON ea.vec_id = a
              JOIN embeddings eb ON eb.vec_id = b
    WHERE {cosine_rounded_sql('ea.embedding', 'eb.embedding')} >= 0.2
    """


@query(
    "sim_threshold_join_lsh_capped",
    oracle=_threshold_lsh_capped_oracle(),
    tags=("similarity", "join", "lsh"),
    bench=True,
    band_bits=4,
    capped_occupancy=True,  # per-(band,bucket) budget of SIM_LSH_CAP rows
)
def sim_threshold_join_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_threshold_join_lsh`` with a PER-BUCKET OCCUPANCY CAP — the
    similarity twin of ``dedup_fuzzy_levenshtein_lsh_capped``, shipped
    under the round-10 band-key cardinality rule: 4-bit band keys have
    a 16-value domain, so bucket occupancy grows as n/16 and UNCAPPED
    candidate pairs as n^2/16 (the round-9 pHash failure mode).  Each
    (band, bucket) admits only its {SIM_LSH_CAP} smallest vec_ids
    (row_number — deterministic), so candidate pairs per bucket are
    <= C({SIM_LSH_CAP},2) = 496 and total work is O(#buckets) at ANY
    corpus size — the declared recall-for-boundedness trade (a true
    pair is missed only if BOTH members fall past the cap in all 4 of
    their shared bands).  Wider bands are NOT the fix at the 0.2
    threshold (per-bit collision p~0.56 guts banded recall at 8 bits);
    the cap bounds work while keeping the recall-friendly banding.

    Scale shape: the cap is one row_number window PARTITIONED BY
    (band, bucket) — the same key the candidate join shuffles on, so
    the window rides that exchange; everything else is the uncapped
    plan.  Candidates verified with the exact rounded cosine."""
    return _threshold_join_lsh(spark, sf_dir, cap=SIM_LSH_CAP)


def _threshold_join_lsh(spark: SparkSession, sf_dir: str, cap: int | None = None) -> DataFrame:
    """Body of the two sign-LSH threshold joins: 4-bit banded candidates
    (``cap`` per bucket), exact rounded cosine >= 0.2."""
    from oracle_parquet_dumper_spark.functions.lsh import band_pairs, banded_buckets, pair_cosine

    e = load_table(spark, sf_dir, "embeddings")
    cand = band_pairs(banded_buckets(e, "vec_id", "embedding"), "vec_id", ["band", "bucket"], cap)
    return pair_cosine(cand, e, "vec_id", "embedding").where(F.col("cos") >= 0.2)


# --- k-NN evaluation kit ------------------------------------------------------
# The blocks every probe and batch k-NN query below is built from, each
# Spark builder next to its DuckDB twin.  Batch queries score the
# corpus ``e`` (vec_id, v = the vector as array<double>, nv = its norm;
# see ``_vectors``) against the query batch ``q`` (qid, qv, nq); a
# per-query top-k relation is (qid, vec_id, ...) ranked on (cos DESC,
# vec_id) unless a query orders by something else.

KNN_QUERY_SET_SIZE = 16


def _bucket(vec: str) -> Column:
    """8-bit sign-LSH bucket over ``HYPERPLANES``: one band of
    functions/lsh.py's rounded-dot sign bits, which make the bucket (and
    hence every ANN result) reproducible in DuckDB."""
    vec_d = as_double(vec)
    return F.concat(*[_sign_bit(vec_d, plane) for plane in HYPERPLANES])


_BUCKET_SQL = _bucket_sql("embedding::DOUBLE[]", 0, HYPERPLANES, len(HYPERPLANES))


def _vectors() -> list[Column]:
    """``v`` and ``nv`` of the ``embedding`` column, computed once per row."""
    return [as_double("embedding").alias("v"), norm("embedding").alias("nv")]


def _query_batch(e: DataFrame, **cols: str) -> DataFrame:
    """The capped query batch: the first ``KNN_QUERY_SET_SIZE`` rows of
    ``e`` whose vec_id is a multiple of 100, as ``qid`` plus each column
    ``cols[alias]`` of ``e`` under ``alias``.  Capping keeps the
    broadcast and the scoring cost (one scan x |Q|) constant as the
    corpus grows."""
    return (
        e.where(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(KNN_QUERY_SET_SIZE)
        .select(F.col("vec_id").alias("qid"), *[F.col(c).alias(a) for a, c in cols.items()])
    )


def _query_batch_sql(cols: str, src: str = "embeddings") -> str:
    """DuckDB twin of ``_query_batch`` over ``src``; ``cols`` is a select list."""
    return (
        f"SELECT vec_id AS qid, {cols} FROM {src} "
        f"WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT {KNN_QUERY_SET_SIZE}"
    )


def _top_k(df: DataFrame, k: int, rank: str = "rn", order: Column | None = None) -> DataFrame:
    """The first ``k`` rows of ``df`` per ``qid`` by ``order`` (default
    ``cos`` descending), ties on vec_id, numbered in column ``rank``."""
    from pyspark.sql import Window as W

    by = F.col("cos").desc() if order is None else order
    w = W.partitionBy("qid").orderBy(by, "vec_id")
    return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


def _top_k_sql(scored: str, k: int, cols: str = "qid, vec_id", order: str = "cos DESC") -> str:
    """DuckDB twin of ``_top_k`` over the query ``scored``; the rank is ``rn``."""
    return f"""SELECT {cols} FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY {order}, vec_id) AS rn
        FROM ({scored})
      ) WHERE rn <= {k}"""


def _score(pairs: DataFrame) -> DataFrame:
    """(qid, vec_id, cos) of (corpus, query) pairs: the rounded cosine
    over the once-per-row double vectors and norms."""
    return pairs.select("qid", "vec_id", cosine_prenormed("v", "qv", "nv", "nq").alias("cos"))


def _truth(e: DataFrame, q: DataFrame, k: int = TOP_K, rank: str = "rn") -> DataFrame:
    """Exact ground truth: the top ``k`` of every other corpus vector per
    query by rounded cosine — one scan against the broadcast batch."""
    return _top_k(_score(e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))), k, rank)


def _truth_sql(k: int = TOP_K, cols: str = "qid, vec_id") -> str:
    """DuckDB twin of ``_truth`` against the CTE ``q`` (qid, qv)."""
    scored = (
        f"SELECT q.qid, e.vec_id, {cosine_rounded_sql('e.embedding', 'q.qv')} AS cos "
        "FROM embeddings e JOIN q ON e.vec_id != q.qid"
    )
    return _top_k_sql(scored, k, cols)


def _probes(q: DataFrame, *keep: str) -> DataFrame:
    """Multi-probe set: the ``keep`` columns of ``q`` once per bucket at
    Hamming distance <= 1 from ``qbucket`` (itself and its 8 one-bit
    flips), as ``bucket`` — built from the query rows, then broadcast,
    so the corpus is scanned once."""
    nbits = len(HYPERPLANES)
    flips = [
        F.concat(
            F.substring("qbucket", 1, i),
            F.when(F.substring("qbucket", i + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring("qbucket", i + 2, nbits - i - 1),
        )
        for i in range(nbits)
    ]
    return q.select(*keep, F.explode(F.array(F.col("qbucket"), *flips)).alias("bucket"))


# DuckDB twin of ``_probes``, stated as a join predicate.
_PROBES_SQL = "hamming(b.bucket, q.qbucket) <= 1"


def _probe_ann(e: DataFrame, q: DataFrame, rank: str = "rn") -> DataFrame:
    """Multi-probe sign-LSH answer: the top ``TOP_K`` per query among the
    corpus rows in its 9 probe buckets (``e`` and ``q`` carry
    ``bucket``/``qbucket``)."""
    cand = e.join(F.broadcast(_probes(q, "qid", "qv", "nq")), "bucket")
    return _top_k(_score(cand.where(F.col("vec_id") != F.col("qid"))), TOP_K, rank)


def _probe_ann_sql(cols: str = "qid, vec_id") -> str:
    """DuckDB twin of ``_probe_ann`` against the CTEs ``b`` (vec_id,
    embedding, bucket) and ``q`` (qid, qv, qbucket)."""
    scored = (
        f"SELECT q.qid, b.vec_id, {cosine_rounded_sql('b.embedding', 'q.qv')} AS cos "
        f"FROM b JOIN q ON {_PROBES_SQL} AND b.vec_id != q.qid"
    )
    return _top_k_sql(scored, TOP_K, cols)


def _recall(truth: DataFrame, ann: DataFrame) -> DataFrame:
    """(qid, n_truth, n_hit, recall_ppm): how many of each query's
    ``truth`` rows ``ann`` found, recall as exact integer ppm.  Both
    sides derive from the same scan, so ``truth["qid"] == ann["qid"]``
    would resolve to ONE expression id and fall into Spark's "trivially
    true equals predicate" heuristic; the ann keys are renamed instead."""
    hits = ann.select(F.col("qid").alias("a_qid"), F.col("vec_id").alias("hit_id"))
    joined = truth.select("qid", "vec_id").join(
        hits,
        (F.col("qid") == F.col("a_qid")) & (F.col("vec_id") == F.col("hit_id")),
        "left",
    )
    n_hit = F.count("hit_id")
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_truth"),
        n_hit.alias("n_hit"),
        F.floor(n_hit * 1000000.0 / F.count(F.lit(1))).cast("long").alias("recall_ppm"),
    )


# DuckDB twin of ``_recall`` over the CTEs ``truth`` and ``ann``.
_RECALL_SQL = """SELECT t.qid,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
           CAST(floor(COUNT(a.vec_id) * 1000000.0 / COUNT(*)) AS BIGINT) AS recall_ppm
    FROM truth t LEFT JOIN ann a ON t.qid = a.qid AND t.vec_id = a.vec_id
    GROUP BY t.qid"""


def _probe_oracle(probe: str, tail: str) -> str:
    """DuckDB twin of the single-query probes: the corpus rows whose
    bucket satisfies ``probe`` against the query's, scored by rounded
    cosine, then ``tail`` (a top-k cut or a radius filter)."""
    return f"""
    WITH b AS MATERIALIZED (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = {QUERY_VEC_ID}),
    s AS (
      SELECT b.vec_id, b.bucket, {cosine_rounded_sql('b.embedding', 'q.qv')} AS cos
      FROM b, q WHERE {probe} AND b.vec_id != {QUERY_VEC_ID}
    )
    SELECT * FROM s {tail}
    """


def _multiprobe_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket, cos) of every corpus row in the query vector's 9
    probe buckets."""
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select("vec_id", "embedding", _bucket("embedding").alias("bucket"))
    q = bucketed.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    return (
        bucketed.join(F.broadcast(_probes(q, "qvec")), "bucket")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "bucket", cosine_rounded("embedding", "qvec").alias("cos"))
    )


@query(
    "sim_ann_lsh",
    oracle=_probe_oracle("b.bucket = q.qbucket", f"ORDER BY cos DESC, vec_id LIMIT {TOP_K}"),
    tags=("similarity", "lsh"),
    band_bits=8,  # ruled: probe-style, O(N/256) per query
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-LSH: 8 fixed hyperplanes -> 8-bit bucket;
    search = exact cosine re-rank *within the query's bucket only*.

    At scale the bucket id is a precomputed partition/bucket column, so a
    query touches 1/256th of the data; recall is tuned by plane count
    and multi-probe.  Oracle-checked: rounded-dot sign bits make bucket
    assignment engine-portable (the lsh.py convention); recall vs brute
    force is additionally asserted in
    tests/test_dedup_similarity.py::test_ann_lsh_recall_vs_bruteforce."""
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select("vec_id", "embedding", _bucket("embedding").alias("bucket"))
    q = bucketed.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    return (
        bucketed.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "bucket", cosine_rounded("embedding", "qvec").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(TOP_K)
    )


@query(
    "sim_ivf_coarse",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec, label AS qcell FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label, {cosine_rounded_sql('e.embedding', 'q.qvec')} AS cos
    FROM embeddings e, q
    WHERE (e.label = q.qcell OR e.label = (q.qcell + 1) % 10)
      AND e.vec_id != {QUERY_VEC_ID}
    ORDER BY cos DESC, vec_id
    LIMIT {TOP_K}
    """,
    tags=("similarity", "ivf"),
)
def sim_ivf_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = the label column (stand-in for
    k-means centroid ids, which at scale are trained offline); search =
    exact cosine within the query's cell plus the next cell (nprobe=2).
    Demonstrates the partition-pruned ANN layout: cells map to partition
    keys so a probe reads only its cells' files."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), F.col("label").alias("qcell")
    )
    probed = e.join(
        F.broadcast(q),
        (F.col("label") == F.col("qcell")) | (F.col("label") == (F.col("qcell") + 1) % 10),
    )
    return (
        probed.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", cosine_rounded("embedding", "qvec").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(TOP_K)
    )


@query(
    "sim_ann_lsh_multiprobe",
    oracle=_probe_oracle(_PROBES_SQL, f"ORDER BY cos DESC, vec_id LIMIT {TOP_K}"),
    tags=("similarity", "lsh"),
    band_bits=8,  # ruled: probe-style, 9/256 buckets per query
)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: probe the query's bucket PLUS every
    Hamming-distance-1 neighbor (flip one of the 8 sign bits).  With 8
    planes that is 9 of 256 buckets (~3.5% of the data) instead of
    1/256 — the standard recall/cost knob for LSH without adding tables
    (Lv et al., "Multi-Probe LSH", VLDB 2007).

    Plan shape: the probe set is built from the single query row, then
    exploded and broadcast, so the base table is scanned once with a
    broadcast-hash semi-style join on the precomputable bucket column;
    at 100 TB the bucket is a partition key and the 9 probes prune to 9
    partitions.  Oracle-checked (rounded-dot sign bits; the SQL twin
    states the same probe set declaratively as hamming(bucket, qbucket)
    <= 1); recall-vs-bruteforce superset of single-probe asserted in
    tests."""
    return _multiprobe_scored(spark, sf_dir).orderBy(F.col("cos").desc(), "vec_id").limit(TOP_K)


@query(
    "sim_ann_ivf_rerank_pandas",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qvec, label AS qcell FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, {cosine_rounded_sql('e.embedding', 'q.qvec')} AS cos
    FROM embeddings e, q
    WHERE e.label = q.qcell AND e.vec_id != {QUERY_VEC_ID}
    ORDER BY cos DESC, vec_id
    LIMIT {TOP_K}
    """,
    tags=("similarity", "ivf", "pandas_udf"),
)
def sim_ann_ivf_rerank_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse prune + Arrow-batched numpy re-rank: the candidate set
    is pruned JVM-side to the query's cell (partition-prunable at scale),
    then scored in a ``mapInPandas`` kernel that stacks each Arrow batch
    into one (batch x dim) matrix and does a single BLAS matvec — the
    shape a real re-ranker (quantized distance tables, ONNX scorer)
    plugs into.  Scoring stays distributed; only the final top-k heap
    merge (TakeOrderedAndProject) touches the driver.

    Oracle-checked: BLAS matvec and the sequential double fold agree to
    within 1 ulp, and 6-digit rounding absorbs that (the boundary-
    straddle probability is ~1e-10 per value); equality with the
    JVM-expression re-rank on the same candidate set is additionally
    asserted in tests."""
    import sys as _sys

    import numpy as np
    import pandas as pd

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])

    schema = "vec_id long, cos double"
    e = load_table(spark, sf_dir, "embeddings")
    qrow = e.where(F.col("vec_id") == QUERY_VEC_ID).select("embedding", "label").first()
    if qrow is None:  # no query vector: the oracle's cross join is empty too
        return spark.createDataFrame([], schema)
    qvec = np.asarray(qrow["embedding"], dtype=np.float64)
    qcell = int(qrow["label"])
    qnorm = float(np.sqrt(qvec @ qvec))

    cand = e.where((F.col("label") == qcell) & (F.col("vec_id") != QUERY_VEC_ID)).select(
        "vec_id", "embedding"
    )

    def rerank(batches):
        for pdf in batches:
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            cos = (m @ qvec) / (np.sqrt((m * m).sum(axis=1)) * qnorm)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cos": np.round(cos, 6)})

    scored = cand.mapInPandas(rerank, schema=schema)
    return scored.orderBy(F.col("cos").desc(), "vec_id").limit(TOP_K)


def _quantized_oracle() -> str:
    from oracle_parquet_dumper_spark.functions.vectors import quantize_int8_sql

    q8 = quantize_int8_sql("embedding::DOUBLE[]")
    return f"""
    WITH qv AS (SELECT vec_id, {q8} AS q FROM embeddings),
    one AS (SELECT q AS qq FROM qv WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, {cosine_rounded_sql('q', 'qq')} AS qcos
    FROM qv CROSS JOIN one
    WHERE vec_id != {QUERY_VEC_ID}
    ORDER BY qcos DESC, vec_id
    LIMIT {TOP_K}
    """


@query(
    "sim_topk_quantized_int8",
    oracle=_quantized_oracle(),
    tags=("similarity", "quantization"),
)
def sim_topk_quantized_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over int8-QUANTIZED vectors: symmetric per-vector
    scalar quantization (q_i = round(x_i*127/max|x|)), then cosine on the
    integer vectors — scale cancels, so no dequantize step.

    The 100 TB story is scan bandwidth: the quantized column is 4x
    smaller than float32 (8x vs double), precomputed once at ingest and
    stored alongside (or instead of) the full vectors; brute-force and
    IVF/LSH re-rank stages then stream int8 instead of floats.  Integer
    dots are exact in double, so this is also the rare similarity query
    that is bit-identical across engines end-to-end (oracle-checked, no
    fp-sensitivity caveat).  Recall vs full-precision cosine is asserted
    in tests/test_dedup_similarity.py."""
    from oracle_parquet_dumper_spark.functions.vectors import (
        absmax,
        as_double,
        cosine_prenormed,
        norm,
        quantize_int8,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id",
        quantize_int8(as_double("embedding"), absmax(as_double("embedding"))).alias("q"),
    )
    q = qv.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("q").alias("qq"))
    return (
        qv.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                dot("q", "qq") / (F.sqrt(dot("q", "q")) * F.sqrt(dot("qq", "qq"))), 6
            ).alias("qcos"),
        )
        .orderBy(F.col("qcos").desc(), "vec_id")
        .limit(TOP_K)
    )


def _recall_eval_oracle() -> str:
    return f"""
    WITH b AS MATERIALIZED (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    q AS ({_query_batch_sql("embedding AS qv, bucket AS qbucket", "b")}),
    truth AS ({_truth_sql()}),
    ann AS ({_probe_ann_sql()})
    {_RECALL_SQL}
    """


@query(
    "sim_recall_eval",
    oracle=_recall_eval_oracle(),
    tags=("similarity", "lsh", "eval"),
    band_bits=8,  # ruled: probe-style eval over a bounded query batch
)
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@{TOP_K} of the multi-probe
    sign-LSH index against exact brute-force ground truth, per query in
    the capped {KNN_QUERY_SET_SIZE}-query batch — the evaluation loop an
    index deployment runs before trusting an approximate path, expressed
    as one engine query.

    Truth side = one broadcast scan + per-qid top-k window (the
    sim_knn_join shape); ANN side = the Hamming<=1 probe join of
    sim_ann_lsh_multiprobe generalized to a query batch (9 probes per
    query, broadcast as |Q|x9 rows, base table scanned once).  Recall is
    an exact integer ppm so the oracle is bit-exact.  At 100 TB the
    truth pass runs over a sampled slice (ground truth is the expensive
    side — that is the point being measured) while the probe side prunes
    by bucket partition; both sides stay one scan each here."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", *_vectors(), _bucket("embedding").alias("bucket")
    )
    q = _query_batch(e, qv="v", nq="nv", qbucket="bucket")
    return _recall(_truth(e, q), _probe_ann(e, q))


IVF_NPROBE_CELLS = 2  # query cell + next cell, of 10 label cells


def _recall_eval_ivf_oracle() -> str:
    ann = _top_k_sql(
        f"SELECT q.qid, e.vec_id, {cosine_rounded_sql('e.embedding', 'q.qv')} AS cos "
        "FROM embeddings e JOIN q ON (e.label = q.qcell OR e.label = (q.qcell + 1) % 10) "
        "AND e.vec_id != q.qid",
        TOP_K,
    )
    return f"""
    WITH q AS ({_query_batch_sql("embedding AS qv, label AS qcell")}),
    truth AS ({_truth_sql()}),
    ann AS ({ann})
    {_RECALL_SQL}
    """


@query(
    "sim_recall_eval_ivf",
    oracle=_recall_eval_ivf_oracle(),
    tags=("similarity", "ivf", "eval"),
)
def sim_recall_eval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement, IVF edition: recall@{TOP_K} of the
    coarse-quantized (label-cell, nprobe={IVF_NPROBE_CELLS} of 10) index
    against exact brute-force truth, per query in the capped
    {KNN_QUERY_SET_SIZE}-query batch — the companion of sim_recall_eval
    so BOTH scale paths (sign-LSH multiprobe and IVF cells) carry a
    measured, regression-tested recall number (VERDICT r4 #7).

    Truth side is the one broadcast scan + per-qid top-k window; the
    ANN side scans only the probed cells (nprobe/ncells of the table —
    at 100 TB the cell is a partition key so the probe is partition
    pruning, not a filter).  Exact integer ppm keeps the oracle
    bit-exact.  The expected recall on this fixture's random vectors is
    LOW by construction (~nprobe/ncells, since unstructured gaussians
    have no cluster affinity); the eval exists to measure exactly that —
    `tests/test_ann_recall_sf1.py` pins the measured floor at sf1."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", *_vectors())
    q = _query_batch(e, qv="v", nq="nv", qcell="label")
    cells = (F.col("label") == F.col("qcell")) | (F.col("label") == (F.col("qcell") + 1) % 10)
    ann = _top_k(_score(e.join(F.broadcast(q), cells & (F.col("vec_id") != F.col("qid")))), TOP_K)
    return _recall(_truth(e, q), ann)


@query(
    "sim_knn_join",
    oracle=f"""
    WITH q AS ({_query_batch_sql("embedding AS qv")})
    {_truth_sql(3, "qid, vec_id, cos, rn")}
    """,
    tags=("similarity", "join"),
    bench=True,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-3 neighbors for every vector in a query set.

    The query set is the capped batch of ``_query_batch``, so both the
    broadcast size and the scoring cost stay constant as the base table
    grows.  For large query sets, prune candidates through the IVF/LSH
    buckets (sim_ann_lsh / sim_ivf_coarse) before brute-force scoring."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", *_vectors())
    q = _query_batch(e, qv="v", nq="nv")
    return _truth(e, q, k=3).select("qid", "vec_id", "cos", F.col("rn").cast("long").alias("rn"))


MAXSIM_N_QUERY_VECS = 8


@query(
    "sim_maxsim_multivector",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec
      FROM embeddings WHERE vec_id < {MAXSIM_N_QUERY_VECS}
    ),
    per_q AS (
      SELECT e.label, q.qid,
             MAX({cosine_rounded_sql('e.embedding', 'q.qvec')}) AS best_cos
      FROM embeddings e CROSS JOIN q
      GROUP BY e.label, q.qid
    )
    SELECT label, {dec_sum_sql('best_cos')} AS maxsim
    FROM per_q GROUP BY label
    """,
    tags=("similarity", "multimodal"),
)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction MaxSim: the query is a MULTI-vector
    ({MAXSIM_N_QUERY_VECS} token embeddings, vec_id < {MAXSIM_N_QUERY_VECS});
    each candidate "document" is the multi-vector group of one label.
    score(doc) = sum over query tokens of max over doc vectors of cosine.

    Scale shape: the query side is a fixed-size broadcast, so scoring is
    ONE map-side pass over the corpus (n_q * n rows, linear in n — never
    doc x doc), a partial-aggregated MAX per (label, token), then a
    token-count-bounded SUM per label.  Per-row norms and the
    array<double> cast are hoisted before the broadcast join (one fold
    per pair, see functions/vectors.py); the final sum goes through
    decimal on rounded cosines, so it is order-independent and bit-exact
    cross-engine.  No reference counterpart; Part B similarity-search
    extension (multi-vector retrieval scoring used by late-interaction
    retrievers over multimodal/token embeddings)."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double, cosine_prenormed, norm

    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        "vec_id",
        as_double("embedding").alias("vd"),
        norm("embedding").alias("nd"),
    )
    q = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < MAXSIM_N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("qid"),
            as_double("embedding").alias("vq"),
            norm("embedding").alias("nq"),
        )
    )
    per_q = (
        e.crossJoin(F.broadcast(q))
        .select("label", "qid", cosine_prenormed("vd", "vq", "nd", "nq").alias("cos"))
        .groupBy("label", "qid")
        .agg(F.max("cos").alias("best_cos"))
    )
    return per_q.groupBy("label").agg(dec_sum("best_cos").alias("maxsim"))


@query(
    "sim_topk_mips",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, round({dot_sql('embedding', 'qvec')}, 6) AS ip
    FROM embeddings CROSS JOIN q
    WHERE vec_id != {QUERY_VEC_ID}
    ORDER BY ip DESC, vec_id
    LIMIT {TOP_K}
    """,
    tags=("similarity",),
    bench=True,
)
def sim_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum inner-product search (MIPS) top-k: unlike cosine, the
    inner product rewards vector MAGNITUDE (retrieval scorers, reward
    models), so it needs its own exact baseline — broadcast query, one
    scan, per-partition heap top-k (TakeOrderedAndProject), same scale
    shape as sim_topk_bruteforce.

    Scale path note (documented, not a separate query): MIPS reduces to
    cosine NN by the norm-augmentation transform (Shrivastava & Li
    2014) — append sqrt(M^2 - |x|^2) to each corpus vector (M = max
    corpus norm, an in-plan 1-row aggregate) and 0 to the query; the
    augmented vectors have constant norm M, so the sign-LSH bucketing
    of sim_ann_lsh applies unchanged at 100 TB."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double, dot_d

    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(as_double("embedding").alias("qd"))
    )
    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", as_double("embedding").alias("vd"))
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(dot_d("vd", "qd"), 6).alias("ip"))
        .orderBy(F.col("ip").desc(), "vec_id")
        .limit(TOP_K)
    )


RRF_K = 60
RRF_SCALE = 1_000_000_000


@query(
    "sim_reciprocal_rank_fusion",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT vec_id,
             {cosine_rounded_sql('embedding', 'qvec')} AS cos,
             round({dot_sql('embedding', 'qvec')}, 6) AS ip
      FROM embeddings CROSS JOIN q
      WHERE vec_id != {QUERY_VEC_ID}
    ),
    ranked AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_cos,
             ROW_NUMBER() OVER (ORDER BY ip DESC, vec_id) AS r_ip
      FROM scored
    )
    SELECT vec_id, r_cos, r_ip,
           {RRF_SCALE} // ({RRF_K} + r_cos) + {RRF_SCALE} // ({RRF_K} + r_ip)
             AS rrf_nano
    FROM ranked
    ORDER BY rrf_nano DESC, vec_id
    LIMIT {TOP_K}
    """,
    tags=("similarity",),
)
def sim_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (cosine and raw
    inner product) for one query vector: RRF(v) = sum_r 1/(k + rank_r)
    with k={RRF_K} — the standard score-free fuser for hybrid retrieval
    (dense + sparse / multiple metrics), robust to incomparable score
    scales.

    Determinism: each 1/(k+rank) term integerizes as
    {RRF_SCALE} DIV (k+rank) — exact integer division on integer ranks
    (ranks tie-break on vec_id), so the fused ordering is bit-exact
    cross-engine.  Scale shape: one broadcast-query scan scores both
    metrics in a single pass; the two full rankings then come from ONE
    metric-partitioned distributed global index (melt to (metric, score)
    and apply the two-pass bucket-offset pattern,
    operators/global_index.py) — no unpartitioned window ever touches
    the O(corpus) scored relation."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double, cosine_prenormed, dot_d, norm
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(as_double("embedding").alias("qd"), norm("embedding").alias("nq"))
    )
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            as_double("embedding").alias("vd"),
            norm("embedding").alias("nv"),
        )
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine_prenormed("vd", "qd", "nv", "nq").alias("cos"),
            F.round(dot_d("vd", "qd"), 6).alias("ip"),
        )
    )
    melted = scored.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(F.lit("c").alias("metric"), (-F.col("cos")).alias("v")),
                F.struct(F.lit("i").alias("metric"), (-F.col("ip")).alias("v")),
            )
        ).alias("mv"),
    ).select("vec_id", "mv.metric", "mv.v")
    idx = with_global_index(melted, "v", ["vec_id"], group_cols=["metric"])
    ranked = (
        idx.select("vec_id", "metric", (F.col("_gidx") + 1).alias("rank"))
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("metric") == "c", F.col("rank"))).alias("r_cos"),
            F.max(F.when(F.col("metric") == "i", F.col("rank"))).alias("r_ip"),
        )
    )
    rrf = F.expr(
        f"CAST({RRF_SCALE} DIV ({RRF_K} + r_cos) + {RRF_SCALE} DIV ({RRF_K} + r_ip) AS BIGINT)"
    )
    return (
        ranked.select("vec_id", "r_cos", "r_ip", rrf.alias("rrf_nano"))
        .orderBy(F.col("rrf_nano").desc(), "vec_id")
        .limit(TOP_K)
    )


# --- Product quantization + asymmetric distance computation -----------------

PQ_SUBS = 8        # subspaces (64-dim -> 8 dims each)
PQ_DSUB = 8
# codebook = the subvectors of 8 fixed seed vectors (sorted, so j =
# rank by vec_id); codebook REFINEMENT is k-means' job (emb_kmeans_lloyd
# demonstrates the deterministic Lloyd loop) — this query demonstrates
# the encode + ADC machinery those codebooks plug into.
PQ_SEED_IDS = (7, 61, 113, 167, 223, 281, 337, 449)


def _pq_dist_sql(evec: str, cvec: str, s: int) -> str:
    """Explicit left-associated sum of 8 squared diffs for subspace s
    (1-indexed SQL arrays) — the exact op tree the Spark side builds,
    so the doubles agree bit-for-bit."""
    terms = [
        f"(({evec}[{s * PQ_DSUB + k + 1}]::DOUBLE - {cvec}[{s * PQ_DSUB + k + 1}]::DOUBLE)"
        f" * ({evec}[{s * PQ_DSUB + k + 1}]::DOUBLE - {cvec}[{s * PQ_DSUB + k + 1}]::DOUBLE))"
        for k in range(PQ_DSUB)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


def _pq_oracle() -> str:
    seed_vals = ", ".join(
        f"({vid}, {j})" for j, vid in enumerate(PQ_SEED_IDS)
    )
    enc_branches = "\n      UNION ALL ".join(
        f"SELECT vec_id, j, {s} AS s, {_pq_dist_sql('ev', 'cv', s)} AS d FROM pairs"
        for s in range(PQ_SUBS)
    )
    lut_branches = "\n      UNION ALL ".join(
        f"SELECT j, {s} AS s, {_pq_dist_sql('qv', 'cv', s)} AS d FROM qpairs"
        for s in range(PQ_SUBS)
    )
    return f"""
    WITH m(svid, j) AS (VALUES {seed_vals}),
    cb AS MATERIALIZED (
      SELECT m.j, e.embedding AS cv FROM embeddings e JOIN m ON e.vec_id = m.svid
    ),
    pairs AS MATERIALIZED (
      SELECT e.vec_id, cb.j, e.embedding AS ev, cb.cv
      FROM embeddings e CROSS JOIN cb
      WHERE e.vec_id != {QUERY_VEC_ID}
    ),
    dists AS ({enc_branches}),
    codes AS (
      SELECT vec_id, s, MIN(struct_pack(d := d, j := j)).j AS code
      FROM dists GROUP BY vec_id, s
    ),
    qpairs AS MATERIALIZED (
      SELECT cb.j, cb.cv, q.embedding AS qv
      FROM cb CROSS JOIN (SELECT embedding FROM embeddings
                          WHERE vec_id = {QUERY_VEC_ID}) q
    ),
    lut AS ({lut_branches})
    SELECT c.vec_id,
           {to_double_sql('SUM(CAST(l.d AS DECIMAL(25,12)))')}
             AS adc_dist
    FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
    GROUP BY c.vec_id
    ORDER BY adc_dist ASC, c.vec_id
    LIMIT {TOP_K}
    """


@query(
    "sim_topk_pq_adc",
    oracle=_pq_oracle(),
    tags=("similarity", "ann", "topk", "scale"),
)
def sim_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric distance computation (Jégou,
    Douze & Schmid, TPAMI'11) — the vector-COMPRESSION leg that
    completes the ANN family next to sign-LSH (bucketing), IVF (coarse
    partitioning) and int8 (scalar quantization): each 64-dim vector is
    encoded as {PQ_SUBS} x 3-bit codes (one codeword index per
    {PQ_DSUB}-dim subspace; 3 bytes vs 256 for float32, ~85x), and a
    query scores a candidate WITHOUT decompressing it by summing
    per-subspace lookup-table entries (ADC).  The codebook here is the
    subvectors of {PQ_SUBS} fixed seed vectors — codebook REFINEMENT is
    the deterministic Lloyd loop's job (``emb_kmeans_lloyd``); this
    query pins the encode + ADC machinery those codebooks plug into.

    Cross-engine determinism: encode argmin is MIN over (distance,
    codeword) structs (ties to the lowest index); every distance is an
    explicit left-associated sum of squared diffs built identically in
    both engines; the ADC total is an exact decimal sum crossing to
    double through one ``to_double`` (functions/rounding.py), so the
    final doubles — and hence the top-{TOP_K} cut — are bit-identical.

    Scale shape: the codebook and the query vector are bounded model
    state ({PQ_SUBS} + 1 rows, the iterative.py collect precedent);
    encoding is a broadcast-expand ({PQ_SUBS} codewords/vector) into a
    map-side-combined (vec_id, subspace) argmin; the ADC join
    broadcasts the 64-row lookup table; the only full exchanges move
    (vec_id, code) / (vec_id, partial decimal sum) rows — never
    vectors.  In production the 3-byte codes are precomputed at ingest
    (the int8 story, 85x smaller), and ADC streams codes at memory
    bandwidth."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", as_double("embedding").alias("vd"))
    cb_rows = {
        r.vec_id: list(r.vd)
        for r in base.where(F.col("vec_id").isin(*PQ_SEED_IDS)).collect()
    }
    qvec = [
        list(r.vd)
        for r in base.where(F.col("vec_id") == QUERY_VEC_ID).collect()
    ][0]
    codebook = [cb_rows[vid] for vid in PQ_SEED_IDS]  # j = rank by vec_id

    def dist_expr(s: int, cw: list[float]):
        out = None
        for k in range(PQ_DSUB):
            i = s * PQ_DSUB + k
            diff = F.col("vd").getItem(i) - F.lit(cw[i])
            t = diff * diff
            out = t if out is None else out + t
        return out

    # per subspace: argmin over the 8 codewords via MIN of (d, j)
    # structs — map-side expression, no shuffle
    code_cols = [
        F.array_min(
            F.array(
                *[
                    F.struct(
                        dist_expr(s, codebook[j]).alias("d"),
                        F.lit(j).alias("j"),
                    )
                    for j in range(len(PQ_SEED_IDS))
                ]
            )
        )["j"].alias(f"c{s}")
        for s in range(PQ_SUBS)
    ]
    encoded = base.where(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id", *code_cols
    )
    # ADC lookup table computed from the SAME collected doubles the
    # oracle derives relationally; chained DECIMAL adds == SUM(DECIMAL)
    def lut_entry(s: int, j: int) -> float:
        out = 0.0
        for k in range(PQ_DSUB):
            i = s * PQ_DSUB + k
            d = qvec[i] - codebook[j][i]
            out = out + d * d
        return out

    adc = None
    for s in range(PQ_SUBS):
        lut_s = F.array(*[F.lit(lut_entry(s, j)) for j in range(len(PQ_SEED_IDS))])
        term = F.element_at(lut_s, F.col(f"c{s}") + 1).cast("decimal(25,12)")
        adc = term if adc is None else adc + term
    return (
        encoded.select("vec_id", adc.cast("double").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), "vec_id")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# Binary sign codes: 64 float dims -> 64 Hamming bits in two BIGINT words.
# The compact-code ANN layout (Charikar sign random projection with the
# identity plane set): at 100 TB the codes are 16 bytes/vector instead
# of 256, the distance kernel is two XOR+POPCNT ops in whole-stage
# codegen, and the code columns are precomputable/sortable for pruning.
# ---------------------------------------------------------------------------


def _sign_word(emb, start: int):
    """Bits start..start+31 (1-based dims) packed little-endian into a
    non-negative BIGINT: bit i set iff emb[start+i] > 0.  2^i via double
    pow is exact to 2^52, far past the 31 used here — no shift-overflow
    games with the sign bit."""
    return F.aggregate(
        F.zip_with(
            F.slice(emb, start, 32),
            F.sequence(F.lit(0), F.lit(31)),
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sign_word_sql(start: int) -> str:
    return (
        "list_aggregate([CASE WHEN e[1] > 0 THEN CAST(2**(e[2]-1) AS BIGINT) "
        "ELSE 0 END FOR e IN list_zip("
        f"embedding[{start}:{start + 31}], range(1, 33))], 'sum')"
    )


@query(
    "sim_topk_hamming_binary",
    oracle=f"""
    WITH b AS MATERIALIZED (
      SELECT vec_id, {_sign_word_sql(1)} AS lo, {_sign_word_sql(33)} AS hi
      FROM embeddings
    ),
    q AS (SELECT lo AS qlo, hi AS qhi FROM b WHERE vec_id = {QUERY_VEC_ID})
    SELECT b.vec_id,
           CAST(bit_count(xor(b.lo, q.qlo)) + bit_count(xor(b.hi, q.qhi)) AS INT)
             AS hdist
    FROM b, q
    WHERE b.vec_id != {QUERY_VEC_ID}
    ORDER BY hdist, vec_id
    LIMIT {TOP_K}
    """,
    tags=("similarity", "topk"),
)
def sim_topk_hamming_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-k over binary sign codes: binarize every embedding to
    64 sign bits packed in two BIGINT words, then rank by
    popcount(xor) distance to the query's code — the compact-code ANN
    baseline (sign random projection, Charikar STOC 2002, with the
    identity plane per dimension).

    Exactness: a sign bit is ``dim > 0`` — a float comparison with one
    defined answer — so codes, XOR, and popcount are all integers;
    there is NO float in the ranking at all, the strongest possible
    cross-engine portability.  Ties (many vectors share a distance)
    break on vec_id.

    Scale shape: codes are a pure map (one scan, whole-stage codegen);
    the query code is a broadcast 1-row relation; the top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort).  At
    100 TB the two code words are a precomputed 16-byte column — 16x
    less IO than raw float32[64] — and double as a sort/prune key.
    No reference counterpart (main.py exports tables verbatim)."""
    e = load_table(spark, sf_dir, "embeddings")
    coded = e.select(
        "vec_id",
        _sign_word("embedding", 1).alias("lo"),
        _sign_word("embedding", 33).alias("hi"),
    )
    q = coded.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    return (
        coded.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
            )
            .cast("int")
            .alias("hdist"),
        )
        .orderBy("hdist", "vec_id")
        .limit(TOP_K)
    )


HAMMING_CANDIDATES = 50  # binary-code shortlist size measured for recall


def _recall_eval_hamming_oracle() -> str:
    lo, hi = _sign_word_sql(1), _sign_word_sql(33)
    ann = _top_k_sql(
        "SELECT q.qid, b.vec_id, bit_count(xor(b.lo, q.qlo)) + bit_count(xor(b.hi, q.qhi)) AS hd "
        "FROM b JOIN q ON b.vec_id != q.qid",
        HAMMING_CANDIDATES,
        order="hd",
    )
    return f"""
    WITH b AS MATERIALIZED (
      SELECT vec_id, embedding, {lo} AS lo, {hi} AS hi FROM embeddings
    ),
    q AS ({_query_batch_sql("embedding AS qv, lo AS qlo, hi AS qhi", "b")}),
    truth AS ({_truth_sql()}),
    ann AS ({ann})
    {_RECALL_SQL}
    """


@query(
    "sim_recall_eval_hamming",
    oracle=_recall_eval_hamming_oracle(),
    tags=("similarity", "eval", "topk"),
)
def sim_recall_eval_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the 64-bit binary sign-code shortlist
    (sim_topk_hamming_binary's ranking, widened to the top
    {HAMMING_CANDIDATES} candidates) against exact-cosine ground truth,
    per query in the {KNN_QUERY_SET_SIZE}-query batch — the measured
    link between the 16-byte compact-code path and the float truth it
    approximates, completing the recall-eval trio (LSH probe, IVF,
    binary codes).

    Both rankings are deterministic (integer Hamming distance / rounded
    cosine, ties on vec_id) and recall is an exact integer ppm, so the
    oracle is bit-exact.  Scale shape mirrors sim_recall_eval: the query
    batch broadcasts, the base table is scanned once per side, per-qid
    windows are partitioned by qid; in production the truth side runs
    over a sampled slice — measuring it IS the expensive step this
    query exists to pay once."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        *_vectors(),
        _sign_word("embedding", 1).alias("lo"),
        _sign_word("embedding", 33).alias("hi"),
    )
    q = _query_batch(e, qv="v", nq="nv", qlo="lo", qhi="hi")
    hd = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    return _recall(_truth(e, q), _top_k(pairs, HAMMING_CANDIDATES, order=hd.asc()))


@query(
    "sim_centroid_classify",
    oracle=f"""
    WITH comp AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS i,
             unnest(embedding) AS e
      FROM embeddings
    ),
    cg AS (
      SELECT label, i,
             round({to_double_sql('SUM(CAST(e AS DECIMAL(38,18)))')} / COUNT(*), 6) AS c
      FROM comp GROUP BY label, i
    ),
    cent AS (
      SELECT label AS clabel, list(c ORDER BY i) AS cvec FROM cg GROUP BY label
    ),
    pairs AS (
      SELECT vec_id, label, clabel,
             round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
                   - 2 * list_dot_product(embedding::DOUBLE[], cvec)
                   + list_dot_product(cvec, cvec), 6) AS dist
      FROM embeddings CROSS JOIN cent
    ),
    pred AS (
      SELECT vec_id, label, clabel AS predicted
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, clabel) AS rn
            FROM pairs)
      WHERE rn = 1
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(predicted AS BIGINT) AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY label, predicted
    """,
    tags=("similarity", "eval", "agg"),
)
def sim_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification with a confusion matrix: per-label
    mean embedding (the Rocchio classifier), every vector assigned to
    its closest centroid by squared L2, confusion counts (label,
    predicted, n) — the quickest read on whether an embedding space
    separates its labels, run before any expensive probe training.

    Portability: centroid components are DECIMAL(38,18)-summed (exact,
    order-independent) then rounded to 6 digits, so both engines build
    IDENTICAL centroids; distances expand to x.x - 2x.c + c.c with the
    shared left-fold dot product and round(6), and the argmin tie-breaks
    on label — fully deterministic.

    Scale shape: the component sum is one (label, dim)-keyed partial
    aggregate (#labels x dim rows out); centroids broadcast; per-vector
    scoring is a #labels-wide broadcast cross join folded JVM-side with
    a groupBy argmin, so the data-sized relation is scanned once and
    shuffled only by vec_id for the argmin."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode("embedding").alias("i", "v"))
    cg = comp.groupBy("label", "i").agg(
        F.round(
            to_double(F.sum(F.col("v").cast("decimal(38,18)")))
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    cent = cg.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    xd = e.select("vec_id", "label", as_double("embedding").alias("xd"))
    pairs = xd.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(
            dot("xd", "xd") - 2 * dot("xd", "cvec") + dot("cvec", "cvec"), 6
        ).alias("dist"),
    )
    pred = pairs.groupBy("vec_id", "label").agg(
        F.min(F.struct("dist", "clabel")).alias("m")
    )
    return pred.groupBy(
        F.col("label").cast("long").alias("label"),
        F.col("m.clabel").cast("long").alias("predicted"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


@query(
    "sim_within_class_cohesion",
    oracle=f"""
    WITH comp AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS i,
             unnest(embedding) AS e
      FROM embeddings
    ),
    sv AS (
      SELECT label, i,
             round({to_double_sql('SUM(CAST(e AS DECIMAL(38,18)))')}, 6) AS s
      FROM comp GROUP BY label, i
    ),
    svec AS (
      SELECT label, list(s ORDER BY i) AS svec FROM sv GROUP BY label
    ),
    q AS (
      SELECT label, COUNT(*) AS n, {to_double_sql('SUM(CAST(qq AS DECIMAL(38,12)))')} AS qsum
      FROM (SELECT label, list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS qq
            FROM embeddings)
      GROUP BY label
    )
    SELECT CAST(q.label AS BIGINT) AS label, CAST(n AS BIGINT) AS n,
           round((list_dot_product(svec, svec) - qsum) / (n * (n - 1)), 6)
             AS mean_pair_dot
    FROM q JOIN svec ON q.label = svec.label
    WHERE n > 1
    """,
    tags=("similarity", "agg", "stats"),
)
def sim_within_class_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class cohesion of the embedding space: the mean pairwise
    dot product among all vectors sharing a label, per label — high
    cohesion + separated centroids (sim_centroid_classify) is the
    two-line health check of a labeled embedding corpus.

    The scale trick is the sum-of-vectors identity
        sum_{i != j} x_i . x_j  =  |S|^2 - sum_i |x_i|^2,  S = sum_i x_i
    which turns the O(n^2) pairwise relation into TWO linear partial
    aggregates (componentwise vector sum + scalar norm sum) — the same
    identity that makes one-pass variance work, lifted to vectors.  No
    pair join exists at any scale.

    Portability: component sums are DECIMAL(38,18)-exact then rounded
    to 6 digits (identical S in both engines); per-row |x|^2 doubles
    are DECIMAL(38,12)-summed across rows (order-independent); the
    final ratio is one shared double expression rounded to 6."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode("embedding").alias("i", "v"))
    sv = comp.groupBy("label", "i").agg(
        F.round(to_double(F.sum(F.col("v").cast("decimal(38,18)"))), 6).alias("s")
    )
    svec = sv.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))), lambda t: t["s"]
        ).alias("svec")
    )
    xd = e.select("label", as_double("embedding").alias("xd"))
    q = xd.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        to_double(F.sum(dot("xd", "xd").cast("decimal(38,12)"))).alias("qsum"),
    )
    return (
        q.join(F.broadcast(svec), "label")
        .where(F.col("n") > 1)
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n").cast("long").alias("n"),
            F.round(
                (dot("svec", "svec") - F.col("qsum")) / (F.col("n") * (F.col("n") - 1)),
                6,
            ).alias("mean_pair_dot"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension retrieval (Kusupati et al. 2022, "Matryoshka
# Representation Learning"): MRL-trained embeddings keep most of their
# ranking signal in a PREFIX of the dimensions, so the standard serving
# funnel is a cheap prefix-dim shortlist followed by a full-dim rerank.
# ---------------------------------------------------------------------------

MRL_PREFIX_DIMS = 16   # shortlist metric uses dims 1..16 of 64 (4x cheaper)
MRL_SHORTLIST = 50     # prefix-dim candidates per query fed to the rerank


def _mrl_recall_oracle() -> str:
    pre = cosine_rounded_sql(
        f"list_slice(b.v::DOUBLE[], 1, {MRL_PREFIX_DIMS})",
        f"list_slice(q.qv::DOUBLE[], 1, {MRL_PREFIX_DIMS})",
    )
    short = _top_k_sql(
        f"SELECT q.qid, b.vec_id, b.v, {pre} AS cos FROM b JOIN q ON b.vec_id != q.qid",
        MRL_SHORTLIST,
        "qid, vec_id, v",
    )
    ann = _top_k_sql(
        f"SELECT s.qid, s.vec_id, {cosine_rounded_sql('s.v', 'q.qv')} AS cos "
        "FROM short s JOIN q ON q.qid = s.qid",
        TOP_K,
    )
    return f"""
    WITH b AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS ({_query_batch_sql("v AS qv", "b")}),
    truth AS ({_truth_sql()}),
    short AS ({short}),
    ann AS ({ann})
    {_RECALL_SQL}
    """


@query(
    "sim_matryoshka_prefix_recall",
    oracle=_mrl_recall_oracle(),
    tags=("similarity", "eval", "topk"),
)
def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the Matryoshka serving funnel — shortlist
    {MRL_SHORTLIST} candidates per query by cosine over the FIRST
    {MRL_PREFIX_DIMS} of 64 dims, rerank the shortlist by full-dim
    cosine, keep top-{TOP_K} — against exact full-dim ground truth, per
    query in the {KNN_QUERY_SET_SIZE}-query batch (sim_recall_eval
    harness).  This measures exactly what an MRL deployment trades: the
    prefix pass folds a 4x shorter array per pair (and at scale reads a
    4x narrower stored column), and the full-dim fold runs only on
    |Q|x{MRL_SHORTLIST} survivors.

    On the RANDOM fixture embeddings recall is deliberately modest
    (~0.3-0.5 mean): an i.i.d. vector spreads signal evenly, so a
    16/64 prefix keeps only 1/4 of the correlation mass — the eval
    measuring exactly the property MRL training exists to create
    (planted test: prefix-concentrated vectors score recall = 1.0).

    Determinism: both metrics are the shared rounded-cosine expression
    (cosine_prenormed == cosine_rounded_sql); recall is exact integer
    ppm.  Scale shape: the query batch broadcasts to every pair join;
    the rerank joins the SHORTLIST (bounded |Q|x{MRL_SHORTLIST} rows)
    back to the broadcast queries, never the base table; per-qid top-k
    is a window over bounded partitions.  The truth pass is the
    expensive side by design — it is the thing being evaluated against,
    and at 100 TB it runs over a sampled slice exactly as
    sim_recall_eval documents."""
    from oracle_parquet_dumper_spark.functions.vectors import dot_d

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", *_vectors())
    e = e.withColumn("v16", F.slice("v", 1, MRL_PREFIX_DIMS)).withColumn(
        "nv16", F.sqrt(dot_d("v16", "v16"))
    )
    q = _query_batch(e, qv="v", nq="nv", qv16="v16", nq16="nv16")
    cos16 = cosine_prenormed("v16", "qv16", "nv16", "nq16").alias("cos16")
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    short = _top_k(
        pairs.select("qid", "vec_id", "v", "nv", cos16), MRL_SHORTLIST, order=F.col("cos16").desc()
    ).select("qid", "vec_id", "v", "nv")
    ann = _top_k(_score(short.join(F.broadcast(q.select("qid", "qv", "nq")), "qid")), TOP_K)
    return _recall(_truth(e, q), ann)


# --- cosine range search (radius query over LSH probes, r11) ----------------

RANGE_RADIUS = 0.25


@query(
    "sim_range_search_radius",
    oracle=_probe_oracle(_PROBES_SQL, f"WHERE cos >= {RANGE_RADIUS}"),
    tags=("similarity", "lsh"),
    band_bits=8,  # ruled: probe-style, 9/256 buckets per query
)
def sim_range_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE similarity search: every vector with cosine >=
    {RANGE_RADIUS} to the query, found in the multiprobe LSH bucket set
    (query bucket + all Hamming-1 neighbors, 9/256 buckets) — the
    radius-query sibling of the top-k family (sim_ann_lsh_multiprobe).
    Top-k answers "the 10 closest whatever their quality"; a range
    query answers "everything actually similar", the semantics dedup
    admission, near-dup blocklists, and RAG relevance floors need —
    where k is unknowable in advance and a fixed k either truncates a
    dense neighborhood or pads with junk.

    Determinism: the cosine integerizes through the rounded-dot
    convention (round 6) so the >= {RANGE_RADIUS} boundary is the same
    set on both engines; the probe set is declarative in the oracle
    (hamming <= 1).

    Scale shape: identical to the multiprobe top-k — the 9-probe set
    explodes from the single broadcast query row (bounded by protocol,
    BROADCAST_BUILD_ALLOWLIST), the base table is scanned once with
    bucket pruning at 100 TB (bucket = partition column); the only
    difference is NO TakeOrdered cut, and consequently NO global sort
    either: the result is the (unordered) in-radius SET.  A global
    orderBy here would full-shuffle a relation whose size is
    data-dependent (a dense neighborhood at extreme scale); consumers
    wanting ranked output compose a top-k on top."""
    return _multiprobe_scored(spark, sf_dir).where(F.col("cos") >= RANGE_RADIUS)


# --- kNN majority-vote classification (r11) ---------------------------------

KNN_CLASSIFY_K = 10


@query(
    "sim_knn_classify_majority",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id, e.label,
             {cosine_rounded_sql('e.embedding', 'q.qvec')} AS cos
      FROM embeddings e, q WHERE e.vec_id != {QUERY_VEC_ID}
    ),
    topk AS (
      SELECT * FROM scored ORDER BY cos DESC, vec_id LIMIT {KNN_CLASSIFY_K}
    ),
    votes AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_votes,
             MAX(cos) AS best_cos
      FROM topk GROUP BY label
    )
    SELECT CAST(label AS BIGINT) AS predicted_label, n_votes, best_cos
    FROM votes ORDER BY n_votes DESC, label LIMIT 1
    """,
    tags=("similarity", "topk", "agg"),
)
def sim_knn_classify_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NEAREST-NEIGHBOR CLASSIFICATION: the query vector's label by
    majority vote of its {KNN_CLASSIFY_K} nearest neighbors (exact
    cosine) — the lazy-learner baseline every embedding-space labeler
    is measured against, and the missing inference sibling of
    sim_centroid_classify (parametric centroids) and sim_knn_join (the
    bulk pairing).  Ties break to the smaller label id,
    deterministically.

    Exactness: cosine through the rounded-dot convention; votes are
    integers; the top-k cut is rank-stable ((cos DESC, vec_id) total
    order).

    Scale shape: the brute-force scan is the baseline path (one pass,
    TakeOrderedAndProject heap for the k-cut, <= #labels-row vote
    fold); the production path at 100 TB composes the SAME vote stage
    onto the multiprobe candidate set (sim_ann_lsh_multiprobe) —
    bucket-pruned scan instead of full scan, vote logic unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine_rounded("embedding", "qvec").alias("cos"))
    )
    topk = scored.orderBy(F.col("cos").desc(), "vec_id").limit(KNN_CLASSIFY_K)
    votes = topk.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes"),
        F.max("cos").alias("best_cos"),
    )
    return (
        votes.select(
            F.col("label").cast("long").alias("predicted_label"),
            "n_votes",
            "best_cos",
        )
        .orderBy(F.col("n_votes").desc(), "predicted_label")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# NDCG ranking-quality evaluation (round 12)
# ---------------------------------------------------------------------------

# Integer DCG position weights: W[i] = round(1e12 / log2(i+2)) for rank
# i+1, PRECOMPUTED and inlined as literals into BOTH engines' plans —
# log2 is libm territory (a 1-ulp disagreement could flip a
# round-to-integer), so neither engine computes a logarithm at query
# time; the fold over weight*relevance is then exact BIGINT arithmetic
# end to end (the PR_SCALE convention).
import math as _math

NDCG_W: list[int] = [round(1e12 / _math.log2(i + 2)) for i in range(TOP_K)]
# Ideal DCG: the truth list replayed in order — relevance K-i at rank i+1.
NDCG_IDEAL: int = sum(w * (TOP_K - i) for i, w in enumerate(NDCG_W))


def _ndcg_eval_oracle() -> str:
    w_list = "[" + ", ".join(str(w) for w in NDCG_W) + "]"
    return f"""
    WITH b AS MATERIALIZED (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    q AS ({_query_batch_sql("embedding AS qv, bucket AS qbucket", "b")}),
    truth AS ({_truth_sql(cols="qid, vec_id, rn AS tr")}),
    ann AS ({_probe_ann_sql("qid, vec_id, rn AS ar")})
    SELECT a.qid,
           CAST(COUNT(*) AS BIGINT) AS n_retrieved,
           CAST(COUNT(t.tr) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN t.tr IS NULL THEN 0
                         ELSE ({w_list})[a.ar] * ({TOP_K} - t.tr + 1) END)
                AS BIGINT) AS dcg_int,
           CAST(SUM(CASE WHEN t.tr IS NULL THEN 0
                         ELSE ({w_list})[a.ar] * ({TOP_K} - t.tr + 1) END)
                AS DOUBLE) / {NDCG_IDEAL} AS ndcg
    FROM ann a LEFT JOIN truth t ON a.qid = t.qid AND a.vec_id = t.vec_id
    GROUP BY a.qid
    """


@query(
    "sim_ndcg_eval",
    oracle=_ndcg_eval_oracle(),
    tags=("similarity", "lsh", "eval"),
    band_bits=8,  # same ruling as sim_recall_eval: probe-style eval batch
)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{TOP_K} of the multi-probe sign-LSH index against exact
    brute-force ground truth — the POSITION-AWARE companion to
    sim_recall_eval: recall treats a hit at rank 1 and rank 10 the
    same; NDCG discounts by log2(rank+1) and grades relevance by how
    high the truth ranking placed the hit (rel = K − truth_rank + 1),
    which is what a retrieval deployment actually tunes against.

    Determinism: the log2 position weights are precomputed INTEGER
    micro-units inlined as literals into both plans (see NDCG_W note —
    no runtime logarithm, no float fold); DCG is then an exact BIGINT
    sum and NDCG one double division by the constant ideal DCG.

    Scale shape: identical to sim_recall_eval — truth is one broadcast
    query batch vs one base scan with a per-qid top-k window; ANN side
    probes 9 of 256 buckets per query.  The extra work over recall is
    O(|retrieved|) bookkeeping."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", *_vectors(), _bucket("embedding").alias("bucket")
    )
    q = _query_batch(e, qv="v", nq="nv", qbucket="bucket")
    truth = _truth(e, q, rank="tr").select("qid", "vec_id", "tr")
    ann = _probe_ann(e, q, rank="ar").select(
        F.col("qid").alias("a_qid"), F.col("vec_id").alias("hit_id"), "ar"
    )
    w_arr = F.array(*[F.lit(x) for x in NDCG_W])
    gain = F.when(
        F.col("tr").isNull(), F.lit(0).cast("long")
    ).otherwise(F.element_at(w_arr, F.col("ar")) * (F.lit(TOP_K) - F.col("tr") + 1))
    j = ann.join(
        truth,
        (F.col("a_qid") == F.col("qid")) & (F.col("hit_id") == F.col("vec_id")),
        "left",
    ).select(F.col("a_qid").alias("out_qid"), "ar", "tr")
    return (
        j.groupBy(F.col("out_qid").alias("qid"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            F.count("tr").cast("long").alias("n_hits"),
            F.sum(gain).cast("long").alias("dcg_int"),
            (F.sum(gain).cast("double") / F.lit(NDCG_IDEAL)).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# Simplified silhouette score (round 12)
# ---------------------------------------------------------------------------
@query(
    "sim_silhouette_simplified",
    oracle=f"""
    WITH q6 AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS x6
      FROM embeddings
    ),
    comp AS (
      SELECT label, unnest(range(1, len(x6) + 1)) AS i, unnest(x6) AS e
      FROM q6
    ),
    cg AS (
      SELECT label, i, CAST(SUM(e) // COUNT(*) AS BIGINT) AS c
      FROM comp GROUP BY label, i
    ),
    cent AS (
      SELECT label AS clabel, list(c ORDER BY i) AS cvec FROM cg GROUP BY label
    ),
    pairs AS (
      SELECT vec_id, label, clabel,
             CAST(list_sum(list_transform(range(1, len(x6) + 1),
                  i -> (x6[i] - cvec[i]) * (x6[i] - cvec[i]))) AS BIGINT) AS dist
      FROM q6 CROSS JOIN cent
    ),
    ab AS (
      SELECT vec_id, label,
             MIN(CASE WHEN clabel = label THEN dist END) AS a6,
             MIN(CASE WHEN clabel != label THEN dist END) AS b6
      FROM pairs GROUP BY 1, 2
    ),
    sil AS (
      SELECT label,
             CASE WHEN greatest(a6, b6) <= 0 THEN 0
                  -- 128 bits before *1e6: micro-unit² squared-L2 reaches
                  -- ~4e12 for unit-norm vectors (only ~2x int64 headroom
                  -- under the multiply) — mirror the Spark side's
                  -- widening instead of riding the edge (ADVICE r12)
                  ELSE {hugeint_sql('b6 - a6')} * 1000000 // greatest(a6, b6) END AS s_ppm
      FROM ab
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           {to_double_sql('SUM(s_ppm)')} / COUNT(*) AS mean_silhouette_ppm,
           CAST(SUM(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
    FROM sil GROUP BY label ORDER BY label
    """,
    tags=("similarity", "eval", "agg"),
)
def sim_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: a = squared-L2
    to the OWN centroid, b = to the nearest OTHER centroid, s =
    (b−a)/max(a,b) — the cluster-quality score that, unlike the full
    silhouette's all-pairs O(n²) distances, needs only one
    vectors×centroids pass (Hruschka et al.'s standard large-n
    surrogate); n_negative counts vectors sitting closer to a foreign
    centroid, the label-noise shortlist for curation.

    Portability — two drafts died to get here, both caught by the
    sf0.001 sweep: (1) round(dist, 6) then decimal-SUM — Spark rounds
    HALF_UP on the shortest repr, DuckDB on the binary value, fine for
    ORDERING (the centroid-classify argmin) but 1e-6 drift when SUMMED;
    (2) raw double distances quantized late — list_dot_product is not
    a guaranteed left fold, so raw dists differ in the last ulp by
    design (vectors.py says so).  Final form: quantize each COMPONENT
    once to integer micro-units (round-to-integer of identical doubles
    has no shortest-repr ambiguity), centroids by integer floor-mean,
    distances as exact integer Σ(Δ²) — every number past the one
    quantization is exact BIGINT arithmetic, and the silhouette is
    integer ppm.

    Scale shape: one (label, dim)-keyed partial aggregate for
    centroids (#labels × dim rows), broadcast back; one scan scores
    every vector against the bounded centroid set; one bounded-domain
    rollup.  No pairwise anything."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double

    e = load_table(spark, sf_dir, "embeddings")
    q6 = e.select(
        "vec_id",
        "label",
        F.transform(
            as_double("embedding"), lambda x: F.round(x * 1_000_000).cast("long")
        ).alias("x6"),
    )
    comp = q6.select("label", F.posexplode("x6").alias("i", "e"))
    cg = comp.groupBy("label", "i").agg(F.expr("sum(e) div count(1)").alias("c"))
    cent = cg.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    pairs = q6.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with("x6", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dist"),
    )
    ab = pairs.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("dist"))).alias("a6"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist"))).alias("b6"),
    )
    s_ppm = F.when(F.greatest("a6", "b6") <= 0, F.lit(0).cast("long")).otherwise(
        F.expr(
            f"CAST({int128_sql('b6 - a6')} * 1000000 div greatest(a6, b6) AS BIGINT)"
        )
    )
    return (
        ab.select("label", s_ppm.alias("s_ppm"))
        .groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (F.sum("s_ppm").cast("double") / F.count(F.lit(1))).alias("mean_silhouette_ppm"),
            F.sum(F.when(F.col("s_ppm") < 0, 1).otherwise(0)).cast("long").alias("n_negative"),
        )
        .orderBy("label")
    )


# --- MMR diversified re-ranking (round 13) ---------------------------------

MMR_POOL = 20   # relevance-ranked candidate pool fed to the greedy stage
MMR_K = 5       # diversified picks returned
# lambda = 0.7 in tenths: score = 7*rel_ppm - 3*max_sim_ppm (integer)


def _mmr_cos_ppm_sql(a: str, b: str) -> str:
    return (
        f"CAST(round(1000000 * list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))) AS BIGINT)"
    )


def _mmr_oracle() -> str:
    """Greedy MMR unrolled as MMR_K chained CTEs (no recursion): step k
    picks argmax(7*rel - 3*max-sim-to-picks) over the unpicked pool."""
    steps = [
        f"""s1 AS (
      SELECT CAST(1 AS INT) AS rk, vec_id, rel_ppm, CAST(0 AS BIGINT) AS ms
      FROM cand ORDER BY rel_ppm DESC, vec_id LIMIT 1
    ),
    u1 AS (SELECT * FROM s1)"""
    ]
    for k in range(2, MMR_K + 1):
        steps.append(
            f"""s{k} AS (
      SELECT CAST({k} AS INT) AS rk, c.vec_id, c.rel_ppm, MAX(p.sim_ppm) AS ms
      FROM cand c JOIN p ON p.ai = c.vec_id
                       AND p.bi IN (SELECT vec_id FROM u{k - 1})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM u{k - 1})
      GROUP BY c.vec_id, c.rel_ppm
      ORDER BY 7 * c.rel_ppm - 3 * MAX(p.sim_ppm) DESC, c.vec_id LIMIT 1
    ),
    u{k} AS (SELECT * FROM u{k - 1} UNION ALL SELECT * FROM s{k})"""
        )
    body = ",\n    ".join(steps)
    return f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cand AS MATERIALIZED (
      SELECT vec_id, {_mmr_cos_ppm_sql("embedding", "qvec")} AS rel_ppm, embedding
      FROM embeddings CROSS JOIN q
      WHERE vec_id != {QUERY_VEC_ID}
      ORDER BY rel_ppm DESC, vec_id LIMIT {MMR_POOL}
    ),
    p AS MATERIALIZED (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             {_mmr_cos_ppm_sql("a.embedding", "b.embedding")} AS sim_ppm
      FROM cand a JOIN cand b ON a.vec_id != b.vec_id
    ),
    {body}
    SELECT rk, vec_id, CAST(rel_ppm AS BIGINT) AS rel_ppm,
           CAST(ms AS BIGINT) AS max_sim_ppm,
           CAST(7 * rel_ppm - 3 * ms AS BIGINT) AS mmr_score
    FROM u{MMR_K}
    """


@query(
    "sim_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "topk", "eval", "iterative"),
)
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): from the relevance top-{MMR_POOL} for one query vector,
    greedily pick {MMR_K} results maximizing
    lambda*relevance − (1−lambda)*max-similarity-to-already-picked
    (lambda = 0.7) — the standard diversification pass between retrieval
    and a RAG context window, where near-duplicate passages waste the
    budget the retriever just spent.

    Exactness: every cosine quantizes to integer ppm
    (round-to-integer — engine-symmetric, unlike round(x, k)), so the
    greedy argmax compares pure integers and both engines replay the
    SAME picks; ties break on vec_id.  The DuckDB oracle unrolls the
    identical greedy as {MMR_K} chained CTEs.

    Scale shape: stage 1 is the brute-force top-{MMR_POOL} scan
    (per-partition heaps — sim_topk_bruteforce's shape; an IVF/LSH
    retriever slots in unchanged).  The greedy stage is OUTPUT-SIZED by
    construction: the pool packs into one {MMR_POOL}-struct row
    (bounded collect_list) and unnests into the {MMR_POOL}^2 pair grid
    with no join, so each of the {MMR_K - 1} iterations plans tiny
    equi-joins over ≤{MMR_POOL}-row checkpointed relations — the
    kmeans-chain iterative pattern, never a data-sized loop."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double, dot_d

    e = load_table(spark, sf_dir, "embeddings")
    # limit(1) is semantically a no-op (vec_id is unique) but gives the
    # checkpoint fragment lint a SHAPE-level boundedness proof for the
    # broadcast side of the crossJoin
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(as_double("embedding").alias("qv"))
        .limit(1)
    )

    def cos_ppm(va, vb) -> Column:
        c = dot_d(va, vb) / (
            F.sqrt(dot_d(va, va)) * F.sqrt(dot_d(vb, vb))
        )
        return F.round(c * 1_000_000).cast("long")

    cand = materialize(
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cos_ppm(as_double("embedding"), F.col("qv")).alias("rel_ppm"),
            as_double("embedding").alias("vd"),
        )
        .orderBy(F.col("rel_ppm").desc(), "vec_id")
        .limit(MMR_POOL)
    )
    packed = cand.agg(
        F.collect_list(F.struct("vec_id", "vd")).alias("pool")
    )
    p = materialize(
        packed.select(F.explode("pool").alias("a"), "pool")
        .select(F.col("a.vec_id").alias("ai"), F.col("a.vd").alias("va"),
                F.explode("pool").alias("b"))
        .where(F.col("ai") != F.col("b.vec_id"))
        .select(
            "ai",
            F.col("b.vec_id").alias("bi"),
            cos_ppm(F.col("va"), F.col("b.vd")).alias("sim_ppm"),
        )
    )
    sel = (
        cand.orderBy(F.col("rel_ppm").desc(), "vec_id")
        .limit(1)
        .select(
            F.lit(1).alias("rk"),
            "vec_id",
            "rel_ppm",
            F.lit(0).cast("long").alias("ms"),
        )
    )
    for step in range(2, MMR_K + 1):
        chosen = sel.select("vec_id")
        ms_df = (
            p.join(chosen.withColumnRenamed("vec_id", "bi"), "bi")
            .groupBy("ai")
            .agg(F.max("sim_ppm").alias("ms"))
            .withColumnRenamed("ai", "vec_id")
        )
        nxt = (
            cand.join(chosen, "vec_id", "left_anti")
            .join(ms_df, "vec_id")
            .select(
                F.lit(step).alias("rk"),
                "vec_id",
                "rel_ppm",
                "ms",
            )
            .orderBy(
                (7 * F.col("rel_ppm") - 3 * F.col("ms")).desc(), "vec_id"
            )
            .limit(1)
        )
        # checkpoint the accumulated picks each round (the kmeans-chain
        # convention) so step k's plan does not re-derive steps 1..k-1
        sel = materialize(sel.unionByName(nxt))
    return sel.select(
        F.col("rk").cast("int").alias("rk"),
        "vec_id",
        F.col("rel_ppm").cast("long").alias("rel_ppm"),
        F.col("ms").cast("long").alias("max_sim_ppm"),
        (7 * F.col("rel_ppm") - 3 * F.col("ms")).cast("long").alias("mmr_score"),
    )
