"""Banded sign-LSH (SimHash-style random-hyperplane hashing) shared by
the similarity/dedup pairwise operators, with *matching DuckDB SQL
generators built from the same plane literals* so LSH-blocked queries
stay oracle-checkable.

Why banded: a single b-bit signature has collision probability
``(1 - theta/pi)^b`` — too selective for recall at useful thresholds.
The standard fix (Indyk-Motwani / Charikar) is B independent bands of r
bits: a pair is a candidate if it collides in ANY band, lifting recall to
``1 - (1 - p^r)^B`` while keeping candidate generation a bucket
equi-join.  The shuffle key is (band, bucket); pair cost is bounded by
bucket occupancy, never by any data stratum's size — this is the
re-blocking the round-1 verdict asked for (low-cardinality lang/label
blocks are O((n/k)^2) within a block).

Determinism: planes are seeded (SURVEY.md §7: seeded randomness only)
and sign thresholds use the ROUNDED dot product (6 digits), so Spark's
sequential zip_with/aggregate fold and DuckDB's list_dot_product agree
bit-for-bit (the round-1-proven portability convention in
functions/vectors.py).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.vectors import as_double, cosine_prenormed, dot_d, norm
from oracle_parquet_dumper_spark.session import materialize

DIM = 64
N_SIGN_BANDS = 4
BITS_PER_BAND = 4

# 16 fixed hyperplanes, distinct seed from similarity.py's 8-plane set.
_rng = np.random.default_rng(7)
PLANES: list[list[float]] = [
    [round(float(x), 6) for x in _rng.standard_normal(DIM)]
    for _ in range(N_SIGN_BANDS * BITS_PER_BAND)
]

# WIDE variant: 8 bits/band -> 256 buckets/band.  The sf1 bench measured
# the capacity rule directly (SCALING.md round 4): with 4-bit bands,
# bucket occupancy grows with n and candidate pairs grow ~n^2/256 (the
# flagship went 21x for 10x data); doubling the bits cuts expected
# within-bucket pairs ~256x at the s-curve's recall cost.  Bits per band
# is the knob that must scale ~log2(n / target_occupancy).
WIDE_BITS_PER_BAND = 8
_rng_w = np.random.default_rng(11)
PLANES_WIDE: list[list[float]] = [
    [round(float(x), 6) for x in _rng_w.standard_normal(DIM)]
    for _ in range(N_SIGN_BANDS * WIDE_BITS_PER_BAND)
]


MIN_BITS_PER_BAND = 4
MAX_BITS_PER_BAND = 16  # 64k buckets/band — past any single-table need
DEFAULT_TARGET_OCCUPANCY = 64  # expected rows per (band, bucket)


def capacity_bits(
    n_rows: int, target_occupancy: int = DEFAULT_TARGET_OCCUPANCY
) -> int:
    """Bits per band for a corpus of ``n_rows`` — SCALING.md's measured
    capacity rule, ``bits ~ log2(n / target_occupancy)``, as code.

    Banded-LSH pair cost is bounded by bucket occupancy (~n/2^bits per
    band), so candidate pairs grow ~n^2/4^bits: a FIXED bits choice is
    quadratic in disguise (the 4-bit config measured 23.5x wall-clock
    for 10x data at sf1; re-bucketing to 8 bits measured 3.3x).  Treat
    bits like a partition count — re-derive it as the corpus grows:

        bits = capacity_bits(df.count())        # or a catalog rowcount
        bands = banded_buckets(df, id, vec, planes_for(bits), bits)

    Clamped to [MIN_BITS_PER_BAND, MAX_BITS_PER_BAND]; occupancy is
    the expected verification fan-in per bucket (recall rides the banded
    s-curve 1-(1-p^r)^B, so larger corpora trade a little recall for
    boundedness — pin it with a recall regression test, as
    tests/test_ann_recall_sf1.py does for the registered configs)."""
    import math

    if n_rows <= 0:
        return MIN_BITS_PER_BAND
    bits = math.ceil(math.log2(max(n_rows / target_occupancy, 1.0)))
    return max(MIN_BITS_PER_BAND, min(MAX_BITS_PER_BAND, bits))


def planes_for(bits: int, dim: int = DIM, n_bands: int = N_SIGN_BANDS) -> list[list[float]]:
    """Seeded hyperplane set for ``n_bands`` bands of ``bits`` bits.
    Reproduces the registered sets exactly (seed 7 for 4-bit, 11 for
    8-bit — the seeds the DuckDB oracle generators bake in), so a
    capacity-driven re-bucket at one of those widths stays
    oracle-checkable; other widths get their own deterministic seed."""
    if bits == BITS_PER_BAND:
        return PLANES
    if bits == WIDE_BITS_PER_BAND:
        return PLANES_WIDE
    rng = np.random.default_rng(1000 + bits)
    return [
        [round(float(x), 6) for x in rng.standard_normal(dim)]
        for _ in range(n_bands * bits)
    ]


def _sign_bit(vec_d: Column, plane: list[float]) -> Column:
    """'1'/'0' from the sign of the rounded <vec, plane> dot product.
    ``vec_d`` must already be array<double> (hoist the cast with
    ``as_double`` once per row so it isn't re-evaluated per plane).

    Implementation note: the sequential zip_with/aggregate fold is
    interpreted, but a flat 64-term element_at multiply-add chain was
    measured ~4x SLOWER here (16 planes x 64 terms blows the expression
    tree past codegen's method-size limits and falls back to
    interpreting a much bigger tree).  The fold also keeps the
    left-to-right add order that makes results bit-exact with DuckDB's
    list_dot_product."""
    plane_lit = F.array(*[F.lit(v) for v in plane])
    return F.when(F.round(dot_d(vec_d, plane_lit), 6) >= 0, F.lit("1")).otherwise(F.lit("0"))


def band_structs(
    vec_col: Column | str,
    planes: list[list[float]] = PLANES,
    bits: int = BITS_PER_BAND,
) -> Column:
    """Array of (band, bucket) structs — explode to get one row per band.
    bucket is the band's ``bits`` sign bits as a string key."""
    vec_d = as_double(vec_col)
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[_sign_bit(vec_d, planes[b * bits + r]) for r in range(bits)]
                ).alias("bucket"),
            )
            for b in range(N_SIGN_BANDS)
        ]
    )


def banded_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]] = PLANES,
    bits: int = BITS_PER_BAND,
) -> DataFrame:
    """(id, band, bucket) — one row per (row, band); the candidate-join
    input.  At 100 TB this is the precomputed/bucketed column layout:
    write it partitioned by (band, bucket) and candidate generation
    becomes a co-located join with zero wide shuffle.  ``planes``/``bits``
    select the band width (the capacity knob — see PLANES_WIDE).

    Lazily checkpointed, ready for ``band_pairs`` (see its docstring
    for why the materialization sits here)."""
    # the hyperplane dots are heavy per-row map work over a
    # single-row-group fixture scan (one task however many cores) —
    # restore scan parallelism adaptively before computing them
    # (no-op on an already-split source; guide §2.5).
    from oracle_parquet_dumper_spark.sources.tables import split_scan

    bands = (
        split_scan(df, cpu_weight=32)
        .select(F.col(id_col), F.explode(band_structs(vec_col, planes, bits)).alias("bb"))
        .select(id_col, "bb.band", "bb.bucket")
    )
    return materialize(bands)


def banded_buckets_wide(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """8-bit-band variant of ``banded_buckets`` — the measured capacity
    fix for large n (see PLANES_WIDE note)."""
    return banded_buckets(df, id_col, vec_col, PLANES_WIDE, WIDE_BITS_PER_BAND)


def band_pairs(
    bands: DataFrame,
    id_col: str,
    key_cols: list[str],
    cap: int | None = None,
    min_agree: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs ``(a, b)``, ``a < b``, of the rows of a
    band relation that share every ``key_cols`` value — the banded-LSH
    self-join every pairwise dedup/similarity operator runs.  The join
    keys keep the caller's column names, so plans/audit.py's
    banded-join detector sees a ``(band, bucket)`` join exactly where
    the caller's relation has one.

    Materialization.  ``bands`` must be materialized ONCE before it
    gets here, so both join sides read the same blocks (``Scan
    ExistingRDD`` in the executed plan) instead of each re-deriving the
    per-row signatures — tokenize + shingle md5 for MinHash, the
    hyperplane dot folds for sign-LSH.  ``banded_buckets`` and
    ``dedup._minhash_pairs`` materialize (lazily) the relation they
    pass; the Levenshtein name bands, a small aggregate, are joined as
    they are.  The checkpoint sits on the narrow band relation
    with no repartition above it, a shape chosen by interleaved A/B on a
    32-core box:

    - An explicit ``(band, bucket)`` repartition relied on for
      ReusedExchange did not reuse at runtime: AQE broadcasts one side
      at fixture scale and the broadcast build re-derived the signature
      pipeline.  Repartition-reuse vs checkpoint medians (s, sf0.1 /
      sf1): dedup_minhash_lsh 2.13 -> 1.87 / 2.98 -> 2.49;
      dedup_threshold_sensitivity 3.74 -> 2.57 / 5.18 -> 4.16;
      pipeline_split_leakage_audit 4.61 -> 4.44 / 4.34 -> 3.35;
      pipeline_curation 2.26 -> 2.11 / 4.38 -> 4.33.
    - Checkpoint THEN repartition measured between the two (minhash
      1.98 / 2.84 s), and dropping the repartition above
      ``banded_buckets_wide`` took dedup_embedding_cosine_lsh 2.41 ->
      2.37 s at sf0.1 and 6.51 -> 4.32 s at sf1 (1.51x): the standing
      exchange of the exploded band relation costs more than letting
      AQE plan the join (broadcast or sort-merge) over the
      materialized relation.

    Fault tolerance: the band relation goes through
    ``session.materialize``.  With ``spark.checkpoint.dir`` set it is a
    reliable checkpoint that survives a lost executor; without it, its
    ``localCheckpoint`` blocks live unreplicated in executor storage
    behind a cut lineage, so losing an executor mid-query fails the job.
    Either way the exploded band relation is written per query at
    100 TB; a stored band index (``write_dedup_corpus_state``) is the
    form that amortizes it.

    Signatures.  If ``bands`` carries a ``sig`` array column
    (``minhash_band_rows(..., keep_sig=True)``), each pair also gets
    ``agree``, the number of equal signature components, computed on the
    joined row BEFORE the pair dedup.  ``agree`` is row-local and the
    same for every band a pair collides in, so the dedup exchange then
    shuffles ``(a, b, agree)`` instead of two signature arrays per
    collision row.  ``min_agree`` keeps pairs with ``agree >=
    min_agree``, also before the dedup.

    ``cap`` bounds work on degenerate data: each bucket admits only its
    ``cap`` smallest ids (row_number — deterministic), so a bucket yields
    at most C(cap, 2) pairs and total work is O(#buckets).  The window is
    partitioned by the join key, so it rides the join's own exchange."""
    if cap is not None:
        from pyspark.sql import Window as W

        rn = F.row_number().over(W.partitionBy(*key_cols).orderBy(id_col))
        bands = bands.withColumn("rn", rn).where(F.col("rn") <= cap).drop("rn")
    carry = ["sig"] if "sig" in bands.columns else []
    a, b = (
        bands.select(
            F.col(id_col).alias(side),
            *[F.col(c).alias(f"{c}_{side}") for c in carry],
            *key_cols,
        )
        for side in ("a", "b")
    )
    out = [F.col("a"), F.col("b")]
    if carry:
        agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e))
        out.append(agree.cast("long").alias("agree"))
    pairs = a.join(b, key_cols).where(F.col("a") < F.col("b")).select(*out)
    if min_agree is not None:
        pairs = pairs.where(F.col("agree") >= min_agree)
    return pairs.dropDuplicates(["a", "b"])


def pair_sides(pairs: DataFrame, rows: DataFrame, id_col: str) -> DataFrame:
    """``pairs`` joined to ``rows`` on both pair sides: every other
    column ``c`` of ``rows`` arrives as ``c_a`` (a's row) and ``c_b``
    (b's row) — the re-attach step that verifies candidate pairs."""
    cols = [c for c in rows.columns if c != id_col]
    for side in ("a", "b"):
        pairs = pairs.join(
            rows.select(
                F.col(id_col).alias(side), *[F.col(c).alias(f"{c}_{side}") for c in cols]
            ),
            side,
        )
    return pairs


def pair_cosine(pairs: DataFrame, vecs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(a, b, cos)``: the exact rounded cosine of each candidate pair's
    vectors, re-attached from ``vecs`` (norms computed once per row)."""
    v = vecs.select(id_col, as_double(vec_col).alias("v"), norm(vec_col).alias("n"))
    return pair_sides(pairs, v, id_col).select(
        "a", "b", cosine_prenormed("v_a", "v_b", "n_a", "n_b").alias("cos")
    )


# --- matching DuckDB SQL (generated from the SAME plane literals) ----------

def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]"


def _bucket_sql(
    vec_expr: str,
    band: int,
    planes: list[list[float]] = PLANES,
    bits_per_band: int = BITS_PER_BAND,
) -> str:
    bits = [
        "CASE WHEN round(list_dot_product("
        f"{vec_expr}, {_plane_sql(planes[band * bits_per_band + r])}::DOUBLE[]), 6) >= 0 "
        "THEN '1' ELSE '0' END"
        for r in range(bits_per_band)
    ]
    return " || ".join(bits)


def banded_buckets_sql(
    table: str,
    id_col: str,
    vec_col: str,
    planes: list[list[float]] = PLANES,
    bits_per_band: int = BITS_PER_BAND,
) -> str:
    """UNION ALL over bands of (id, band, bucket) — the SQL twin of
    ``banded_buckets`` for DuckDB oracles.  ``vec_col`` is cast to
    DOUBLE[] once per branch to match the Spark-side double fold."""
    branches = [
        f"SELECT {id_col}, {b} AS band, "
        f"{_bucket_sql(f'{vec_col}::DOUBLE[]', b, planes, bits_per_band)}"
        f" AS bucket FROM {table}"
        for b in range(N_SIGN_BANDS)
    ]
    return " UNION ALL ".join(branches)


def banded_buckets_wide_sql(table: str, id_col: str, vec_col: str) -> str:
    """SQL twin of ``banded_buckets_wide``."""
    return banded_buckets_sql(table, id_col, vec_col, PLANES_WIDE, WIDE_BITS_PER_BAND)
