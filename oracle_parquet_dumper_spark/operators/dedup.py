"""Deduplication operators over ``documents`` / ``embeddings``:
exact (hash group-by), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

North-star extension (SURVEY.md §2 Part B "Dedup").  Design for 100 TB:

- exact dedup shuffles a 16-byte digest, never the document body;
- MinHash/LSH turns the O(n^2) pair problem into a band-bucket
  shuffle (candidates only collide within a band bucket);
- SimHash reduces each doc to one 64-bit signature;
- pairwise-exact variants are *blocked* (same lang / sampled ids) —
  the only honest way to run exact pair scoring at scale.

All hashing is JVM-side and engine-portable: md5 prefixes parsed into
BIGINT plus affine universal permutations mod the 31-bit Mersenne prime
(exact integer arithmetic DuckDB reproduces), so MinHash/SimHash and the
LSH-banded pipelines are oracle-checked bit for bit, not just
rows-only; planted near-duplicate semantics are additionally pinned by
unit tests (tests/test_dedup_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.lsh import band_pairs, pair_cosine, pair_sides
from oracle_parquet_dumper_spark.functions.rounding import (
    cents,
    cents_sql,
    comoment,
    comoment_sql,
    exact_dot,
    exact_dot_sql,
    exact_sum,
    exact_sum_sql,
    hugeint_sql,
    to_double,
    to_double_sql,
)
from oracle_parquet_dumper_spark.functions.tokens import (
    md5_long,
    md5_long_sql,
    shingles,
    shingles_sql,
    words,
    words_sql,
)
from oracle_parquet_dumper_spark.functions.vectors import cosine_rounded_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table, read_parquet_robust, split_scan

N_MINHASH = 16
OPH_BINS = 16  # one-permutation-hashing bin count (r12 eval + r13 sampled twin)
N_BANDS = 4  # 4 rows/band -> s-curve threshold ~ (1/4)^(1/4) ~ 0.71

# Engine-portable MinHash: token/shingle ids are 60-bit md5 prefixes
# (both engines parse 15 hex digits into a BIGINT) and the N_MINHASH
# permutations are affine universal hashes (a*x + b) mod p over the
# 31-bit Mersenne prime — products stay under 2^62, so the arithmetic
# is exact in BIGINT on both engines (ANSI long overflow would throw on
# Spark; DuckDB would upcast to 128 bits and diverge).  Seeded constants
# (SURVEY.md §7: seeded randomness only).
MINHASH_P = 2_147_483_647
_mh_rng = __import__("numpy").random.default_rng(13)
MINHASH_A = [int(x) for x in _mh_rng.integers(1, MINHASH_P, N_MINHASH)]
MINHASH_B = [int(x) for x in _mh_rng.integers(0, MINHASH_P, N_MINHASH)]


def _affine_min_sql(i: int, sh_expr: str) -> str:
    return f"MIN(({MINHASH_A[i]} * ({sh_expr} % {MINHASH_P}) + {MINHASH_B[i]}) % {MINHASH_P})"


def _participant_shingle_sets(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, ss): the distinct md5 shingle-id set of every document
    of ``d`` that appears on either side of a candidate-pair relation —
    the exact-verify input, built for pair participants only.

    The round-13 profile that motivated the restriction: at sf1 the
    minhash evals spent 99 s building distinct-shingle arrays for ALL
    600k documents and 13 s on everything else, while only ~5k documents
    actually appear in a candidate pair — Catalyst cannot push a join's
    key membership below a per-row array constructor, so the left-semi
    must come BEFORE the array build.  Callers materialize the pair
    relation first so the banded join isn't re-derived for the
    participant list.  No forced broadcast: the participant list grows
    with the candidate set, so AQE broadcasts it while small and falls
    back to a shuffled semi-join beyond that."""
    participants = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    ss = F.array_distinct(F.transform(shingles(words()), lambda s: md5_long(s)))
    return d.join(participants, "doc_id", "left_semi").select("doc_id", ss.alias("ss"))


def _minhash_pairs(
    sig: DataFrame, keep_sig: bool = False, min_agree: int | None = None
) -> DataFrame:
    """Distinct MinHash-LSH candidate pairs (a, b) of a (doc_id, sig)
    frame: the band relation is materialized once and self-joined
    by ``band_pairs`` (functions/lsh.py, which documents the shape).
    ``keep_sig`` carries the signatures through the checkpoint so each
    pair also gets ``agree`` (and ``min_agree`` can threshold it) before
    the pair dedup."""
    bands = materialize(minhash_band_rows(sig, keep_sig))
    return band_pairs(bands, "doc_id", ["band", "bucket"], min_agree=min_agree)


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup",),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest: group on md5(text), keep the
    smallest doc_id.  Only the 16-byte digest shuffles; document bodies
    stay in place — the difference between shuffling 100 TB and 2 TB."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "dedup_exact_multicol",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT (lang, source, text)) AS n_distinct
    FROM documents
    """,
    tags=("dedup",),
)
def dedup_exact_multicol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact dedup cardinality (dropDuplicates semantics)."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("lang", "source", "text").alias("n_distinct"),
    )


def minhash_signatures_df(docs: DataFrame) -> DataFrame:
    """Scalable MinHash with ZERO shuffles: signatures are pure per-row
    array expressions, staged so nothing is recomputed.

    Three chained projections — (1) tokenize once, (2) one md5 per
    k-gram shingle built by array indexing into the materialized token
    column, (3) sixteen affine-permutation ``array_min`` folds over the
    materialized shingle-hash column.  Each stage's output is a column
    the next stage references many times; Catalyst's CollapseProject
    declines to inline non-trivial expressions referenced more than
    once, so tokenization runs once per document and md5 once per
    shingle (asserted by tests/test_plans.py).

    Earlier rounds shuffled here (explode + min-agg in r2, window
    ``lead`` + min-agg in r3).  Both moved every token/shingle row
    through a doc_id exchange — O(corpus) shuffle bytes, plus a
    per-partition sort for the window — where the per-row formulation
    moves none.  At 100 TB the signature stage is now embarrassingly
    parallel; the only shuffle left in LSH dedup is the band-bucket
    join itself.

    Documents with no whitespace-delimited tokens (empty or all-space
    text) produce no signature row, matching the exploding formulations
    and the SQL twin (``_minhash_sig_sql``).  Documents shorter than k
    tokens contribute one whole-text shingle (``tokens.shingles``)."""
    from oracle_parquet_dumper_spark.sources.tables import split_scan

    # r14: the signature build is the dedup family's dominant linear
    # cost and is embarrassingly parallel, but the single-row-group
    # fixture scan plans ONE task — restore scan parallelism adaptively
    # (no-op when the source is already split; see split_scan).
    docs = split_scan(docs, cpu_weight=32)
    t1 = docs.select("doc_id", words().alias("toks")).where(F.size("toks") > 0)
    t2 = t1.select("doc_id", minhash_shingle_hashes_from_toks().alias("shm"))
    return minhash_sig_from_shm(t2)


def minhash_shingle_hashes_from_toks():
    """Column: md5 shingle-hash array over the materialized token-array
    column ``toks`` — stage (2) of ``minhash_signatures_df``, exposed so
    a caller that must materialize an intermediate (pipeline_curation's
    exact-dedup checkpoint) can carry the compact ``shm`` longs instead
    of raw text and re-tokenizing per consumer.  ONE md5 per shingle;
    the 16 'permutations' are affine maps of that single shingle id —
    1 multiply + 2 mods each, exact BIGINT arithmetic both engines
    reproduce (a*s < 2^62, see MINHASH_P note)."""
    return F.transform(shingles("toks"), lambda g: md5_long(g) % MINHASH_P)


def minhash_sig_from_shm(t2: DataFrame) -> DataFrame:
    """(doc_id, sig) from a (doc_id, shm) relation — stage (3) of
    ``minhash_signatures_df`` (sixteen affine ``array_min`` folds over
    the shingle-hash array), split out for callers that carry ``shm``
    through a materialization boundary."""
    return t2.select(
        "doc_id",
        F.array(
            *[
                F.array_min(
                    F.transform(
                        "shm",
                        lambda s: (F.lit(MINHASH_A[i]) * s + F.lit(MINHASH_B[i]))
                        % MINHASH_P,
                    )
                )
                for i in range(N_MINHASH)
            ]
        ).alias("sig"),
    )


def minhash_band_rows(sig: DataFrame, keep_sig: bool = False) -> DataFrame:
    """Explode a (doc_id, sig) frame into one (doc_id[, sig], band,
    bucket) row per band: the bucket key joins the band's minhash
    components with '_' — the exact encoding the SQL twin
    (``_band_eq_sql``) replays, so this single definition is what keeps
    every LSH query's candidate set in lockstep with its oracle.  Every
    MinHash banded query buckets through here: the self-joins (via
    ``_minhash_pairs``), the train x test leakage audit, and the
    incremental batch-vs-corpus joins and their stored corpus index."""
    rpb = N_MINHASH // N_BANDS
    cols = ["doc_id", "sig"] if keep_sig else ["doc_id"]
    bb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_",
                        *[
                            F.element_at("sig", b * rpb + r + 1).cast("string")
                            for r in range(rpb)
                        ],
                    ).alias("bucket"),
                )
                for b in range(N_BANDS)
            ]
        )
    ).alias("bb")
    return sig.select(*cols, bb).select(*cols, "bb.band", "bb.bucket")


def _minhash_sig_sql(source_cte: str = "documents") -> str:
    """SQL twin of ``minhash_signatures_df`` over ``source_cte`` (a
    relation with doc_id, text): tokenize -> shingles -> md5 shingle ids
    -> 16 affine min-aggregates.  Documents with no tokens get no row,
    as on the Spark side.  Returns a CTE body producing (doc_id,
    h0..h15)."""
    mins = ",\n             ".join(
        _affine_min_sql(i, "s") + f" AS h{i}" for i in range(N_MINHASH)
    )
    return f"""
    mh_sh AS MATERIALIZED (
      SELECT doc_id, {md5_long_sql("g")} AS s
      FROM (SELECT doc_id, unnest({shingles_sql("tl")}) AS g
            FROM (SELECT doc_id, {words_sql()} AS tl FROM {source_cte})
            WHERE len(tl) > 0)
    ),
    mh_sig AS MATERIALIZED (
      SELECT doc_id,
             {mins}
      FROM mh_sh GROUP BY doc_id
    )"""


def _band_eq_sql(a: str = "a", b: str = "b") -> str:
    """OR-over-bands collision predicate between two mh_sig aliases."""
    rpb = N_MINHASH // N_BANDS
    return " OR ".join(
        "("
        + " AND ".join(f"{a}.h{bd * rpb + r} = {b}.h{bd * rpb + r}" for r in range(rpb))
        + ")"
        for bd in range(N_BANDS)
    )


def _agree_sql(a: str = "a", b: str = "b") -> str:
    """Count of agreeing minhash components between two mh_sig aliases."""
    return " + ".join(
        f"(CASE WHEN {a}.h{i} = {b}.h{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )


def _minhash_pairs_sql() -> str:
    """(a, b, est_jaccard) candidate pairs: any of the N_BANDS bands
    fully agreeing, verified by the fraction of agreeing minhashes.  The
    SQL twin states band collision declaratively (OR over band-equality
    conjunctions); Spark's explode+equi-join computes the same set."""
    band_eq = _band_eq_sql()
    agree = _agree_sql()
    return f"""
    mh_pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             ({agree}) / {float(N_MINHASH)} AS est_jaccard
      FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id AND ({band_eq})
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_minhash_sig_sql()},
    {_minhash_pairs_sql()}
    SELECT a, b, est_jaccard FROM mh_pairs
    WHERE est_jaccard >= 0.5
    ORDER BY a, b
    """,
    tags=("dedup", "lsh"),
    bench=True,
    band_bits=124,  # 4 minhash components x 31 bits, concat
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs.

    shingle(3-gram) -> 16 minhashes -> 4 bands x 4 rows; docs colliding
    on any band's hash become candidates; candidates are verified with
    the exact signature-estimated Jaccard (fraction of agreeing
    minhashes).  The shuffle key is (band_id, band_key) — at 100 TB no
    all-pairs comparison ever materializes; cost is bounded by bucket
    occupancy (salt or re-band if a bucket explodes).

    Oracle-checked end to end: md5 token/shingle ids + affine
    permutations are exact integer arithmetic both engines reproduce;
    the SQL twin re-derives the same signatures and states band
    collision declaratively.  Planted near-duplicate semantics are
    additionally unit-tested.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    pairs = _minhash_pairs(minhash_signatures_df(d), keep_sig=True, min_agree=N_MINHASH // 2)
    return pairs.select(
        "a", "b", (F.col("agree") / F.lit(float(N_MINHASH))).alias("est_jaccard")
    ).orderBy("a", "b")


def _simhash_oracle() -> str:
    """SQL twin of dedup_simhash: the 64-bit token hash is md5 split
    into two 32-bit halves (both engines parse 8 hex digits exactly);
    vote sums and the sign-threshold assembly mirror the Spark
    expressions term for term, with a 128-bit two's-complement fold
    for the sign bit."""
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (({'lo' if i < 32 else 'hi'} >> {i if i < 32 else i - 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    one, zero = hugeint_sql("1"), hugeint_sql("0")
    terms = " + ".join(f"(CASE WHEN b{i} > 0 THEN {one} << {i} ELSE {zero} END)" for i in range(64))
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({words_sql()}) AS t
      FROM documents WHERE length(text) > 0
    ),
    h AS (
      SELECT doc_id,
             {md5_long_sql('t', 1, 8)} AS hi,
             {md5_long_sql('t', 9, 8)} AS lo
      FROM tok
    ),
    v AS (
      SELECT doc_id,
             {votes}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(CASE WHEN hu >= {one} << 63
                     THEN hu - ({one} << 64) ELSE hu END AS BIGINT) AS simhash
    FROM (SELECT doc_id, {hugeint_sql(terms)} AS hu FROM v)
    """


@query("dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "simhash"), band_bits=64)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures: per token-hash, each bit votes +1/-1;
    the signature sign-thresholds the 64 vote sums.  Near-dups = small
    Hamming distance; unit-tested on permuted/edited texts.

    The token hash is md5 split into two 32-bit halves (hi/lo) — the
    engine-portable digest convention — so the full signature pipeline
    is oracle-checked bit for bit.  The explode formulation computes the
    token-hash stream ONCE, then 64 partial-aggregated vote sums
    (Catalyst would otherwise duplicate the tokenization into each of
    the 64 fold branches)."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    md = F.md5(F.col("t").cast("binary"))
    tok = (
        d.select(
            "doc_id",
            F.explode(words()).alias("t"),
        )
        .select("doc_id", md.alias("md"))
        .select(
            "doc_id",
            F.conv(F.substring("md", 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("md", 9, 8), 16, 10).cast("long").alias("lo"),
        )
    )
    one = F.lit(1).cast("long")
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("lo" if i < 32 else "hi", i if i < 32 else i - 32)
                    .bitwiseAND(one) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sim = None
    for i in range(64):
        v = F.col(f"b{i}")
        if i < 63:
            term = F.when(v > 0, F.lit(2**i).cast("long")).otherwise(0).cast("long")
        else:  # sign bit: set => Long.MIN_VALUE contribution
            term = F.when(v > 0, F.lit(-(2**63)).cast("long")).otherwise(0).cast("long")
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH s AS (SELECT doc_id, lang, lower(text) AS t FROM documents
               WHERE doc_id % 5 = 0 AND length(text) > 0)
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(jaccard(a.t, b.t), 6) AS char_jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE jaccard(a.t, b.t) >= 0.9
    """,
    tags=("dedup", "jaccard", "demo"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-set Jaccard similarity join, blocked by language and a
    doc_id sample (exact pairwise scoring is only viable inside blocks).
    Matches DuckDB's ``jaccard()`` definition: distinct-character sets."""
    d = load_table(spark, sf_dir, "documents")
    s = (
        d.where((F.col("doc_id") % 5 == 0) & (F.length("text") > 0))
        .select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.filter(F.split(F.lower("text"), ""), lambda c: F.length(c) > 0)
            ).alias("chars"),
        )
    )
    a = s.select(F.col("doc_id").alias("a"), F.col("lang").alias("lang_a"), F.col("chars").alias("ca"))
    b = s.select(F.col("doc_id").alias("b"), F.col("lang").alias("lang_b"), F.col("chars").alias("cb"))
    inter = F.size(F.array_intersect("ca", "cb")).cast("double")
    union = F.size(F.array_union("ca", "cb")).cast("double")
    jac = inter / union
    return (
        a.join(b, (F.col("lang_a") == F.col("lang_b")) & (F.col("a") < F.col("b")))
        .where(jac >= 0.9)
        .select("a", "b", F.round(jac, 6).alias("char_jaccard"))
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
    p AS (
      SELECT a.vec_id AS a, b.vec_id AS b, a.label AS label,
             {cosine_rounded_sql('a.embedding', 'b.embedding')} AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label, COUNT(*) AS n_near, MAX(cos) AS max_cos
    FROM p WHERE cos >= 0.3
    GROUP BY label
    """,
    tags=("dedup", "embedding", "demo"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, blocked by label (the
    centroid/cluster id at scale): pairs above threshold, aggregated per
    block.  The join shuffles on label only; per-block pair scoring is
    the standard post-clustering dedup pass.

    DEMO of exact-within-small-block scoring: with only 10 label values
    the within-block pair count is O((n/10)^2) — at scale use the
    LSH-blocked flagship ``dedup_embedding_cosine_lsh``, whose pair cost
    is bounded by bucket occupancy instead of stratum size."""
    from oracle_parquet_dumper_spark.functions.vectors import as_double, cosine_prenormed, norm

    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("a"),
        F.col("label").alias("label"),
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
        .where(F.col("cos") >= 0.3)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_near"), F.max("cos").alias("max_cos"))
    )


def _emb_lsh_oracle() -> str:
    from oracle_parquet_dumper_spark.functions.lsh import banded_buckets_sql

    return f"""
    WITH bands AS MATERIALIZED ({banded_buckets_sql("embeddings", "vec_id", "embedding")}),
    cand AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    ),
    p AS (
      SELECT a, b, {cosine_rounded_sql('ea.embedding', 'eb.embedding')} AS cos
      FROM cand JOIN embeddings ea ON ea.vec_id = a
                JOIN embeddings eb ON eb.vec_id = b
    )
    SELECT a, COUNT(*) AS n_dups, MAX(cos) AS best_cos
    FROM p WHERE cos >= 0.3
    GROUP BY a
    """


@query(
    "dedup_embedding_cosine_narrow_demo",
    oracle=_emb_lsh_oracle(),
    tags=("dedup", "embedding", "lsh", "demo"),
    band_bits=4,  # the measured-dying fixed domain, kept as pedagogy
)
def dedup_embedding_cosine_narrow_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEMO: the 4-sign-bit (16-bucket/band) banding this repo MEASURED
    dying at scale — kept as the cautionary baseline for the capacity
    rule, bench-barred and demoted from the flagship name (round-6
    verdict item #1).

    With 4-bit bands, bucket occupancy is ~n/16 per band, so candidate
    pairs grow ~n^2/256: SCALING.md measured 23.5x wall-clock for 10x
    data at sf1 (~50M exact verifications), while the 8-bit flagship
    ``dedup_embedding_cosine_lsh`` measured 3.3x on the same decade.
    Bits per band must scale ~log2(n / target_occupancy) (SCALING.md's
    capacity rule).  Still oracle-checked (the SQL twin
    regenerates the same seeded planes), and its denser candidate set is
    what keeps the small-SF fixture oracle rich (268 pairs at sf0.01)."""
    from oracle_parquet_dumper_spark.functions.lsh import banded_buckets

    e = load_table(spark, sf_dir, "embeddings")
    return _embedding_near_dups(e, banded_buckets(e, "vec_id", "embedding"))


def _embedding_near_dups(e: DataFrame, bands: DataFrame) -> DataFrame:
    """Per-vector near-dup summary over the banded sign-LSH candidates
    of ``bands``: exact rounded cosine >= 0.3, count and best per ``a``."""
    cand = band_pairs(bands, "vec_id", ["band", "bucket"])
    return (
        pair_cosine(cand, e, "vec_id", "embedding")
        .where(F.col("cos") >= 0.3)
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.max("cos").alias("best_cos"))
    )


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH s AS (SELECT c_custkey, c_mktsegment, c_name FROM customer WHERE c_custkey % 7 = 0)
    SELECT a.c_custkey AS a, b.c_custkey AS b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM s a JOIN s b ON a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 3
    """,
    tags=("dedup", "fuzzy", "demo"),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: Levenshtein edit distance under a
    threshold, blocked by segment + key sample (edit distance is
    O(len^2) per pair — blocking is mandatory at scale).

    DEMO of exact-within-small-block scoring: the 5-value segment block
    is O((n/5)^2) within a block — at scale use the MinHash-banded
    flagship ``dedup_fuzzy_levenshtein_lsh``."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 7 == 0)
    a = c.select(
        F.col("c_custkey").alias("a"), F.col("c_mktsegment").alias("seg_a"), F.col("c_name").alias("name_a")
    )
    b = c.select(
        F.col("c_custkey").alias("b"), F.col("c_mktsegment").alias("seg_b"), F.col("c_name").alias("name_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("seg_a") == F.col("seg_b")) & (F.col("a") < F.col("b")))
        .where(dist <= 3)
        .select("a", "b", dist.cast("long").alias("edit_dist"))
    )


N_NAME_HASHES = 8
NAME_ROWS_PER_BAND = 2
N_NAME_BANDS = N_NAME_HASHES // NAME_ROWS_PER_BAND


def _name_hash_sql(j: int) -> str:
    return md5_long_sql(f"g || '#{j}'")


def _lev_lsh_oracle() -> str:
    sig_cols = ", ".join(f"MIN({_name_hash_sql(j)}) AS h{j}" for j in range(N_NAME_HASHES))
    band_branches = " UNION ALL ".join(
        f"SELECT c_custkey, {b} AS band, h{b * NAME_ROWS_PER_BAND} AS v0, "
        f"h{b * NAME_ROWS_PER_BAND + 1} AS v1 FROM sig"
        for b in range(N_NAME_BANDS)
    )
    return f"""
    WITH s AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 = 0),
    g AS (
      SELECT c_custkey,
             unnest(list_transform(generate_series(1, greatest(length(c_name) - 2, 1)),
                                   i -> substring(c_name, i, 3))) AS g
      FROM s
    ),
    sig AS MATERIALIZED (SELECT c_custkey, {sig_cols} FROM g GROUP BY c_custkey),
    bands AS ({band_branches}),
    cand AS (
      SELECT DISTINCT l.c_custkey AS a, r.c_custkey AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.v0 = r.v0 AND l.v1 = r.v1 AND l.c_custkey < r.c_custkey
    )
    SELECT a, b, CAST(levenshtein(sa.c_name, sb.c_name) AS BIGINT) AS edit_dist
    FROM cand JOIN s sa ON sa.c_custkey = a JOIN s sb ON sb.c_custkey = b
    WHERE levenshtein(sa.c_name, sb.c_name) <= 3
    """


@query(
    "dedup_fuzzy_levenshtein_lsh",
    oracle=_lev_lsh_oracle(),
    tags=("dedup", "fuzzy", "lsh", "flagship", "degenerate-data-sensitive"),
    band_bits=120,  # two 60-bit md5-prefix minhash components
)
def dedup_fuzzy_levenshtein_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching blocked by character-shingle MinHash bands —
    the FULL-RECALL reference for string near-dup.

    DEGENERATE-DATA-SENSITIVE (VERDICT r9 #2): on templated key
    populations (TPC-H customer names: 14-char template + digits) the
    correct <=3-edit pair relation is near-DENSE — 8.37M pairs at sf1's
    21k-name sample — so this query is OUTPUT-bound there and no
    candidate scheme can beat its own output; don't bench it on such
    keys.  The production scale path is
    ``dedup_fuzzy_levenshtein_lsh_capped`` (per-bucket occupancy cap,
    O(#buckets) at any occupancy, bench headline set).

    ``dedup_fuzzy_levenshtein`` blocks on the 5-value ``c_mktsegment``:
    within-block pairs are O((n/5)^2) and the biggest segment skews one
    task.  Here candidates collide through 4 bands x 2 min-hashes over
    character 3-grams, so pair cost follows bucket occupancy and the
    (band, v0, v1) key is shuffle/bucket-partitionable at 100 TB.
    Candidates are verified with exact Levenshtein <= 3.  The %7 key
    sample only controls fixture size.

    The min-hash uses md5 (engine-portable), NOT xxhash64, precisely so
    the DuckDB oracle can regenerate identical signatures — bit-exact
    candidate sets, full hash-match check.  (In production swap md5 for
    xxhash64: same plan, cheaper hash.)"""
    return _levenshtein_lsh(spark, sf_dir)


def _levenshtein_lsh(spark: SparkSession, sf_dir: str, cap: int | None = None) -> DataFrame:
    """Body of the two name-hash Levenshtein LSH queries: character
    3-gram md5 min-hashes -> (band, v0, v1) rows -> ``band_pairs``
    (``cap`` per bucket) -> exact Levenshtein <= 3 on the re-attached
    names."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 7 == 0)
    g = c.select(
        "c_custkey",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(c_name) - 2, 1)),"
                " i -> substring(c_name, i, 3))"
            )
        ).alias("g"),
    )

    def name_hash(j: int):
        return md5_long(F.concat(F.col("g"), F.lit(f"#{j}")))

    sig = g.groupBy("c_custkey").agg(
        *[F.min(name_hash(j)).alias(f"h{j}") for j in range(N_NAME_HASHES)]
    )
    bands = sig.select(
        "c_custkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"h{b * NAME_ROWS_PER_BAND}").alias("v0"),
                        F.col(f"h{b * NAME_ROWS_PER_BAND + 1}").alias("v1"),
                    )
                    for b in range(N_NAME_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("c_custkey", "bb.band", "bb.v0", "bb.v1")
    cand = band_pairs(bands, "c_custkey", ["band", "v0", "v1"], cap=cap)
    dist = F.levenshtein("c_name_a", "c_name_b")
    return (
        pair_sides(cand, c.select("c_custkey", "c_name"), "c_custkey")
        .where(dist <= 3)
        .select("a", "b", dist.cast("long").alias("edit_dist"))
    )


LEV_LSH_CAP = 16  # max rows admitted per (band, v0, v1) bucket


def _lev_lsh_capped_oracle() -> str:
    sig_cols = ", ".join(f"MIN({_name_hash_sql(j)}) AS h{j}" for j in range(N_NAME_HASHES))
    band_branches = " UNION ALL ".join(
        f"SELECT c_custkey, {b} AS band, h{b * NAME_ROWS_PER_BAND} AS v0, "
        f"h{b * NAME_ROWS_PER_BAND + 1} AS v1 FROM sig"
        for b in range(N_NAME_BANDS)
    )
    return f"""
    WITH s AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 = 0),
    g AS (
      SELECT c_custkey,
             unnest(list_transform(generate_series(1, greatest(length(c_name) - 2, 1)),
                                   i -> substring(c_name, i, 3))) AS g
      FROM s
    ),
    sig AS MATERIALIZED (SELECT c_custkey, {sig_cols} FROM g GROUP BY c_custkey),
    bands AS ({band_branches}),
    capped AS (
      SELECT c_custkey, band, v0, v1 FROM (
        SELECT c_custkey, band, v0, v1,
               ROW_NUMBER() OVER (PARTITION BY band, v0, v1
                                  ORDER BY c_custkey) AS rn
        FROM bands
      ) WHERE rn <= {LEV_LSH_CAP}
    ),
    cand AS (
      SELECT DISTINCT l.c_custkey AS a, r.c_custkey AS b
      FROM capped l JOIN capped r
        ON l.band = r.band AND l.v0 = r.v0 AND l.v1 = r.v1 AND l.c_custkey < r.c_custkey
    )
    SELECT a, b, CAST(levenshtein(sa.c_name, sb.c_name) AS BIGINT) AS edit_dist
    FROM cand JOIN s sa ON sa.c_custkey = a JOIN s sb ON sb.c_custkey = b
    WHERE levenshtein(sa.c_name, sb.c_name) <= 3
    """


@query(
    "dedup_fuzzy_levenshtein_lsh_capped",
    oracle=_lev_lsh_capped_oracle(),
    tags=("dedup", "fuzzy", "lsh"),
    bench=True,
    band_bits=120,
    capped_occupancy=True,  # per-(band,v0,v1) budget of LEV_LSH_CAP keys
)
def dedup_fuzzy_levenshtein_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_fuzzy_levenshtein_lsh`` with a PER-BUCKET OCCUPANCY CAP —
    the production defense the round-9 sf1 measurement demanded: on
    degenerate key populations (TPC-H's templated names — 21k sampled
    customers contain 8.37M genuine <= 3-edit pairs), every banding
    scheme is output-bound, so a bounded-work variant must DECLARE a
    per-bucket budget.  Each (band, v0, v1) bucket admits only its
    {LEV_LSH_CAP} smallest custkeys (row_number — deterministic, no tie
    ambiguity); candidate pairs per bucket are then <= C({LEV_LSH_CAP},2)
    = 120, so total work is O(#buckets), NEVER quadratic in occupancy —
    the explicit recall-for-boundedness trade (a true pair is missed
    only if BOTH members fall outside the first {LEV_LSH_CAP} keys in
    ALL {N_NAME_BANDS} of their shared bands; on non-degenerate data
    occupancy rarely reaches the cap and recall is the uncapped
    variant's).  Unlike the uncapped flagship, this variant's DuckDB
    twin is tractable at EVERY fixture SF — it closes the sf1-sweep
    exclusion with a green scale path.

    Scale shape: the cap is one row_number window PARTITIONED BY the
    band key (per-task state = one bucket's rows — the same key the
    join shuffles on, so the window rides the join's own exchange);
    everything else is the uncapped plan."""
    return _levenshtein_lsh(spark, sf_dir, cap=LEV_LSH_CAP)


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over undirected (a, b) pair rows.  Returns
    (node, component) where component is the minimum reachable node id.

    Iterative min-label propagation: one join + one aggregate per round,
    O(component diameter) rounds.  Near-dup clusters are shallow
    (stars/chains of a few hops), so 3-5 rounds suffice; a diameter above
    ``max_iterations`` raises instead of returning non-minimal labels.
    Large-star/small-star contraction (Kiveris et al., SoCC'14) bounds the
    rounds by O(log^2 n) instead, but on ``pipeline_curation`` at sf0.1
    (local[4], 4 cores) it ran 1.75x slower than this loop (median 3.46 s
    vs 1.97 s over 5 interleaved reps, equal result hashes), so it is not
    kept.

    The loop is driver-side control flow over fully distributed steps —
    no data ever visits the driver except a 1-row convergence probe per
    round.
    """
    both = edges.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        edges.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    # Truncate lineage: without this every iteration's convergence count
    # re-executes the (possibly expensive) edge-producing pipeline, and
    # the label lineage doubles per round.
    both = materialize(both, eager=True)
    labels = (
        both.groupBy("x").agg(F.least(F.min("y"), F.first("x")).alias("component"))
        .select(F.col("x").alias("node"), "component")
    )
    neighbors = both  # static topology
    changed = 0
    for _ in range(max_iterations):
        # Each node adopts the min component among itself and neighbors.
        # The node's OWN row is tagged so its previous label rides through
        # the same aggregation — the convergence check is then a filter on
        # the (checkpointed) result instead of a second join per round.
        prop = (
            neighbors.join(labels, neighbors.y == labels.node)
            .select(F.col("x").alias("node"), F.col("component"), F.lit(False).alias("own"))
            .unionByName(labels.withColumn("own", F.lit(True)))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("own"), F.col("component"))).alias("prev"),
            )
        )
        prop = materialize(prop, eager=True)
        changed = prop.where(F.col("component") < F.col("prev")).limit(1).count()
        labels = prop.select("node", "component")
        if changed == 0:
            break
    if changed:
        # Unconverged labels are non-minimal — silently returning them
        # would keep wrong dedup keepers (and flap the closure oracle).
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"min-label rounds (component diameter exceeds the budget); "
            f"raise max_iterations"
        )
    return labels


_CLOSURE_SQL = """
    cc_edges AS (SELECT a AS x, b AS y FROM cc_e0 UNION SELECT b AS x, a AS y FROM cc_e0),
    cc_reach AS (
      SELECT x, y FROM cc_edges
      UNION
      SELECT r.x, e.y FROM cc_reach r JOIN cc_edges e ON r.y = e.x
    ),
    cc_comp AS (SELECT x AS node, LEAST(MIN(y), x) AS component FROM cc_reach GROUP BY x)"""


@query(
    "dedup_clusters",
    # Iterative min-label propagation's fixpoint IS the transitive
    # closure, which SQL states directly as a recursive CTE — near-dup
    # clusters are shallow, so the closure stays small.
    oracle=f"""
    WITH RECURSIVE {_minhash_sig_sql()},
    {_minhash_pairs_sql()},
    cc_e0 AS (SELECT a, b FROM mh_pairs WHERE est_jaccard >= 0.5),
    {_CLOSURE_SQL}
    SELECT component, MIN(node) AS keeper_id, COUNT(*) AS cluster_size
    FROM cc_comp GROUP BY component ORDER BY component
    """,
    # lsh tag + band_bits: candidate edges come from the shared minhash
    # band join (minhash_band_rows) — caught by the r11 plan-level
    # banded-join detector (VERDICT r10 #5); same declaration as
    # dedup_minhash_lsh (4 x 31-bit minhash components, concat).
    tags=("dedup", "graph", "iterative", "lsh"),
    bench=True,
    band_bits=124,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: MinHash-LSH candidate pairs -> connected
    components -> one row per cluster with its canonical (min doc_id)
    keeper and size.  The full near-dedup pipeline a training-data run
    executes: survivors = all docs minus (cluster members - keepers).
    Oracle-checked: the distributed min-label iteration converges to the
    same fixpoint as the oracle's recursive closure (integer labels, so
    equality is exact); planted-cluster semantics additionally
    unit-tested."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("a", "b")
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min("node").alias("keeper_id"))
        .select("component", "keeper_id", "cluster_size")
        .orderBy("component")
    )


@query(
    "pipeline_curation",
    oracle=f"""
    WITH RECURSIVE quality AS (
      SELECT doc_id, lang, text FROM documents
      WHERE length(text) > 0 AND len({words_sql()}) >= 3
    ),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
    exact AS (SELECT q.* FROM quality q WHERE doc_id IN (SELECT doc_id FROM keep)),
    {_minhash_sig_sql("exact")},
    {_minhash_pairs_sql()},
    cc_e0 AS (SELECT a, b FROM mh_pairs),
    {_CLOSURE_SQL},
    cc_keep AS (SELECT component, MIN(node) AS keeper FROM cc_comp GROUP BY component),
    nonkeep AS (
      SELECT c.node AS doc_id FROM cc_comp c
      JOIN cc_keep k ON c.component = k.component
      WHERE c.node != k.keeper
    ),
    survivors AS (
      SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM nonkeep)
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len({words_sql()})) AS BIGINT) AS token_budget
    FROM survivors GROUP BY lang ORDER BY lang
    """,
    # lsh tag + band_bits: the near-dup stage is the shared minhash
    # band join (r11 plan-level banded-join rule)
    tags=("dedup", "pipeline", "flagship", "lsh"),
    bench=True,
    band_bits=124,
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pass over ``documents``:

    1. quality gate   — drop empty/short docs (cheap column filter first);
    2. exact dedup    — keep min doc_id per md5(text);
    3. near dedup     — MinHash-LSH pairs -> connected components ->
                        drop every cluster member except the keeper;
    4. accounting     — per-lang survivor count + whitespace-token budget.

    Stage order is the cost order: each stage shrinks the data the next
    (more expensive) stage sees.  Output is the per-language summary a
    curation run reports.  Iterative CC -> rows-only check; the stagewise
    row-count monotonicity is unit-tested."""
    d = load_table(spark, sf_dir, "documents")

    # 1. quality gate (tokenize once; toks feeds the gate, the token
    # budget and the shingle hashes below).  split_scan: the tokenize +
    # shingle-hash stage below is the heavy per-row work and the
    # single-row-group fixture scan plans one task (guide §2.5).
    from oracle_parquet_dumper_spark.sources.tables import split_scan

    d = split_scan(d, cpu_weight=32)
    base = d.select("doc_id", "lang", "text", words().alias("toks"))
    quality = base.where((F.length("text") > 0) & (F.size("toks") >= 3))

    # 2. exact dedup (keep min doc_id per digest)
    wk = F.md5(F.col("text").cast("binary"))
    keepers_exact = (
        quality.groupBy(wk.alias("h")).agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    # The exact-deduped set feeds BOTH the signature pipeline and the
    # final survivor join — checkpoint it once instead of recomputing
    # the scan+hash+semi-join per consumer.  r14: the checkpoint carries
    # (doc_id, lang, ntok, shm) — the compact md5 shingle-hash longs and
    # the token count — instead of raw text, so each consumer reads what
    # it needs (signatures: 16 affine folds over shm; accounting: ntok)
    # and nothing downstream ever re-tokenizes or re-hashes the corpus.
    exact = materialize(
        quality.join(keepers_exact, "doc_id", "left_semi").select(
            "doc_id",
            "lang",
            F.size("toks").cast("long").alias("ntok"),
            minhash_shingle_hashes_from_toks().alias("shm"),
        ),
        eager=True,
    )

    # 3. near dedup: LSH pairs over the exact-deduped set -> CC -> drop
    # non-keepers.
    pairs = _minhash_pairs(minhash_sig_from_shm(exact))
    comps = connected_components(pairs)
    drop = comps.groupBy("component").agg(F.min("node").alias("keeper"))
    # Join by NAME, not comps.component == drop.component: ``drop``
    # derives from ``comps``, so the attribute form makes both sides
    # resolve to the same expression ID and Spark falls back to a
    # "trivially true equals predicate" heuristic — correct today, but
    # the classic silently-becomes-cartesian foot-gun under refactoring.
    non_keepers = comps.join(drop, "component").where(
        F.col("node") != F.col("keeper")
    ).select(F.col("node").alias("doc_id"))
    survivors = exact.join(non_keepers, "doc_id", "left_anti")

    # 4. accounting (ntok was computed once, before the checkpoint)
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("token_budget"),
        )
        .orderBy("lang")
    )


@query(
    "split_train_dev_test",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             {md5_long_sql('CAST(doc_id AS VARCHAR)', 1, 8)} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'dev'
                ELSE 'test' END AS split,
           COUNT(*) AS n,
           MIN(doc_id) AS min_id
    FROM assigned
    GROUP BY 1
    ORDER BY split
    """,
    tags=("dedup", "split", "pipeline"),
)
def split_train_dev_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/dev/test split by content-stable hash bucket:
    md5(key) -> bucket 0-99 -> 80/10/10.  Hash-based (not modulo-id)
    assignment survives re-ingestion, resharding, and id renumbering —
    the reproducible-split requirement for training pipelines.  md5 is
    engine-portable, so the oracle checks the exact assignment."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), 1, 8) % 100
    assigned = d.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "dev").otherwise("test").alias("split"),
    )
    return (
        assigned.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id"))
        .orderBy("split")
    )


@query(
    "sample_bernoulli",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {md5_long_sql('CAST(doc_id AS VARCHAR)', 1, 8)} % 100 < 20
    """,
    tags=("sample", "pipeline"),
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% Bernoulli-style sample via the engine-portable
    md5 gate (same convention as split_train_dev_test): evaluated at the
    scan, no shuffle, no materialized index, reproducible across
    re-ingestions AND engines — so membership is oracle-checked exactly.
    Spark's native ``df.sample(fraction, seed)`` is the built-in
    equivalent when cross-engine reproducibility isn't needed (its
    sampler internals are Spark-specific and can't be hash-diffed)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), 1, 8) % 100
    return d.where(bucket < 20).select("doc_id", "lang")


@query(
    "sample_weighted_hash",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, lang,
             {md5_long_sql('CAST(doc_id AS VARCHAR)', 1, 8)}
               / 4294967296.0 AS u,
             LEAST(1.0, n_chars / 2000.0) AS w
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM g WHERE u < w
    GROUP BY lang
    """,
    tags=("sample", "pipeline"),
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED sampling: each document's inclusion probability
    is its own weight (here a length proxy, min(1, n_chars/2000) — in a
    real mix, a quality-classifier score), gated by the deterministic
    md5 uniform u in [0,1).  The training-mix upsampling/downsampling
    primitive: high-quality documents keep probability ~1, thin ones are
    thinned, and the decision is a per-row scan predicate — no shuffle,
    reproducible across engines and re-ingestions, so exact membership
    is oracle-checked (u and w are identical doubles on both sides)."""
    d = load_table(spark, sf_dir, "documents")
    u = md5_long(F.col("doc_id").cast("string"), 1, 8) / F.lit(4294967296.0)
    w = F.least(F.lit(1.0), F.col("n_chars") / 2000.0)
    return (
        d.where(u < w)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


LP_ROUNDS = 3  # label-propagation rounds, Spark loop and SQL unroll alike


def _label_prop_oracle() -> str:
    """SQL twin of dedup_label_propagation: the fixed-round loop
    unrolled into chained CTEs (the PageRank-oracle pattern), each round
    one grouped vote + ROW_NUMBER winner + frozen-label union."""
    ctes = []
    prev = "lab0"
    for r in range(1, LP_ROUNDS + 1):
        ctes.append(f"""w{r} AS (
      SELECT x AS doc_id, assigned, 'propagated' AS status FROM (
        SELECT e.x, l.assigned,
               ROW_NUMBER() OVER (PARTITION BY e.x ORDER BY COUNT(*) DESC, l.assigned) AS rn
        FROM lp_edges e JOIN {prev} l ON e.y = l.doc_id
        GROUP BY e.x, l.assigned
      ) WHERE rn = 1
    ),
    lab{r} AS (
      SELECT * FROM {prev}
      UNION ALL
      SELECT * FROM w{r} WHERE doc_id NOT IN (SELECT doc_id FROM {prev})
    )""")
        prev = f"lab{r}"
    chain = ",\n    ".join(ctes)
    return f"""
    WITH RECURSIVE {_minhash_sig_sql()},
    {_minhash_pairs_sql()},
    lp_p AS (SELECT a, b FROM mh_pairs WHERE est_jaccard >= 0.5),
    lp_edges AS (SELECT a AS x, b AS y FROM lp_p UNION ALL SELECT b AS x, a AS y FROM lp_p),
    lab0 AS (
      SELECT doc_id, lang AS assigned, 'seed' AS status
      FROM documents WHERE doc_id % 10 = 0
    ),
    {chain}
    SELECT coalesce(l.assigned, '__unlabeled__') AS assigned,
           coalesce(l.status, 'unlabeled') AS status,
           COUNT(*) AS n
    FROM documents d LEFT JOIN {prev} l USING (doc_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@query(
    "dedup_label_propagation",
    oracle=_label_prop_oracle(),
    # lsh tag + band_bits: edges from the shared minhash band join
    # (r11 plan-level banded-join rule; declaration as dedup_minhash_lsh)
    tags=("dedup", "graph", "iterative", "lsh"),
    band_bits=124,
)
def dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the near-dup graph: 10% of
    documents (doc_id % 10 == 0) are treated as labeled seeds (their
    ``lang``); labels spread outward along MinHash-LSH candidate edges by
    majority vote of already-labeled neighbors (ties broken by min lang,
    labels frozen once assigned, 3 rounds ~ graph diameter for shallow
    near-dup clusters).  The label-transfer pass a training-data run uses
    to extend sparse human annotations to near-duplicate documents.

    Each round is one join + one aggregate on the node key; lineage is
    truncated per round (see connected_components).  Output: assigned
    label x status histogram.  Oracle-checked: the fixed-round loop
    unrolls into chained CTEs (votes are integer counts, ties broken
    deterministically, so the unroll is bit-exact); seed-reachability is
    additionally unit-tested."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("a", "b")
    edges = materialize(
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y"))),
        eager=True,
    )
    return _label_prop_histogram(spark, sf_dir, edges)


def _label_prop_histogram(spark: SparkSession, sf_dir: str, edges: DataFrame) -> DataFrame:
    """The label-propagation rounds over the symmetric (x, y) ``edges``
    and the final (assigned, status, n) histogram; each round's labels
    are materialized eagerly."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    labels = materialize(
        d.where(F.col("doc_id") % 10 == 0).select(
            "doc_id", F.col("lang").alias("assigned"), F.lit("seed").alias("status")
        ),
        eager=True,
    )
    for _ in range(LP_ROUNDS):
        votes = (
            edges.join(labels, edges.y == labels.doc_id)
            .groupBy(F.col("x"), F.col("assigned"))
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        win = W.partitionBy("x").orderBy(F.col("n_votes").desc(), F.col("assigned"))
        winners = (
            votes.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select(F.col("x").alias("doc_id"), "assigned", F.lit("propagated").alias("status"))
        )
        new = winners.join(labels.select("doc_id"), "doc_id", "left_anti")
        labels = materialize(labels.unionByName(new), eager=True)

    full = d.join(labels, "doc_id", "left").select(
        F.coalesce(F.col("assigned"), F.lit("__unlabeled__")).alias("assigned"),
        F.coalesce(F.col("status"), F.lit("unlabeled")).alias("status"),
    )
    return (
        full.groupBy("assigned", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("assigned", "status")
    )


LP_BUCKETS = 32


def label_prop_edge_state(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the symmetric near-dup candidate edges (x, y) exist as a
    bucketBy(y) parquet table and return its catalog name — the
    label-propagation analog of graph.pagerank_edge_state: the edge
    relation is ROUND-INVARIANT (built once from the MinHash-LSH pass),
    and every round joins it on ``y``, so persisting it bucketed means
    the |E|-sized side never crosses an exchange in any round at any
    scale — only the labels relation moves.  The expensive
    shingle->minhash->band pass is amortized into the one-time state
    build (the dedup_incremental_stored story).  Lifecycle: the shared
    ensure_bucketed_state contract (sources/layouts.py)."""
    from oracle_parquet_dumper_spark.sources.layouts import ensure_bucketed_state

    def build(spark):
        pairs = dedup_minhash_lsh(spark, sf_dir).select("a", "b")
        return pairs.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
            pairs.select(F.col("b").alias("x"), F.col("a").alias("y"))
        )

    return ensure_bucketed_state(
        spark,
        sf_dir,
        state_name="opds_lp_edges",
        fp_table="documents",
        schema_ddl="x BIGINT, y BIGINT",
        bucket_col="y",
        n_buckets=LP_BUCKETS,
        sort_col="y",
        build=build,
    )


@query(
    "dedup_label_propagation_bucketed",
    oracle=_label_prop_oracle(),
    tags=("dedup", "graph", "iterative", "layout"),
    bench=True,  # steady-state (warm edge state): bench.py pre-builds
)
def dedup_label_propagation_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_label_propagation's exact semantics (same oracle, same
    integer votes and tie-breaks) with the round-invariant edge relation
    persisted as a bucketBy(y) table instead of a checkpoint —
    VERDICT r8 "Next" #4, the second instance of the bucketed-state
    pattern.  The r8 checkpoint sweep's physics apply verbatim: a
    checkpointed edge list re-shuffles per round once the labels side
    outgrows the broadcast threshold, while the bucketed scan reports
    HashPartitioning(y) to every round's vote join, so only the
    node-sized labels relation ever moves (plan-asserted with
    auto-broadcast disabled in tests/test_plans.py).  The per-round
    groupBy(x) vote shuffle remains — that aggregation IS the
    algorithm.  Results equality-asserted against the checkpointed
    variant in tests/test_round9_ops.py."""
    return _label_prop_histogram(
        spark, sf_dir, spark.table(label_prop_edge_state(spark, sf_dir))
    )


@query(
    "sample_stratified_hash",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, doc_id,
             {md5_long_sql('CAST(doc_id AS VARCHAR)', 1, 8)} % 100 AS bucket
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM assigned
    WHERE bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 30 END)
    GROUP BY lang
    """,
    tags=("dedup", "sample", "pipeline"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-stratum rates (10% of the
    dominant 'en' stratum, 30% elsewhere) via the same engine-portable
    md5 bucket as split_train_dev_test — the rebalancing step of a
    training-mix pipeline.  Hash-gated at the scan: no shuffle, no
    sort, and the assignment is reproducible across re-ingestions, so
    the oracle checks exact membership, not just counts."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), 1, 8) % 100
    thresh = F.when(F.col("lang") == "en", 10).otherwise(30)
    return (
        d.where(bucket < thresh)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


RESERVOIR_K = 3


@query(
    "sample_reservoir_per_group",
    oracle=f"""
    SELECT lang, doc_id, rn FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= {RESERVOIR_K}
    """,
    tags=("dedup", "sample", "window"),
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k sample per group (the reproducible stand-in
    for per-group reservoir sampling): rank rows by the md5 of their id
    and keep the first {RESERVOIR_K} per lang.  The hash order is a
    uniform-but-stable permutation, so the 'reservoir' is identical on
    every run and every engine — eval-set construction needs exactly
    this property, where true random reservoirs give unreproducible
    picks.

    Scale shape (round-13 rewrite): grouped_topk's two-phase form —
    per-(lang, hash-bucket) pre-reservoirs of {RESERVOIR_K} rows
    (Vitter's classic distributed-reservoir merge, here with the
    deterministic md5 order standing in for the random keys), then a
    bounded merge over ≤ {RESERVOIR_K}·32 survivors per lang — NOT a
    window partitioned only by the 5-value lang domain, which serialized
    the per-lang scan at parallelism 5 at any cluster size (the
    round-12 bounded-partition-window class)."""
    from oracle_parquet_dumper_spark.operators.global_index import grouped_topk

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    top = grouped_topk(
        d.select("lang", "doc_id", h.alias("_h")),
        ["lang"],
        ["_h", "doc_id"],
        RESERVOIR_K,
        rank_col="rn",
    )
    return top.select("lang", "doc_id", F.col("rn").cast("long").alias("rn"))


CONTAIN_THRESHOLD = 0.7


@query(
    "dedup_containment_lsh",
    oracle=f"""
    WITH {_minhash_sig_sql()},
    {_minhash_pairs_sql()},
    csets AS (SELECT doc_id, list(DISTINCT s) AS ss FROM mh_sh GROUP BY doc_id)
    SELECT p.a, p.b,
           CAST(len(list_intersect(x.ss, y.ss)) AS BIGINT) AS n_inter,
           CAST(len(x.ss) AS BIGINT) AS n_a,
           CAST(len(y.ss) AS BIGINT) AS n_b,
           round(len(list_intersect(x.ss, y.ss)) * 1.0 / len(x.ss), 6) AS cont_a,
           round(len(list_intersect(x.ss, y.ss)) * 1.0 / len(y.ss), 6) AS cont_b
    FROM mh_pairs p
    JOIN csets x ON x.doc_id = p.a
    JOIN csets y ON y.doc_id = p.b
    WHERE greatest(len(list_intersect(x.ss, y.ss)) * 1.0 / len(x.ss),
                   len(list_intersect(x.ss, y.ss)) * 1.0 / len(y.ss))
          >= {CONTAIN_THRESHOLD}
    """,
    tags=("dedup", "lsh", "containment"),
    band_bits=124,
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT scoring on LSH candidates:
    C(A->B) = |S_A ∩ S_B| / |S_A| over distinct word-3-gram shingle
    sets — the signal that catches quotes/excerpts/supersets, where a
    short doc embedded in a long one has high containment but low
    symmetric Jaccard (so a Jaccard-threshold dedup pass keeps both).

    Candidates come from the same banded-minhash exchange as
    dedup_minhash_lsh; each candidate is then verified EXACTLY against
    the two docs' distinct shingle-hash sets (array_intersect on
    per-row arrays — no shuffle beyond fetching the two sets).  Recall
    caveat, stated honestly: banded minhash recalls by SYMMETRIC
    Jaccard, so an extreme-ratio containment pair may never band-collide;
    the production fix is prefix filtering or banding over the smaller
    doc's shingle sample, same verification stage.  All counts are md5
    shingle-id set sizes — integer, bit-exact across engines."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    pairs = materialize(_minhash_pairs(minhash_signatures_df(d)))
    sets = _participant_shingle_sets(d, pairs)
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    cont_a = inter / F.size("ss_a")
    cont_b = inter / F.size("ss_b")
    return (
        pair_sides(pairs, sets, "doc_id")
        .where(F.greatest(cont_a, cont_b) >= CONTAIN_THRESHOLD)
        .select(
            "a",
            "b",
            inter.cast("long").alias("n_inter"),
            F.size("ss_a").cast("long").alias("n_a"),
            F.size("ss_b").cast("long").alias("n_b"),
            F.round(cont_a, 6).alias("cont_a"),
            F.round(cont_b, 6).alias("cont_b"),
        )
    )


def _emb_lsh_wide_oracle() -> str:
    from oracle_parquet_dumper_spark.functions.lsh import banded_buckets_wide_sql
    from oracle_parquet_dumper_spark.functions.vectors import cosine_rounded_sql

    return f"""
    WITH bands AS MATERIALIZED ({banded_buckets_wide_sql("embeddings", "vec_id", "embedding")}),
    cand AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    ),
    p AS (
      SELECT a, b, {cosine_rounded_sql('ea.embedding', 'eb.embedding')} AS cos
      FROM cand JOIN embeddings ea ON ea.vec_id = a
                JOIN embeddings eb ON eb.vec_id = b
    )
    SELECT a, COUNT(*) AS n_dups, MAX(cos) AS best_cos
    FROM p WHERE cos >= 0.3
    GROUP BY a
    """


@query(
    "dedup_embedding_cosine_lsh",
    oracle=_emb_lsh_wide_oracle(),
    tags=("dedup", "embedding", "lsh", "flagship"),
    bench=True,
    band_bits=8,
    capped_occupancy=True,  # capacity-scaled: 8 bits per band (SCALING.md)
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection blocked by banded sign-LSH — the
    scale-path flagship for pairwise vector dedup, registered on the
    CAPACITY-SCALED 8-sign-bit banding (4 bands x 256 buckets/band).

    Why 8 bits is the flagship (round-6 verdict item #1): pair cost in
    banded LSH is bounded by bucket occupancy (~n/2^bits per band), so
    candidate pairs grow ~n^2/4^bits — the bits knob must scale
    ~log2(n / target_occupancy) exactly like a partition count
    (SCALING.md's capacity rule derives it from corpus size).
    SCALING.md measured the decade sf0.1 -> sf1: this 8-bit config 3.3x
    for 10x data; the 4-bit config it replaced 23.5x (~50M exact
    verifications) — that one survives as the demo-tagged, bench-barred
    ``dedup_embedding_cosine_narrow_demo``.  Recall follows the banded
    s-curve 1-(1-p^r)^B (the standard trade), regression-pinned by
    tests/test_ann_recall_sf1.py so re-tuning can't silently trade it
    away.

    The (band, bucket) equi-join is a precomputable partition column at
    100 TB; exact rounded cosine verifies candidates; output is the
    per-doc near-dup summary a curation pass consumes (docs with >=1
    near-dup above 0.3).  Oracle-checked: the SQL twin regenerates the
    same seeded planes and rounded-dot sign bits, so candidate sets
    match exactly."""
    from oracle_parquet_dumper_spark.functions.lsh import banded_buckets_wide

    e = load_table(spark, sf_dir, "embeddings")
    return _embedding_near_dups(e, banded_buckets_wide(e, "vec_id", "embedding"))


# --- incremental dedup: new batch vs existing corpus -----------------------

INC_MOD = 7  # doc_id % INC_MOD == 0 plays the incoming batch; rest is corpus


def _incremental_oracle() -> str:
    band_eq = _band_eq_sql("a", "b")
    agree = _agree_sql("a", "b")
    return f"""
    WITH newb AS (SELECT doc_id, text FROM documents WHERE doc_id % {INC_MOD} = 0),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % {INC_MOD} != 0),
    exact_hit AS (
      SELECT n.doc_id, MIN(c.doc_id) AS matched_id
      FROM newb n JOIN corpus c ON md5(n.text) = md5(c.text)
      GROUP BY n.doc_id
    ),
    sig_src AS (
      SELECT doc_id, text FROM newb
      WHERE doc_id NOT IN (SELECT doc_id FROM exact_hit)
      UNION ALL
      SELECT doc_id, text FROM corpus
    ),
    {_minhash_sig_sql("sig_src")},
    near_hit AS (
      SELECT a.doc_id, MIN(b.doc_id) AS matched_id
      FROM mh_sig a JOIN mh_sig b
        ON a.doc_id % {INC_MOD} = 0 AND b.doc_id % {INC_MOD} != 0 AND ({band_eq})
      WHERE ({agree}) / {float(N_MINHASH)} >= 0.5
      GROUP BY a.doc_id
    )
    SELECT n.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN h.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS verdict,
           coalesce(e.matched_id, h.matched_id) AS matched_id
    FROM newb n
    LEFT JOIN exact_hit e ON n.doc_id = e.doc_id
    LEFT JOIN near_hit h ON n.doc_id = h.doc_id
    """


@query(
    "dedup_incremental",
    oracle=_incremental_oracle(),
    tags=("dedup", "lsh", "incremental"),
    bench=True,
    band_bits=124,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an INCOMING BATCH of documents
    against the EXISTING CORPUS as exact_dup / near_dup / novel (with
    the smallest matching corpus doc as evidence) — the per-crawl
    admission step of a continuously-growing training corpus, where
    re-deduplicating 100 TB from scratch per batch is not an option.

    Two tiers, cheap first, each touching only what the previous tier
    let through:

    1. exact  — md5(text) anti/equi-join.  Only 16-byte digests of the
       corpus shuffle; at scale the corpus digest set is a stored
       index, not a recomputation.
    2. near   — MinHash band buckets (the dedup_minhash_lsh machinery)
       of the surviving batch docs, joined against corpus buckets.
       The batch side is bounded (one crawl), so its exploded band
       rows BROADCAST: the corpus-side signature scan streams past it
       with no corpus shuffle at all — the join cost is O(corpus) map
       work however big the corpus, and at 100 TB the corpus band
       index would itself be a stored table, making the whole step
       O(batch).

    Asymmetry note: unlike the self-join flagship there is no a < b
    tie-break — every (batch, corpus) collision is eligible, and
    MIN(corpus doc_id) per batch doc is the deterministic evidence
    row.  All arithmetic is the md5/affine integer family — bit-exact
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    newb = d.where(F.col("doc_id") % INC_MOD == 0).select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % INC_MOD != 0).select("doc_id", "text")

    # tier 1: exact digest hit (min corpus doc per digest as evidence)
    corp_dig = corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("matched_id")
    )
    new_dig = newb.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    exact_hit = new_dig.join(corp_dig, "h").select("doc_id", "matched_id")

    # tier 2: LSH bands of the batch vs corpus bands.  r15: the near
    # tier runs over ALL batch docs, not an anti-join remainder — the
    # oracle's own shape.  A near-hit row for a doc that also has an
    # exact hit is inert (the verdict CASE checks exact first and
    # matched_id is coalesce(exact, near)), while the anti-join
    # serialized the whole DAG behind the digest tier and re-derived
    # exact_hit twice.  Interleaved A/B medians: 5.39 -> 3.85 s sf0.1,
    # 4.16 -> 2.78 s sf1, hash-identical.
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
    # r14: verify BEFORE any exchange and skip the (n_id, c_id) pair
    # dedup outright — MIN(c_id) is duplicate-insensitive, so multi-band
    # collisions of the same pair cannot change the evidence row; the
    # only exchange left is the O(batch-hits) groupBy.
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


# --- stored-state incremental dedup: the O(batch) admission path ----------


def _corpus_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Content fingerprint of one table's parquet files: sorted
    (relpath, size, mtime_ns) triples, md5-folded.  Catches the
    fixture-regenerated-in-place case (same path, new data) that a
    path-only key would silently serve stale state for (ADVICE r7).
    Also keys the pagerank bucketed-edge state (table="lineitem")."""
    import hashlib
    import os

    root = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = []
    if os.path.isfile(root):
        st = os.stat(root)
        parts.append(f"{table}.parquet:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}")
    parts.sort()
    return hashlib.md5("|".join(parts).encode("utf-8")).hexdigest()[:12]


def dedup_state_dir(sf_dir: str) -> str:
    """Deterministic per-corpus location for the standing dedup index
    (``/root/testdata`` is read-only, so state lives under the temp
    root): ``opds_dedup_state/<md5(corpus path)>/<content fingerprint>``.
    The two-level layout (VERDICT r8 #3) keys the inner dir by a
    content fingerprint of the documents parquet files (sizes +
    mtimes), so regenerating the fixture at the same path yields a
    fresh key and forces a state rebuild instead of serving verdicts
    from a stale index — and superseded fingerprints of the SAME
    corpus path are identifiable siblings, garbage-collected on
    rebuild (write_dedup_corpus_state).  Concurrent sessions over the
    same bytes share a key safely: builds land via atomic rename, and
    an existing keyed dir is never rewritten in place."""
    import hashlib
    import os
    import tempfile

    pathkey = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:12]
    fpkey = _corpus_fingerprint(sf_dir)
    return os.path.join(tempfile.gettempdir(), "opds_dedup_state", pathkey, fpkey)


def write_dedup_corpus_state(
    spark: SparkSession, sf_dir: str, state_dir: str | None = None
) -> str:
    """Maintain the STANDING-CORPUS dedup index as stored tables — the
    export-layer step that makes incremental admission O(batch) instead
    of O(corpus) per crawl (VERDICT r6 "Next" #2: the claim was prose;
    this makes it a relation the admission query scans).

    Two tables, the exact join targets of ``dedup_incremental``'s two
    tiers, written once per corpus build / compaction cycle
    (sources/layouts.py precedent — amortize the expensive pass at
    write time, make every later query a scan):

    - ``corpus_digests/``: (h = md5(text), matched_id = MIN doc_id per
      digest) — 16-byte digests only, never text.
    - ``corpus_bands/``: (c_id, sig_c, band, bucket) — the exploded
      MinHash band index (minhash_band_rows), the corpus side of the
      LSH candidate join.

    At 100 TB maintenance is itself incremental (union the admitted
    batch's digests/bands into the stored tables — the same relations
    this function writes); here the builder recomputes from the corpus
    because the fixture corpus is the ground truth.

    Durability: both tables are written into a session-unique temp dir
    and atomically renamed into the keyed location — an existing keyed
    dir is never rewritten in place (a concurrent session could be
    mid-scan, ADVICE r8).  A FAILED rename is accepted as a concurrent
    identical build ONLY in the managed fingerprint-keyed layout and
    only when the destination verifies complete; an EXPLICIT
    ``state_dir`` that already exists is superseded by an aside-rename
    swap instead (the old ADVICE-r9 behavior silently discarded the
    rebuild and kept serving stale state).  Superseded fingerprint
    siblings of the same corpus path are garbage-collected with the
    two-phase tombstone + grace protocol of
    ``sources.layouts.gc_state_siblings`` — never deleted the instant
    they're superseded, so a concurrent reader keeps its files."""
    import os
    import shutil
    import uuid

    from oracle_parquet_dumper_spark.sources.layouts import (
        gc_state_siblings,
        promote_state_build,
        revive_state,
    )

    explicit = state_dir is not None  # explicit => caller owns lifecycle, no GC
    state_dir = state_dir or dedup_state_dir(sf_dir)
    tmp_dir = f"{state_dir}.tmp.{uuid.uuid4().hex[:8]}"
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % INC_MOD != 0).select("doc_id", "text")
    corp_dig = corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("matched_id")
    )
    corp_dig.write.mode("overwrite").option("compression", "zstd").parquet(
        tmp_dir + "/corpus_digests"
    )
    corp_bands = minhash_band_rows(minhash_signatures_df(corpus), keep_sig=True).select(
        F.col("doc_id").alias("c_id"), F.col("sig").alias("sig_c"), "band", "bucket"
    )
    corp_bands.write.mode("overwrite").option("compression", "zstd").parquet(
        tmp_dir + "/corpus_bands"
    )
    def complete() -> bool:
        return all(
            os.path.isfile(os.path.join(state_dir, t, "_SUCCESS"))
            for t in ("corpus_digests", "corpus_bands")
        )

    if explicit and os.path.exists(state_dir):
        # caller-owned target already exists (e.g. rebuilt after the
        # corpus changed): swap it out via aside-rename so the fresh
        # build REPLACES the old state atomically — never discard the
        # rebuild in favor of whatever was there (ADVICE r9, medium)
        aside = f"{state_dir}.superseded.{uuid.uuid4().hex[:8]}"
        os.rename(state_dir, aside)
        try:
            os.rename(tmp_dir, state_dir)
        except OSError:
            # promotion failed AFTER the old state moved aside: put the
            # old state back so the caller never observes a missing
            # state_dir and the aside dir is never stranded (ADVICE r10)
            os.rename(aside, state_dir)
            raise
        shutil.rmtree(aside, ignore_errors=True)
    else:
        promote_state_build(tmp_dir, state_dir, complete)
    if not explicit:
        revive_state(state_dir)  # reinstated fingerprint => clear tombstone
        gc_state_siblings(os.path.dirname(state_dir), os.path.basename(state_dir))
    return state_dir


@query(
    "dedup_incremental_stored",
    oracle=_incremental_oracle(),
    tags=("dedup", "lsh", "incremental", "layout"),
    bench=True,
    band_bits=124,
)
def dedup_incremental_stored(
    spark: SparkSession, sf_dir: str, state_dir: str | None = None
) -> DataFrame:
    """Incremental dedup against the STORED corpus index: identical
    verdicts to ``dedup_incremental`` (same oracle), but the corpus
    side of both tiers is a SCAN of the standing-state tables written
    by ``write_dedup_corpus_state`` — no corpus text is read, hashed,
    shingled or signed at admission time (plan-asserted in
    tests/test_dedup_similarity.py).

    Cost shape at 100 TB: the batch (one crawl) is bounded, so its
    digests and band rows BROADCAST; tier 1 streams the stored digest
    table past the broadcast batch digests, tier 2 streams the stored
    band index past the broadcast batch bands — O(corpus) map work
    with zero corpus shuffle per batch, and the expensive
    signature/digest pass is amortized into the export layer's index
    maintenance.  Cold start (state tables absent) builds them once —
    the same one-time cost dedup_incremental pays EVERY batch."""
    import os

    explicit = state_dir is not None  # None => managed layout (GC-able)
    state_dir = state_dir or dedup_state_dir(sf_dir)
    if not os.path.exists(os.path.join(state_dir, "corpus_bands", "_SUCCESS")):
        write_dedup_corpus_state(spark, sf_dir, state_dir if explicit else None)
    elif not explicit:
        from oracle_parquet_dumper_spark.sources.layouts import revive_state

        revive_state(state_dir)  # warm managed hit: clear any stale tombstone
    corp_dig = read_parquet_robust(spark, state_dir + "/corpus_digests")
    corp_bands = read_parquet_robust(spark, state_dir + "/corpus_bands")

    d = load_table(spark, sf_dir, "documents")
    newb = d.where(F.col("doc_id") % INC_MOD == 0).select("doc_id", "text")

    # tier 1: broadcast batch digests against the stored digest table
    new_dig = newb.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    exact_hit = corp_dig.join(F.broadcast(new_dig), "h").select("doc_id", "matched_id")

    # tier 2: broadcast batch bands against the stored band index.
    # r15: near tier over ALL batch docs (no anti-join) — same inert-row
    # argument and A/B evidence as dedup_incremental; here it
    # additionally unblocks the batch signature build from waiting on
    # the stored-digest join.
    new_bands = minhash_band_rows(minhash_signatures_df(newb), keep_sig=True).select(
        F.col("doc_id").alias("n_id"), F.col("sig").alias("sig_n"), "band", "bucket"
    )
    est = F.size(
        F.filter(F.zip_with("sig_n", "sig_c", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(float(N_MINHASH))
    # r14: verify BEFORE any exchange and skip the (n_id, c_id) pair
    # dedup outright — MIN(c_id) is duplicate-insensitive, so multi-band
    # collisions of the same pair cannot change the evidence row; the
    # only exchange left is the O(batch-hits) groupBy.
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


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): k-means cells -> cosine to the cell
# representative
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.2  # drop threshold on cosine-to-representative


def _semantic_kmeans_oracle() -> str:
    from oracle_parquet_dumper_spark.operators.iterative import _kmeans_chain

    chain, final = _kmeans_chain()
    cos = cosine_rounded_sql("a.vd", "r.rep_vd")
    return f"""
    WITH {chain},
    reps AS (
      SELECT cluster, vec_id AS rep_id, vd AS rep_vd FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                                     ORDER BY dist, vec_id) AS rn
        FROM {final}
      ) WHERE rn = 1
    )
    SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster, r.rep_id,
           {cos} AS cos,
           (a.vec_id != r.rep_id AND {cos} >= {SEMDEDUP_TAU}) AS dropped
    FROM {final} a JOIN reps r ON a.cluster = r.cluster
    """


@query(
    "dedup_semantic_kmeans",
    oracle=_semantic_kmeans_oracle(),
    tags=("dedup", "embedding", "iterative"),
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (the SemDeDup recipe, Abbas et al. 2023, made
    linear): cluster embeddings with the shared {K_CLUSTERS}-cell Lloyd
    loop (operators/iterative.kmeans_assignments — identical centroids
    to emb_kmeans_lloyd), pick each cell's representative (closest to
    centroid, vec_id tiebreak), and drop any member whose cosine to its
    cell representative reaches {SEMDEDUP_TAU}.

    Scoring against the ONE representative per cell — not all pairs
    within the cell — keeps the pass O(n): the K representatives
    broadcast, the membership relation is scanned once, and no
    quadratic block exists even if a cell is huge (the published
    pairwise-within-cell variant degrades exactly like the `demo`
    pairwise dedups this registry bench-bars).  At 100 TB: K grows as
    needed (centroids still collect K*dim doubles per round) and the
    scoring pass stays one broadcast join.  Oracle replays the same
    Lloyd chain (iterative._kmeans_chain) plus a windowed
    representative pick, bit-exact."""
    from oracle_parquet_dumper_spark.functions.vectors import dot_d
    from oracle_parquet_dumper_spark.operators.iterative import kmeans_assignments

    assigned = kmeans_assignments(spark, sf_dir)  # vec_id, vd, dist, cluster
    reps = (
        assigned.groupBy("cluster")
        .agg(F.min(F.struct("dist", "vec_id", "vd")).alias("r"))
        .select(
            "cluster",
            F.col("r.vec_id").alias("rep_id"),
            F.col("r.vd").alias("rep_vd"),
            F.sqrt(dot_d(F.col("r.vd"), F.col("r.vd"))).alias("rep_norm"),
        )
    )
    scored = assigned.join(F.broadcast(reps), "cluster").select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        "rep_id",
        F.round(
            dot_d("vd", "rep_vd")
            / (F.sqrt(dot_d("vd", "vd")) * F.col("rep_norm")),
            6,
        ).alias("cos"),
    )
    return scored.select(
        "vec_id",
        "cluster",
        "rep_id",
        "cos",
        ((F.col("vec_id") != F.col("rep_id")) & (F.col("cos") >= SEMDEDUP_TAU)).alias(
            "dropped"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy eval (the dedup analog of sim_recall_eval)
# ---------------------------------------------------------------------------


def _minhash_accuracy_oracle() -> str:
    return f"""
    WITH {_minhash_sig_sql()},
    acc_pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b, ({_agree_sql()}) AS agree
      FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id AND ({_band_eq_sql()})
    ),
    sets AS (
      SELECT doc_id, list_distinct(list(s)) AS ss FROM mh_sh GROUP BY doc_id
    ),
    scored AS (
      SELECT p.a, p.b, p.agree,
             len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS inter,
             len(sa.ss) + len(sb.ss)
               - len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS nu
      FROM acc_pairs p
      JOIN sets sa ON sa.doc_id = p.a
      JOIN sets sb ON sb.doc_id = p.b
    )
    SELECT a, b, CAST(agree AS BIGINT) AS agree, CAST(inter AS BIGINT) AS inter,
           CAST(nu AS BIGINT) AS nu,
           CAST((agree * 1000000) // {N_MINHASH} AS BIGINT) AS est_ppm,
           CAST((inter * 1000000) // nu AS BIGINT) AS true_ppm,
           CAST((1000000 * abs(agree * nu - {N_MINHASH} * inter))
                // ({N_MINHASH} * nu) AS BIGINT) AS err_ppm
    FROM scored
    """


@query(
    "dedup_minhash_accuracy_eval",
    oracle=_minhash_accuracy_oracle(),
    tags=("dedup", "lsh", "eval"),
    band_bits=124,
)
def dedup_minhash_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator quality measurement: for every LSH candidate
    pair, the {N_MINHASH}-component signature estimate vs the EXACT
    shingle Jaccard, with the absolute error — the dedup-side member of
    the round-5 eval family (sim_recall_eval / sim_recall_eval_ivf): a
    dedup deployment tunes its signature width and s-curve against
    measured error, not the textbook variance bound.

    All three ratios are exact integer ppm (floor division), so the
    oracle has no floating point.  Scale shape: signatures stay the
    shuffle-free per-row pipeline; the distinct-shingle sets are built
    ONLY for pair-participant documents (left-semi against the
    checkpointed candidate relation — _participant_shingle_sets; the round-13
    profile measured the unrestricted build at 99 of the query's ~110 s
    at sf1, for ~5k participants out of 600k docs) and joined only for
    the LSH-surviving candidate pairs — exact verification cost is
    O(participants + candidates), never O(corpus array builds)."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    pairs = materialize(_minhash_pairs(minhash_signatures_df(d), keep_sig=True))
    inter = F.size(F.array_intersect("ss_a", "ss_b")).cast("long")
    nu = (F.size("ss_a") + F.size("ss_b")).cast("long") - inter
    scored = pair_sides(pairs, _participant_shingle_sets(d, pairs), "doc_id").select(
        "a", "b", "agree", inter.alias("inter"), nu.alias("nu")
    )
    return scored.select(
        "a",
        "b",
        "agree",
        "inter",
        "nu",
        F.expr(f"(agree * 1000000) div {N_MINHASH}").alias("est_ppm"),
        F.expr("(inter * 1000000) div nu").alias("true_ppm"),
        F.expr(
            f"(1000000 * abs(agree * nu - {N_MINHASH} * inter)) div ({N_MINHASH} * nu)"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Sampled-verify twins of the minhash accuracy evals (round 13)
# ---------------------------------------------------------------------------

# 1-in-EVAL_SAMPLE_MOD deterministic hash-mod sample of candidate pairs.
# 3 keeps the sample populated at the toy fixtures (25-256 candidates);
# a production corpus sets this to 1e3-1e6 — the verify cost divides by
# it while the estimate's CI shrinks as 1/sqrt(sample).
EVAL_SAMPLE_MOD = 3
# a candidate pair counts as a TRUE near-duplicate when its exact
# shingle Jaccard reaches 0.5 — the precision numerator.
EVAL_GOOD_PPM = 500_000


def _sample_pairs(pairs: DataFrame) -> DataFrame:
    """The deterministic 1-in-EVAL_SAMPLE_MOD sample of candidate pairs:
    md5 of 'a:b' — reproducible across runs and engines, no RNG."""
    key = F.concat_ws(":", F.col("a").cast("string"), F.col("b").cast("string"))
    return pairs.where(md5_long(key) % EVAL_SAMPLE_MOD == 0)


def _sampled_eval_summary(pairs: DataFrame, scored: DataFrame) -> DataFrame:
    """One-row summary shared by the two sampled evals: candidate
    count, sample size, precision (exact-Jaccard >= EVAL_GOOD_PPM) with
    an integer z=2 Wald half-width, and the mean |estimator error|.

    The half-width is DEFINED in integer arithmetic so both engines
    replay it bit-for-bit: hw_ppm = (2e6 * isqrt((k*(n-k)) div n)) div n
    with isqrt = floor(sqrt(double)) corrected by two integer
    comparisons — IEEE sqrt is correctly rounded in both engines and
    the +-1 correction makes any boundary rounding exact, so no float
    ever reaches the output (the round-12 trig/log oracle rule)."""
    tot = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    s = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(F.when(F.col("true_ppm") >= EVAL_GOOD_PPM, 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum("err_ppm").cast("long").alias("_err_sum"),
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .withColumn(
            "precision_ppm",
            F.expr(
                "CASE WHEN n_sampled = 0 THEN NULL "
                "ELSE (n_good * 1000000) div n_sampled END"
            ),
        )
        .withColumn(
            "_x",
            F.expr(
                "CASE WHEN n_sampled = 0 THEN NULL "
                "ELSE (n_good * (n_sampled - n_good)) div n_sampled END"
            ),
        )
        .withColumn("_s0", F.expr("CAST(FLOOR(SQRT(CAST(_x AS DOUBLE))) AS BIGINT)"))
        .withColumn(
            "ci_halfwidth_ppm",
            F.expr(
                "CASE WHEN _x IS NULL THEN NULL ELSE "
                "(2000000 * (_s0 "
                " + (CASE WHEN (_s0 + 1) * (_s0 + 1) <= _x THEN 1 ELSE 0 END)"
                " - (CASE WHEN _s0 * _s0 > _x THEN 1 ELSE 0 END)"
                ")) div n_sampled END"
            ).cast("long"),
        )
        .withColumn(
            "mean_abs_err_ppm",
            F.expr(
                "CASE WHEN n_sampled = 0 THEN NULL ELSE _err_sum div n_sampled END"
            ),
        )
        .select(
            "n_candidates",
            "n_sampled",
            "n_good",
            "precision_ppm",
            "ci_halfwidth_ppm",
            "mean_abs_err_ppm",
        )
    )


_PAIR_KEY_SQL = "CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
_SAMPLE_PRED_SQL = f"{md5_long_sql(_PAIR_KEY_SQL)} % {EVAL_SAMPLE_MOD} = 0"


def _sampled_summary_sql(pairs_cte: str, scored_cte: str) -> str:
    """SQL twin of ``_sampled_eval_summary`` over a candidate CTE and a
    sampled-scored CTE carrying (true_ppm, err_ppm)."""
    return f"""
    agg AS (
      SELECT (SELECT COUNT(*) FROM {pairs_cte}) AS n_candidates,
             COUNT(*) AS n_sampled,
             SUM(CASE WHEN true_ppm >= {EVAL_GOOD_PPM} THEN 1 ELSE 0 END) AS n_good,
             SUM(err_ppm) AS err_sum
      FROM {scored_cte}
    ),
    fin AS (
      SELECT n_candidates, n_sampled, n_good,
             CASE WHEN n_sampled = 0 THEN NULL
                  ELSE (n_good * 1000000) // n_sampled END AS precision_ppm,
             CASE WHEN n_sampled = 0 THEN NULL
                  ELSE (n_good * (n_sampled - n_good)) // n_sampled END AS x,
             CASE WHEN n_sampled = 0 THEN NULL
                  ELSE err_sum // n_sampled END AS mean_abs_err_ppm
      FROM agg
    ),
    isq AS (SELECT *, CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT) AS s0 FROM fin)
    SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_sampled AS BIGINT) AS n_sampled,
           CAST(n_good AS BIGINT) AS n_good,
           CAST(precision_ppm AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN x IS NULL THEN NULL ELSE
             (2000000 * (s0
               + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
               - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END)
             )) // n_sampled END AS BIGINT) AS ci_halfwidth_ppm,
           CAST(mean_abs_err_ppm AS BIGINT) AS mean_abs_err_ppm
    FROM isq"""


def _minhash_accuracy_sampled_oracle() -> str:
    return f"""
    WITH {_minhash_sig_sql()},
    acc_pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b, ({_agree_sql()}) AS agree
      FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id AND ({_band_eq_sql()})
    ),
    samp AS (SELECT * FROM acc_pairs WHERE {_SAMPLE_PRED_SQL}),
    sets AS (
      SELECT doc_id, list_distinct(list(s)) AS ss FROM mh_sh GROUP BY doc_id
    ),
    scored AS (
      SELECT p.a, p.b,
             (len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) * 1000000)
               // (len(sa.ss) + len(sb.ss)
                   - len(list_filter(sa.ss, x -> list_contains(sb.ss, x)))) AS true_ppm,
             (1000000 * abs(p.agree * (len(sa.ss) + len(sb.ss)
                   - len(list_filter(sa.ss, x -> list_contains(sb.ss, x))))
                 - {N_MINHASH} * len(list_filter(sa.ss, x -> list_contains(sb.ss, x)))))
               // ({N_MINHASH} * (len(sa.ss) + len(sb.ss)
                   - len(list_filter(sa.ss, x -> list_contains(sb.ss, x))))) AS err_ppm
      FROM samp p
      JOIN sets sa ON sa.doc_id = p.a
      JOIN sets sb ON sb.doc_id = p.b
    ),
    {_sampled_summary_sql("acc_pairs", "scored")}
    """


@query(
    "dedup_minhash_accuracy_eval_sampled",
    oracle=_minhash_accuracy_sampled_oracle(),
    tags=("dedup", "lsh", "eval"),
    band_bits=124,
)
def dedup_minhash_accuracy_eval_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-verify twin of dedup_minhash_accuracy_eval (VERDICT r12
    #3): the exact eval pays O(|ss_a|+|ss_b|) shingle-set shipping on
    EVERY LSH candidate pair — measured 8.29x/decade, correct but
    unrunnable at 100 TB.  This twin verifies only a deterministic
    1-in-{EVAL_SAMPLE_MOD} hash-mod sample of the candidates (md5 of
    'a:b' — reproducible across runs and engines, no RNG) and reports
    the ESTIMATE with its uncertainty: candidate count, sample size,
    precision@Jaccard>=0.5 with an integer z=2 Wald half-width, and the
    mean |signature-estimate error|.  The exact eval remains the sf<=1
    ground truth; this is the form that runs at any scale — verify cost
    divides by the sample modulus while the CI column says exactly what
    the sample licenses.  Sampling BEFORE the set join also means the
    heavy arrays ship for sampled pairs only."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    # the signatures ride THROUGH the band join (keep_sig) instead of
    # being re-joined onto the sampled pairs: a separate sig join
    # re-derives the signature subtree, the evals' dominant linear cost
    # (~12.5 s at sf1; +3 s measured).  Only the heavy shingle SETS are
    # gated on the sample.
    pairs = materialize(_minhash_pairs(minhash_signatures_df(d), keep_sig=True))
    samp = _sample_pairs(pairs)
    inter = F.size(F.array_intersect("ss_a", "ss_b")).cast("long")
    nu = (F.size("ss_a") + F.size("ss_b")).cast("long") - inter
    scored = (
        pair_sides(samp, _participant_shingle_sets(d, samp), "doc_id")
        .select("a", "b", "agree", inter.alias("inter"), nu.alias("nu"))
        .select(
            F.expr("(inter * 1000000) div nu").alias("true_ppm"),
            F.expr(
                f"(1000000 * abs(agree * nu - {N_MINHASH} * inter))"
                f" div ({N_MINHASH} * nu)"
            ).alias("err_ppm"),
        )
    )
    return _sampled_eval_summary(pairs, scored)


def _oph_scored(pairs: DataFrame, d: DataFrame) -> DataFrame:
    """(a, b, n_match, n_both_empty, inter, nu) per candidate pair: the
    OPH_BINS one-permutation-hashing bin matches and both-empty bins,
    and the exact shingle-set intersection and union sizes.  The bin
    arrays and sets are built for pair participants only."""
    oph = F.transform(
        F.sequence(F.lit(0), F.lit(OPH_BINS - 1)),
        lambda k: F.array_min(F.filter(F.col("ss"), lambda s: s % OPH_BINS == k)),
    )
    sets = _participant_shingle_sets(d, pairs).select("doc_id", "ss", oph.alias("oph"))
    n_match = F.size(
        F.filter(
            F.zip_with("oph_a", "oph_b", lambda x, y: F.coalesce(x == y, F.lit(False))),
            lambda m: m,
        )
    ).cast("long")
    n_both_empty = F.size(
        F.filter(
            F.zip_with("oph_a", "oph_b", lambda x, y: x.isNull() & y.isNull()),
            lambda m: m,
        )
    ).cast("long")
    inter = F.size(F.array_intersect("ss_a", "ss_b")).cast("long")
    nu = (F.size("ss_a") + F.size("ss_b")).cast("long") - inter
    return pair_sides(pairs, sets, "doc_id").select(
        "a",
        "b",
        n_match.alias("n_match"),
        n_both_empty.alias("n_both_empty"),
        inter.alias("inter"),
        nu.alias("nu"),
    )


def _oph_sampled_oracle() -> str:
    o_mins = ",\n             ".join(
        f"MIN(CASE WHEN s % {OPH_BINS} = {i} THEN s END) AS o{i}"
        for i in range(OPH_BINS)
    )
    n_match = " + ".join(
        f"(CASE WHEN oa.o{i} = ob.o{i} THEN 1 ELSE 0 END)" for i in range(OPH_BINS)
    )
    n_empty = " + ".join(
        f"(CASE WHEN oa.o{i} IS NULL AND ob.o{i} IS NULL THEN 1 ELSE 0 END)"
        for i in range(OPH_BINS)
    )
    return f"""
    WITH {_minhash_sig_sql()},
    oph AS MATERIALIZED (
      SELECT doc_id,
             {o_mins}
      FROM mh_sh GROUP BY doc_id
    ),
    oph_pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id AND ({_band_eq_sql()})
    ),
    samp AS (SELECT * FROM oph_pairs WHERE {_SAMPLE_PRED_SQL}),
    oph_sets AS (
      SELECT doc_id, list_distinct(list(s)) AS ss FROM mh_sh GROUP BY doc_id
    ),
    raw AS (
      SELECT ({n_match}) AS n_match, ({n_empty}) AS n_both_empty,
             len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS inter,
             len(sa.ss) + len(sb.ss)
               - len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS nu
      FROM samp p
      JOIN oph oa ON oa.doc_id = p.a
      JOIN oph ob ON ob.doc_id = p.b
      JOIN oph_sets sa ON sa.doc_id = p.a
      JOIN oph_sets sb ON sb.doc_id = p.b
    ),
    scored AS (
      SELECT (inter * 1000000) // nu AS true_ppm,
             (1000000 * abs(n_match * nu - ({OPH_BINS} - n_both_empty) * inter))
               // (({OPH_BINS} - n_both_empty) * nu) AS err_ppm
      FROM raw
    ),
    {_sampled_summary_sql("oph_pairs", "scored")}
    """


@query(
    "dedup_minhash_oph_eval_sampled",
    oracle=_oph_sampled_oracle(),
    tags=("dedup", "lsh", "eval"),
    band_bits=124,
)
def dedup_minhash_oph_eval_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-verify twin of dedup_minhash_oph_eval (measured
    9.03x/decade — the steepest standing curve in SCALING.md r12): the
    same 1-in-{EVAL_SAMPLE_MOD} hash-mod candidate sample and one-row
    uncertainty summary as dedup_minhash_accuracy_eval_sampled, with
    the estimator term being the OPH matches/({OPH_BINS} − both-empty)
    unbiased form.  The OPH bin arrays and exact shingle sets ship for
    sampled pairs only; the candidate count itself stays exact (the
    banded join is production dedup's own cost)."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    pairs = materialize(_minhash_pairs(minhash_signatures_df(d)))
    samp = _sample_pairs(pairs)
    scored = (
        _oph_scored(samp, d)
        .select(
            F.expr("(inter * 1000000) div nu").alias("true_ppm"),
            F.expr(
                f"(1000000 * abs(n_match * nu - ({OPH_BINS} - n_both_empty) * inter))"
                f" div (({OPH_BINS} - n_both_empty) * nu)"
            ).alias("err_ppm"),
        )
    )
    return _sampled_eval_summary(pairs, scored)


@query(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g'))) AS h
      FROM documents
    )
    SELECT h AS norm_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM norm GROUP BY h
    """,
    tags=("dedup",),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-digest dedup: lowercase, strip non-alnum,
    collapse whitespace, trim, THEN md5 — catches the
    casing/punctuation/whitespace near-copies exact dedup misses while
    staying a pure hash group-by (the first normalization rung every
    production pipeline adds before reaching for MinHash).  Same scale
    shape as dedup_exact: only the 16-byte digest shuffles."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        d.select("doc_id", F.md5(norm.cast("binary")).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- Sorted-neighborhood method (SNM) ---------------------------------------

SNM_WINDOW = 8       # compare each record to its next-8 sort neighbors
SNM_PREFIX = 40      # edit distance over the first 40 normalized chars
SNM_LEV_MAX = 12     # pair threshold
_SNM_NORM_SQL = "lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))"


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH nk AS (
      SELECT doc_id, {_SNM_NORM_SQL} AS norm FROM documents
    ),
    r AS (
      SELECT doc_id, substring(norm, 1, {SNM_PREFIX}) AS pre,
             row_number() OVER (ORDER BY norm, doc_id) - 1 AS idx
      FROM nk
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             b.idx - a.idx AS rank_gap,
             levenshtein(a.pre, b.pre) AS lev
      FROM r a JOIN r b
        ON b.idx > a.idx AND b.idx <= a.idx + {SNM_WINDOW}
    )
    SELECT doc_a, doc_b, CAST(rank_gap AS BIGINT) AS rank_gap,
           CAST(lev AS BIGINT) AS lev
    FROM pairs WHERE lev <= {SNM_LEV_MAX}
    """,
    tags=("dedup", "window", "scale"),
    bench=True,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernandez & Stolfo,
    SIGMOD'95) — the classic entity-resolution blocking alternative to
    LSH: sort every record by a normalized key, then compare each
    record only to its next {SNM_WINDOW} sort neighbors (candidates =
    O(n*w), no hashing, catches prefix-preserving edits that shingle
    bands dilute).  Pairs within edit distance {SNM_LEV_MAX} over the
    first {SNM_PREFIX} normalized chars are emitted with their sort
    distance.

    The global sort rank comes from ``with_global_index`` — NOT an
    unpartitioned window: records bucket by a monotone 56-bit encoding
    of the first 8 normalized chars (7 bits/char, so integer order ==
    prefix lexicographic order; ASCII-only after the [^a-zA-Z0-9]
    strip), with the QUANTILE bucketer since key prefixes are
    heavy-tailed user data.  Neighbor candidates then come from a
    BANDED self-join (band = idx div w; the left side map-side emits
    bands g and g+1, so every pair with 0 < idx_b - idx_a <= w matches
    exactly once) — rank adjacency without any window over data rows.
    The DuckDB oracle states the same semantics declaratively
    (row_number + range self-join).

    Scale shape: normalize+encode map-side; the global index costs two
    bounded exchanges (global_index.py); the banded join shuffles each
    side once on the band id with ~2x fan-out on the left; Levenshtein
    runs JVM-side on {SNM_PREFIX}-char prefixes only.  Multi-pass SNM
    (a second sort key, e.g. reversed) is the standard recall
    complement; this registers the single-pass primitive."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    # r14: the per-row normalization regex over full text is the heavy
    # map work — split the under-split fixture scan adaptively (§2.5)
    docs = split_scan(
        load_table(spark, sf_dir, "documents"), cpu_weight=32
    ).select(
        "doc_id",
        F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", "")).alias("norm"),
    )
    # monotone 56-bit prefix encoding: 7 bits per char, ascii('') = 0
    # pads short strings low, exactly like lexicographic order does
    enc = sum(
        [
            F.shiftleft(
                F.ascii(F.substring("norm", i + 1, 1)).cast("long"),
                7 * (7 - i),
            )
            for i in range(8)
        ],
        start=F.lit(0).cast("long"),
    )
    # r14: the indexed relation feeds BOTH banded-join sides — checkpoint
    # the narrow (doc_id, pre, idx) rows once instead of re-deriving the
    # whole two-pass index machinery (and the normalization regex pass
    # behind it) per side.
    keyed = materialize(
        with_global_index(
            docs.withColumn("num8", enc),
            value_col="num8",
            tiebreak_cols=["norm", "doc_id"],
            bucketer="quantile",
            idx_col="idx",
        ).select("doc_id", F.substring("norm", 1, SNM_PREFIX).alias("pre"), "idx"),
        eager=True,
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pre").alias("pre_a"),
        F.col("idx").alias("idx_a"),
        F.explode(
            F.array(
                F.expr(f"idx div {SNM_WINDOW}"),
                F.expr(f"idx div {SNM_WINDOW} + 1"),
            )
        ).alias("band"),
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pre").alias("pre_b"),
        F.col("idx").alias("idx_b"),
        F.expr(f"idx div {SNM_WINDOW}").alias("band"),
    )
    gap = F.col("idx_b") - F.col("idx_a")
    return (
        a.join(b, "band")
        .where((gap > 0) & (gap <= SNM_WINDOW))
        .select(
            "doc_a",
            "doc_b",
            gap.cast("long").alias("rank_gap"),
            F.levenshtein("pre_a", "pre_b").cast("long").alias("lev"),
        )
        .where(F.col("lev") <= SNM_LEV_MAX)
    )


@query(
    "dedup_sorted_neighborhood_multipass",
    oracle=f"""
    WITH nk AS (
      SELECT doc_id, {_SNM_NORM_SQL} AS norm FROM documents
    ),
    r1 AS (
      SELECT doc_id, substring(norm, 1, {SNM_PREFIX}) AS pre,
             row_number() OVER (ORDER BY norm, doc_id) - 1 AS idx
      FROM nk
    ),
    r2 AS (
      SELECT doc_id, substring(norm, 1, {SNM_PREFIX}) AS pre,
             row_number() OVER (ORDER BY reverse(norm), doc_id) - 1 AS idx
      FROM nk
    ),
    cand AS (
      SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
             GREATEST(a.doc_id, b.doc_id) AS doc_b,
             CASE WHEN a.doc_id < b.doc_id THEN a.pre ELSE b.pre END AS pa,
             CASE WHEN a.doc_id < b.doc_id THEN b.pre ELSE a.pre END AS pb
      FROM r1 a JOIN r1 b ON b.idx > a.idx AND b.idx <= a.idx + {SNM_WINDOW}
      UNION
      SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id),
             CASE WHEN a.doc_id < b.doc_id THEN a.pre ELSE b.pre END,
             CASE WHEN a.doc_id < b.doc_id THEN b.pre ELSE a.pre END
      FROM r2 a JOIN r2 b ON b.idx > a.idx AND b.idx <= a.idx + {SNM_WINDOW}
    ),
    scored AS (
      SELECT doc_a, doc_b, levenshtein(pa, pb) AS lev FROM cand
    )
    SELECT doc_a, doc_b, CAST(lev AS BIGINT) AS lev
    FROM scored WHERE lev <= {SNM_LEV_MAX}
    """,
    tags=("dedup", "window", "scale"),
)
def dedup_sorted_neighborhood_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood (the recall complement the
    single-pass ``dedup_sorted_neighborhood`` docstring names): pass 1
    sorts by the normalized text, pass 2 by its REVERSE, so records
    that differ in their first characters — invisible to a
    prefix-sorted neighborhood — become sort-adjacent by their shared
    suffix.  The union of both passes' within-window pairs is scored
    once (edit distance over the {SNM_PREFIX}-char prefix); pairs are
    key-normalized (doc_a < doc_b) before the union so a pair found by
    both passes emits once.

    Pass 1 reuses the single-pass candidate machinery verbatim; pass 2
    runs the SAME banded-join shape over a second
    ``with_global_index`` whose bucketing key encodes the reversed
    string's first 8 chars.  Because each pass is O(n*w) candidates,
    k passes cost k linear sweeps — the standard SNM recall/cost
    trade (Hernandez & Stolfo run 3 passes over independent keys)."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    # r14: the per-row normalization regex over full text is the heavy
    # map work — split the under-split fixture scan adaptively (§2.5)
    docs = split_scan(
        load_table(spark, sf_dir, "documents"), cpu_weight=32
    ).select(
        "doc_id",
        F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", "")).alias("norm"),
    )

    def enc(col: str):
        return sum(
            [
                F.shiftleft(
                    F.ascii(F.substring(col, i + 1, 1)).cast("long"),
                    7 * (7 - i),
                )
                for i in range(8)
            ],
            start=F.lit(0).cast("long"),
        )

    def pass_pairs(keyed):
        a = keyed.select(
            F.col("doc_id").alias("doc_a"),
            F.col("pre").alias("pa"),
            F.col("idx").alias("idx_a"),
            F.explode(
                F.array(
                    F.expr(f"idx div {SNM_WINDOW}"),
                    F.expr(f"idx div {SNM_WINDOW} + 1"),
                )
            ).alias("band"),
        )
        b = keyed.select(
            F.col("doc_id").alias("doc_b"),
            F.col("pre").alias("pb"),
            F.col("idx").alias("idx_b"),
            F.expr(f"idx div {SNM_WINDOW}").alias("band"),
        )
        gap = F.col("idx_b") - F.col("idx_a")
        return (
            a.join(b, "band")
            .where((gap > 0) & (gap <= SNM_WINDOW))
            .select("doc_a", "doc_b", "pa", "pb")
        )

    def indexed(df, sort_col):
        return with_global_index(
            df.withColumn("num8", enc(sort_col)),
            value_col="num8",
            tiebreak_cols=[sort_col, "doc_id"],
            bucketer="quantile",
            idx_col="idx",
        ).select(
            "doc_id", F.substring("norm", 1, SNM_PREFIX).alias("pre"), "idx"
        )

    flip = F.col("doc_a") > F.col("doc_b")

    def normed(pairs):
        return pairs.select(
            F.when(flip, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_a"),
            F.when(flip, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_b"),
            F.when(flip, F.col("pb")).otherwise(F.col("pa")).alias("pa"),
            F.when(flip, F.col("pa")).otherwise(F.col("pb")).alias("pb"),
        )

    # r14: each pass's indexed relation feeds both banded-join sides —
    # checkpoint the narrow keyed rows once per pass (the single-pass
    # query's rewrite, applied to both sort keys)
    p1 = normed(pass_pairs(materialize(indexed(docs, "norm"), eager=True)))
    p2 = normed(
        pass_pairs(
            materialize(
                indexed(docs.withColumn("rnorm", F.reverse("norm")), "rnorm"), eager=True
            )
        )
    )
    cand = p1.unionAll(p2).distinct()
    return cand.select(
        "doc_a",
        "doc_b",
        F.levenshtein("pa", "pb").cast("long").alias("lev"),
    ).where(F.col("lev") <= SNM_LEV_MAX)


SUBSTR_GRAM = 50  # chars; the Lee et al. (2022) ExactSubstr threshold


@query(
    "dedup_exact_substring_spans",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, i AS pos, md5(substring(text, i, {SUBSTR_GRAM})) AS h
      FROM documents,
           LATERAL unnest(range(1, length(text) - {SUBSTR_GRAM - 2})) AS t(i)
      WHERE length(text) >= {SUBSTR_GRAM}
    ),
    dh AS (
      SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h
      ) WHERE nd >= 2
    ),
    dp AS (SELECT g.doc_id, g.pos FROM g JOIN dh USING (h)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dp
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {SUBSTR_GRAM} - MIN(pos) AS BIGINT) AS span_len,
           COUNT(*) AS n_grams
    FROM isl GROUP BY doc_id, grp
    """,
    tags=("dedup", "substring", "scale"),
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (the ExactSubstr recipe of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): every {SUBSTR_GRAM}-char gram
    is digested at every position; grams appearing in >= 2 DISTINCT
    documents mark their positions; per document, runs of consecutive
    marked positions merge into MAXIMAL spans — exactly the cut-list a
    training-data pipeline removes.  (Lee et al. build a suffix array;
    the gram-digest formulation finds the same >= {SUBSTR_GRAM}-char
    cross-document repeats because any such repeat contains a shared
    gram at every offset, and trades the suffix array's global order
    for embarrassing parallelism.)

    Scale shape: the gram relation is |corpus chars| rows of 16-byte
    digests — only digests + (doc_id, pos) ever shuffle, never text.
    Two digest-keyed exchanges (frequency count, duplicate-mark
    semi-join) + one (doc_id)-keyed islands window; all partitioned by
    high-cardinality keys, no hot spots.  Within-doc-only repeats are
    deliberately NOT marked (nd counts distinct docs) — the within-doc
    screen is ``text_repetition_ratio``'s job."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= SUBSTR_GRAM
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (SUBSTR_GRAM - 1))
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "pos",
        F.expr(f"md5(substring(text, pos, {SUBSTR_GRAM}))").alias("h"),
    )
    dh = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    dp = grams.join(dh, "h").select("doc_id", "pos")
    isl = dp.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + SUBSTR_GRAM - F.min("pos")).cast("long").alias("span_len"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("grp")


# --- Neyman-allocation stratified sampling ---------------------------------

NEYMAN_BUDGET = 1000  # total sample rows across all strata
_LINE_KEY_SQL = "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"


@query(
    "sample_stratified_neyman",
    oracle=f"""
    WITH li AS (
      SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
             {cents_sql('l_extendedprice')} AS cents
      FROM lineitem
    ),
    m AS (
      SELECT flag, COUNT(*) AS n,
             {exact_sum_sql('cents')} AS s,
             {exact_dot_sql('cents', 'cents')} AS q
      FROM li GROUP BY flag
    ),
    wts AS (
      SELECT flag, n,
             CAST(round(sqrt({to_double_sql(comoment_sql('n', 'q', 's'))}) * 1000)
                  AS BIGINT) AS w
      FROM m
    ),
    tot AS (SELECT SUM(w) AS wt FROM wts),
    b AS (
      SELECT flag, n, ({NEYMAN_BUDGET} * w) // wt AS base,
             ({NEYMAN_BUDGET} * w) % wt AS rem
      FROM wts CROSS JOIN tot
    ),
    alloc AS (
      SELECT flag, n, base, rem,
             {NEYMAN_BUDGET} - SUM(base) OVER () AS extra,
             ROW_NUMBER() OVER (ORDER BY rem DESC, flag) AS rn
      FROM b
    ),
    a2 AS (
      SELECT flag,
             least(base + CASE WHEN rn <= extra THEN 1 ELSE 0 END, n) AS n_h
      FROM alloc
    ),
    ranked AS (
      SELECT flag, l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY flag
                 ORDER BY {md5_long_sql(_LINE_KEY_SQL)},
                   l_orderkey, l_linenumber) AS rk
      FROM li
    )
    SELECT r.flag AS l_returnflag, r.l_orderkey, r.l_linenumber
    FROM ranked r JOIN a2 ON a2.flag = r.flag
    WHERE r.rk <= a2.n_h
    """,
    tags=("sample", "agg", "stats"),
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample of {NEYMAN_BUDGET} lineitem rows with NEYMAN
    (optimal) allocation: stratum h gets n_h ∝ N_h·σ_h of the budget
    (Neyman 1934) — high-variance strata are oversampled, which
    minimizes the variance of the stratified mean estimator; the
    fixed-rate twin is sample_stratified_hash.

    Exactness end to end: N_h·σ_h = sqrt(N_h·Σx² - (Σx)²) — the
    identity keeps the allocation weight a SINGLE sqrt over exact
    integer moments (``comoment``), integerized to milli-units; the budget
    split is the all-integer largest-remainder method
    (window_largest_remainder_alloc's shape) over the <= #strata
    relation, capped at N_h; and membership is the deterministic
    md5-prefix hash ORDER (the agg_kmv_distinct hash), so the sampled
    row set is bit-identical across engines and runs.

    Scale shape: one map-side-partial moment aggregate (3 strata);
    allocation runs on the tiny stratum relation (its unpartitioned
    windows are over <= #strata rows — allowlisted); per-stratum
    selection uses the DISTRIBUTED global index grouped by stratum
    (no single-partition per-stratum window over data rows), then a
    broadcast join against the 3-row allocation."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        "l_orderkey",
        "l_linenumber",
        cents("l_extendedprice").alias("cents"),
    )
    m = materialize(
        li.groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("cents").alias("s"),
            exact_dot("cents", "cents").alias("q"),
        )
    )  # 3-row relation, multiple consumers
    wts = m.select(
        "flag",
        "n",
        F.round(F.sqrt(to_double(comoment("n", "q", "s"))) * 1000)
        .cast("long")
        .alias("w"),
    )
    tot = wts.agg(F.sum("w").alias("wt"))
    b = wts.crossJoin(F.broadcast(tot)).select(
        "flag",
        "n",
        F.expr(f"({NEYMAN_BUDGET} * w) div wt").alias("base"),
        F.expr(f"({NEYMAN_BUDGET} * w) % wt").alias("rem"),
    )
    from pyspark.sql import Window as W

    alloc = b.select(
        "flag",
        "n",
        "base",
        (F.lit(NEYMAN_BUDGET) - F.sum("base").over(W.partitionBy())).alias("extra"),
        F.row_number().over(W.partitionBy().orderBy(F.col("rem").desc(), "flag")).alias("rn"),
    ).select(
        "flag",
        F.least(
            F.col("base") + F.when(F.col("rn") <= F.col("extra"), 1).otherwise(0),
            F.col("n"),
        ).alias("n_h"),
    )
    h = md5_long(
        F.concat(
            F.col("l_orderkey").cast("string"), F.lit("_"), F.col("l_linenumber").cast("string")
        )
    )
    ranked = with_global_index(
        li.select("flag", "l_orderkey", "l_linenumber", h.alias("h")),
        "h",
        ["l_orderkey", "l_linenumber"],
        group_cols=["flag"],
    )
    return (
        ranked.join(F.broadcast(alloc), "flag")
        .where(F.col("_gidx") < F.col("n_h"))
        .select(
            F.col("flag").alias("l_returnflag"), "l_orderkey", "l_linenumber"
        )
    )


# --- cross-split leakage audit (train/test contamination, r11) --------------

LEAK_TRAIN_LT = 80  # md5 bucket < 80 -> train (split_train_dev_test's map)
LEAK_TEST_GE = 90   # md5 bucket >= 90 -> test


def _leak_bucket_sql() -> str:
    return (
        f"{md5_long_sql('CAST(doc_id AS VARCHAR)', 1, 8)} % 100"
    )


@query(
    "pipeline_split_leakage_audit",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {_leak_bucket_sql()} AS bucket FROM documents
    ),
    tt AS (
      SELECT doc_id, text FROM base
      WHERE bucket < {LEAK_TRAIN_LT} OR bucket >= {LEAK_TEST_GE}
    ),
    {_minhash_sig_sql('tt')},
    sig2 AS (
      SELECT m.*, b.bucket FROM mh_sig m JOIN base b USING (doc_id)
    ),
    hits AS (
      SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS test_id
      FROM sig2 a JOIN sig2 b
        ON a.bucket < {LEAK_TRAIN_LT} AND b.bucket >= {LEAK_TEST_GE}
       AND ({_band_eq_sql('a', 'b')})
      WHERE ({_agree_sql('a', 'b')}) / {float(N_MINHASH)} >= 0.5
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base WHERE bucket >= {LEAK_TEST_GE})
             AS n_test_docs,
           CAST(COUNT(DISTINCT test_id) AS BIGINT) AS n_leaked_test_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cross_pairs,
           CAST((1000000 * COUNT(DISTINCT test_id))
                // (SELECT COUNT(*) FROM base WHERE bucket >= {LEAK_TEST_GE})
                AS BIGINT) AS leak_ppm
    FROM hits
    """,
    tags=("pipeline", "dedup", "lsh"),
    band_bits=124,
)
def pipeline_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test CONTAMINATION audit: near-duplicate pairs that cross
    the hash split boundary (split_train_dev_test's md5-bucket map —
    train < {LEAK_TRAIN_LT}, test >= {LEAK_TEST_GE}), found by the
    shared minhash band join at est-Jaccard >= 0.5.  One summary row:
    test-set size, contaminated test docs, cross pairs, and leak ppm —
    the eval-integrity gate every training pipeline should run BEFORE
    trusting held-out numbers (hash splits only guarantee EXACT
    separation; near-dups of a training doc still land in test and
    inflate eval — the Lee et al. 2022 dedup-eval finding, as an
    engine query).

    Scale shape: signatures are the zero-shuffle per-row fold
    (minhash_signatures_df); ONE (band, bucket)-keyed exchange of the
    band relation feeds the train x test join (train/test sides are
    FILTERS on the same checkpointed relation, not two derivations);
    the verification compare is row-local on the joined pair.  The
    1-row test-count fold joins back as a broadcast of a bounded
    (1-row) aggregate."""
    d = load_table(spark, sf_dir, "documents")

    def split_bucket(col):
        return md5_long(col.cast("string"), 1, 8) % 100

    base = d.select("doc_id", "text", split_bucket(F.col("doc_id")).alias("bucket"))
    tt = base.where(
        (F.col("bucket") < LEAK_TRAIN_LT) | (F.col("bucket") >= LEAK_TEST_GE)
    )
    # the split bucket is a pure hash of doc_id, recomputed row-locally;
    # the band relation is materialized once and both split sides
    # filter it (the band_pairs materialization, functions/lsh.py)
    sig = minhash_signatures_df(tt)
    bands = materialize(
        minhash_band_rows(sig, keep_sig=True)
        .withColumn("split_bkt", split_bucket(F.col("doc_id")))
    )
    tr = bands.where(F.col("split_bkt") < LEAK_TRAIN_LT).select(
        F.col("doc_id").alias("train_id"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    te = bands.where(F.col("split_bkt") >= LEAK_TEST_GE).select(
        F.col("doc_id").alias("test_id"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e)
    ) / F.lit(float(N_MINHASH))
    # estimate + threshold before the pair dedup, as band_pairs does
    hits = (
        tr.join(te, ["band", "bucket"])
        .where(est >= 0.5)
        .select("train_id", "test_id")
        .dropDuplicates(["train_id", "test_id"])
    )
    n_test = base.where(F.col("bucket") >= LEAK_TEST_GE).agg(
        F.count(F.lit(1)).alias("nt")
    )
    return (
        hits.agg(
            F.count_distinct("test_id").cast("long").alias("n_leaked_test_docs"),
            F.count(F.lit(1)).cast("long").alias("n_cross_pairs"),
        )
        .crossJoin(F.broadcast(n_test))
        .select(
            F.col("nt").cast("long").alias("n_test_docs"),
            "n_leaked_test_docs",
            "n_cross_pairs",
            F.expr(
                "CAST((1000000 * n_leaked_test_docs) div nt AS BIGINT)"
            ).alias("leak_ppm"),
        )
    )


# --- banding threshold sensitivity curve (r11) ------------------------------


@query(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH {_minhash_sig_sql()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
             ({_agree_sql('a', 'b')}) AS agree
      FROM mh_sig a JOIN mh_sig b
        ON a.doc_id < b.doc_id AND ({_band_eq_sql('a', 'b')})
    )
    SELECT CAST((10 * agree) // {N_MINHASH} AS BIGINT) AS est_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1 ORDER BY est_decile
    """,
    tags=("dedup", "lsh", "agg"),
    band_bits=124,
    # standing bench row (VERDICT r11 #2): measured 6.34x/decade in the
    # round-11 sweep — the steepest member of the minhash candidate-
    # growth family, so it carries the family's regression watch.
    bench=True,
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold SENSITIVITY of the minhash candidate set: the banded
    candidate pairs bucketed by estimated-Jaccard decile — the curve an
    operator reads to pick the verification threshold (how many pairs
    does 0.5 admit vs 0.7?  how heavy is the low-similarity tail the
    bands let through?).  Tuning data for every dedup_* threshold in
    this engine, produced by the same single band exchange as the
    flagship pair finder.

    Exact integers: the decile is (10 * agree) div {N_MINHASH} over the
    integer agreement count — no float bucket boundaries to diverge.

    Scale shape: identical to dedup_minhash_lsh (zero-shuffle
    signatures, ONE (band, bucket) exchange, row-local verification),
    plus a map-side-partial fold to <= 11 decile rows."""
    sig = minhash_signatures_df(load_table(spark, sf_dir, "documents"))
    return (
        _minhash_pairs(sig, keep_sig=True).groupBy(
            F.expr(f"CAST((10 * agree) div {N_MINHASH} AS BIGINT)").alias("est_decile")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("est_decile")
    )


# --- systematic (every-k-th) sampling by global index (r11) -----------------

SYS_K = 97  # sampling interval (prime, so periodic id patterns don't alias)


@query(
    "sample_systematic_interval",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS idx
      FROM orders
    ) WHERE idx % {SYS_K} = 0
    """,
    tags=("sample", "pipeline"),
)
def sample_systematic_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC sampling: every {SYS_K}-th order in o_orderkey order
    (anchor 0) — the classic survey design that guarantees even
    coverage across the key range (a Bernoulli sample of the same rate
    leaves gaps and clumps; systematic never does), and the standard
    way to cut an evenly-spaced eval slice from a sorted corpus.

    The global position comes from the two-pass bucket-offset index
    (operators/global_index.py), NOT a full-shuffle ROW_NUMBER: bucket
    counts roll into broadcast offsets, within-bucket ranks stay
    partitioned — the oracle states the same position declaratively.
    o_orderkey is unique, so the position (and thus the sample) is
    deterministic on both engines.

    Scale shape: one scan + the index's bounded two-pass machinery;
    selection is a row-local modulus on the index.  The {SYS_K}-row
    interval is prime so periodic structure in key assignment (batch
    inserts, sharded id blocks) cannot alias into the sample."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    idx = with_global_index(o, "o_orderkey", [])
    return idx.where(F.col("_gidx") % SYS_K == 0).select("o_orderkey", "o_totalprice")


# --- cross-source duplication matrix (provenance analysis, r11) -------------


@query(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH {_minhash_sig_sql()},
    {_minhash_pairs_sql()},
    keep AS (SELECT a, b FROM mh_pairs WHERE est_jaccard >= 0.5),
    lab AS (
      SELECT k.a, k.b, da.source AS sa, db.source AS sb
      FROM keep k
      JOIN documents da ON da.doc_id = k.a
      JOIN documents db ON db.doc_id = k.b
    )
    SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2 ORDER BY source_a, source_b
    """,
    tags=("dedup", "lsh", "agg", "pipeline"),
    band_bits=124,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source DUPLICATION MATRIX: near-duplicate pairs (the
    flagship minhash candidates at est-Jaccard >= 0.5) rolled up by
    unordered source pair — WHICH sources copy from WHICH.  The
    provenance view every corpus curator wants before setting
    per-source keep priorities (pipeline_canonical_keeper) or mixture
    weights (pipeline_domain_mixture): a heavy (web, web) diagonal
    means internal crawl dup; a heavy (curated, web) off-diagonal
    means the curated set leaked into the crawl (or vice versa).

    Exact integers; the unordered-pair key (LEAST/GREATEST over the
    source names) makes the matrix symmetric-upper on both engines.

    Scale shape: identical candidate machinery to dedup_minhash_lsh
    (zero-shuffle signatures, ONE (band, bucket) exchange, row-local
    verification); the two source lookups join back on doc_id (the
    natural key — AQE sizes them), then a fold to the <=
    (#sources choose 2) matrix."""
    d = load_table(spark, sf_dir, "documents")
    keep = _minhash_pairs(minhash_signatures_df(d), keep_sig=True, min_agree=N_MINHASH // 2)
    src = d.select("doc_id", F.col("source").alias("s"))
    lab = pair_sides(keep.select("a", "b"), src, "doc_id")
    return (
        lab.groupBy(
            F.least("s_a", "s_b").alias("source_a"),
            F.greatest("s_a", "s_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


# --- one-permutation-hashing signature accuracy (r12) ------------------------
# (OPH_BINS moved next to N_MINHASH: the r13 sampled twin needs it earlier)


def _oph_oracle() -> str:
    o_mins = ",\n             ".join(
        f"MIN(CASE WHEN s % {OPH_BINS} = {i} THEN s END) AS o{i}"
        for i in range(OPH_BINS)
    )
    n_match = " + ".join(
        f"(CASE WHEN oa.o{i} = ob.o{i} THEN 1 ELSE 0 END)" for i in range(OPH_BINS)
    )
    n_empty = " + ".join(
        f"(CASE WHEN oa.o{i} IS NULL AND ob.o{i} IS NULL THEN 1 ELSE 0 END)"
        for i in range(OPH_BINS)
    )
    return f"""
    WITH {_minhash_sig_sql()},
    oph AS MATERIALIZED (
      SELECT doc_id,
             {o_mins}
      FROM mh_sh GROUP BY doc_id
    ),
    oph_pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id AND ({_band_eq_sql()})
    ),
    oph_sets AS (
      SELECT doc_id, list_distinct(list(s)) AS ss FROM mh_sh GROUP BY doc_id
    ),
    oph_scored AS (
      SELECT p.a, p.b,
             ({n_match}) AS n_match,
             ({n_empty}) AS n_both_empty,
             len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS inter,
             len(sa.ss) + len(sb.ss)
               - len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS nu
      FROM oph_pairs p
      JOIN oph oa ON oa.doc_id = p.a
      JOIN oph ob ON ob.doc_id = p.b
      JOIN oph_sets sa ON sa.doc_id = p.a
      JOIN oph_sets sb ON sb.doc_id = p.b
    )
    SELECT a, b, CAST(n_match AS BIGINT) AS n_match,
           CAST(n_both_empty AS BIGINT) AS n_both_empty,
           CAST(inter AS BIGINT) AS inter, CAST(nu AS BIGINT) AS nu,
           CAST((n_match * 1000000) // ({OPH_BINS} - n_both_empty) AS BIGINT) AS est_ppm,
           CAST((inter * 1000000) // nu AS BIGINT) AS true_ppm,
           CAST((1000000 * abs(n_match * nu - ({OPH_BINS} - n_both_empty) * inter))
                // (({OPH_BINS} - n_both_empty) * nu) AS BIGINT) AS err_ppm
    FROM oph_scored
    """


@query(
    "dedup_minhash_oph_eval",
    oracle=_oph_oracle(),
    tags=("dedup", "lsh", "eval"),
    band_bits=124,
)
def dedup_minhash_oph_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation-hashing signature accuracy (Li, Owen & Zhang,
    NIPS'12): hash every shingle ONCE, partition the hash space into
    {OPH_BINS} bins (bin = s mod {OPH_BINS}), keep the min per bin —
    versus classic minhash's {OPH_BINS} independent affine hashes per
    shingle.  At 100 TB the shingle stage dominates dedup cost, so OPH's
    {OPH_BINS}x cut of per-shingle hash work is the scale path this eval
    qualifies: per LSH candidate pair, the OPH estimate
    matches/({OPH_BINS} − both-empty) — the paper's unbiased form
    without densification; one-sided empty bins count as mismatch —
    against the EXACT shingle Jaccard, with absolute error.

    All ratios are exact integer ppm (floor division, cross-multiplied
    error) — no floating point anywhere, bit-exact oracle.

    Scale shape: signatures and bins are per-row array work built ONLY
    for pair-participant documents (left-semi against the checkpointed
    candidate relation — _participant_shingle_sets, the round-13 fix that cut
    the sf1 cost ~3x for both evals); exact verification is joined only
    for LSH-surviving candidates, O(participants + candidates) like
    dedup_minhash_accuracy_eval."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    pairs = materialize(_minhash_pairs(minhash_signatures_df(d)))
    return (
        _oph_scored(pairs, d)
        .select(
            "a",
            "b",
            "n_match",
            "n_both_empty",
            "inter",
            "nu",
            F.expr(f"(n_match * 1000000) div ({OPH_BINS} - n_both_empty)").alias("est_ppm"),
            F.expr("(inter * 1000000) div nu").alias("true_ppm"),
            F.expr(
                f"(1000000 * abs(n_match * nu - ({OPH_BINS} - n_both_empty) * inter))"
                f" div (({OPH_BINS} - n_both_empty) * nu)"
            ).alias("err_ppm"),
        )
    )
