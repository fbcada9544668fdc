"""Training-data preparation operators: chunking, sequence packing,
test-set contamination detection, PII scrubbing.

North-star extension (SURVEY.md §2 Part B, training-pipeline ops beyond
the reference's surface).  These are the steps between "curated corpus"
(operators/dedup.py pipeline_curation) and "token stream fed to a
trainer":

- ``text_chunk_sliding``   — split documents into overlapping token
  windows (the context-window chunker);
- ``pipeline_seq_packing`` — greedy sequential packing of docs into
  fixed token-budget sequences, sharded for scale;
- ``text_contamination_ngram`` — word-8-gram overlap between the test
  and train splits (decontamination audit);
- ``text_pii_redaction``   — regex scrubbing with per-row redaction
  counts (digit-run scrub over ID-bearing names; the email pattern
  rides along to show the multi-pattern shape).

Everything is built-in column expressions (split/slice/md5/windows) —
codegen'd JVM end to end, no Python per-row work, and every query has a
bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import hugeint_sql, int128_sql
from oracle_parquet_dumper_spark.functions.tokens import md5_long, md5_long_sql, words, words_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table

CHUNK_TOKENS = 32  # window size (tokens)
CHUNK_STRIDE = 24  # window start stride -> 8-token overlap

PACK_BUDGET = 256  # tokens per packed sequence
PACK_SHARDS = 8    # hash shards; windows run per-shard, not globally

NGRAM_N = 8  # contamination n-gram width


@query(
    "text_chunk_sliding",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, {words_sql()} AS toks
      FROM documents WHERE length(text) > 0
    ),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS start,
             toks, len(toks) AS n
      FROM docs
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(least(start + {CHUNK_TOKENS} - 1, n) - start + 1 AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(toks, start, least(start + {CHUNK_TOKENS} - 1, n)), ' '))
             AS chunk_hash
    FROM chunks
    """,
    tags=("text", "pipeline", "chunk"),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: CHUNK_TOKENS-token windows every
    CHUNK_STRIDE tokens (overlap = window - stride), the standard
    context-window prep for training.  One explode per chunk start —
    the chunk text itself is reduced to (token count, md5) so nothing
    wider than a digest shuffles; at 100 TB chunk payloads would be
    written columnar per shard, not collected."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = words()
    base = d.select("doc_id", toks.alias("toks")).withColumn("n", F.size("toks"))
    starts = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_STRIDE))).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS))
    n_tokens = F.least(F.col("start") + CHUNK_TOKENS - 1, F.col("n")) - F.col("start") + 1
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        n_tokens.cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_hash"),
    )


@query(
    "pipeline_seq_packing",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             {md5_long_sql('CAST(doc_id AS VARCHAR)', 1, 8)} % {PACK_SHARDS} AS shard,
             len({words_sql()}) AS n_tok
      FROM documents WHERE length(text) > 0
    ),
    runs AS (
      SELECT shard, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM docs
    )
    SELECT shard, CAST(floor((cum - 1) / {PACK_BUDGET}) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM runs
    GROUP BY shard, pack_id
    """,
    tags=("text", "pipeline", "pack"),
)
def pipeline_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing: docs (in stable doc_id order) fill
    PACK_BUDGET-token sequences; a doc whose cumulative count crosses the
    boundary starts/straddles the next pack (deterministic first-fit,
    no reordering).

    Scale shape: the running sum is windowed PER SHARD (content-stable
    md5 hash shard), never globally — a global ORDER BY window is a
    single-partition sort that dies at 100 TB, while per-shard windows
    parallelize and each trainer data-loader reads its own shard."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = words()
    shard = md5_long(F.col("doc_id").cast("string"), 1, 8) % PACK_SHARDS
    docs = d.select("doc_id", shard.alias("shard"), F.size(toks).cast("long").alias("n_tok"))
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    runs = docs.withColumn("cum", F.sum("n_tok").over(w))
    return (
        runs.select(
            "shard",
            F.floor((F.col("cum") - 1) / PACK_BUDGET).cast("long").alias("pack_id"),
            "n_tok",
        )
        .groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("pack_tokens"))
    )


def _split_bucket_sql() -> str:
    return f"{md5_long_sql('CAST(doc_id AS VARCHAR)', 1, 8)} % 100"


def _split_bucket_col():
    return md5_long(F.col("doc_id").cast("string"), 1, 8) % 100


@query(
    "text_contamination_ngram",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, {_split_bucket_sql()} AS bucket,
             {words_sql()} AS toks
      FROM documents WHERE length(text) > 0
    ),
    grams AS (
      SELECT doc_id, bucket,
             md5(array_to_string(list_slice(toks, i, i + {NGRAM_N} - 1), ' ')) AS g
      FROM (SELECT doc_id, bucket, toks,
                   unnest(generate_series(1, len(toks) - {NGRAM_N} + 1)) AS i
            FROM docs WHERE len(toks) >= {NGRAM_N})
    ),
    train_grams AS (SELECT DISTINCT g FROM grams WHERE bucket < 80),
    test_grams AS (SELECT doc_id, g, COUNT(*) AS n FROM grams WHERE bucket >= 90 GROUP BY doc_id, g)
    SELECT t.doc_id,
           CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN t.n ELSE 0 END) AS BIGINT) AS contaminated_grams,
           CAST(SUM(t.n) AS BIGINT) AS total_grams,
           round(SUM(CASE WHEN tr.g IS NOT NULL THEN t.n ELSE 0 END) * 1.0 / SUM(t.n), 6)
             AS contamination_ratio
    FROM test_grams t LEFT JOIN train_grams tr ON t.g = tr.g
    GROUP BY t.doc_id
    HAVING SUM(CASE WHEN tr.g IS NOT NULL THEN t.n ELSE 0 END) > 0
    """,
    tags=("text", "pipeline", "contamination"),
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination audit: which TEST-split documents share word
    {NGRAM_N}-grams with the TRAIN split (the canonical benchmark-leak
    check).  Splits reuse the content-stable md5 bucket from
    split_train_dev_test, so the audit is reproducible.

    Scale shape: only 16-byte gram digests shuffle; the train side is
    reduced to DISTINCT digests before the join (at 100 TB that relation
    is bounded by unique-gram count and joins via one hash shuffle —
    or a bloom filter pushed to the test scan)."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = words()
    base = (
        d.select("doc_id", _split_bucket_col().alias("bucket"), toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .where(F.col("n") >= NGRAM_N)
    )
    grams = base.select(
        "doc_id",
        "bucket",
        F.explode(F.sequence(F.lit(1), F.col("n") - (NGRAM_N - 1))).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "bucket",
        F.md5(F.concat_ws(" ", F.slice("toks", F.col("i"), F.lit(NGRAM_N))).cast("binary")).alias(
            "g"
        ),
    )
    train_grams = grams.where(F.col("bucket") < 80).select("g").distinct()
    test_grams = (
        grams.where(F.col("bucket") >= 90)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = test_grams.join(
        train_grams.withColumn("hit", F.lit(1)), "g", "left"
    )
    contaminated = F.sum(F.when(F.col("hit").isNotNull(), F.col("n")).otherwise(F.lit(0)))
    total = F.sum("n")
    return (
        joined.groupBy("doc_id")
        .agg(
            contaminated.alias("contaminated_grams"),
            total.alias("total_grams"),
            F.round(contaminated * 1.0 / total, 6).alias("contamination_ratio"),
        )
        .where(F.col("contaminated_grams") > 0)
    )


# Target training-mixture weights over the language axis (integer
# percents summing to 100 — integer arithmetic keeps the whole plan
# bit-exact across engines).
MIXTURE_PCT = (("en", 40), ("de", 15), ("es", 15), ("fr", 15), ("zh", 15))


@query(
    "pipeline_domain_mixture",
    oracle=f"""
    WITH w(lang, pct) AS (VALUES {", ".join(f"('{l}', {p})" for l, p in MIXTURE_PCT)}),
    counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    sc AS (SELECT MIN(CAST(floor(n * 100 / pct) AS BIGINT)) AS s
           FROM counts JOIN w USING (lang)),
    keep AS (SELECT lang, n, pct, CAST(floor(pct * s / 100.0) AS BIGINT) AS keep_n
             FROM counts JOIN w USING (lang) CROSS JOIN sc),
    ranked AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents),
    kept AS (SELECT r.lang, r.doc_id
             FROM ranked r JOIN keep k ON r.lang = k.lang AND r.rk <= k.keep_n),
    tot AS (SELECT COUNT(*) AS t FROM kept)
    SELECT k.lang AS lang,
           CAST(ke.n AS BIGINT) AS n_before,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(ke.pct AS BIGINT) AS target_pct,
           CAST(SUM(k.doc_id) AS BIGINT) AS doc_id_sum,
           CAST(floor(COUNT(*) * 1000000.0 / t) AS BIGINT) AS achieved_ppm
    FROM kept k JOIN keep ke ON k.lang = ke.lang CROSS JOIN tot
    GROUP BY k.lang, ke.n, ke.pct, t
    """,
    tags=("pipeline", "mixture"),
)
def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: downsample each language to hit a
    target training mixture (MIXTURE_PCT) WITHOUT upsampling — the
    bottleneck language pins the achievable corpus size
    (scale = min_l floor(n_l*100/w_l), keep_l = floor(w_l*scale/100)),
    and each language keeps its first keep_l docs in content-stable
    md5(doc_id) order, so reruns and engines agree doc-for-doc
    (doc_id_sum is the per-language selection checksum).

    All arithmetic is integer (percents, floors), so the oracle is
    bit-exact.  Scale shape (round-13 rewrite): the counts/scale/keep
    relations are O(#languages) rows and broadcast back; the per-doc
    rank in md5 order comes from the bucket-offset global index keyed
    on the hash's 60-bit numeric prefix — NOT a row_number window
    partitioned only by the 5-value lang domain, which sorted every
    document at parallelism 5 at any cluster size (the round-12
    bounded-partition-window class).  Fixed-width lowercase-hex md5
    strings order exactly like their numeric value, so bucketing on the
    prefix and tie-breaking on (full hash, doc_id) reproduces the
    string rank bit-for-bit; the prefix is uniform on [0, 2^60), so
    equi-width buckets are occupancy-even by construction.  The
    approximate alternative — keep if hash-fraction < keep_l/n_l — is
    shuffle-free and lands within sampling error, the same trade
    documented in sample_bernoulli."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    d = load_table(spark, sf_dir, "documents")
    w = F.create_map(*[F.lit(x) for lp in MIXTURE_PCT for x in lp])
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).where(
        F.element_at(w, F.col("lang")).isNotNull()
    ).withColumn("pct", F.element_at(w, F.col("lang")))
    sc = counts.select(
        F.min(F.floor(F.col("n") * 100 / F.col("pct")).cast("long")).alias("s")
    )
    keep = counts.crossJoin(F.broadcast(sc)).select(
        "lang", "n", "pct",
        F.floor(F.col("pct") * F.col("s") / 100.0).cast("long").alias("keep_n"),
    )
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    hashed = d.select(
        "doc_id",
        "lang",
        h.alias("_h"),
        md5_long(F.col("doc_id").cast("string")).alias("_hv"),
    )
    ranked = with_global_index(
        hashed, "_hv", ["_h", "doc_id"], group_cols=["lang"]
    ).select("doc_id", "lang", (F.col("_gidx") + 1).alias("rk"))
    kept = ranked.join(F.broadcast(keep), "lang").where(F.col("rk") <= F.col("keep_n"))
    tot = kept.select(F.count(F.lit(1)).alias("t"))
    return (
        kept.groupBy("lang", "n", "pct")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_before"),
            F.col("n_kept").cast("long"),
            F.col("pct").cast("long").alias("target_pct"),
            F.col("doc_id_sum").cast("long"),
            F.floor(F.col("n_kept") * 1000000.0 / F.col("t")).cast("long").alias("achieved_ppm"),
        )
    )


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
DIGIT_RUN_RE = "[0-9]{4,}"


@query(
    "text_pii_redaction",
    oracle=f"""
    SELECT c_custkey,
           regexp_replace(c_name, '{DIGIT_RUN_RE}', '<ID>', 'g') AS redacted,
           CAST(len(regexp_extract_all(c_name, '{DIGIT_RUN_RE}')) AS BIGINT) AS n_id_runs,
           CAST(len(regexp_extract_all(c_name, '{EMAIL_RE}')) AS BIGINT) AS n_emails
    FROM customer
    """,
    tags=("text", "pipeline", "pii"),
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: replace digit runs (account/ID numbers) with a
    placeholder and count redactions per row; the email pattern rides
    along to show multi-pattern scrubbing (zero hits in this fixture).
    Pure regexp_replace/extract_all column expressions — codegen'd, no
    UDF, and the scan stays one pass however many patterns are added.
    Patterns are kept in the RE2/Java-regex common subset so the DuckDB
    twin is bit-exact."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", DIGIT_RUN_RE, "<ID>").alias("redacted"),
        F.size(F.regexp_extract_all("c_name", F.lit(DIGIT_RUN_RE), 0))
        .cast("long")
        .alias("n_id_runs"),
        F.size(F.regexp_extract_all("c_name", F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
    )


# --- deterministic global shuffle (training-order assignment) --------------

SHUF_SEED = "epoch-0"      # changing the seed string re-deals the whole order
SHUF_BUCKETS = 64          # range buckets; offsets relation has exactly this many rows
SHUF_SHARDS = 16           # output dataloader shards
_SHUF_RANGE = (1 << 60) // SHUF_BUCKETS  # md5-60bit hash space per bucket


@query(
    "pipeline_global_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {md5_long_sql(f"'{SHUF_SEED}:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    idx AS (
      SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) - 1 AS idx
      FROM h
    )
    SELECT doc_id, CAST(idx AS BIGINT) AS idx,
           CAST(idx % {SHUF_SHARDS} AS BIGINT) AS shard,
           CAST(idx // {SHUF_SHARDS} AS BIGINT) AS pos
    FROM idx
    """,
    tags=("pipeline", "shuffle", "split"),
)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle WITHOUT a global sort
    or a driver round-trip: every doc gets a dense index 0..N-1 in
    seeded-hash order, then a dataloader (shard, pos) assignment.

    The oracle states it as ``row_number() OVER (ORDER BY h)`` — a
    single-partition window that is exactly what must NOT run at 100 TB.
    The Spark plan computes the identical permutation in three bounded
    steps (the distributed zipWithIndex pattern):

    1. range-bucket each row by the TOP bits of a seeded md5 hash
       (bucket boundaries are h-ranges, so bucket order == hash order);
    2. per-bucket row counts -> running-total offsets.  This window is
       single-partition but touches exactly SHUF_BUCKETS rows whatever
       the corpus size (the clean_length_band convention); it never
       sees data rows;
    3. broadcast the {SHUF_BUCKETS}-row offset relation back and add a
       per-bucket ``row_number`` (partitioned window, one sort per
       bucket — at scale, one reducer per bucket, more buckets = more
       parallelism).

    idx -> (idx % shards, idx // shards) round-robins adjacent docs to
    different shards, so every shard sees a uniform sample of the
    hash-shuffled order — the property dataloaders need.  Everything is
    integer/md5 arithmetic: bit-exact across engines, re-dealable by
    changing SHUF_SEED."""
    d = load_table(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit(f"{SHUF_SEED}:"), F.col("doc_id").cast("string")))
    # integer div, NOT /: h is up to 2^60 and double division loses
    # exactness past 2^53, which would mis-bucket hash-range boundaries
    hb = d.select("doc_id", h.alias("h")).withColumn(
        "b", F.expr(f"h div {_SHUF_RANGE}")
    )
    counts = hb.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    off_w = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "b", F.coalesce(F.sum("n").over(off_w), F.lit(0)).alias("off")
    )
    within_w = W.partitionBy("b").orderBy("h", "doc_id")
    idx = (
        hb.join(F.broadcast(offsets), "b")
        .withColumn("idx", F.col("off") + F.row_number().over(within_w) - 1)
    )
    return idx.select(
        "doc_id",
        F.col("idx").cast("long").alias("idx"),
        (F.col("idx") % SHUF_SHARDS).cast("long").alias("shard"),
        F.expr(f"idx div {SHUF_SHARDS}").cast("long").alias("pos"),
    )


CARD_SHORT_TOKENS = 50  # "short doc" threshold for the card's ratio


@query(
    "pipeline_dataset_card",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, lang, source, length(text) AS n_chars, md5(text) AS h,
             len({words_sql(lower=False)}) AS toks
      FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(toks) AS BIGINT) AS total_ws_tokens,
           CAST((1000 * SUM(toks)) // COUNT(*) AS BIGINT) AS mean_tokens_milli,
           CAST((1000000 * SUM(CASE WHEN toks < {CARD_SHORT_TOKENS} THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS short_doc_ppm,
           CAST((1000000 * (COUNT(*) - COUNT(DISTINCT h))) // COUNT(*) AS BIGINT)
             AS exact_dup_ppm
    FROM per_doc
    """,
    tags=("pipeline", "agg", "text"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics block in one pass: corpus size, language
    and source cardinalities, token totals, short-document share, and
    exact-duplicate share — the summary table every released training
    dataset ships (HuggingFace dataset cards, Dolma/FineWeb reports),
    as a single engine query.

    One scan, one aggregate: token counts are per-row expressions, the
    duplicate share reuses the digest convention (md5 only — bodies
    never aggregate), and every ratio is floor-divided integer
    ppm/milli so the oracle is exact.  The distinct-counts shuffle is
    bounded by (langs + sources + distinct digests) after partial
    aggregation."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.size(words(lower=False)).cast("long").alias("toks"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("toks").alias("total_ws_tokens"),
        F.expr("(1000 * sum(toks)) div count(1)").alias("mean_tokens_milli"),
        F.expr(
            f"(1000000 * sum(case when toks < {CARD_SHORT_TOKENS} then 1 else 0 end))"
            " div count(1)"
        ).alias("short_doc_ppm"),
        F.expr(
            "(1000000 * (count(1) - count(distinct h))) div count(1)"
        ).alias("exact_dup_ppm"),
    )


@query(
    "pipeline_token_budget_fill",
    oracle=fr"""
    WITH per AS (
      SELECT source,
             SUM(CAST(len({words_sql(lower=False)}) AS BIGINT)) AS tok,
             SUM(CAST(len(regexp_extract_all(lower(text),
                                             '\b(the|a|of|and|to)\b')) AS BIGINT)) AS sh
      FROM documents GROUP BY source
    ),
    q AS (
      SELECT source, tok, (1000 * sh) // tok AS quality_milli FROM per
    ),
    b AS (SELECT SUM(tok) // 2 AS budget FROM per),
    c AS (
      SELECT q.*, budget,
             SUM(tok) OVER (ORDER BY quality_milli DESC, source
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM q, b
    )
    SELECT source, CAST(tok AS BIGINT) AS tokens_available,
           CAST(quality_milli AS BIGINT) AS quality_milli,
           CAST(CASE WHEN cum <= budget THEN tok
                     WHEN cum - tok < budget THEN budget - (cum - tok)
                     ELSE 0 END AS BIGINT) AS tokens_taken,
           CAST((1000 * CASE WHEN cum <= budget THEN tok
                             WHEN cum - tok < budget THEN budget - (cum - tok)
                             ELSE 0 END) // tok AS BIGINT) AS take_rate_milli
    FROM c
    """,
    tags=("pipeline", "text", "window"),
)
def pipeline_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning: given a training budget (half the
    corpus here), fill it greedily from the highest-quality sources —
    full take while the budget lasts, a partial take-rate for the
    marginal source, zero beyond — emitting the per-source sampling
    plan (tokens_taken, take_rate_milli) a downstream weighted sampler
    executes.  The deterministic skeleton of quality-aware data-mixture
    planning (cf. the domain-reweighting literature); quality here is
    stopword density in milli units, all integer.

    Scale shape: one corpus pass folds to a #sources-row relation; the
    greedy cumulative sum is a window over THAT (source-level) relation
    — bounded by the source catalog, never by data — plus a 1-row
    budget broadcast."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.size(words(lower=False)).cast("long")
    sh = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"\b(the|a|of|and|to)\b"))
    ).cast("long")
    per = d.groupBy("source").agg(F.sum(tok).alias("tok"), F.sum(sh).alias("sh"))
    q = per.select(
        "source", "tok", F.expr("(1000 * sh) div tok").alias("quality_milli")
    )
    b = per.agg(F.expr("CAST(SUM(tok) div 2 AS BIGINT)").alias("budget"))
    cw = W.orderBy(F.col("quality_milli").desc(), "source").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = (
        q.crossJoin(F.broadcast(b))
        .withColumn("cum", F.sum("tok").over(cw))
        .withColumn(
            "taken",
            F.when(F.col("cum") <= F.col("budget"), F.col("tok"))
            .when(
                F.col("cum") - F.col("tok") < F.col("budget"),
                F.col("budget") - (F.col("cum") - F.col("tok")),
            )
            .otherwise(F.lit(0)),
        )
    )
    return c.select(
        "source",
        F.col("tok").cast("long").alias("tokens_available"),
        F.col("quality_milli").cast("long").alias("quality_milli"),
        F.col("taken").cast("long").alias("tokens_taken"),
        F.expr("CAST((1000 * taken) div tok AS BIGINT)").alias("take_rate_milli"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights for data selection (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"):
# score every raw document by how much more likely its features are
# under a TARGET distribution than under the RAW distribution, then
# resample proportionally to the weight.  Here the feature space is
# the lower-cased word unigram (the paper uses hashed n-grams; the
# estimator is identical), the target is the English slice of the
# corpus, and the raw model is the whole corpus.
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"


@query(
    "pipeline_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest({words_sql()}) AS token
      FROM documents WHERE length(text) > 0
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    raw AS (SELECT token, COUNT(*) AS cr FROM toks GROUP BY token),
    tgt AS (SELECT token, COUNT(*) AS ct FROM toks WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY token),
    tots AS (
      SELECT (SELECT SUM(cr) FROM raw) AS tr,
             (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt,
             (SELECT COUNT(*) FROM raw) AS vv
    ),
    model AS (
      SELECT raw.token,
             CAST(round((ln((COALESCE(tgt.ct, 0) + 1.0) / (tt + vv))
                         - ln((raw.cr + 1.0) / (tr + vv))) * 1000000) AS BIGINT) AS lr_u
      FROM raw LEFT JOIN tgt ON tgt.token = raw.token CROSS JOIN tots
    ),
    agg AS (
      SELECT tf.doc_id, SUM(tf.tf) AS t, SUM(tf.tf * m.lr_u) AS s
      FROM tf JOIN model m ON m.token = tf.token GROUP BY tf.doc_id
    )
    SELECT doc_id,
           CAST(t AS BIGINT) AS n_tok,
           CAST(s AS BIGINT) AS logw_micro,
           CASE WHEN s >= 0 THEN (2 * s + t) // (2 * t)
                ELSE -((-2 * s + t) // (2 * t)) END / 1000000.0 AS avg_log_ratio
    FROM agg
    """,
    tags=("pipeline", "curation", "text", "lm"),
)
def pipeline_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: log w(x) = Σ_tokens
    tf·(ln p_target(token) - ln p_raw(token)) with add-one-smoothed
    unigram models (target = the '{DSIR_TARGET_LANG}' slice, raw = the
    whole corpus, shared vocabulary V from the raw side).  Downstream
    selection samples ∝ exp(log w) — documents whose token mix looks
    like the target domain get up-weighted; resampling by this weight
    is the DSIR estimator (Xie et al. 2023, §2-3).

    Determinism: each token's log-ratio is ONE shared double expression
    integerized to micro-nats (the text_perplexity_unigram convention);
    the per-doc total is an exact BIGINT sum, and the per-token mean is
    the sign-symmetric integer round ((2s+t) div (2t) mirrored for
    negative s — Spark's `div` truncates toward zero while DuckDB's
    `//` floors, so the negative branch is made explicit in both).

    Scale shape: tokens collapse to (doc, token, tf) map-side before
    any join (Zipf-hot tokens cost one row per document); the model
    relation is VOCABULARY-sized (raw left-join target on the token
    key), totals are broadcast 1-row aggregates, and the scoring join
    keys on the bounded vocabulary — the same skew-safe shape as
    text_perplexity_unigram/tf-idf."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    w = words()
    toks = d.select("doc_id", "lang", F.explode(w).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    raw = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        toks.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tots = raw.agg(F.sum("cr").alias("tr"), F.count(F.lit(1)).alias("vv")).crossJoin(
        F.broadcast(tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt")))
    )
    lr_u = F.round(
        (
            F.log((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) / (F.col("tt") + F.col("vv")))
            - F.log((F.col("cr") + F.lit(1.0)) / (F.col("tr") + F.col("vv")))
        )
        * 1000000
    ).cast("long")
    model = (
        raw.join(tgt, "token", "left")
        .crossJoin(F.broadcast(tots))
        .select("token", lr_u.alias("lr_u"))
    )
    agg = tf.join(model, "token").groupBy("doc_id").agg(
        F.sum("tf").alias("t"), F.sum(F.col("tf") * F.col("lr_u")).alias("s")
    )
    # round-half-up of s/t, sign-symmetric: Spark div truncates toward
    # zero, DuckDB // floors — identical only when the dividend is
    # non-negative, hence the explicit negative branch in BOTH engines.
    avg_u = F.expr(
        "CASE WHEN s >= 0 THEN (2 * s + t) div (2 * t)"
        " ELSE -((-2 * s + t) div (2 * t)) END"
    )
    return agg.select(
        "doc_id",
        F.col("t").cast("long").alias("n_tok"),
        F.col("s").cast("long").alias("logw_micro"),
        (avg_u / 1000000.0).alias("avg_log_ratio"),
    )


CURRICULUM_PHASES = 4  # easy -> hard quartiles by token count


@query(
    "pipeline_curriculum_order",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len({words_sql()}) AS n_tok
      FROM documents WHERE length(text) > 0
    ),
    ranked AS (
      SELECT doc_id, n_tok,
             ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1 AS idx,
             COUNT(*) OVER () AS n
      FROM d
    ),
    phased AS (
      SELECT doc_id, n_tok,
             CAST(({CURRICULUM_PHASES} * idx) // n AS INT) AS phase,
             {md5_long_sql('CAST(doc_id AS VARCHAR)')} AS h
      FROM ranked
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, phase,
           CAST(ROW_NUMBER() OVER (PARTITION BY phase ORDER BY h, doc_id) - 1
                AS BIGINT) AS position
    FROM phased
    """,
    tags=("pipeline", "curation", "sample"),
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (Bengio et al. 2009): documents split
    into {CURRICULUM_PHASES} difficulty phases by token count (short =
    easy first), deterministically SHUFFLED within each phase by the
    md5 doc hash — the (phase, position) pair is the exact order a
    curriculum dataloader feeds the trainer, reproducible across runs
    and engines.

    Scale shape: phase assignment is the DISTRIBUTED global index over
    (n_tok, doc_id) — `(K*idx) div n`, the events_uplift_by_decile
    pattern, no single-partition window; the within-phase shuffle is a
    SECOND grouped global index over (hash, doc_id) whose windows
    partition by phase.  Both passes are two-stage bucket-offset
    plans; nothing data-sized crosses one task.  (The oracle's plain
    ROW_NUMBER windows are DuckDB-side only.)"""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    d = materialize(
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select(
            "doc_id",
            F.size(words()).cast("long").alias("n_tok"),
        )
    )
    ranked = with_global_index(d, "n_tok", ["doc_id"])
    # truncate between the two index passes: the second pass's internal
    # consumers (bounds, bucket counts, bucketed rows) would otherwise
    # re-derive the ENTIRE first pass each
    phased = materialize(
        ranked.select(
            "doc_id",
            "n_tok",
            F.expr(f"CAST(({CURRICULUM_PHASES} * _gidx) div _gn AS INT)").alias("phase"),
            md5_long(F.col("doc_id").cast("string"))
            .alias("h"),
        )
    )
    pos = with_global_index(
        phased, "h", ["doc_id"], group_cols=["phase"], idx_col="position"
    )
    return pos.select(
        "doc_id", "n_tok", "phase", F.col("position").cast("long").alias("position")
    )


MIX_BUDGET_MULT = 2  # token budget = 2x the corpus
MIX_MAX_EPOCHS = 4   # repeat cap per source (Muennighoff et al. 2023)


@query(
    "pipeline_mixture_temperature",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len({words_sql()})) AS BIGINT) AS n_tok
      FROM documents WHERE length(text) > 0 GROUP BY source
    ),
    t AS (
      SELECT SUM(n_tok) AS total, SUM(sqrt(CAST(n_tok AS DOUBLE))) AS z FROM s
    ),
    terms0 AS (
      SELECT source, n_tok, total,
             CAST(({hugeint_sql('1000000')} * n_tok) // total AS BIGINT) AS share_ppm,
             CAST(round(1000000 * sqrt(CAST(n_tok AS DOUBLE)) / z) AS BIGINT) AS w_ppm
      FROM s CROSS JOIN t
    ),
    terms AS (
      SELECT source, n_tok, share_ppm, w_ppm,
             CAST(({hugeint_sql('w_ppm')} * ({MIX_BUDGET_MULT} * total))
                  // 1000000 AS BIGINT) AS target_tok
      FROM terms0
    ),
    capped AS (
      SELECT source, n_tok, share_ppm, w_ppm, target_tok,
             target_tok > {MIX_MAX_EPOCHS} * n_tok AS capped,
             LEAST(target_tok, {MIX_MAX_EPOCHS} * n_tok) AS final_tok
      FROM terms
    ),
    lo AS (SELECT CAST(SUM(target_tok - final_tok) AS BIGINT) AS leftover FROM capped)
    SELECT source, n_tok, share_ppm, w_ppm, target_tok, capped,
           CAST(final_tok AS BIGINT) AS final_tok,
           CAST((1000 * final_tok) // NULLIF(n_tok, 0) AS BIGINT) AS epochs_milli,
           leftover AS leftover_tok
    FROM capped CROSS JOIN lo
    """,
    tags=("pipeline", "agg", "text"),
)
def pipeline_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture with a repeat cap — the data-
    mixing planner for multi-source pretraining: raw shares p_i are
    flattened to w_i ∝ p_i^0.5 (temperature sampling, the multilingual
    convention that keeps big sources from drowning small ones), a
    {MIX_BUDGET_MULT}x-corpus token budget is allotted by w_i, and each
    source's allotment is capped at {MIX_MAX_EPOCHS} epochs of its own
    data (repeated data stops helping around 4 epochs — Muennighoff et
    al. 2023); the uncovered remainder is reported as leftover_tok (the
    budget the planner must fill with new crawl or accept as a
    shortfall).

    Determinism: the only float math is sqrt(n_tok)/Σsqrt — one shared
    double expression rounded once to ppm; every downstream quantity is
    integer arithmetic on that rounded weight (floor divisions), so
    allocation rows are bit-identical across engines.

    Scale shape: one scan + map-side token-count partial to <= #sources
    rows; everything after lives on that bounded relation crossJoined
    with broadcast 1-row folds."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    s = materialize(
        d.groupBy("source")
        .agg(F.sum(F.size(words())).cast("long").alias("n_tok"))
    )  # <= #sources rows, 3 consumers
    t = s.agg(
        F.sum("n_tok").alias("total"),
        F.sum(F.sqrt(F.col("n_tok").cast("double"))).alias("z"),
    )
    terms = (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_tok",
            "total",
            # 128-bit intermediates: 1e6 * n_tok and w_ppm * budget
            # overflow BIGINT once the corpus passes ~9e12 tokens (real at
            # 100 TB); div on decimals is exact floor division, matching
            # the oracle's 128-bit `//` bit-for-bit (ADVICE r8).
            F.expr(f"CAST(({int128_sql('1000000')} * n_tok) div total AS BIGINT)").alias("share_ppm"),
            F.round(
                F.lit(1000000) * F.sqrt(F.col("n_tok").cast("double")) / F.col("z")
            )
            .cast("long")
            .alias("w_ppm"),
        )
        .select(
            "source",
            "n_tok",
            "share_ppm",
            "w_ppm",
            F.expr(
                f"CAST(({int128_sql('w_ppm')} * "
                f"({MIX_BUDGET_MULT} * total)) div 1000000 AS BIGINT)"
            ).alias("target_tok"),
        )
    )
    capped = materialize(
        terms.select(
            "source",
            "n_tok",
            "share_ppm",
            "w_ppm",
            "target_tok",
            (F.col("target_tok") > MIX_MAX_EPOCHS * F.col("n_tok")).alias("capped"),
            F.least(F.col("target_tok"), MIX_MAX_EPOCHS * F.col("n_tok")).alias("final_tok"),
        )
    )
    lo = capped.agg(
        F.sum(F.col("target_tok") - F.col("final_tok")).cast("long").alias("leftover")
    )
    return capped.crossJoin(F.broadcast(lo)).select(
        "source",
        "n_tok",
        "share_ppm",
        "w_ppm",
        "target_tok",
        "capped",
        F.col("final_tok").cast("long").alias("final_tok"),
        F.expr("CAST((1000 * final_tok) div NULLIF(n_tok, 0) AS BIGINT)").alias(
            "epochs_milli"
        ),
        F.col("leftover").alias("leftover_tok"),
    )


# --- canonical-document selection within duplicate clusters -----------------


@query(
    "pipeline_canonical_keeper",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(list_aggregate(list_sort(list_distinct(string_split(text, ' '))),
                                'string_agg', '|')) AS h
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS cluster_size,
             MIN(doc_id) OVER (PARTITION BY h) AS cluster_id
      FROM keyed
    )
    SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           CASE WHEN rn = 1 THEN 'keep' ELSE 'drop' END AS verdict
    FROM ranked WHERE cluster_size > 1
    """,
    tags=("pipeline", "dedup", "window"),
)
def pipeline_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each duplicate cluster keep
    exactly ONE representative (longest, ties to smallest doc_id) and
    mark the rest for dropping — the step between candidate-pair
    finding and corpus rewriting in every dedup pipeline (near-dup
    detection yields CLUSTERS; the training set wants one doc each).

    Clusters here come from the bag-of-VOCABULARY fingerprint
    (md5 of the sorted distinct token set): docs built from the same
    vocabulary are one content cluster even when token order and
    repetition differ — the deterministic, SQL-expressible stand-in
    for whatever upstream pair relation (MinHash clusters, embedding
    cells) a production pipeline feeds this keeper.  Singleton
    clusters are filtered out so the output is exactly the actionable
    keep/drop ledger.

    Scale shape: one tokenize pass, then all three window functions
    (row_number, count, min) share ONE (h)-partitioned sort — a single
    exchange on the 16-byte fingerprint, never on text; the keeper
    rule is rank-1 selection, so no per-cluster collect or re-join."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws("|", F.array_sort(F.array_distinct(F.split("text", " ")))).cast(
                "binary"
            )
        ).alias("h"),
    )
    w = W.partitionBy("h")
    ranked = keyed.select(
        "doc_id",
        F.row_number().over(w.orderBy(F.col("n_chars").desc(), "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        F.min("doc_id").over(w).alias("cluster_id"),
    )
    return ranked.where(F.col("cluster_size") > 1).select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.when(F.col("rn") == 1, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


# --- differentially-private release counts (seeded Laplace) -----------------

DP_SCALE_MICRO = 1_000_000  # Laplace b = 1/eps with eps = 1, in micro-units


@query(
    "pipeline_dp_noisy_counts",
    oracle=f"""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2
    ),
    u AS (
      SELECT lang, source, n,
             {md5_long_sql("lang || '|' || source")}
               / 1152921504606846976.0 AS u01
      FROM c
    )
    SELECT lang, source,
           n * {DP_SCALE_MICRO} +
           (CASE WHEN u01 < 0.5 THEN 1 ELSE -1 END) *
           CAST(round(ln(GREATEST(1.0 - 2.0 * abs(u01 - 0.5), 1e-12)) * {DP_SCALE_MICRO}) AS BIGINT)
             AS noisy_count_micro,
           n AS true_n
    FROM u
    """,
    tags=("pipeline", "agg", "privacy"),
)
def pipeline_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release counts: per (lang, source) cell,
    the document count plus Laplace(1/eps) noise (eps = 1) — the
    mechanism behind every DP dataset card / telemetry release, as an
    engine query.  ``true_n`` is kept alongside because this is the
    UTILITY EVALUATION of the mechanism (absolute error vs cell size),
    the same ledger convention as events_bloom_returning_users; a
    production release would drop it.

    Determinism (seeded noise): the uniform draw is the cell key's
    md5 prefix (15 hex digits / 2^60 — 60 bits exceed a double's 52-bit
    mantissa, but BOTH engines perform the identical BIGINT->double
    cast and division, so the rounded u01 matches bit-for-bit), and the
    inverse-CDF transform integerizes via the single-ln micro-nat
    convention; output stays in exact micro-units so no second
    rounding exists to diverge (noisy = n*1e6 + sign * round(ln(z)*1e6)).
    The log argument is clamped at 1e-12 on both engines: a prefix that
    rounds to exactly 2^60 (p ~ 1e-16/cell) would make z = 0, where
    DuckDB's CAST(round(-inf)) raises while Spark returns Long.MIN_VALUE
    (ADVICE r10) — the clamp caps |noise| at ~27.6 units, far beyond any
    realistic draw, and changes no existing cell.
    Seeded-hash noise is how DP releases are made REPRODUCIBLE across
    pipeline re-runs; swap the key for a secret salt in production.

    Scale shape: one map-side fold to <= |lang x source| rows; the
    noise transform is a per-row projection on that bounded relation."""
    c = load_table(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    u01 = md5_long(F.concat_ws("|", "lang", "source")) / F.lit(1152921504606846976.0)
    sign = F.when(u01 < 0.5, F.lit(1)).otherwise(F.lit(-1))
    lap_micro = F.round(
        F.log(
            F.greatest(
                F.lit(1.0) - F.lit(2.0) * F.abs(u01 - F.lit(0.5)), F.lit(1e-12)
            )
        )
        * DP_SCALE_MICRO
    ).cast("long")
    return c.select(
        "lang",
        "source",
        (F.col("n") * DP_SCALE_MICRO + sign * lap_micro).alias("noisy_count_micro"),
        F.col("n").alias("true_n"),
    )


# --- length-bucketed batching (padding-efficiency planner) ------------------

BATCH_SIZE = 32


@query(
    "pipeline_length_bucket_batching",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, n_chars,
             CAST(length(bin(GREATEST(n_chars, 1))) - 1 AS BIGINT) AS bucket
      FROM documents
    ),
    g AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MAX(n_chars) AS BIGINT) AS max_len,
             CAST(SUM(n_chars) AS BIGINT) AS tot_len
      FROM b GROUP BY 1
    )
    SELECT bucket, n_docs, max_len, tot_len,
           (n_docs + {BATCH_SIZE - 1}) // {BATCH_SIZE} AS n_batches,
           ((n_docs + {BATCH_SIZE - 1}) // {BATCH_SIZE}) * {BATCH_SIZE} * max_len
             - tot_len AS padding_waste
    FROM g
    """,
    tags=("pipeline", "agg"),
)
def pipeline_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-BUCKETED batching plan: docs grouped into power-of-two
    length buckets, per bucket the {BATCH_SIZE}-doc batch count and
    the PADDING WASTE (batch slots x bucket max length minus real
    tokens) — the planner behind bucketed batching in every training /
    serving stack, where batching arbitrary lengths together pays the
    longest sequence's cost for every row (padding ~ the length
    spread; bucketing by log2 length caps within-batch spread at 2x).

    Determinism: the bucket is the integer bit length
    (length(bin(n)) - 1), never floor(log2) in floats — exact at every
    power-of-two boundary on both engines; all stats are BIGINT.

    Scale shape: one map-side fold to <= 64 buckets (log2 of any
    length fits); every output column derives from that bounded
    relation.  The plan is the SORT-FREE alternative to globally
    length-sorting the corpus (a full-shuffle order) — at 100 TB the
    bucket id is a partition column and each partition batches
    independently."""
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "n_chars",
        (F.length(F.bin(F.greatest("n_chars", F.lit(1)))) - 1)
        .cast("long")
        .alias("bucket"),
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_chars").cast("long").alias("max_len"),
        F.sum("n_chars").cast("long").alias("tot_len"),
    )
    n_batches = F.expr(f"CAST((n_docs + {BATCH_SIZE - 1}) div {BATCH_SIZE} AS BIGINT)")
    return g.select(
        "bucket",
        "n_docs",
        "max_len",
        "tot_len",
        n_batches.alias("n_batches"),
        (n_batches * BATCH_SIZE * F.col("max_len") - F.col("tot_len")).alias(
            "padding_waste"
        ),
    )
