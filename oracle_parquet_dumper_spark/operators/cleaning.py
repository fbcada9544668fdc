"""Corpus-cleaning operators: Gopher-style document quality gates,
C4-style global span-frequency dedup, and distribution-based length
trimming.

North-star extension (SURVEY.md §2 Part B training-pipeline ops).  These
are the standard pretraining-corpus cleaning passes that run BEFORE the
dedup/curation stages in operators/dedup.py:

- ``clean_gopher_quality``  — per-document quality-gate metrics in the
  style of Gopher (Rae et al. 2021, §A1.1): word count band, mean word
  length band, symbol ratio, alphabetic-word fraction, stop-word
  presence — each emitted as a column plus the combined keep flag;
- ``clean_span_freq_dedup`` — C4-style (Raffel et al. 2020 §2.2)
  corpus-global span dedup: any fixed-width token span that occurs in
  more than one document marks its documents; only 16-byte span digests
  shuffle;
- ``clean_length_band``     — trim documents outside the [5%, 95%]
  band of the corpus token-count distribution, with the thresholds
  computed IN-PLAN on the aggregated (token_count -> doc count)
  distribution, never by sorting the corpus.

All three are built-in column expressions end to end (split/filter/
md5/windows) with bit-exact DuckDB oracles.  Reference parity note:
the reference (main.py:110-127) has no cleaning surface at all — this
module is pure Part B extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import cents, cents_sql
from oracle_parquet_dumper_spark.functions.tokens import words, words_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.sources.tables import load_table

# Gopher-style gate thresholds (Rae et al. 2021 table A1, adapted to the
# fixture's word-soup scale).
MIN_WORDS = 30
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_RATIO = 0.1
MIN_ALPHA_WORD_FRAC = 0.8
STOPWORDS = ("the", "a", "of", "and", "to", "in")

SPAN_TOKENS = 8  # C4 span width (non-overlapping, stride == width)

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


@query(
    "clean_gopher_quality",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS lt, {words_sql()} AS toks
      FROM documents WHERE length(text) > 0
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             round(length(array_to_string(toks, '')) * 1.0 / len(toks), 6) AS mean_word_len,
             round(length(regexp_replace(lt, '[a-z0-9 ]', '', 'g')) * 1.0 / length(lt), 6)
               AS symbol_ratio,
             round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) * 1.0 / len(toks), 6)
               AS alpha_word_frac,
             list_has_any(toks, {_STOP_SQL}) AS has_stopword
      FROM d
    )
    SELECT *,
           (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
            AND mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
            AND symbol_ratio < {MAX_SYMBOL_RATIO}
            AND alpha_word_frac > {MIN_ALPHA_WORD_FRAC}
            AND has_stopword) AS keep
    FROM m
    """,
    tags=("text", "pipeline", "quality", "clean"),
)
def clean_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021 §A1.1): each
    metric is one pass over the row's own text — no joins, no shuffle at
    all; the filter runs at scan speed however wide the corpus is.
    Ratios are integer-counter quotients rounded to 6 places (the
    bit-exactness convention); the keep flag ANDs the gates."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    base = d.select("doc_id", F.lower("text").alias("lt"), words().alias("toks"))
    n_words = F.size("toks").cast("long")
    mean_word_len = F.round(
        F.length(F.concat_ws("", F.col("toks"))) * F.lit(1.0) / F.size("toks"), 6
    )
    symbol_ratio = F.round(
        F.length(F.regexp_replace("lt", "[a-z0-9 ]", "")) * F.lit(1.0) / F.length("lt"), 6
    )
    alpha_word_frac = F.round(
        F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-z]"))) * F.lit(1.0)
        / F.size("toks"),
        6,
    )
    has_stopword = F.arrays_overlap("toks", F.array(*[F.lit(s) for s in STOPWORDS]))
    m = base.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_word_frac.alias("alpha_word_frac"),
        has_stopword.alias("has_stopword"),
    )
    keep = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_word_len").between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (F.col("symbol_ratio") < MAX_SYMBOL_RATIO)
        & (F.col("alpha_word_frac") > MIN_ALPHA_WORD_FRAC)
        & F.col("has_stopword")
    )
    return m.withColumn("keep", keep)


@query(
    "clean_span_freq_dedup",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, {words_sql()} AS toks
      FROM documents WHERE length(text) > 0
    ),
    spans AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, i, i + {SPAN_TOKENS} - 1), ' ')) AS g
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - {SPAN_TOKENS} + 1, {SPAN_TOKENS})) AS i
            FROM docs WHERE len(toks) >= {SPAN_TOKENS})
    ),
    freq AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY g),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_spans,
             COUNT(*) FILTER (f.nd >= 2) AS n_shared_spans
      FROM spans s JOIN freq f ON s.g = f.g
      GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_shared_spans AS BIGINT) AS n_shared_spans,
           (n_shared_spans = 0) AS keep
    FROM per_doc
    """,
    tags=("dedup", "pipeline", "clean"),
)
def clean_span_freq_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup (Raffel et al. 2020 §2.2: drop any
    span occurring more than once in the corpus — here flag the
    documents that contain one).  Non-overlapping {SPAN_TOKENS}-token
    spans, digested to md5.

    Scale shape: only (doc_id, 16-byte digest) rows shuffle, ONCE (by
    digest).  Span doc-frequency is a window over the digest — not a
    self-join with an aggregate, which would scan/tokenize/explode the
    corpus twice (verified on the physical plan).  Per-digest groups are
    tiny (dup count), so the window state is bounded.  Nothing is ever
    pairwise — cost is O(corpus tokens), the same shape C4 ran over
    750 GB."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    base = (
        d.select("doc_id", words().alias("toks"))
        .withColumn("n", F.size("toks"))
        .where(F.col("n") >= SPAN_TOKENS)
    )
    spans = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.col("n") - (SPAN_TOKENS - 1), F.lit(SPAN_TOKENS))
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("i"), F.lit(SPAN_TOKENS))).cast("binary")
        ).alias("g"),
    )
    w_g = W.partitionBy("g")
    flagged = spans.withColumn("nd", F.size(F.collect_set("doc_id").over(w_g)))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_shared_spans"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_shared_spans").cast("long").alias("n_shared_spans"),
            (F.col("n_shared_spans") == 0).alias("keep"),
        )
    )


@query(
    "clean_length_band",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({words_sql()}) AS n_tok
      FROM documents WHERE length(text) > 0
    ),
    dist AS (SELECT n_tok, COUNT(*) AS cnt FROM d GROUP BY n_tok),
    c AS (
      SELECT n_tok,
             SUM(cnt) OVER (ORDER BY n_tok
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS total
      FROM dist
    ),
    b AS (
      SELECT min(n_tok) FILTER (20 * cum >= total) AS lo,
             min(n_tok) FILTER (20 * cum >= 19 * total) AS hi
      FROM c
    )
    SELECT d.doc_id, CAST(d.n_tok AS BIGINT) AS n_tok
    FROM d, b
    WHERE d.n_tok BETWEEN b.lo AND b.hi
    """,
    tags=("text", "pipeline", "clean"),
)
def clean_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution trimming: keep documents whose token count
    lies within the [5%, 95%] band of the corpus distribution.

    Scale shape: the percentile thresholds come from the AGGREGATED
    (n_tok -> doc count) distribution — hundreds of rows however big
    the corpus — so the only single-partition window runs on that tiny
    relation, and the thresholds broadcast back as a 1-row cross join.
    Never sorts or windows the corpus itself.  Threshold comparisons
    are pure integer arithmetic (20*cum >= total), so the band is
    bit-exact across engines with no float quantile semantics."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select("doc_id", F.size(words()).alias("n_tok"))
    )
    dist = d.groupBy("n_tok").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = W.orderBy("n_tok").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    c = dist.select(
        "n_tok",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    b = c.agg(
        F.min(F.when(20 * F.col("cum") >= F.col("total"), F.col("n_tok"))).alias("lo"),
        F.min(F.when(20 * F.col("cum") >= 19 * F.col("total"), F.col("n_tok"))).alias("hi"),
    )
    return (
        d.join(F.broadcast(b))
        .where(F.col("n_tok").between(F.col("lo"), F.col("hi")))
        .select("doc_id", F.col("n_tok").cast("long").alias("n_tok"))
    )


@query(
    "pipeline_quality_funnel",
    oracle=f"""
    WITH d AS (SELECT doc_id, text FROM documents),
    ne AS (SELECT doc_id, text FROM d WHERE length(text) > 0),
    m AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text, lower(text) AS lt, {words_sql()} AS toks FROM ne
      )
      WHERE len(toks) BETWEEN {MIN_WORDS} AND {MAX_WORDS}
        AND round(length(array_to_string(toks, '')) * 1.0 / len(toks), 6)
            BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
        AND round(length(regexp_replace(lt, '[a-z0-9 ]', '', 'g')) * 1.0 / length(lt), 6)
            < {MAX_SYMBOL_RATIO}
        AND round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) * 1.0 / len(toks), 6)
            > {MIN_ALPHA_WORD_FRAC}
        AND list_has_any(toks, {_STOP_SQL})
    ),
    dd AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM m
      ) WHERE doc_id = keeper
    )
    SELECT 0 AS stage_idx, 'total' AS stage, (SELECT COUNT(*) FROM d) AS n_surviving
    UNION ALL SELECT 1, 'nonempty', (SELECT COUNT(*) FROM ne)
    UNION ALL SELECT 2, 'gopher_quality', (SELECT COUNT(*) FROM m)
    UNION ALL SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM dd)
    """,
    tags=("pipeline", "clean", "agg"),
)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel report: documents surviving each cleaning stage
    in sequence (total → nonempty → Gopher gates → exact dedup among
    survivors) — the per-stage attrition table every pipeline run logs
    (the operational twin of pipeline_dataset_card: the card describes
    the corpus, the funnel explains where it went).

    Stage predicates are the IDENTICAL expressions of
    clean_gopher_quality and dedup_exact (same rounding, same digest
    convention), so the funnel can never drift from the gates it
    reports on.  Each stage count is an independent aggregate over a
    shared scan lineage; the dedup stage shuffles digests only.  The
    4-row result assembles via union of 1-row aggregates."""
    d = load_table(spark, sf_dir, "documents")
    ne = d.where(F.length("text") > 0)
    base = ne.select("doc_id", "text", F.lower("text").alias("lt"), words().alias("toks"))
    keep = (
        F.size("toks").cast("long").between(MIN_WORDS, MAX_WORDS)
        & F.round(
            F.length(F.concat_ws("", F.col("toks"))) * F.lit(1.0) / F.size("toks"), 6
        ).between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (
            F.round(
                F.length(F.regexp_replace("lt", "[a-z0-9 ]", "")) * F.lit(1.0)
                / F.length("lt"),
                6,
            )
            < MAX_SYMBOL_RATIO
        )
        & (
            F.round(
                F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-z]")))
                * F.lit(1.0)
                / F.size("toks"),
                6,
            )
            > MIN_ALPHA_WORD_FRAC
        )
        & F.arrays_overlap("toks", F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    m = base.where(keep).select("doc_id", "text")
    keepers = m.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )

    def one(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_surviving"),
        )

    return (
        one(0, "total", d)
        .unionAll(one(1, "nonempty", ne))
        .unionAll(one(2, "gopher_quality", m))
        .unionAll(one(3, "exact_dedup", keepers))
    )


@query(
    "clean_target_encode_loo",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             {cents_sql('o_totalprice')} AS c
      FROM orders
    ),
    g AS (
      SELECT o_orderpriority, SUM(c) AS s, COUNT(*) AS n
      FROM o GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(g.n AS BIGINT) AS n_cat,
           CAST(CASE WHEN g.n > 1
                     THEN (1000 * (g.s - o.c)) // (g.n - 1) END AS BIGINT)
             AS loo_milli
    FROM o JOIN g USING (o_orderpriority)
    """,
    tags=("clean", "agg", "feature"),
)
def clean_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: replace the categorical
    o_orderpriority with the mean o_totalprice of the OTHER orders in
    the same category — the standard leakage-free categorical feature
    for tree/linear models ((sum - self) / (n - 1), NULL for singleton
    categories).  All-integer: cents in, milli-cents out via integer
    division, so both engines agree bit-for-bit.

    Scale shape: per-category sums are one map-side-partial groupBy to
    a #categories-row relation, broadcast back — NO window partitioned
    by the (low-cardinality, therefore skew-prone) category column, so
    no reducer ever sees a whole category's rows."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("c"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return o.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("n").cast("long").alias("n_cat"),
        F.when(
            F.col("n") > 1,
            F.expr("(1000 * (s - c)) div (n - 1)"),
        )
        .cast("long")
        .alias("loo_milli"),
    )


@query(
    "clean_winsorize_scale",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             {cents_sql('o_totalprice')} AS c
      FROM orders
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) - 1 AS i,
             COUNT(*) OVER () AS n
      FROM o
    ),
    b AS (
      SELECT MAX(CASE WHEN i = CAST(floor((n - 1) / 100.0) AS BIGINT)
                      THEN c END) AS lo,
             MAX(CASE WHEN i = CAST(floor(((n - 1) * 99) / 100.0) AS BIGINT)
                      THEN c END) AS hi
      FROM r
    ),
    w AS (
      SELECT o_orderkey, o_orderpriority, LEAST(GREATEST(c, lo), hi) AS wz
      FROM o, b
    ),
    s AS (
      SELECT o_orderpriority, MIN(wz) AS mn, MAX(wz) AS mx
      FROM w GROUP BY o_orderpriority
    )
    SELECT w.o_orderkey, w.o_orderpriority, CAST(wz AS BIGINT) AS w_cents,
           CAST(CASE WHEN mx > mn THEN (1000 * (wz - mn)) // (mx - mn) END
                AS BIGINT) AS scaled_milli
    FROM w JOIN s USING (o_orderpriority)
    """,
    tags=("clean", "window", "feature", "skew-source"),
)
def clean_winsorize_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize + per-group min-max scale: clip o_totalprice at the
    EXACT global p1/p99 order statistics (outlier-robust), then scale
    to [0, 1000] within each o_orderpriority group — the standard
    robust feature-scaling pass before model training.  All-integer
    (cents clipped, milli-scaled by integer division).

    Scale shape: the p1/p99 order statistics come from the distributed
    global index with the QUANTILE bucketer (monetary amounts are
    heavy-tailed — the skew-source contract from plans/audit.py), fold
    to a 1-row broadcast; the per-group min/max is a map-side-partial
    groupBy broadcast back.  No window ever touches data rows."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("c"),
    )
    idx = with_global_index(o, "c", ["o_orderkey"], bucketer="quantile")

    def at(pct: int):
        k = F.floor(((F.col("_gn") - 1) * pct) / 100.0).cast("long")
        return F.max(F.when(F.col("_gidx") == k, F.col("c"))).cast("long")

    bounds = idx.agg(at(1).alias("lo"), at(99).alias("hi"))
    w = o.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "o_orderpriority",
        F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi")).alias("wz"),
    )
    s = w.groupBy("o_orderpriority").agg(
        F.min("wz").alias("mn"), F.max("wz").alias("mx")
    )
    return w.join(F.broadcast(s), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("wz").cast("long").alias("w_cents"),
        F.when(F.col("mx") > F.col("mn"), F.expr("(1000 * (wz - mn)) div (mx - mn)"))
        .cast("long")
        .alias("scaled_milli"),
    )


# --- missing-value imputation (round 13) -----------------------------------


@query(
    "clean_impute_group_median",
    oracle=f"""
    WITH m AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE {cents_sql('o_totalprice')} END AS c
      FROM orders
    ),
    med AS (
      SELECT o_orderstatus, CAST(quantile_disc(c, 0.5) AS BIGINT) AS med_cents
      FROM m WHERE c IS NOT NULL GROUP BY o_orderstatus
    )
    SELECT m.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN m.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
           CAST(MAX(med.med_cents) AS BIGINT) AS med_cents,
           CAST(SUM(COALESCE(m.c, med.med_cents)) AS BIGINT) AS total_cents
    FROM m JOIN med USING (o_orderstatus)
    GROUP BY m.o_orderstatus
    """,
    tags=("clean", "agg", "null"),
)
def clean_impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT-median imputation of missing values (nulls
    planted on o_orderkey % 7 — the profile_missingness convention) —
    the standard tabular-feature repair pass before training.

    The median is percentile_disc(0.5) semantics computed the
    scale-safe way: value-domain rollup (one row per distinct cents per
    group — a map-side partial) into global_index.weighted_quantiles,
    never Spark's exact-percentile buffer aggregate (banned by the plan
    audit: per-group state would be every value in one task).  The
    imputed relation is then a broadcast join of the 3-row median table
    back onto the masked scan — no second pass over the data.  Output
    is the per-group audit row: row count, imputed count, the median
    used, and the post-imputation checksum, all exact integers."""
    from oracle_parquet_dumper_spark.operators.global_index import weighted_quantiles

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            cents("o_totalprice")
        ).alias("c"),
    )
    vc = (
        o.where(F.col("c").isNotNull())
        .groupBy("o_orderstatus", "c")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    med = weighted_quantiles(
        vc, "c", "w", group_cols=["o_orderstatus"], disc={"med_cents": 0.5}
    ).select("o_orderstatus", F.col("med_cents").cast("long").alias("med_cents"))
    return (
        o.join(F.broadcast(med), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_imputed"),
            F.max("med_cents").cast("long").alias("med_cents"),
            F.sum(F.coalesce(F.col("c"), F.col("med_cents")))
            .cast("long")
            .alias("total_cents"),
        )
    )


@query(
    "clean_impute_locf",
    oracle=f"""
    WITH m AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE {cents_sql('value')} END AS v
      FROM events
    ),
    f AS (
      SELECT event_type, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM m
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN v IS NULL AND filled IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unfillable,
           CAST(SUM(COALESCE(filled, 0)) AS BIGINT) AS filled_cents_sum
    FROM f GROUP BY event_type
    """,
    tags=("clean", "window", "null", "timeseries"),
)
def clean_impute_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation per user (nulls
    planted on event_id % 5): the standard time-series gap repair —
    each missing reading takes the user's most recent non-null value in
    (ts, event_id) order; a user's leading nulls stay null (no value to
    carry) and are reported as n_unfillable.

    Spark's ``last(..., ignorenulls=True)`` over a running frame IS the
    LOCF operator; the window partitions on user_id — a DATA-sized key,
    so parallelism scales with users (the bounded-partition audit rule
    does not fire; this is the tie-group shape it allowlists).  Output
    aggregates to the per-type audit row: masked count, unfillable
    count, and the post-fill integer checksum."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(cents("value")).alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    f = ev.select(
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("filled"),
    )
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("long").alias("n_masked"),
        F.sum(
            F.when(F.col("v").isNull() & F.col("filled").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_unfillable"),
        F.sum(F.coalesce(F.col("filled"), F.lit(0))).cast("long").alias("filled_cents_sum"),
    )
