"""Text-analysis operators over the ``documents`` table: statistics,
token counting, language ID, quality scoring, fingerprinting, TF-IDF.

North-star extension (SURVEY.md §2 Part B "Text analysis") — absent from
the reference, required for a 100 TB training-data pipeline.  Everything
is built-in column expressions (split/regexp/aggregate) so the hot path
stays in whole-stage codegen; there is no Python in any per-row loop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import (
    comoment,
    comoment_sql,
    exact_dot,
    exact_dot_sql,
    exact_sum,
    exact_sum_sql,
    hugeint_sql,
    int128_sql,
)
from oracle_parquet_dumper_spark.functions.tokens import words, words_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str):
    """documents scan with adaptive parallelism restore (r14): every
    operator in this module does heavy per-row string work (tokenize,
    regex, n-gram build) and the single-row-group fixture scan plans ONE
    task however many cores exist (guide §2.5 input skew).  split_scan
    inserts one round-robin exchange of the (tiny) document rows when
    the scan under-splits and is a no-op on real multi-split tables."""
    from oracle_parquet_dumper_spark.sources.tables import split_scan

    return split_scan(load_table(spark, sf_dir, "documents"), cpu_weight=32)

# BPE-ish word/number/punct tokenizer (shared by Spark + DuckDB sides).
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id, lang,
           length(text) AS n_chars_actual,
           CAST(len({words_sql(lower=False)}) AS BIGINT) AS n_words,
           CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS BIGINT) AS n_punct,
           round(length(text) / nullif(len({words_sql(lower=False)}), 0), 6) AS chars_per_word
    FROM documents
    """,
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics (char/word/punct counts)."""
    d = _docs(spark, sf_dir)
    n_words = F.size(words(lower=False)).cast("long")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_words.alias("n_words"),
        F.length(F.regexp_replace("text", "[^.!?,;]", "")).cast("long").alias("n_punct"),
        F.round(F.length("text") / F.nullif(n_words, F.lit(0)), 6).alias("chars_per_word"),
    )


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({words_sql(lower=False)}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
    tags=("text", "tokenize"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (letters / digits / single punctuation) — the standard cheap
    token-budget estimators for LLM data curation."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(words(lower=False)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).cast("long").alias("bpe_ish_tokens"),
    )


@query(
    "text_lang_dist",
    oracle="""
    SELECT lang, COUNT(*) AS n,
           round(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "agg"),
)
def text_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language distribution with share-of-total (window over the
    aggregate output — #langs rows, so the unpartitioned window is free)."""
    d = _docs(spark, sf_dir)
    agg = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    return agg.select(
        "lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(W.partitionBy()).cast("double"), 6).alias("share"),
    )


# Marker stopwords per language for the n-gram-heuristic language ID.
_LANG_MARKERS = {
    "en": r"\b(the|a|of)\b",
    "tech": r"\b(spark|data|query|table)\b",
}


@query(
    "text_langid_heuristic",
    oracle=rf"""
    SELECT doc_id,
           CASE
             WHEN len(regexp_extract_all(lower(text), '{_LANG_MARKERS["tech"]}'))
                  > len(regexp_extract_all(lower(text), '{_LANG_MARKERS["en"]}')) THEN 'tech'
             WHEN len(regexp_extract_all(lower(text), '{_LANG_MARKERS["en"]}')) > 0 THEN 'en'
             ELSE 'und'
           END AS lang_pred
    FROM documents
    """,
    tags=("text", "langid"),
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language/domain ID (argmax of marker-class hit
    counts) — the classic cheap n-gram language-ID shape: count class
    markers, pick the dominant class, 'und' when nothing fires."""
    d = _docs(spark, sf_dir)
    low = F.lower("text")
    tech = F.size(F.regexp_extract_all(low, F.lit(_LANG_MARKERS["tech"])))
    en = F.size(F.regexp_extract_all(low, F.lit(_LANG_MARKERS["en"])))
    return d.select(
        "doc_id",
        F.when(tech > en, "tech").when(en > 0, "en").otherwise("und").alias("lang_pred"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len({words_sql(lower=False)}) AS DOUBLE) AS w,
             CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to)\\b')) AS DOUBLE) AS stop_hits,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) AS punct,
             CAST(length(text) AS DOUBLE) AS c
      FROM documents
    )
    SELECT doc_id,
           round(  0.4 * least(w / 100.0, 1.0)
                 + 0.3 * (1.0 - least(punct / nullif(c, 0.0), 1.0))
                 + 0.3 * least(3.0 * stop_hits / nullif(w, 0.0), 1.0), 6) AS quality
    FROM m
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length band + punctuation ratio +
    stopword density — the Gopher/C4-style heuristic filter family,
    expressed as one pass of column arithmetic."""
    d = _docs(spark, sf_dir)
    w = F.size(words(lower=False)).cast("double")
    stop_hits = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"\b(the|a|of|and|to)\b"))
    ).cast("double")
    punct = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast("double")
    c = F.length("text").cast("double")
    quality = F.round(
        0.4 * F.least(w / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct / F.nullif(c, F.lit(0.0)), F.lit(1.0)))
        + 0.3 * F.least(3.0 * stop_hits / F.nullif(w, F.lit(0.0)), F.lit(1.0)),
        6,
    )
    return d.select("doc_id", quality.alias("quality"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0
                ELSE list_reduce(
                       list_prepend(0::BIGINT,
                         list_transform(string_split(lower(text), ''),
                                        c -> CASE WHEN length(c) = 0 THEN 0::BIGINT ELSE unicode(c)::BIGINT END)),
                       (acc, x) -> (acc * 31 + x) % 1000000007)
           END AS fingerprint
    FROM documents
    """,
    tags=("text", "hash"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (base 31, mod 1e9+7):
    order-sensitive, so permuted texts get different prints, unlike a
    bag-of-words hash.  Left fold keeps intermediates < 2^63 in both
    engines."""
    d = _docs(spark, sf_dir)
    codes = F.transform(
        F.split(F.lower("text"), ""),
        lambda ch: F.when(F.length(ch) == 0, F.lit(0)).otherwise(F.ascii(ch)).cast("long"),
    )
    fp = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % 1000000007
    )
    return d.select(
        "doc_id",
        F.when(F.length("text") == 0, F.lit(0).cast("long")).otherwise(fp).alias("fingerprint"),
    )


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0 AND length(text) > 0),
    tok AS (
      SELECT doc_id, unnest({words_sql(lower=False)}) AS token
      FROM docs
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM docs),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rn FROM (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    tags=("text", "tfidf"),
    bench=True,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual TF-IDF (smoothed idf) + top-3 terms per document.  One
    explode + two hash aggregations + a broadcast of the tiny df/N sides;
    at 100 TB the token explode dominates and partial aggregation keeps
    the shuffle bounded by vocabulary, not corpus, size."""
    d = _docs(spark, sf_dir)
    docs = d.where((F.col("doc_id") % 20 == 0) & (F.length("text") > 0)).select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(words(lower=False)).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size stays IN-PLAN (broadcast 1-row aggregate) — a driver
    # .count() here would run an extra job per query build
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        # df is VOCAB-SIZED (grows with the corpus) — no forced
        # broadcast; AQE size-gates it (broadcasts at small corpora,
        # shuffles the token-keyed join at 100 TB vocab).
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rn").cast("long").alias("rn"))
    )


STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


@query(
    "text_stopword_removal",
    oracle=f"""
    SELECT doc_id,
           CAST(len({words_sql()}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({words_sql()},
                                t -> NOT list_contains({list(STOPWORDS)!r}, t))) AS BIGINT) AS n_content_tokens,
           array_to_string(list_filter({words_sql()},
                                t -> NOT list_contains({list(STOPWORDS)!r}, t))[1:5], ' ') AS first_content
    FROM documents
    WHERE doc_id % 20 = 0
    """,
    tags=("text", "tokenize"),
)
def text_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-word removal (SURVEY.md §2 text-analysis row): token counts
    before/after filtering a stop list, plus the first content tokens —
    all array expressions, stop list inlined as a literal array (at
    scale: broadcast a stopword table and use array_except)."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") % 20 == 0)
    toks = words()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    content = F.filter(toks, lambda t: ~F.array_contains(stop_arr, t))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(content).cast("long").alias("n_content_tokens"),
        F.concat_ws(" ", F.slice(content, 1, 5)).alias("first_content"),
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents WHERE doc_id % 7 = 0
    ),
    b AS (
      SELECT doc_id, word,
             lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM w
    ),
    bc AS (
      SELECT doc_id, word, nxt, COUNT(*) AS c
      FROM b WHERE nxt IS NOT NULL GROUP BY doc_id, word, nxt
    ),
    pb AS (
      SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n
      FROM bc GROUP BY doc_id
    ),
    ws AS (
      SELECT doc_id, COUNT(*) AS n_words, COUNT(DISTINCT word) AS n_distinct
      FROM w GROUP BY doc_id
    )
    SELECT pb.doc_id,
           round(CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS top_bigram_frac,
           round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS dup_word_frac
    FROM pb JOIN ws ON pb.doc_id = ws.doc_id
    """,
    tags=("text", "quality"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics (Rae et al. 2021 §A1.1):
    the fraction of bigram occurrences taken by the single most frequent
    bigram, and the duplicate-word fraction (1 - distinct/total).  High
    values flag boilerplate / degenerate documents for the curation gate.

    Plan: one posexplode of the token array, bigrams via window ``lead``
    (tokenization runs once per document — see minhash_signatures_df for
    why array-lambda formulations re-tokenize per n-gram), then two
    aggregates sharing the doc_id partitioning.  Scale cost: one shuffle
    on doc_id; no all-pairs or driver-side work."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    w = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
    win = W.partitionBy("doc_id").orderBy("pos")
    bigrams = w.withColumn("nxt", F.lead("word").over(win)).where(F.col("nxt").isNotNull())
    bc = bigrams.groupBy("doc_id", "word", "nxt").agg(F.count(F.lit(1)).alias("c"))
    pb = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n")
    )
    ws = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"), F.countDistinct("word").alias("n_distinct")
    )
    return pb.join(ws, "doc_id").select(
        "doc_id",
        F.round(
            F.col("top_bigram_n").cast("double") / F.col("n_bigrams").cast("double"), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words").cast("double"), 6
        ).alias("dup_word_frac"),
    )


@query(
    "text_bigram_topk",
    oracle=f"""
    WITH words AS (
      SELECT lang,
             {words_sql()} AS w
      FROM documents
    ), bigrams AS (
      SELECT lang,
             unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM words
    )
    SELECT lang, bigram, n, rn
    FROM (
      SELECT lang, bigram, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, bigram) AS rn
      FROM bigrams
      GROUP BY lang, bigram
    )
    WHERE rn <= 5
    """,
    tags=("text", "ngram"),
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 bigrams per language — corpus n-gram statistics for
    contamination screens and boilerplate detection.  Bigrams are built
    with one zip_with over two slices of the token array (a single
    interpreted-HOF pass; no per-shingle recomputation), then the count
    aggregate map-side combines before any ranking sees the
    (lang, bigram) grain.

    Scale shape (round-13 rewrite): the rank comes from grouped_topk's
    two-phase form — hash-bucketed pre-top-5 (parallelism = |langs| x
    32 buckets, and the bigram-hash bucketing spreads the huge n=1 tie
    mass uniformly) followed by a bounded merge over ≤ 160 survivors
    per lang — NOT the pre-rewrite window partitioned only by the
    5-value lang domain, which sorted the whole vocabulary at
    parallelism 5 (measured 0.80 s → 4.08 s sf0.1→sf1)."""
    from oracle_parquet_dumper_spark.operators.global_index import grouped_topk

    d = _docs(spark, sf_dir)
    w = words()
    n1 = F.greatest(F.size(w) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(w, 1, n1), F.slice(w, 2, n1), lambda a, b: F.concat(a, F.lit(" "), b)
    )
    counts = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_negn", -F.col("n"))
    )
    top = grouped_topk(counts, ["lang"], ["_negn", "bigram"], 5, rank_col="rn")
    return top.select("lang", "bigram", "n", F.col("rn").cast("int").alias("rn"))


VOCAB_TOPK = 20


@query(
    "text_perplexity_unigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({words_sql()}) AS token
      FROM documents WHERE length(text) > 0
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM toks),
    scored AS (
      SELECT tf.doc_id, tf.tf,
             CAST(round(-ln(v.cnt * 1.0 / tot.total) * 1000000) AS BIGINT) AS nll_u
      FROM tf JOIN vocab v USING (token) CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, SUM(tf) AS t, SUM(tf * nll_u) AS s FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(t AS BIGINT) AS n_tok,
           ((2 * s + t) // (2 * t)) / 1000000.0 AS avg_nll,
           round(exp(((2 * s + t) // (2 * t)) / 1000000.0), 4) AS ppl
    FROM agg
    """,
    tags=("text", "quality", "lm"),
)
def text_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document, with the LM trained on the
    corpus itself IN the same plan — the classic cheap quality signal
    (high perplexity = gibberish / rare-token soup).

    Scale shape: tokens collapse to (doc, token, tf) BEFORE the
    vocabulary join, so a Zipf-hot token costs one row per *document*
    it appears in, not one per occurrence — that plus map-side combine
    bounds the join's skew; the corpus total rides along as a broadcast
    1-row aggregate (same pattern as TF-IDF's corpus size).  Token
    negative-log-likelihoods are rounded then summed as DECIMAL so the
    per-doc result is partition-order independent (bit-exact vs
    DuckDB)."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    toks = d.select("doc_id", F.explode(words()).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("total"))
    # Token NLL in integer MICRO-NATS, and the per-doc mean as exact
    # integer round-half-up division: round(sum/count, 6) on a double
    # quotient landed exactly on a 6th-decimal half boundary for one doc
    # at sf1 and the engines tie-broke differently (Spark rounds the
    # shortest repr, DuckDB the binary value).  With (2s+t) div (2t)
    # there is no float rounding anywhere — the only double op left is
    # the exact small-integer /1e6 at the end.
    nll_u = F.round(-F.log(F.col("cnt") * F.lit(1.0) / F.col("total")) * 1000000).cast(
        "long"
    )
    scored = tf.join(vocab, "token").join(F.broadcast(tot)).select(
        "doc_id", "tf", nll_u.alias("nll_u")
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("t"), F.sum(F.col("tf") * F.col("nll_u")).alias("s")
    )
    avg_u = F.expr("(2 * s + t) div (2 * t)")
    return agg.select(
        "doc_id",
        F.col("t").cast("long").alias("n_tok"),
        (avg_u / 1000000.0).alias("avg_nll"),
        F.round(F.exp(avg_u / 1000000.0), 4).alias("ppl"),
    )


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({words_sql()}) AS token
      FROM documents WHERE length(text) > 0
    ),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    ranked AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, token
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS total
      FROM vocab
    )
    SELECT CAST(rank AS BIGINT) AS rank, token, CAST(cnt AS BIGINT) AS cnt,
           round(cum * 1.0 / total, 6) AS cum_coverage
    FROM ranked WHERE rank <= {VOCAB_TOPK}
    """,
    tags=("text", "tokenize", "agg"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_TOPK} vocabulary coverage: which tokens a tokenizer
    must know to cover what share of the corpus (the first question of
    vocabulary design).  The corpus is touched once by the
    explode+combine count; rank AND running coverage over the vocabulary
    then come from ONE distributed global index with a weighted running
    sum (two-pass bucket-offset pattern, operators/global_index.py) —
    the vocabulary is sublinear in corpus size but still unbounded
    (Heaps' law puts whitespace vocab in the 10^8 range at 100 TB), so
    no single-partition window may touch it either."""
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    vocab = (
        d.select(F.explode(words()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    idx = with_global_index(
        vocab.withColumn("v", -F.col("cnt")),
        "v",
        ["token"],
        weight_col="cnt",
    )
    return (
        idx.select(
            (F.col("_gidx") + 1).cast("long").alias("rank"),
            "token",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("_gcum") * F.lit(1.0) / F.col("_gwtot"), 6).alias(
                "cum_coverage"
            ),
        )
        .where(F.col("rank") <= VOCAB_TOPK)
    )



PMI_MIN_PAIR_COUNT = 5
PMI_TOP_K = 20


@query(
    "text_collocations_pmi",
    oracle=f"""
    WITH words AS (
      SELECT {words_sql()} AS w
      FROM documents
    ),
    toks AS (SELECT unnest(w) AS token FROM words),
    uni AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    n_tok AS (SELECT COUNT(*) AS n FROM toks),
    bigrams AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
      FROM words
    ),
    bi AS (
      SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS c_ab
      FROM bigrams GROUP BY bg[1], bg[2]
    ),
    n_bi AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS b FROM bi),
    scored AS (
      SELECT w1, w2, c_ab,
             CAST(round(ln((CAST(c_ab AS DOUBLE) * n * n) /
                           (CAST(b AS DOUBLE) * ua.c * ub.c)) * 1000000) AS BIGINT)
               AS pmi_micro
      FROM bi
      JOIN uni ua ON ua.token = w1
      JOIN uni ub ON ub.token = w2
      CROSS JOIN n_tok CROSS JOIN n_bi
      WHERE c_ab >= {PMI_MIN_PAIR_COUNT}
    )
    SELECT w1, w2, c_ab, pmi_micro
    FROM scored
    ORDER BY pmi_micro DESC, w1, w2
    LIMIT {PMI_TOP_K}
    """,
    tags=("text", "ngram"),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: top-{PMI_TOP_K}
    bigrams by PMI(a,b) = ln(p(ab) / (p(a) p(b))) among pairs seen at
    least {PMI_MIN_PAIR_COUNT} times — the classic phrase detector for
    tokenizer vocab prep and boilerplate discovery.

    Determinism: PMI is integerized to micro-nats with the single-ln
    expression shape mirrored between engines (the
    text_perplexity_unigram convention); corpus totals are in-plan
    broadcast 1-row aggregates.  Scale shape: token and bigram counts
    partial-aggregate map-side; the unigram joins key on the bounded
    vocabulary (not the corpus); top-k is a
    TakeOrderedAndProject heap, not a global sort."""
    d = _docs(spark, sf_dir)
    w = words()
    docs = d.select(w.alias("w"))
    toks = docs.select(F.explode("w").alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n_tok = toks.agg(F.count(F.lit(1)).alias("n"))
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, n1), F.slice("w", 2, n1), lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    n_bi = bi.agg(F.sum("c_ab").cast("long").alias("b"))
    ua = uni.select(F.col("token").alias("w1"), F.col("c").alias("ca"))
    ub = uni.select(F.col("token").alias("w2"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("n") * F.col("n"))
            / (F.col("b").cast("double") * F.col("ca") * F.col("cb"))
        )
        * 1000000
    ).cast("long")
    return (
        bi.where(F.col("c_ab") >= PMI_MIN_PAIR_COUNT)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bi))
        .select("w1", "w2", "c_ab", pmi.alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({words_sql()}) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS f FROM toks GROUP BY token),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r FROM freq
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM ranked
    ),
    m AS (
      SELECT COUNT(*) AS n,
             {exact_sum_sql('x')} AS sx, {exact_sum_sql('y')} AS sy,
             {exact_dot_sql('x', 'y')} AS sxy,
             {exact_dot_sql('x', 'x')} AS sxx
      FROM pts
    )
    SELECT n AS vocab_size,
           CAST({hugeint_sql(comoment_sql('n', 'sxy', 'sx', 'sy'))} * 1000000
                // {hugeint_sql(comoment_sql('n', 'sxx', 'sx'))} AS BIGINT)
             AS zipf_slope_micro
    FROM m
    """,
    tags=("text", "stats"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: least-squares slope of
    ln(frequency) against ln(rank) over the full vocabulary — natural
    text sits near -1; strong deviation flags boilerplate floods or
    synthetic/templated corpora before they poison a training mix.

    Determinism: each ln integerizes to micro-nats per (rank, freq)
    point BEFORE any sum (the perplexity convention), the regression
    moments accumulate exactly (``exact_dot``: x*y products overflow
    BIGINT at large vocabularies), and the slope is one integer
    floor division — made exact on the Spark side by subtracting the
    modulo first (the profile_gini_concentration trick).  Scale shape:
    token counts partial-aggregate; the rank window runs over the
    VOCABULARY (sublinear in corpus size); output is a single row."""
    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(words()).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("f"))
    # rank via the distributed global index (two-pass bucket offsets,
    # operators/global_index.py) — the vocabulary is sublinear in corpus
    # size but unbounded, so no single-partition row_number over it.
    from oracle_parquet_dumper_spark.operators.global_index import with_global_index

    ranked = with_global_index(
        freq.withColumn("nf", -F.col("f")), "nf", ["token"]
    ).select("f", (F.col("_gidx") + 1).alias("r"))
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 1000000).cast("long").alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1000000).cast("long").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("x").alias("sx"),
        exact_sum("y").alias("sy"),
        exact_dot("x", "y").alias("sxy"),
        exact_dot("x", "x").alias("sxx"),
    )
    num = comoment("n", "sxy", "sx", "sy") * 1000000
    den = comoment("n", "sxx", "sx")
    # num is negative (slope < 0); measured: DuckDB's integer // rounds
    # toward ZERO here, and Spark's % is the truncated modulo (sign of
    # the dividend), so (num - num % den) / den is the matching
    # toward-zero division — exactly divisible, hence no decimal
    # rounding to diverge.
    mod = num % den
    return m.select(
        F.col("n").alias("vocab_size"),
        ((num - mod) / den).cast("long").alias("zipf_slope_micro"),
    )


@query(
    "text_source_vocab_overlap",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, t FROM (
        SELECT source,
               unnest({words_sql()}) AS t
        FROM documents
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, CAST(i.n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST((1000000 * i.n_common) // (sa.n + sb.n - i.n_common) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    tags=("text", "agg", "stats"),
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between source domains: exact token-set
    Jaccard per source pair — the distribution-shift diagnostic run
    before mixing domains (a pair with tiny overlap needs its own
    in-domain eval set; pipeline_domain_mixture decides the weights).

    Scale shape: the corpus reduces to DISTINCT (source, token) rows
    first (partial-agg bounded by |sources| x |vocab|, not token
    occurrences); the pair join is keyed on the token with a source
    inequality, so its output is bounded by vocab x source-pairs.
    Jaccard is exact integer ppm via inclusion-exclusion — no float in
    the oracle."""
    d = _docs(spark, sf_dir)
    st = (
        d.select(
            "source",
            F.explode(words()).alias("t"),
        )
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = st.select(F.col("source").alias("src_a"), "t")
    b = st.select(F.col("source").alias("src_b"), "t")
    inter = (
        a.join(b, "t")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("(1000000 * n_common) div (n_a + n_b - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )


# RAKE candidate-phrase delimiter set: the shared stop list plus any
# punctuation.  8 stopwords is deliberately tiny (the fixture corpus is
# synthetic); production swaps in SMART/Fox lists without touching the
# pipeline shape.
_RAKE_STOP_RE = r"\b(the|a|of|and|to|in|is|it)\b"


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '|', 'g'),
                            '{_RAKE_STOP_RE}', '|', 'g') AS d
      FROM documents
    ),
    pl AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(d, '|'),
                 p -> {words_sql('p', lower=False)}),
                 ws -> len(ws) > 0) AS pls
      FROM norm
    ),
    ph AS (
      SELECT doc_id, unnest(pls) AS ws,
             unnest(range(1, len(pls) + 1)) AS pid
      FROM pl
    ),
    occ AS (
      SELECT doc_id, pid, array_to_string(ws, ' ') AS phrase,
             len(ws) AS plen, unnest(ws) AS word
      FROM ph
    ),
    wsc AS (
      SELECT doc_id, word,
             CAST((SUM(plen) * 1000000) // COUNT(*) AS BIGINT) AS wscore
      FROM occ GROUP BY doc_id, word
    ),
    psc AS (
      SELECT o.doc_id, o.pid, o.phrase, MAX(o.plen) AS n_words,
             SUM(w.wscore) AS score_ppm
      FROM occ o JOIN wsc w ON o.doc_id = w.doc_id AND o.word = w.word
      GROUP BY o.doc_id, o.pid, o.phrase
    ),
    dp AS (
      SELECT doc_id, phrase, MAX(n_words) AS n_words,
             MAX(score_ppm) AS score_ppm
      FROM psc GROUP BY doc_id, phrase
    ),
    rk AS (
      SELECT doc_id, phrase, n_words, score_ppm,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score_ppm DESC, phrase) AS rank
      FROM dp WHERE n_words >= 2
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase,
           CAST(score_ppm AS BIGINT) AS score_ppm,
           CAST(n_words AS BIGINT) AS n_words
    FROM rk WHERE rank <= 3
    """,
    tags=("text", "keywords"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of content words between stopword/punctuation
    delimiters; each word scores degree/frequency (degree = summed
    length of every phrase it appears in — words that travel in long
    phrases win), a phrase scores the sum of its member-word scores,
    and the top 3 multi-word phrases per document are reported.

    All-integer scoring: word score = (deg * 1e6) div freq in ppm, so
    phrase sums and the (score, phrase) ranking are exact in BIGINT on
    both engines — no float division anywhere.

    Scale shape: tokenization and phrase splitting are pure column
    expressions (codegen); the two aggregates and the word-score join
    are all keyed by (doc_id, ...) — per-document keys, so data
    distributes evenly at any corpus size and no global state exists.
    The top-3 window partitions by doc_id (never unpartitioned)."""
    d = _docs(spark, sf_dir)
    delim = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "|"),
        _RAKE_STOP_RE,
        "|",
    )
    phrases = F.filter(
        F.transform(
            F.split(delim, "\\|"),
            lambda p: words(p, lower=False),
        ),
        lambda ws: F.size(ws) > 0,
    )
    ph = d.select("doc_id", F.posexplode(phrases).alias("pid0", "ws"))
    occ = ph.select(
        "doc_id",
        (F.col("pid0") + 1).alias("pid"),
        F.array_join("ws", " ").alias("phrase"),
        F.size("ws").alias("plen"),
        F.explode("ws").alias("word"),
    )
    wsc = occ.groupBy("doc_id", "word").agg(
        F.expr("(SUM(plen) * 1000000) div COUNT(*)").alias("wscore")
    )
    psc = (
        occ.join(wsc, ["doc_id", "word"])
        .groupBy("doc_id", "pid", "phrase")
        .agg(F.max("plen").alias("n_words"), F.sum("wscore").alias("score_ppm"))
    )
    dp = psc.groupBy("doc_id", "phrase").agg(
        F.max("n_words").alias("n_words"), F.max("score_ppm").alias("score_ppm")
    )
    return (
        dp.where(F.col("n_words") >= 2)
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.col("score_ppm").desc(), "phrase"
                )
            ),
        )
        .where(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "phrase",
            F.col("score_ppm").cast("long").alias("score_ppm"),
            F.col("n_words").cast("long").alias("n_words"),
        )
    )


# Fixed search query for the BM25 ranker: one genuinely rare term
# (df ~5% of docs in the fixture corpus) plus two common ones, so the
# idf machinery visibly dominates the ranking.
BM25_TERMS = ("dup", "vector", "spark")


def _bm25_step_exprs(H: Callable[[str], str], idiv: str) -> list[tuple[str, str]]:
    """Ordered (column, SQL) steps computing the BM25 per-(doc,term)
    score from columns tf, dl, df, n_docs, corpus_len — ONE generator
    emits both engines' SQL (``H`` is the 128-bit cast builder,
    ``idiv`` the integer-division operator), so the arithmetic cannot
    drift between Spark and DuckDB.

    idf: quarter-bit fixed-point floor(4*log2(1 + (N-df+0.5)/(df+0.5)))
    = floor(4*log2(u/v)) with u = 2N+2, v = 2df+1 — computed EXACTLY in
    integers: e = floor(log2(u/v)) via bit lengths (bin()), then two
    more bits by repeated squaring of the residual ratio, every
    comparison exact in 128-bit (u^4 <= 1e20 for corpora up to ~2.4e9
    docs).  No libm log anywhere — the repo's float-portability rule.

    tf saturation: k1 = 6/5, b = 3/4 multiplied through, so
    tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)) with avgdl = L/N becomes
    the single integer fraction 44*tf*L / (20*tf*L + 6*L + 18*dl*N),
    emitted in ppm."""
    return [
        ("u", "2 * n_docs + 2"),
        ("v", "2 * df + 1"),
        ("e0", "length(bin(u)) - length(bin(v))"),
        ("e", "e0 - (CASE WHEN u < (v << e0) THEN 1 ELSE 0 END)"),
        ("s", "v << e"),
        ("b1", f"CASE WHEN {H('u')} * u >= 2 * {H('s')} * s THEN 1 ELSE 0 END"),
        (
            "b2",
            f"CASE WHEN {H('u')} * u * u * u >= "
            f"{H('s')} * s * s * s * (2 << (2 * b1)) THEN 1 ELSE 0 END",
        ),
        ("idf_q2", "4 * e + 2 * b1 + b2"),
        (
            "tfsat_ppm",
            f"CAST((1000000 * 44 * {H('tf')} * corpus_len) {idiv} "
            f"(20 * tf * {H('corpus_len')} + 6 * corpus_len + 18 * dl * n_docs) "
            "AS BIGINT)",
        ),
    ]


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    steps = _bm25_step_exprs(hugeint_sql, "//")
    chain, prev = [], "j"
    for i, (col, sql) in enumerate(steps):
        name = f"x{i}"
        chain.append(f"{name} AS (SELECT *, {sql} AS {col} FROM {prev})")
        prev = name
    chained = ",\n    ".join(chain)
    return f"""
    WITH dls AS (
      SELECT doc_id,
             len({words_sql()}) AS dl
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             len({words_sql()}) AS dl,
             unnest({words_sql()}) AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, w, MAX(dl) AS dl, COUNT(*) AS tf
      FROM toks WHERE w IN ({terms}) GROUP BY doc_id, w
    ),
    dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    corp AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS corpus_len FROM dls),
    j AS (
      SELECT t.doc_id, t.tf, t.dl, d.df, c.n_docs, c.corpus_len
      FROM tf t JOIN dfr d USING (w) CROSS JOIN corp c
    ),
    {chained},
    per AS (
      SELECT doc_id, MAX(dl) AS n_tokens,
             SUM(idf_q2 * tfsat_ppm) AS score_ppm
      FROM {prev} GROUP BY doc_id
    )
    SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM per ORDER BY score_ppm DESC, doc_id LIMIT 20
    """


@query(
    "text_bm25_search",
    oracle=_bm25_oracle(),
    tags=("text", "search", "scale"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document search for a fixed query ({BM25_TERMS}) — top 20
    documents by Okapi BM25 with k1 = 6/5 and b = 3/4, ALL-INTEGER:
    the tf-saturation fraction is multiplied through to one integer
    division and the idf is an exact quarter-bit fixed-point log2
    (``_bm25_step_exprs`` — the SAME generated arithmetic runs on both
    engines, 128-bit where squares demand it).  The rare query term
    ('dup', df ~5%) earns idf_q2 ~17 while the common terms earn ~1,
    so ranking is idf-dominated exactly as BM25 intends.

    Scale shape: term filter happens BEFORE any aggregation (the
    exploded relation is |terms-hit| rows, not |tokens|); df (|terms|
    rows) and the corpus stats (1 row) are broadcast; per-doc scoring
    shuffles only docs containing query terms, keyed by doc_id; the
    final top-20 is a TakeOrderedAndProject, never a global sort."""
    d = _docs(spark, sf_dir)
    toks = words()
    dls = d.select("doc_id", F.size(toks).alias("dl"))
    base = d.select(
        "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("w")
    ).where(F.col("w").isin(*BM25_TERMS))
    tf = base.groupBy("doc_id", "w").agg(
        F.max("dl").alias("dl"), F.count(F.lit(1)).alias("tf")
    )
    dfr = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    corp = dls.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("corpus_len"),
    )
    j = tf.join(F.broadcast(dfr), "w").crossJoin(F.broadcast(corp))
    for col, sql in _bm25_step_exprs(int128_sql, "div"):
        j = j.withColumn(col, F.expr(sql))
    per = j.groupBy("doc_id").agg(
        F.max("dl").alias("n_tokens"),
        F.sum(F.col("idf_q2") * F.col("tfsat_ppm")).alias("score_ppm"),
    )
    return (
        per.orderBy(F.desc("score_ppm"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.col("score_ppm").cast("long").alias("score_ppm"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )


@query(
    "text_readability_flesch",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len({words_sql(lower=False)})
                  AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sents,
             CAST(greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
                  AS BIGINT) AS n_syllables
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n_words, n_sents, n_syllables,
           206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
    FROM m WHERE n_words > 0
    """,
    tags=("text",),
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document (Flesch 1948):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words), with
    the standard regex approximations — sentences are ``[.!?]+`` runs,
    syllables are vowel-group runs over the lowercased text (the
    classic heuristic: one syllable per maximal [aeiouy]+ cluster).
    Both are floored at 1 so an unpunctuated fragment still scores.

    Float portability: the three inputs are exact integer counts from
    identical regexes (ASCII fixture domain, same class semantics in
    Java regex and RE2); the score is one fixed IEEE op tree over
    them — no double ever feeds another rounding step.

    Scale shape: pure per-row map over one pushed-down scan (doc_id,
    text only), zero shuffles, fully inside whole-stage codegen; at
    100 TB this is the cheap-first quality gate the curation pipeline
    orders before any expensive stage.  No reference counterpart."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    m = d.select(
        "doc_id",
        F.size(words(lower=False)).cast("long").alias("n_words"),
        F.greatest(F.lit(1), F.regexp_count("text", F.lit("[.!?]+")))
        .cast("long")
        .alias("n_sents"),
        F.greatest(F.lit(1), F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")))
        .cast("long")
        .alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    return m.select(
        "doc_id", "n_words", "n_sents", "n_syllables",
        (
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents"))
            - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
        ).alias("flesch"),
    )


@query(
    "text_chao1_goodturing",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({words_sql()}) AS token
      FROM documents
    ),
    tf AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    ff AS (SELECT c, COUNT(*) AS nf FROM tf GROUP BY c),
    s AS (
      SELECT CAST(SUM(nf) AS BIGINT) AS v_observed,
             CAST(SUM(c * nf) AS BIGINT) AS n_tokens,
             CAST(COALESCE(MAX(CASE WHEN c = 1 THEN nf END), 0) AS BIGINT) AS f1,
             CAST(COALESCE(MAX(CASE WHEN c = 2 THEN nf END), 0) AS BIGINT) AS f2
      FROM ff
    )
    SELECT v_observed, n_tokens, f1, f2,
           round(v_observed + (f1 * (f1 - 1)) / (2.0 * (f2 + 1)), 6) AS chao1_est,
           round(f1 / CAST(n_tokens AS DOUBLE), 6) AS gt_unseen_mass
    FROM s
    """,
    tags=("text", "agg", "stats"),
)
def text_chao1_goodturing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary-richness estimators from the frequency-of-
    frequencies profile: bias-corrected Chao1 (how many vocabulary items
    the corpus has INCLUDING ones never sampled — V + f1(f1-1)/(2(f2+1)),
    Chao 1984) and the Good-Turing unseen-probability mass f1/N (the
    probability the next token is a new word, Good 1953).  The two
    standard answers to "have we scraped enough data for this domain?"
    in corpus curation.

    Scale shape: one token-keyed groupBy (the only data-sized shuffle),
    then the frequency-of-frequencies relation is at most #distinct-
    counts rows (tiny) and folds to a single row — both estimators are
    integer counts until the two final divisions, which both engines
    state with the identical double expression."""
    d = _docs(spark, sf_dir)
    tf = (
        d.select(F.explode(words()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ff = tf.groupBy("c").agg(F.count(F.lit(1)).alias("nf"))
    s = ff.agg(
        F.sum("nf").cast("long").alias("v_observed"),
        F.sum(F.col("c") * F.col("nf")).cast("long").alias("n_tokens"),
        F.coalesce(F.max(F.when(F.col("c") == 1, F.col("nf"))), F.lit(0))
        .cast("long")
        .alias("f1"),
        F.coalesce(F.max(F.when(F.col("c") == 2, F.col("nf"))), F.lit(0))
        .cast("long")
        .alias("f2"),
    )
    return s.select(
        "v_observed",
        "n_tokens",
        "f1",
        "f2",
        F.round(
            F.col("v_observed")
            + (F.col("f1") * (F.col("f1") - 1)) / (2.0 * (F.col("f2") + 1)),
            6,
        ).alias("chao1_est"),
        F.round(F.col("f1") / F.col("n_tokens").cast("double"), 6).alias(
            "gt_unseen_mass"
        ),
    )


# ---------------------------------------------------------------------------
# Interpolated bigram-LM perplexity — the next rung above the unigram
# quality signal (Jelinek-Mercer interpolation, the classic smoothing).
# ---------------------------------------------------------------------------

BIGRAM_LAMBDA_PCT = 75  # bigram weight, percent (λ = 0.75)


@query(
    "text_perplexity_bigram_interp",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {words_sql()} AS w
      FROM documents WHERE length(text) > 0
    ),
    toks AS (SELECT unnest(w) AS token FROM words),
    uni AS (SELECT token, COUNT(*) AS cu FROM toks GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM toks),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS b
      FROM words WHERE len(w) >= 2
    ),
    tf2 AS (
      SELECT doc_id, b[1] AS prev, b[2] AS cur, COUNT(*) AS tf
      FROM bg GROUP BY doc_id, b[1], b[2]
    ),
    c2 AS (SELECT prev, cur, SUM(tf) AS c2 FROM tf2 GROUP BY prev, cur),
    c1 AS (SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY prev),
    scored AS (
      SELECT tf2.doc_id, tf2.tf,
             CAST(round(-ln({BIGRAM_LAMBDA_PCT / 100.0} * c2.c2 / c1.c1
                            + {(100 - BIGRAM_LAMBDA_PCT) / 100.0} * uni.cu / tot.total)
                        * 1000000) AS BIGINT) AS nll_u
      FROM tf2
      JOIN c2 ON c2.prev = tf2.prev AND c2.cur = tf2.cur
      JOIN c1 ON c1.prev = tf2.prev
      JOIN uni ON uni.token = tf2.cur
      CROSS JOIN tot
    ),
    agg AS (SELECT doc_id, SUM(tf) AS t, SUM(tf * nll_u) AS s FROM scored GROUP BY doc_id)
    SELECT doc_id,
           CAST(t AS BIGINT) AS n_bigrams,
           ((2 * s + t) // (2 * t)) / 1000000.0 AS avg_nll,
           round(exp(((2 * s + t) // (2 * t)) / 1000000.0), 4) AS ppl
    FROM agg
    """,
    tags=("text", "quality", "lm"),
)
def text_perplexity_bigram_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a Jelinek-Mercer interpolated
    bigram LM trained on the corpus in the same plan:
    p(w|v) = λ·c(v,w)/c(v,·) + (1-λ)·c(w)/N with λ = 0.75 — the
    classic quality rung above text_perplexity_unigram (repeated
    boilerplate scores LOW here because its bigrams are corpus-frequent;
    shuffled-word salad scores HIGH even when its unigrams are common —
    the separation the unigram model cannot see).

    Determinism: token NLLs are micro-nat integers from ONE shared
    double expression (the unigram-perplexity convention), and the
    per-doc mean is the exact (2s+t) div (2t) integer round — no float
    summation order anywhere.

    Scale shape: bigram occurrences collapse to (doc, prev, cur, tf)
    map-side BEFORE any join (a boilerplate bigram costs one row per
    document, not one per occurrence); the corpus bigram model c2 and
    its context marginal c1 = Σ_cur c2 both derive from that collapsed
    relation, so the raw corpus is touched exactly twice (token pass +
    bigram pass) and every join keys on the bounded bigram/unigram
    vocabulary, never on raw rows."""
    lam = BIGRAM_LAMBDA_PCT / 100.0
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    w = words()
    toks = d.select(F.explode(w).alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cu"))
    tot = toks.agg(F.count(F.lit(1)).alias("total"))
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    docs = d.select("doc_id", w.alias("w")).where(F.size("w") >= 2)
    bg = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, n1),
                F.slice("w", 2, n1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("b"),
    ).select("doc_id", "b.prev", "b.cur")
    # collapsed relation feeds the model tables + the scoring join;
    # truncate lineage once (the kneser-ney/mannwhitney convention)
    tf2 = materialize(
        bg.groupBy("doc_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c2 = materialize(tf2.groupBy("prev", "cur").agg(F.sum("tf").alias("c2")))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    nll_u = F.round(
        -F.log(
            F.lit(lam) * F.col("c2") / F.col("c1")
            + F.lit(1.0 - lam) * F.col("cu") / F.col("total")
        )
        * 1000000
    ).cast("long")
    scored = (
        tf2.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .join(uni, F.col("token") == F.col("cur"))
        .join(F.broadcast(tot))
        .select("doc_id", "tf", nll_u.alias("nll_u"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("t"), F.sum(F.col("tf") * F.col("nll_u")).alias("s")
    )
    avg_u = F.expr("(2 * s + t) div (2 * t)")
    return agg.select(
        "doc_id",
        F.col("t").cast("long").alias("n_bigrams"),
        (avg_u / 1000000.0).alias("avg_nll"),
        F.round(F.exp(avg_u / 1000000.0), 4).alias("ppl"),
    )


KN_DISCOUNT = 0.75  # absolute discount d (Kneser-Ney 1995 / Chen-Goodman)


@query(
    "text_perplexity_kneser_ney",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {words_sql()} AS w
      FROM documents WHERE length(text) > 0
    ),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS b
      FROM words WHERE len(w) >= 2
    ),
    tf2 AS (
      SELECT doc_id, b[1] AS prev, b[2] AS cur, COUNT(*) AS tf
      FROM bg GROUP BY doc_id, b[1], b[2]
    ),
    c2 AS (SELECT prev, cur, SUM(tf) AS c2 FROM tf2 GROUP BY prev, cur),
    c1 AS (SELECT prev, SUM(c2) AS c1, COUNT(*) AS n1v FROM c2 GROUP BY prev),
    cw AS (SELECT cur, COUNT(*) AS n1w FROM c2 GROUP BY cur),
    nt AS (SELECT COUNT(*) AS ntypes FROM c2),
    scored AS (
      SELECT tf2.doc_id, tf2.tf,
             CAST(round(-ln((c2.c2 - {KN_DISCOUNT}) / c1.c1
                            + {KN_DISCOUNT} * c1.n1v / c1.c1 * cw.n1w / nt.ntypes)
                        * 1000000) AS BIGINT) AS nll_u
      FROM tf2
      JOIN c2 ON c2.prev = tf2.prev AND c2.cur = tf2.cur
      JOIN c1 ON c1.prev = tf2.prev
      JOIN cw ON cw.cur = tf2.cur
      CROSS JOIN nt
    ),
    agg AS (SELECT doc_id, SUM(tf) AS t, SUM(tf * nll_u) AS s FROM scored GROUP BY doc_id)
    SELECT doc_id,
           CAST(t AS BIGINT) AS n_bigrams,
           ((2 * s + t) // (2 * t)) / 1000000.0 AS avg_nll,
           round(exp(((2 * s + t) // (2 * t)) / 1000000.0), 4) AS ppl
    FROM agg
    """,
    tags=("text", "quality", "lm"),
    bench=True,
)
def text_perplexity_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney bigram
    LM (absolute discount d = {KN_DISCOUNT}; Kneser & Ney 1995, the
    Chen-Goodman-recommended smoothing): p(w|v) = (c(v,w) - d)/c(v)
    + d·N1+(v,·)/c(v) · N1+(·,w)/|bigram types|.  The continuation
    probability N1+(·,w) ranks a word by how many DISTINCT contexts it
    follows — "francisco" is frequent but nearly always follows "san",
    so KN (correctly) scores it near-impossible in fresh contexts,
    which plain interpolation (text_perplexity_bigram_interp) cannot
    express.  Completes the quality-LM ladder: unigram -> interpolated
    bigram -> KN bigram.

    Only corpus-observed bigrams are scored (a doc's bigrams are by
    construction in the corpus model), so c(v,w) >= 1 > d and the
    max(c-d, 0) clamp is vacuous — the discount expression stays a
    single shared double op tree, integerized to micro-nats (the
    perplexity-family convention); everything upstream is exact BIGINT
    counts.

    Scale shape: identical to text_perplexity_bigram_interp — one
    collapsed (doc, prev, cur, tf) relation feeds the bigram model,
    its context marginal AND both continuation-count relations, so all
    four model tables derive from one map-side-combined aggregate and
    every join keys on the bounded bigram/unigram vocabulary."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    w = words()
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    docs = d.select("doc_id", w.alias("w")).where(F.size("w") >= 2)
    bg = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, n1),
                F.slice("w", 2, n1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("b"),
    ).select("doc_id", "b.prev", "b.cur")
    # the collapsed relation feeds FOUR model tables + the scoring join;
    # truncate lineage once so the scan+explode+combine run once (the
    # agg_mannwhitney_u convention), and likewise for c2's three readers
    tf2 = materialize(
        bg.groupBy("doc_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c2 = materialize(tf2.groupBy("prev", "cur").agg(F.sum("tf").alias("c2")))
    c1 = c2.groupBy("prev").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1v")
    )
    cw = c2.groupBy("cur").agg(F.count(F.lit(1)).alias("n1w"))
    nt = c2.agg(F.count(F.lit(1)).alias("ntypes"))
    nll_u = F.round(
        -F.log(
            (F.col("c2") - F.lit(KN_DISCOUNT)) / F.col("c1")
            + F.lit(KN_DISCOUNT) * F.col("n1v") / F.col("c1") * F.col("n1w") / F.col("ntypes")
        )
        * 1000000
    ).cast("long")
    scored = (
        tf2.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .join(cw, "cur")
        .join(F.broadcast(nt))
        .select("doc_id", "tf", nll_u.alias("nll_u"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("t"), F.sum(F.col("tf") * F.col("nll_u")).alias("s")
    )
    avg_u = F.expr("(2 * s + t) div (2 * t)")
    return agg.select(
        "doc_id",
        F.col("t").cast("long").alias("n_bigrams"),
        (avg_u / 1000000.0).alias("avg_nll"),
        F.round(F.exp(avg_u / 1000000.0), 4).alias("ppl"),
    )


CODE_SYMBOLS = "{}();=<>[]#"
CODE_KEYWORDS = ("def ", "import ", "return ", "void ", "function ")
CODE_SCORE_THRESH_MILLI = 60


@query(
    "text_code_likeness",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, length(text) AS n_chars,
             length(text) - length(translate(text, '{CODE_SYMBOLS}', '')) AS n_sym,
             {" + ".join(
                 f"(length(text) - length(replace(text, '{k}', ''))) // {len(k)}"
                 for k in CODE_KEYWORDS
             )} AS kw_hits
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, CAST(n_sym AS BIGINT) AS n_sym,
           CAST(kw_hits AS BIGINT) AS kw_hits,
           CAST((1000 * n_sym) // n_chars + 100 * kw_hits AS BIGINT) AS code_score_milli,
           (1000 * n_sym) // n_chars + 100 * kw_hits >= {CODE_SCORE_THRESH_MILLI}
             AS is_code
    FROM s
    """,
    tags=("text", "quality", "pipeline"),
)
def text_code_likeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen: symbol density ({CODE_SYMBOLS!r} share of
    characters, via the translate-and-diff length trick) plus
    keyword-hit count ({', '.join(CODE_KEYWORDS)!r}) folded into an
    integer milli-score — the cheap router every pretraining pipeline
    runs to send code to the code pipeline (its own dedup, quality and
    tokenizer rules) instead of the prose one.

    Exactness: counts come from length differences after translate/
    replace — pure integer string ops both engines evaluate
    identically; the score is integer division, no floats anywhere.

    Scale shape: embarrassingly parallel row-local projection, one
    scan, no shuffle at all before the sink."""
    sym_expr = F.length("text") - F.length(F.translate(F.col("text"), CODE_SYMBOLS, ""))
    kw_expr = None
    for k in CODE_KEYWORDS:
        term = (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(k), F.lit("")))
        ) / F.lit(len(k))
        term = term.cast("long")
        kw_expr = term if kw_expr is None else kw_expr + term
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    s = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        sym_expr.alias("n_sym"),
        kw_expr.alias("kw_hits"),
    )
    score = F.expr("(1000 * n_sym) div n_chars") + 100 * F.col("kw_hits")
    return s.select(
        "doc_id",
        F.col("n_sym").cast("long").alias("n_sym"),
        F.col("kw_hits").cast("long").alias("kw_hits"),
        score.cast("long").alias("code_score_milli"),
        (score >= CODE_SCORE_THRESH_MILLI).alias("is_code"),
    )


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             len({words_sql()}) AS n_tok,
             strlen(text) AS n_bytes
      FROM documents WHERE length(text) > 0
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tok,
           CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
           CAST((1000 * SUM(n_tok)) // NULLIF(SUM(n_bytes), 0) AS BIGINT) AS fertility_milli,
           CAST((1000 * SUM(n_bytes)) // NULLIF(SUM(n_tok), 0) AS BIGINT) AS bytes_per_tok_milli
    FROM d GROUP BY lang
    """,
    tags=("text", "tokenize", "agg"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: tokens per byte (and its
    reciprocal) for the whitespace tokenizer — THE per-language
    efficiency metric of tokenizer design (a language whose
    bytes-per-token is 3x English pays 3x the context window for the
    same text; fertility tables drive vocab-allocation decisions in
    multilingual tokenizers).  Complements text_vocab_coverage (which
    tokens to know) with how MUCH token stream each language emits per
    stored byte.

    Exactness: token and byte counts are row-local integers
    (size(split) / strlen mirrored by len(list_filter)/strlen), ratios
    are integer milli-divisions guarded by NULLIF — a language whose
    surviving docs are all whitespace-only (n_tok = 0) reports a NULL
    ratio instead of dying on division by zero (ADVICE r7).  Scale
    shape: one scan, one map-side partial aggregate keyed by the
    bounded language set."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    s = d.select(
        "lang",
        F.size(words()).alias("n_tok"),
        F.octet_length("text").alias("n_bytes"),
    )
    g = s.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tok"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_tok",
        "n_bytes",
        F.expr("CAST((1000 * n_tok) div NULLIF(n_bytes, 0) AS BIGINT)").alias(
            "fertility_milli"
        ),
        F.expr("CAST((1000 * n_bytes) div NULLIF(n_tok, 0) AS BIGINT)").alias(
            "bytes_per_tok_milli"
        ),
    )


REP_TOP2G_MAX_MILLI = 180  # Gopher A1.1: drop if top 2-gram > 0.18 of tokens
REP_DUP2G_MAX_MILLI = 400


@query(
    "text_repetition_screen",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             {words_sql()} AS w
      FROM documents WHERE length(text) > 0
    ), bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM words WHERE len(w) >= 2
    ), per AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bigram
    ), agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_count
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_distinct,
           CAST((1000 * (n_bigrams - n_distinct)) // n_bigrams AS BIGINT) AS dup_frac_milli,
           CAST((1000 * top_count) // n_bigrams AS BIGINT) AS top_frac_milli,
           ((1000 * top_count) // n_bigrams <= {REP_TOP2G_MAX_MILLI}
            AND (1000 * (n_bigrams - n_distinct)) // n_bigrams <= {REP_DUP2G_MAX_MILLI}) AS keep
    FROM agg
    """,
    tags=("text", "ngram", "quality", "clean"),
)
def text_repetition_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screen (Rae et al. 2021 §A1.1, the
    "repetitious documents" gates): per document the duplicate-bigram
    fraction (1 - distinct/total bigram slots) and the modal-bigram
    fraction (occurrences of the single most frequent bigram / total),
    both integer milli-fractions, AND a keep flag at the published
    thresholds.  Catches the loop-generated / boilerplate pages that
    pass the word-statistics gates (clean_gopher_quality) with flying
    colors — repetition and vocabulary statistics fail independently,
    which is why Gopher applies both families.

    Determinism: only counts are aggregated (max count, distinct count
    — never "which bigram", so count ties cannot reorder anything);
    ratios are integer milli-divisions.

    Scale shape: bigrams via one zip_with over two token-array slices
    (the text_bigram_topk convention — no per-shingle re-tokenize),
    then two doc-keyed partial aggregates; everything shuffles on
    doc_id, nothing global."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    w = words()
    docs = d.select("doc_id", w.alias("w")).where(F.size("w") >= 2)
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    bg = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, n1),
                F.slice("w", 2, n1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    per = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_count"),
    )
    dup_milli = F.expr("CAST((1000 * (n_bigrams - n_distinct)) div n_bigrams AS BIGINT)")
    top_milli = F.expr("CAST((1000 * top_count) div n_bigrams AS BIGINT)")
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        dup_milli.alias("dup_frac_milli"),
        top_milli.alias("top_frac_milli"),
        (
            (top_milli <= REP_TOP2G_MAX_MILLI) & (dup_milli <= REP_DUP2G_MAX_MILLI)
        ).alias("keep"),
    )


OOV_MIN_COUNT = 5  # corpus vocabulary = tokens seen >= this many times


@query(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             unnest({words_sql()}) AS token
      FROM documents WHERE length(text) > 0
    ),
    vocab AS (
      SELECT token FROM tok GROUP BY token HAVING COUNT(*) >= {OOV_MIN_COUNT}
    ),
    j AS (
      SELECT t.source, t.token, v.token IS NOT NULL AS in_vocab
      FROM tok t LEFT JOIN vocab v ON t.token = v.token
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
           CAST((1000000 * SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END)) // COUNT(*) AS BIGINT) AS oov_ppm
    FROM j GROUP BY source
    """,
    tags=("text", "tokenize", "join", "agg"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus vocabulary
    (tokens with count >= {OOV_MIN_COUNT}): the tokenizer-coverage
    metric that decides whether a new crawl source needs vocab
    extension before training — a source whose OOV ppm spikes is
    feeding the model byte-fallback garbage.  Min-count vocabulary
    (not top-K) so membership is tie-free and deterministic.

    Scale shape: ONE tokenize pass feeds both the vocabulary aggregate
    and the membership probe; the probe is a token-keyed LEFT join
    against the vocab relation with NO broadcast hint — the vocabulary
    is corpus-sized (the text_tfidf_topterms r8 lesson), so AQE decides
    broadcast vs shuffle from its runtime size; the final rollup is a
    map-side partial to <= #sources rows."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    tok = materialize(
        d.select("source", F.explode(words()).alias("token"))
    )  # one tokenize pass, two consumers
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= OOV_MIN_COUNT)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    j = tok.join(vocab, "token", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum(F.when(F.col("in_vocab"), 0).otherwise(1)).cast("long").alias("n_oov"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END)) div COUNT(*) AS BIGINT)"
        ).alias("oov_ppm"),
    )


# --- character-bigram entropy (compressibility / gibberish screen) ---------


@query(
    "text_char_entropy_screen",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, length(text) - 1),
                                   i -> substring(text, i, 2))) AS g
      FROM documents WHERE length(text) >= 2
    ),
    counts AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY doc_id),
    terms AS (
      SELECT counts.doc_id, c, n,
             CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT) AS t
      FROM counts JOIN tot ON counts.doc_id = tot.doc_id
    )
    SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c * t) AS BIGINT) // MAX(n) AS entropy_micro_nats,
           (CAST(SUM(c * t) AS BIGINT) // MAX(n)) < 2500000 AS flag_low_entropy
    FROM terms GROUP BY doc_id
    """,
    tags=("text", "quality", "agg"),
)
def text_char_entropy_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CHARACTER-BIGRAM Shannon entropy — the cheap
    compressibility proxy quality gates use to flag boilerplate,
    key-mashing, and template spam (low entropy = repetitive byte
    structure; the screen behind Gopher's "symbol ratio" family and
    zlib-ratio filters, expressed without a compressor so both engines
    agree bit-for-bit).

    Determinism: the profile_entropy convention — each bigram's
    ln(n/c) integerizes to micro-nats per (n, c) pair (single-ln
    rounding), then H = SUM(c*t) div n is pure integer arithmetic; the
    2.5-nat flag threshold is applied to the integer.

    Scale shape: entropy is a PER-ROW property, so the whole
    computation stays row-local — sort the gram array, mark run
    starts, run-lengths are the counts, fold the entropy sum — one
    narrow projection with ZERO shuffles (the explode -> groupBy(doc,
    gram) form this replaced moved a gram-sized relation, ~200 rows
    per doc, through an exchange and measured 9.9x/decade at sf1;
    this form is O(L log L) per row inside codegen and the oracle,
    which states counts declaratively, is unchanged).  The
    single-element ``transform(array(x), x -> body)`` wrapper is
    Spark's let-binding idiom — each intermediate (sorted grams, run
    starts, run lengths) is computed once, not re-derived per
    reference.

    The one exchange below is deliberate: the fixture's documents
    table is a single small parquet file = ONE input split, and an
    expression this compute-dense (O(L log L) per row) on one task
    wastes every other core — measured 36 s single-task at sf1 vs
    ~2 s fanned out.  Repartitioning the NARROW (doc_id, text)
    projection costs one pass over the text bytes and buys full-width
    codegen; on a real multi-file corpus the scan already splits and
    Catalyst can drop the exchange."""
    # explicit width: AQE coalesces by BYTES, and this relation is
    # byte-small but compute-dense — a bytes-advisory single partition
    # re-serializes the work (measured: AQE folded the plain
    # repartition back to 1 task at sf0.1)
    # length >= 2 on BOTH engines (the mm_tile_contrast convention):
    # below two chars there are no bigrams, and Spark's
    # sequence(1, length-1) would otherwise yield a DESCENDING [1, 0]
    # array for a 1-char doc — a bogus output row the oracle's
    # generate_series(1, 0) (empty) never emits (ADVICE r10).
    d = (
        _docs(spark, sf_dir)
        .where(F.length("text") >= 2)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    row_local = """
    element_at(transform(
      array(array_sort(transform(sequence(1, length(text) - 1), i -> substring(text, i, 2)))),
      S -> element_at(transform(
        array(filter(sequence(0, size(S) - 1), i -> i = 0 OR element_at(S, i + 1) != element_at(S, i))),
        P -> element_at(transform(
          array(zip_with(P, concat(slice(P, 2, size(P) - 1), array(size(S))), (a, b) -> b - a)),
          C -> struct(
            CAST(size(S) AS BIGINT) AS n_bigrams,
            CAST(size(C) AS BIGINT) AS n_distinct,
            CAST(aggregate(C, CAST(0 AS BIGINT),
              (acc, c) -> acc + c * CAST(round(ln(CAST(size(S) AS DOUBLE) / c) * 1000000) AS BIGINT)
            ) AS BIGINT) div CAST(size(S) AS BIGINT) AS entropy_micro_nats
          )
        ), 1)
      ), 1)
    ), 1)
    """
    return (
        d.select("doc_id", F.expr(row_local).alias("r"))
        .select("doc_id", "r.*")
        .withColumn("flag_low_entropy", F.col("entropy_micro_nats") < 2500000)
    )


# --- MATTR moving-window lexical diversity (r11) ----------------------------

MATTR_W = 20  # window width in tokens
MATTR_S = 10  # stride


@query(
    "text_mattr_lexical_diversity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {words_sql()} AS tl
      FROM documents
    ),
    g AS (SELECT doc_id, len(tl) AS n_tokens, tl FROM t WHERE len(tl) >= {MATTR_W}),
    w AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST((n_tokens - {MATTR_W}) // {MATTR_S} + 1 AS BIGINT) AS n_windows,
             CAST(list_sum(list_transform(
                    generate_series(0, (n_tokens - {MATTR_W}) // {MATTR_S}),
                    i -> len(list_distinct(
                           list_slice(tl, i * {MATTR_S} + 1, i * {MATTR_S} + {MATTR_W})))
                  )) AS BIGINT) AS sum_distinct
      FROM g
    )
    SELECT doc_id, n_tokens, n_windows,
           CAST((1000000 * sum_distinct) // (n_windows * {MATTR_W}) AS BIGINT)
             AS mattr_ppm
    FROM w
    """,
    tags=("text", "quality"),
)
def text_mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — Moving-Average Type-Token Ratio (Covington & McFall
    2010): mean distinct-token fraction over sliding {MATTR_W}-token
    windows (stride {MATTR_S}), the lexical-diversity measure that,
    unlike raw TTR, does NOT shrink with document length — so one
    threshold works across a mixed-length corpus (raw TTR penalizes
    long documents purely for being long; low MATTR genuinely means
    repetitive vocabulary — template spam, keyword stuffing).

    Exact integers: each window's distinct count is an integer, the
    mean integerizes once as ppm (sum_distinct div (n_windows * W)) —
    no float accumulation to diverge.  Docs shorter than {MATTR_W}
    tokens are excluded on BOTH engines (the length(text) >= 2 guard
    convention — below one window the statistic is undefined, and an
    unguarded sequence(0, negative) would run DESCENDING on Spark).

    Scale shape: a PER-ROW property — tokenize once (staged projection,
    the minhash_signatures_df CollapseProject idiom), then one
    row-local fold over window starts; zero shuffles, fully inside
    codegen.  O(n_windows * W) per doc = O(n_tokens * W/S), linear in
    corpus bytes."""
    toks = words()
    t1 = (
        _docs(spark, sf_dir)
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= MATTR_W)
    )
    n = F.size("toks")
    n_windows = F.expr(f"CAST((size(toks) - {MATTR_W}) div {MATTR_S} + 1 AS BIGINT)")
    sum_distinct = F.expr(
        f"CAST(aggregate(sequence(0, (size(toks) - {MATTR_W}) div {MATTR_S}), "
        f"CAST(0 AS BIGINT), (acc, i) -> acc + size(array_distinct("
        f"slice(toks, i * {MATTR_S} + 1, {MATTR_W})))) AS BIGINT)"
    )
    return t1.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        n_windows.alias("n_windows"),
        sum_distinct.alias("sum_distinct"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.expr(
            f"CAST((1000000 * sum_distinct) div (n_windows * {MATTR_W}) AS BIGINT)"
        ).alias("mattr_ppm"),
    )


# ---------------------------------------------------------------------------
# Term burstiness (round 12)
# ---------------------------------------------------------------------------

BURSTINESS_MIN_TOTAL = 40  # floor: VMR of a rare term is noise
BURSTINESS_TOP = 30


@query(
    "text_burstiness_vmr",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({words_sql()}) AS token
      FROM documents WHERE length(text) > 0
    ),
    td AS (
      SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    per AS (
      SELECT token,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(c) AS BIGINT) AS total_cnt,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM td GROUP BY token
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus
          FROM documents WHERE length(text) > 0)
    SELECT token, n_docs, total_cnt, sum_sq,
           CAST(sum_sq AS DOUBLE) / CAST(total_cnt AS DOUBLE)
             - CAST(total_cnt AS DOUBLE) / n_corpus AS vmr
    FROM per CROSS JOIN n
    WHERE total_cnt >= {BURSTINESS_MIN_TOTAL}
    ORDER BY vmr DESC, token LIMIT {BURSTINESS_TOP}
    """,
    tags=("text", "tokenize", "agg"),
)
def text_burstiness_vmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness as the variance-to-mean ratio of per-document
    counts over the WHOLE corpus (zeros included) — Church & Gale's
    observation that content words arrive in bursts (VMR >> 1) while
    function words arrive ~Poisson (VMR ≈ 1); a quality signal for
    LLM-data curation (templated/spammy corpora show extreme VMR).

    Zeros without materializing them: with N docs, mean = T/N and
    E[x²] = SS/N over all docs, so VMR = var/mean = SS/T − T/N — only
    the nonzero (token, doc) counts are ever touched, and the three
    moments are exact integers; the two divisions are the only float
    ops (identical IEEE trees both engines).

    Scale shape: explode → (token, doc) groupBy (map-side partial) →
    token-keyed rollup → 1-row corpus-count fold crossed in; top-{BURSTINESS_TOP}
    by VMR is a TakeOrdered, never a global sort."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    toks = d.select(
        "doc_id",
        F.explode(words()).alias("token"),
    )
    td = toks.groupBy("token", "doc_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    per = td.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("c").cast("long").alias("total_cnt"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    n1 = d.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))  # 1-row fold
    return (
        per.crossJoin(F.broadcast(n1))
        .where(F.col("total_cnt") >= BURSTINESS_MIN_TOTAL)
        .select(
            "token",
            "n_docs",
            "total_cnt",
            "sum_sq",
            (
                F.col("sum_sq").cast("double") / F.col("total_cnt").cast("double")
                - F.col("total_cnt").cast("double") / F.col("n_corpus")
            ).alias("vmr"),
        )
        .orderBy(F.col("vmr").desc(), "token")
        .limit(BURSTINESS_TOP)
    )


# ---------------------------------------------------------------------------
# Corpus n-gram novelty by arrival batch (round 12)
# ---------------------------------------------------------------------------

NOVELTY_BATCH = 50  # docs per ingestion batch (doc_id is arrival order)


@query(
    "text_ngram_novelty_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id // {NOVELTY_BATCH} AS batch,
             {words_sql()} AS w
      FROM documents WHERE length(text) > 0
    ),
    tg AS (
      SELECT DISTINCT batch,
             unnest(list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      FROM toks WHERE len(w) >= 3
    ),
    first_seen AS (
      SELECT g, MIN(batch) AS fb FROM tg GROUP BY g
    ),
    present AS (
      SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_present FROM tg GROUP BY batch
    ),
    novel AS (
      SELECT fb AS batch, CAST(COUNT(*) AS BIGINT) AS n_novel
      FROM first_seen GROUP BY fb
    )
    SELECT p.batch, p.n_present, COALESCE(n.n_novel, 0) AS n_novel,
           CAST(COALESCE(n.n_novel, 0) * 1000000 // p.n_present AS BIGINT)
             AS novelty_ppm
    FROM present p LEFT JOIN novel n ON p.batch = n.batch
    ORDER BY p.batch
    """,
    tags=("text", "ngram", "dedup", "agg"),
)
def text_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus freshness curve: per {NOVELTY_BATCH}-document ingestion
    batch (doc_id is arrival order), the share of the batch's DISTINCT
    word trigrams never seen in ANY earlier batch — the
    diminishing-returns signal a crawl/curation pipeline watches to
    decide when a source is mined out (novelty decays toward the
    template floor as the corpus saturates).

    No per-batch re-scan of history: each trigram's first-seen batch is
    ONE global min-aggregate, so novelty for every batch falls out of a
    single pass — the same first-occurrence trick as
    stream_cumulative_distinct's batch twin.  Counts and the ppm floor
    division are exact integers.

    Scale shape: explode → (batch, gram) DISTINCT (the one data-sized
    shuffle, map-side combinable) → gram-keyed min + two batch-keyed
    rollups whose cardinality is corpus/{NOVELTY_BATCH}."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    toks = d.select(
        F.expr(f"doc_id div {NOVELTY_BATCH}").alias("batch"),
        words().alias("w"),
    ).where(F.size("w") >= 3)
    tg = toks.select(
        "batch",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i),
                    F.element_at("w", i + F.lit(1)),
                    F.element_at("w", i + F.lit(2)),
                ),
            )
        ).alias("g"),
    ).distinct()
    first_seen = tg.groupBy("g").agg(F.min("batch").alias("fb"))
    present = tg.groupBy("batch").agg(F.count(F.lit(1)).cast("long").alias("n_present"))
    novel = first_seen.groupBy(F.col("fb").alias("batch")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    return (
        present.join(novel, "batch", "left")
        .select(
            "batch",
            "n_present",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr(
                "coalesce(n_novel, 0) * 1000000 div n_present"
            ).cast("long").alias("novelty_ppm"),
        )
        .orderBy("batch")
    )
