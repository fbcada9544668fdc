"""Iterative algorithms as convergence loops over DataFrame plans:
Lloyd k-means on the embeddings table and BPE merge learning on the
documents vocabulary.

North-star extension (SURVEY.md §2 Part B — "iterative algorithms" in
the non-SQL-expressible category, alongside dedup_clusters' connected
components).  Both follow the canonical distributed-iteration shape:

  per round:  ONE distributed pass over the data
              -> aggregate a BOUNDED model state (K centroids / 1 pair)
              -> collect that model to the driver
              -> broadcast it back as literals in the next round's plan

The per-round collect is K*dim (k-means) or one row (BPE) — model
state, not data; this is exactly how MLlib's own KMeans iterates.  Data
rows never reach the driver, and each round's lineage starts from the
scan plus literals (no growing plan, no checkpoint needed).

Both are oracle-checked: each loop unrolls into chained CTEs (the
PageRank-oracle pattern).  K-means uses decimal-exact centroid means
and the proven list_dot_product sequential fold for distances; BPE
replays the greedy leftmost merge relationally (run-grouped match
positions, odd-rank parity — see ``_bpe_oracle``), so every round is
bit-identical across engines.  ``tests/test_iterative.py`` additionally
pins k-means invariants (monotone WCSS, partition counts) and BPE
merge-for-merge against an independent pure-Python reference
implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import to_double, to_double_sql
from oracle_parquet_dumper_spark.functions.vectors import as_double
from oracle_parquet_dumper_spark.functions.tokens import words, words_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table

K_CLUSTERS = 4
KMEANS_ITERS = 3
KMEANS_INIT_IDS = (0, 1, 2, 3)  # deterministic seeding: these rows' vectors

N_BPE_MERGES = 5
END_MARK = "_"  # end-of-word symbol appended before pair counting


def _sq_dist(vec_d, centroid: list[float]):
    """Squared L2 distance between a pre-cast array<double> column and a
    centroid literal — one interpreted fold per (row, centroid); the
    cast is hoisted per-row (see functions/vectors.as_double)."""
    c = F.array(*[F.lit(float(v)) for v in centroid])
    diffs = F.zip_with(vec_d, c, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _assign(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """cluster = argmin over centroid distances.  The (dist, k) struct
    array's array_min gives lexicographic (min dist, then min k) — a
    deterministic tiebreak with no window or join."""
    pairs = F.array(
        *[
            F.struct(_sq_dist(F.col("vd"), c).alias("d"), F.lit(k).alias("k"))
            for k, c in enumerate(centroids)
        ]
    )
    best = F.array_min(pairs)
    return base.select("vec_id", "vd", best["d"].alias("dist"), best["k"].alias("cluster"))


def _kmeans_chain() -> tuple[str, str]:
    """The Lloyd loop unrolled into chained DuckDB CTEs; returns
    (cte_chain, final_assign_name) where the final CTE has columns
    (vec_id, vd, cluster, dist).  Shared by the kmeans oracle and the
    semantic-dedup oracle (dedup.py) so both replay the identical loop.

    Distances reuse the proven list_dot_product sequential fold over
    the per-dimension diffs (bit-identical to Spark's zip_with +
    aggregate); centroid means are exact decimal sums with double
    division; empty clusters keep the previous centroid via COALESCE,
    mirroring the Spark driver loop."""
    init_case = " ".join(f"WHEN {v} THEN {k}" for k, v in enumerate(KMEANS_INIT_IDS))
    ids = ", ".join(str(v) for v in KMEANS_INIT_IDS)

    def assign(r: int, cen_arr: str) -> str:
        return f"""a{r} AS (
      SELECT vec_id, vd, cluster, dist FROM (
        SELECT vec_id, vd, cluster, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM (
          SELECT e.vec_id, e.vd, c.cluster, list_dot_product(d.d, d.d) AS dist
          FROM e CROSS JOIN {cen_arr} c,
               LATERAL (SELECT list_transform(e.vd, (x, i) -> x - c.c[i]) AS d) d
        )
      ) WHERE rn = 1
    )"""

    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings)",
        f"""cenarr0 AS (
      SELECT CASE vec_id {init_case} END AS cluster, vd AS c
      FROM e WHERE vec_id IN ({ids})
    )""",
        """cenpos0 AS (
      SELECT cluster, generate_subscripts(c, 1) - 1 AS pos, unnest(c) AS m FROM cenarr0
    )""",
    ]
    for r in range(1, KMEANS_ITERS + 1):
        parts.append(assign(r, f"cenarr{r - 1}"))
        parts.append(f"""m{r} AS (
      SELECT cluster, pos,
             {to_double_sql('SUM(CAST(x AS DECIMAL(25,12)))')} / COUNT(*) AS m
      FROM (SELECT cluster, generate_subscripts(vd, 1) - 1 AS pos, unnest(vd) AS x FROM a{r})
      GROUP BY cluster, pos
    )""")
        parts.append(f"""cenpos{r} AS (
      SELECT p.cluster, p.pos, COALESCE(n.m, p.m) AS m
      FROM cenpos{r - 1} p LEFT JOIN m{r} n ON p.cluster = n.cluster AND p.pos = n.pos
    )""")
        parts.append(f"""cenarr{r} AS (
      SELECT cluster, list(m ORDER BY pos) AS c FROM cenpos{r} GROUP BY cluster
    )""")
    parts.append(assign(KMEANS_ITERS + 1, f"cenarr{KMEANS_ITERS}"))
    return ",\n    ".join(parts), f"a{KMEANS_ITERS + 1}"


def _kmeans_oracle() -> str:
    chain, final = _kmeans_chain()
    return f"""
    WITH {chain}
    SELECT CAST(cluster AS INT) AS cluster, COUNT(*) AS n_members,
           round({to_double_sql('SUM(CAST(dist AS DECIMAL(25,12)))')}, 6) AS wcss
    FROM {final} GROUP BY cluster
    """


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the {KMEANS_ITERS}-round Lloyd loop and return the final
    assignment relation (vec_id, vd, dist, cluster) — the shared core
    of emb_kmeans_lloyd and dedup_semantic_kmeans (dedup.py).  Only
    K*dim aggregated doubles reach the driver per round."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", as_double("embedding").alias("vd"))

    init = {
        r.vec_id: list(r.vd)
        for r in base.where(F.col("vec_id").isin(*KMEANS_INIT_IDS)).collect()
    }
    centroids = [init[i] for i in KMEANS_INIT_IDS]

    for _ in range(KMEANS_ITERS):
        assigned = _assign(base, centroids)
        means = (
            assigned.select("cluster", F.posexplode("vd").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                # exact decimal sum, then DOUBLE division (not decimal
                # division — engines disagree on decimal-quotient scale
                # rules, doubles are IEEE-identical everywhere)
                (to_double(F.sum(F.col("x").cast("decimal(25,12)"))) / F.count(F.lit(1)))
                .alias("m")
            )
            .collect()
        )
        new = {}
        for r in means:
            new.setdefault(r.cluster, {})[r.pos] = r.m
        centroids = [
            [new[k][p] for p in range(len(centroids[k]))] if k in new else centroids[k]
            for k in range(K_CLUSTERS)
        ]

    return _assign(base, centroids)


@query("emb_kmeans_lloyd", oracle=_kmeans_oracle(), tags=("embedding", "iterative", "flagship"))
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means, {KMEANS_ITERS} rounds, K={K_CLUSTERS}, seeded from
    fixed vec_ids.  Per round: one distributed assign pass (argmin over
    K centroid-distance folds), one (cluster, dim)-keyed mean — only
    K*64 aggregated doubles ever reach the driver.  Means accumulate in
    DECIMAL so the centroids (hence every later assignment) are
    independent of partition merge order — reruns are bit-stable.
    Returns per-cluster size and WCSS; at 100 TB the same loop runs with
    the assign pass unchanged and the model collect still K*dim."""
    final = kmeans_assignments(spark, sf_dir)
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(to_double(F.sum(F.col("dist").cast("decimal(25,12)"))), 6).alias("wcss"),
        )
        .select(F.col("cluster").cast("int").alias("cluster"), "n_members", "wcss")
    )


def _merge_pair(syms, left: str, right: str):
    """Greedy left-to-right merge of one adjacent symbol pair inside an
    array<string> column, as a single fold: append each symbol unless it
    completes the pair with the accumulator's tail, in which case the
    tail is replaced by the merged symbol.  Overlaps resolve leftmost
    ("aaa" + (a,a) -> ["aa","a"]) exactly like the reference algorithm."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left)) & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_oracle() -> str:
    """SQL twin of text_bpe_merges: the merge loop unrolled into chained
    CTEs (the _pagerank_oracle/_kmeans_oracle template).  The only
    non-relational step — the greedy leftmost merge fold — is replayed
    relationally: match positions -> consecutive-run grouping (pos minus
    row_number) -> keep odd ranks within each run (a merge consumes its
    right neighbour, blocking the next overlapping match) -> rebuild the
    symbol list, dropping consumed positions.  Counts are integers and
    the top-1 tiebreak (count desc, pair-string asc) is binary-collation
    string order in both engines, so every round is exactly
    reproducible."""
    parts = [
        f"""w0 AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest({words_sql()}) AS w
        FROM documents WHERE length(text) > 0
      ) GROUP BY w
    )""",
        f"""v1 AS (
      SELECT w AS word, freq,
             list_append(list_transform(range(1, length(w) + 1), i -> w[i]), '{END_MARK}') AS syms
      FROM w0
    )""",
    ]
    for r in range(1, N_BPE_MERGES + 1):
        parts.append(f"""u{r} AS (
      SELECT word, freq, generate_subscripts(syms, 1) AS pos, unnest(syms) AS s FROM v{r}
    )""")
        parts.append(f"""uu{r} AS (
      SELECT word, freq, pos, s, LEAD(s) OVER (PARTITION BY word ORDER BY pos) AS s2 FROM u{r}
    )""")
        parts.append(f"""top{r} AS (
      SELECT string_split(p, ' ')[1] AS l, string_split(p, ' ')[2] AS r, cnt FROM (
        SELECT s || ' ' || s2 AS p, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM uu{r} WHERE s2 IS NOT NULL GROUP BY p
      ) ORDER BY cnt DESC, p ASC LIMIT 1
    )""")
        if r < N_BPE_MERGES:
            parts.append(f"""sel{r} AS (
      SELECT word, pos FROM (
        SELECT word, pos, ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn FROM (
          SELECT uu.word, uu.pos,
                 uu.pos - ROW_NUMBER() OVER (PARTITION BY uu.word ORDER BY uu.pos) AS grp
          FROM uu{r} uu, top{r} t WHERE uu.s = t.l AND uu.s2 = t.r
        )
      ) WHERE rn % 2 = 1
    )""")
            parts.append(f"""v{r + 1} AS (
      SELECT u.word, u.freq,
             list(CASE WHEN sh.pos IS NOT NULL THEN t.l || t.r ELSE u.s END ORDER BY u.pos) AS syms
      FROM u{r} u
      CROSS JOIN top{r} t
      LEFT JOIN sel{r} sh ON u.word = sh.word AND u.pos = sh.pos
      LEFT JOIN sel{r} sp ON u.word = sp.word AND u.pos = sp.pos + 1
      WHERE sp.pos IS NULL
      GROUP BY u.word, u.freq, t.l, t.r
    )""")
    chain = ",\n    ".join(parts)
    unions = "\n      UNION ALL ".join(
        f'SELECT {r - 1} AS step, l AS "left", r AS "right", l || r AS merged, '
        f"cnt AS pair_count FROM top{r}"
        for r in range(1, N_BPE_MERGES + 1)
    )
    return f"""
    WITH {chain}
    SELECT * FROM (
      {unions}
    ) ORDER BY step
    """


@query("text_bpe_merges", oracle=_bpe_oracle(), tags=("text", "tokenize", "iterative", "flagship"))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first {N_BPE_MERGES} BPE merges (Sennrich et al. 2016)
    over the documents vocabulary.  The corpus collapses to (distinct
    word, frequency) first — the classic BPE trick that makes every
    later round O(vocabulary), not O(corpus).  Per round: pair counts
    via two slices zipped (no window, no per-word shuffle), one global
    top-1 (count desc, pair asc tiebreak) collected as the round's
    model, then one in-plan fold rewrites the symbol arrays.  Returns
    the learned merge table (step, left, right, merged, pair_count) —
    integer counts, so the result is exactly reproducible (pinned
    against a pure-Python reference in tests/test_iterative.py)."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    word_freq = (
        d.select(F.explode(words()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = materialize(
        word_freq.select(
            "freq",
            F.concat(
                # split-to-chars keeps a trailing empty (limit -1) — drop it
                F.filter(F.split("w", "(?!^)"), lambda s: F.length(s) > 0),
                F.array(F.lit(END_MARK)),
            ).alias("syms"),
        ),
        eager=True,
    )  # vocabulary is small; re-folding each round reads this

    merges: list[tuple[int, str, str, int]] = []
    for step in range(N_BPE_MERGES):
        n = F.size("syms")
        pair_col = F.zip_with(
            F.slice("syms", 1, n - 1),
            F.slice("syms", 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),  # symbols never contain spaces
        )
        top = (
            vocab.where(n >= 2)
            .select(F.explode(pair_col).alias("p"), "freq")
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0].p.split(" ")
        merges.append((step, left, right, int(top[0].cnt)))
        vocab = vocab.select("freq", _merge_pair(F.col("syms"), left, right).alias("syms"))
        vocab = materialize(vocab, eager=True)  # keep each round's plan flat

    return spark.createDataFrame(
        [(s, l, r, l + r, c) for (s, l, r, c) in merges],
        "step int, left string, right string, merged string, pair_count bigint",
    )
