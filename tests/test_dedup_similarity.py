"""Semantic tests for the operators the DuckDB oracle can't check
(Spark-specific hashing): MinHash-LSH and SimHash on planted
near-duplicates, and ANN recall against the exact brute-force top-k."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.operators.dedup import minhash_signatures_df


BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and writes parquet files to storage "
    "then the optimizer prunes columns pushes filters reorders joins and "
    "broadcasts small dimension tables before the adaptive execution layer "
    "coalesces shuffle partitions and rewrites skewed joins at runtime"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit -> high jaccard
FAR = "completely different content about databases indexes transactions and logs"


@pytest.fixture(scope="module")
def planted(spark):
    rows = [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)]  # 4 = exact dup of 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_signature_properties(spark, planted):
    sig = minhash_signatures_df(planted).collect()
    by_id = {r.doc_id: r.sig for r in sig}
    assert all(len(s) == 16 for s in by_id.values())
    # exact dup -> identical signature
    assert by_id[1] == by_id[4]
    agree = lambda a, b: sum(x == y for x, y in zip(a, b)) / 16
    # near-dup agrees on most minhashes; far doc on almost none
    assert agree(by_id[1], by_id[2]) >= 0.5
    assert agree(by_id[1], by_id[3]) <= 0.25


def test_minhash_signature_sql_twin_per_document(spark):
    """The SQL twin gives each document the signature the Spark builder
    gives it, on the token counts the fixtures never isolate: none, one,
    two and three words, and a repeated trigram.  Documents without a
    token get no signature on either side."""
    import duckdb

    from oracle_parquet_dumper_spark.operators.dedup import N_MINHASH, _minhash_sig_sql

    rows = [
        (1, ""), (2, "   "), (3, None), (4, "Solo"), (5, "two  words"),
        (6, "exactly three words"), (7, "a b c a b c a b c d"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: list(r.sig) for r in minhash_signatures_df(docs).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    hs = ", ".join(f"h{i}" for i in range(N_MINHASH))
    want = {
        r[0]: list(r[1:])
        for r in con.sql(f"WITH {_minhash_sig_sql()} SELECT doc_id, {hs} FROM mh_sig").fetchall()
    }
    assert sorted(got) == [4, 5, 6, 7]
    assert got == want


def test_minhash_lsh_finds_planted_pair(spark, tmp_path):
    """Run the full LSH query over a directory containing a documents
    table with planted near-dups; the pair (1,2) and the exact pair (1,4)
    must surface, FAR must not pair with anything."""
    docs = spark.createDataFrame(
        [(1, BASE, "en", "s", len(BASE)), (2, NEAR, "en", "s", len(NEAR)),
         (3, FAR, "en", "s", len(FAR)), (4, BASE, "en", "s", len(BASE))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from oracle_parquet_dumper_spark.plans import REGISTRY

    out = REGISTRY["dedup_minhash_lsh"].fn(spark, str(tmp_path)).collect()
    pairs = {(r.a, r.b) for r in out}
    assert (1, 4) in pairs
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    est = {(r.a, r.b): r.est_jaccard for r in out}
    assert est[(1, 4)] == 1.0


def test_simhash_hamming_locality(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, BASE, "en", "s", 1), (2, NEAR, "en", "s", 1), (3, FAR, "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from oracle_parquet_dumper_spark.plans import REGISTRY

    rows = REGISTRY["dedup_simhash"].fn(spark, str(tmp_path)).collect()
    sh = {r.doc_id: r.simhash for r in rows}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near, far = hamming(sh[1], sh[2]), hamming(sh[1], sh[3])
    assert near < far, (near, far)
    assert near <= 12  # one-word edit flips few bits
    assert far >= 16  # unrelated text ~32 expected


# |sim_ann_lsh ∩ exact top-10| on the sf0.01 fixture, measured: the
# query's bucket holds 3 of the 499 other random vectors, none of them
# among its 10 nearest (8 fixed planes; recall floors at scale are
# pinned for the multiprobe queries in test_ann_recall_sf1.py)
ANN_LSH_HITS = 0


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """sim_ann_lsh is the brute-force top-TOP_K (cos desc, vec_id) among
    the vectors in the query's sign-LSH bucket, and its recall against
    the unrestricted brute-force top-TOP_K is pinned on the fixture."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.functions.vectors import cosine_rounded
    from oracle_parquet_dumper_spark.operators.similarity import QUERY_VEC_ID, TOP_K, _bucket
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    scored = e.crossJoin(q).select(
        "vec_id", _bucket("embedding").alias("bucket"), cosine_rounded("embedding", "qvec").alias("cos")
    ).collect()
    qbucket = next(r.bucket for r in scored if r.vec_id == QUERY_VEC_ID)
    others = [r for r in scored if r.vec_id != QUERY_VEC_ID]

    def top(rows):
        return [r.vec_id for r in sorted(rows, key=lambda r: (-r.cos, r.vec_id))[:TOP_K]]

    ann = [r.vec_id for r in REGISTRY["sim_ann_lsh"].fn(spark, sf_dir).collect()]
    exact = [r.vec_id for r in REGISTRY["sim_topk_bruteforce"].fn(spark, sf_dir).collect()]
    assert ann == top([r for r in others if r.bucket == qbucket])
    assert exact == top(others)
    assert len(set(ann) & set(exact)) == ANN_LSH_HITS


def test_knn_join_scores_in_double_precision(spark, tmp_path):
    """sim_knn_join's cosine matches its oracle where float32 products
    would not: the neighbour is chosen so that summing the
    float32-rounded element products moves the 6-digit rounded cosine."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.testing import compare

    def cos(x, q, prod):
        norms = np.sqrt(sum(float(a) * float(a) for a in x) * sum(float(b) * float(b) for b in q))
        return round(sum(prod(a, b) for a, b in zip(x, q)) / norms, 6)

    rng = np.random.default_rng(0)
    q = rng.standard_normal(64).astype(np.float32)
    for _ in range(5000):
        x = rng.standard_normal(64).astype(np.float32)
        exact = cos(x, q, lambda a, b: float(a) * float(b))
        if exact != cos(x, q, lambda a, b: float(a * b)):  # a * b: float32 product
            break
    else:
        raise AssertionError("no vector found whose float32 cosine rounds differently")
    table = pa.table({
        "vec_id": pa.array([0, 1], pa.int64()),
        "embedding": pa.array([q.tolist(), x.tolist()], pa.list_(pa.float32())),
        "label": pa.array([0, 0], pa.int32()),
    })
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(table, path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")

    spec = REGISTRY["sim_knn_join"]
    df = spec.fn(spark, str(tmp_path))
    assert [tuple(r) for r in df.collect()] == [(0, 1, exact, 1)]
    rep = compare(spec.name, df, con, spec.oracle)
    assert rep.match, rep.detail


def test_ivf_topk_contains_bruteforce_cell_hits(spark, sf_dir):
    from oracle_parquet_dumper_spark.plans import REGISTRY

    ivf = REGISTRY["sim_ivf_coarse"].fn(spark, sf_dir).collect()
    assert 0 < len(ivf) <= 10
    cells = {r.label for r in ivf}
    assert len(cells) <= 2  # nprobe=2


def test_exact_dedup_on_planted(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "aaa", "en", "s", 3), (2, "aaa", "en", "s", 3), (3, "bbb", "en", "s", 3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from oracle_parquet_dumper_spark.plans import REGISTRY

    rows = REGISTRY["dedup_exact"].fn(spark, str(tmp_path)).collect()
    by_keeper = {r.keeper_id: r.n_copies for r in rows}
    assert by_keeper == {1: 2, 3: 1}


def test_connected_components_planted(spark):
    from oracle_parquet_dumper_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], ["a", "b"]
    )
    comps = {r.node: r.component for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_planted(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, BASE, "en", "s", 1), (2, NEAR, "en", "s", 1), (3, FAR, "en", "s", 1),
         (4, BASE, "en", "s", 1), (5, BASE + " extra tail words here", "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from oracle_parquet_dumper_spark.plans import REGISTRY

    rows = REGISTRY["dedup_clusters"].fn(spark, str(tmp_path)).collect()
    clusters = {r.component: (r.keeper_id, r.cluster_size) for r in rows}
    # 1,2,4,5 near/exact-dup cluster with keeper 1; 3 is a singleton (no pair -> absent)
    assert clusters.get(1, (None, 0))[0] == 1
    assert clusters[1][1] >= 3
    assert all(3 not in (comp, keeper) for comp, (keeper, _) in clusters.items())


def test_pipeline_curation_monotone_and_planted(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, BASE, "en", "s", 1),
            (2, NEAR, "en", "s", 1),     # near-dup of 1 -> dropped
            (3, FAR, "en", "s", 1),      # unique survivor
            (4, BASE, "en", "s", 1),     # exact dup of 1 -> dropped
            (5, "", "en", "s", 1),       # empty -> quality-gated
            (6, "one two", "de", "s", 1) # too short -> quality-gated
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from oracle_parquet_dumper_spark.plans import REGISTRY

    out = {r.lang: (r.n_docs, r.token_budget) for r in
           REGISTRY["pipeline_curation"].fn(spark, str(tmp_path)).collect()}
    # survivors: doc 1 (cluster keeper) + doc 3
    assert out == {"en": (2, out["en"][1])}
    assert out["en"][0] == 2
    assert out["en"][1] > 0


def test_mm_embed_and_match_deterministic(spark, sf_dir):
    from oracle_parquet_dumper_spark.plans import REGISTRY

    a = sorted(map(tuple, REGISTRY["mm_embed_and_match"].fn(spark, sf_dir).limit(50).collect()))
    b = sorted(map(tuple, REGISTRY["mm_embed_and_match"].fn(spark, sf_dir).limit(50).collect()))
    assert a == b
    assert all(-1.0 <= r[2] <= 1.0 for r in a)  # cosine bounds


def test_grouped_agg_median_close_to_exact(spark, sf_dir):
    """The pandas grouped-agg median must agree with the built-in exact
    percentile to float tolerance (they share the interpolation rule)."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources import load_table

    udf_out = {
        r.l_returnflag: r.median_price
        for r in REGISTRY["udf_grouped_agg_pandas"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r.m
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", 0.5).alias("m"))
        .collect()
    }
    assert udf_out.keys() == exact.keys()
    for k in exact:
        assert abs(udf_out[k] - exact[k]) < 1e-6 * max(1.0, abs(exact[k]))


def test_apply_in_pandas_zscores_standardized(spark, sf_dir):
    """Each group's z-scores must have ~zero mean and ~unit variance."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.plans import REGISTRY

    stats = (
        REGISTRY["udf_apply_in_pandas"].fn(spark, sf_dir)
        .groupBy("l_returnflag")
        .agg(F.avg("price_z").alias("mu"), F.stddev("price_z").alias("sd"))
        .collect()
    )
    for r in stats:
        assert abs(r.mu) < 1e-3
        assert abs(r.sd - 1.0) < 1e-2


def test_sample_bernoulli_deterministic_and_bounded(spark, sf_dir):
    from oracle_parquet_dumper_spark.plans import REGISTRY

    a = sorted(r.doc_id for r in REGISTRY["sample_bernoulli"].fn(spark, sf_dir).collect())
    b = sorted(r.doc_id for r in REGISTRY["sample_bernoulli"].fn(spark, sf_dir).collect())
    assert a == b  # same seed -> same sample
    n_total = 500  # documents at sf0.01
    assert 0.1 * n_total < len(a) < 0.3 * n_total


def test_split_partitions_complete_and_disjoint(spark, sf_dir):
    from oracle_parquet_dumper_spark.plans import REGISTRY

    rows = REGISTRY["split_train_dev_test"].fn(spark, sf_dir).collect()
    by_split = {r.split: r.n for r in rows}
    assert set(by_split) == {"train", "dev", "test"}
    assert sum(by_split.values()) == 500
    assert by_split["train"] > by_split["dev"]
    assert by_split["train"] > by_split["test"]


def test_ann_multiprobe_dominates_single_probe(spark, sf_dir):
    """Multi-probe candidates are a superset of single-probe candidates,
    so its k-th best cosine must be >= the single-probe k-th best, and
    every result bucket must be within Hamming distance 1 of the query's."""
    from oracle_parquet_dumper_spark.plans import REGISTRY

    single = REGISTRY["sim_ann_lsh"].fn(spark, sf_dir).collect()
    multi = REGISTRY["sim_ann_lsh_multiprobe"].fn(spark, sf_dir).collect()
    assert 0 < len(multi) <= 10
    assert min(r.cos for r in multi) >= min(r.cos for r in single)

    qbucket = {r.bucket for r in single}
    assert len(qbucket) == 1
    (qb,) = qbucket
    for r in multi:
        dist = sum(a != b for a, b in zip(r.bucket, qb))
        assert dist <= 1, (r.bucket, qb)


def test_ann_pandas_rerank_matches_jvm_expression(spark, sf_dir):
    """The Arrow-batched numpy re-rank must return the same ids as the
    pure-JVM expression re-rank over the identical candidate set."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.functions.vectors import cosine_rounded
    from oracle_parquet_dumper_spark.operators.similarity import QUERY_VEC_ID, TOP_K
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources.tables import load_table

    pandas_ids = [
        r.vec_id for r in REGISTRY["sim_ann_ivf_rerank_pandas"].fn(spark, sf_dir).collect()
    ]

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), F.col("label").alias("qcell")
    )
    jvm_ids = [
        r.vec_id
        for r in (
            e.join(F.broadcast(q), F.col("label") == F.col("qcell"))
            .where(F.col("vec_id") != QUERY_VEC_ID)
            .select("vec_id", cosine_rounded("embedding", "qvec").alias("cos"))
            .orderBy(F.col("cos").desc(), "vec_id")
            .limit(TOP_K)
            .collect()
        )
    ]
    assert pandas_ids == jvm_ids


def test_ann_pandas_rerank_without_query_vector_matches_oracle(spark, smoke_sf_dir, tmp_path):
    """No QUERY_VEC_ID row in embeddings: the re-rank returns the oracle's
    empty result with its usual schema instead of indexing a missing row."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from oracle_parquet_dumper_spark.operators.similarity import QUERY_VEC_ID
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.testing import compare

    emb = pq.read_table(os.path.join(smoke_sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(emb.filter(pc.field("vec_id") != QUERY_VEC_ID), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")

    spec = REGISTRY["sim_ann_ivf_rerank_pandas"]
    df = spec.fn(spark, str(tmp_path))
    assert df.schema.simpleString() == "struct<vec_id:bigint,cos:double>"
    rep = compare(spec.name, df, con, spec.oracle)
    assert rep.match, rep.detail


def test_join_skew_salted_equals_plain_join(spark, sf_dir):
    """The salted join must be row-for-row identical to the plain join."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources.tables import load_table

    salted = {
        (r.n_name, r.n_li) for r in REGISTRY["join_skew_salted"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    plain = {
        (r.n_name, r.n_li)
        for r in (
            li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_li"))
            .collect()
        )
    }
    assert salted == plain


def test_repetition_ratio_bounds(spark, sf_dir):
    from oracle_parquet_dumper_spark.plans import REGISTRY

    rows = REGISTRY["text_repetition_ratio"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.top_bigram_frac <= 1.0
        assert 0.0 <= r.dup_word_frac < 1.0


def test_label_propagation_conserves_and_reaches_seeds(spark, sf_dir):
    """Every doc is counted exactly once; seed count matches the seed
    predicate; propagated labels only exist where the near-dup graph
    connects an unlabeled doc to a seed's component."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.operators.dedup import (
        connected_components,
        dedup_minhash_lsh,
    )
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_seeds = d.where(F.col("doc_id") % 10 == 0).count()

    rows = REGISTRY["dedup_label_propagation"].fn(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == n_docs
    assert sum(r.n for r in rows if r.status == "seed") == n_seeds

    n_prop = sum(r.n for r in rows if r.status == "propagated")
    if n_prop:
        # every propagated doc must share a CC with at least one seed
        pairs = dedup_minhash_lsh(spark, sf_dir).select("a", "b")
        comps = connected_components(pairs)
        seeded_comps = {
            r.component
            for r in comps.where(F.col("node") % 10 == 0).select("component").collect()
        }
        reachable = comps.where(
            (F.col("node") % 10 != 0) & F.col("component").isin(list(seeded_comps))
        ).count()
        assert n_prop <= reachable

def test_quantized_topk_recall_and_error(spark, sf_dir):
    """int8-quantized cosine must (a) rank close to full precision —
    high overlap with the exact top-10 — and (b) bound the per-pair
    cosine error: |qcos - cos| for a 64-dim unit-ish vector quantized at
    127 levels stays well under 0.05."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.functions.vectors import cosine_rounded
    from oracle_parquet_dumper_spark.operators.similarity import QUERY_VEC_ID
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources.tables import load_table

    quant = REGISTRY["sim_topk_quantized_int8"].fn(spark, sf_dir).collect()
    exact = REGISTRY["sim_topk_bruteforce"].fn(spark, sf_dir).collect()
    overlap = {r.vec_id for r in quant} & {r.vec_id for r in exact}
    assert len(overlap) >= 7  # quantization may swap near-ties only

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qvec"))
    cos_by_id = {
        r.vec_id: r.cos
        for r in e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id").isin([x.vec_id for x in quant]))
        .select("vec_id", cosine_rounded("embedding", "qvec").alias("cos"))
        .collect()
    }
    for r in quant:
        assert abs(r.qcos - cos_by_id[r.vec_id]) < 0.05


def test_phash_neardup_full_recall_vs_bruteforce(spark, smoke_sf_dir):
    """At threshold <= bands-1 the banded join is EXACT: its pair set
    must equal the brute-force Hamming scan over the same hashes."""
    from pyspark.sql import functions as F

    from oracle_parquet_dumper_spark.operators.multimodal import (
        PHASH_HAMMING_MAX,
        PHASH_SCHEMA,
        payload_dhash,
        with_payload,
    )
    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.sources.tables import load_table

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in REGISTRY["mm_phash_neardup"].fn(spark, smoke_sf_dir).collect()
    }

    d = load_table(spark, smoke_sf_dir, "documents")
    hashes = (
        with_payload(d).select("doc_id", "payload").mapInPandas(payload_dhash, PHASH_SCHEMA)
    )
    hs = {r.doc_id: r.phash for r in hashes.collect()}
    import itertools

    want = {}
    for a, b in itertools.combinations(sorted(hs), 2):
        ham = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        if ham <= PHASH_HAMMING_MAX:
            want[(a, b)] = ham
    assert got == want


def test_phash_locality_planted_edit(spark, tmp_path):
    """A single-character edit must stay within the near-dup threshold;
    an unrelated payload must not collide at distance 0."""
    from oracle_parquet_dumper_spark.operators.multimodal import (
        PHASH_HAMMING_MAX,
        PHASH_SCHEMA,
        payload_dhash,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    edited = base[:50] + "X" + base[51:]
    other = "completely different content with other statistics 12345 " * 6
    df = spark.createDataFrame(
        [(0, bytearray(base.encode())), (1, bytearray(edited.encode())), (2, bytearray(other.encode()))],
        "doc_id long, payload binary",
    )
    hs = {r.doc_id: r.phash for r in df.mapInPandas(payload_dhash, PHASH_SCHEMA).collect()}
    ham = lambda a, b: bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
    assert ham(0, 1) <= PHASH_HAMMING_MAX
    assert ham(0, 2) > PHASH_HAMMING_MAX


@pytest.mark.parametrize(
    "name",
    [
        "dedup_clusters",
        "pipeline_curation",
        "dedup_label_propagation",
        "graph_pagerank",
        # band relations: the lazy materialize in dedup._minhash_pairs
        # and in lsh.banded_buckets
        "dedup_minhash_lsh",
        "dedup_embedding_cosine_lsh",
    ],
)
def test_reliable_checkpoints_match_default_mode(spark, sf_dir, reliable_checkpoints, name):
    """With a checkpoint dir set, every lineage cut of the query is a
    reliable checkpoint: the result is the one the default
    (localCheckpoint) mode returns, checkpoint files land in the dir,
    and the dir is unset again afterwards."""
    from oracle_parquet_dumper_spark.plans import REGISTRY

    fn = REGISTRY[name].fn

    def result_hash():
        rows = sorted(tuple(str(v) for v in r) for r in fn(spark, sf_dir).collect())
        return hashlib.md5(repr(rows).encode()).hexdigest()

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    base = result_hash()
    with reliable_checkpoints() as ckpt:
        reliable = result_hash()
        written = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert sc.getCheckpointDir() is None
    assert reliable == base
    assert written, "reliable mode wrote no checkpoint files"


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain longer than the round budget must raise, not silently
    return non-minimal labels (wrong dedup keepers + oracle flap)."""
    import pytest

    from oracle_parquet_dumper_spark.operators.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=1)
    comps = {
        (r.node, r.component)
        for r in connected_components(chain, max_iterations=10).collect()
    }
    assert comps == {(i, 0) for i in range(7)}


def test_dedup_incremental_planted_verdicts(spark, tmp_path):
    """The fixture corpus has no exact duplicates, so plant all three
    verdict tiers: doc 7 (batch, INC_MOD=7) is an exact copy of corpus
    doc 1, doc 14 is a one-word edit of corpus doc 2, doc 21 is novel.
    Evidence must be the SMALLEST matching corpus doc (doc 1 also
    duplicates doc 3 — matched_id must be 1, not 3)."""
    docs = spark.createDataFrame(
        [
            (1, BASE, "en", "s", len(BASE)),
            (2, BASE.replace("quick", "rapid"), "en", "s", 3),
            (3, BASE, "en", "s", len(BASE)),  # corpus-internal dup of 1
            (7, BASE, "en", "s", len(BASE)),  # batch: exact dup of 1 (and 3)
            (14, NEAR, "en", "s", len(NEAR)),  # batch: near dup of 2 (1 edit)
            (21, FAR, "en", "s", len(FAR)),  # batch: novel
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from oracle_parquet_dumper_spark.plans import REGISTRY

    rows = {r.doc_id: r for r in REGISTRY["dedup_incremental"].fn(spark, str(tmp_path)).collect()}
    assert set(rows) == {7, 14, 21}
    assert (rows[7].verdict, rows[7].matched_id) == ("exact_dup", 1)
    assert rows[14].verdict == "near_dup" and rows[14].matched_id in (1, 2, 3)
    assert (rows[21].verdict, rows[21].matched_id) == ("novel", None)


def test_dedup_incremental_stored_matches_recompute(spark, sf_dir, tmp_path):
    """The stored-state admission path returns byte-identical verdicts
    to the per-batch recompute variant, and its plan proves the corpus
    side is a SCAN of the standing index (round-6 verdict "Next" #2):
    the only documents.parquet scans are the batch side, and both state
    tables appear as parquet FileScans — no corpus text is hashed or
    signed at admission time."""
    import re

    from oracle_parquet_dumper_spark.operators.dedup import (
        dedup_incremental,
        dedup_incremental_stored,
        write_dedup_corpus_state,
    )

    state_dir = str(tmp_path / "state")
    write_dedup_corpus_state(spark, sf_dir, state_dir)
    got = dedup_incremental_stored(spark, sf_dir, state_dir=state_dir)
    want = dedup_incremental(spark, sf_dir)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    # the corpus side is a SCAN of the stored index: every
    # documents.parquet FileScan carries the BATCH filter
    # (doc_id % 7 = 0) — no corpus document is read, hashed or signed —
    # and the remaining parquet scans are exactly the two stored-state
    # reads (corpus_digests once: evidence join; corpus_bands once —
    # r15 dropped the anti-join, so the digest table is no longer read
    # a second time).  Scan LOCATION paths truncate at 100 chars in
    # plan strings, so the assertion keys on filters + counts, not
    # paths.
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    doc_lines = [ln for ln in scan_lines if "documents.parquet" in ln]
    batch = re.compile(r"(?<!NOT \()\(doc_id#\d+L? % 7\) = 0")
    corpus = re.compile(r"NOT \(\(doc_id#\d+L? % 7\) = 0\)")
    assert doc_lines, "expected batch-side documents scans"
    assert all(batch.search(ln) and not corpus.search(ln) for ln in doc_lines), doc_lines
    assert len(scan_lines) - len(doc_lines) == 2, scan_lines
    # the recompute variant reads corpus documents (NOT(batch) scans) —
    # the stored variant must not.
    ref_plan = want._jdf.queryExecution().executedPlan().toString()
    ref_doc = [
        ln
        for ln in ref_plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert any(corpus.search(ln) for ln in ref_doc)


def test_dedup_incremental_stored_planted_verdicts(spark, tmp_path):
    """Cold-start path: same planted three-tier fixture as the
    recompute variant; the query builds the state tables on first call
    and still lands the exact/near/novel verdicts."""
    docs = spark.createDataFrame(
        [
            (1, BASE, "en", "s", len(BASE)),
            (2, BASE.replace("quick", "rapid"), "en", "s", 3),
            (3, BASE, "en", "s", len(BASE)),
            (7, BASE, "en", "s", len(BASE)),
            (14, NEAR, "en", "s", len(NEAR)),
            (21, FAR, "en", "s", len(FAR)),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from oracle_parquet_dumper_spark.operators.dedup import dedup_incremental_stored

    rows = {
        r.doc_id: r
        for r in dedup_incremental_stored(
            spark, str(tmp_path), state_dir=str(tmp_path / "state")
        ).collect()
    }
    assert set(rows) == {7, 14, 21}
    assert (rows[7].verdict, rows[7].matched_id) == ("exact_dup", 1)
    assert rows[14].verdict == "near_dup" and rows[14].matched_id in (1, 2, 3)
    assert (rows[21].verdict, rows[21].matched_id) == ("novel", None)
