"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

North-star extension (SURVEY.md §2 Part B "Multimodal columns").  The
container has no image/audio codecs, so the decode kernels are
deterministic fakes behind ``_decode_stub`` (clearly marked); everything
Spark-side — schema, binary handling, batch iteration, UDF signatures,
partitioning — is real and tested.  Swapping the stub for PIL/ffmpeg is
a one-function change that touches no plan.

The reference *excludes* LOB/RAW columns outright (main.py:96-97); this
module is the opposite design point: binary payloads are first-class,
processed where they sit (no collect), with metadata extracted into
columns so downstream filters stay JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_parquet_dumper_spark.functions.rounding import dec_sum, dec_sum_sql, hugeint_sql
from oracle_parquet_dumper_spark.functions.rounding import round6 as _round6
from oracle_parquet_dumper_spark.functions.tokens import md5_long_sql
from oracle_parquet_dumper_spark.functions.vectors import cosine_rounded_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str):
    """documents scan with adaptive parallelism restore (r14, guide
    §2.5): every operator here pushes binary payloads through Arrow-
    batched mapInPandas kernels, and the single-row-group fixture scan
    plans ONE task — i.e. one Python worker decodes the whole corpus.
    split_scan spreads the kernel across cores when the scan
    under-splits; no-op on real multi-split tables."""
    from oracle_parquet_dumper_spark.sources.tables import split_scan

    return split_scan(load_table(spark, sf_dir, "documents"), cpu_weight=32)

# The pandas kernels below are shipped to Python workers by cloudpickle.
# By default module-level functions pickle BY REFERENCE (workers would
# need this package importable); register the module for by-value
# pickling so the kernel code travels inside the serialized task and the
# engine works no matter where the driver process runs from.
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def with_payload(df: DataFrame) -> DataFrame:
    """Synthesize a binary 'media payload' column from text (fixtures
    carry no real blobs): payload = utf-8 bytes, mime from source."""
    return df.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.concat(F.lit("fake/"), "source").alias("mime"),
        F.struct(
            F.col("lang").alias("lang"), F.length("text").cast("long").alias("declared_len")
        ).alias("meta"),
    )


@query(
    "mm_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash,
           'fake/' || source AS mime
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata pass: byte length + content digest + mime,
    all JVM-side — the filter/shard stage that runs *before* any
    expensive decode at scale."""
    d = _docs(spark, sf_dir)
    p = with_payload(d)
    return p.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5(F.col("payload")).alias("content_hash"),
        "mime",
    )


# --- decode stubs (the only not-real part; see module docstring) -----------
def _decode_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB image decode: deterministic fake dims + 4-dim feature from
    the payload.  Replace with a real codec (PIL etc.) in prod —
    signature and batch shape stay identical.  The fake is derived from
    md5 of the first 64 characters (the engine-portable digest), so the
    whole decode-and-featurize pass is oracle-checked in SQL."""
    import hashlib

    s = payload.decode("utf-8")[:64]
    h = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
    width = 64 + (h % 192)
    height = 64 + ((h // 192) % 192)
    feat = [_round6(((h >> (8 * i)) & 0xFF) / 255.0) for i in range(4)]
    return width, height, feat


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("aspect", T.DoubleType()),
        # the 4-dim feature vector is flattened to scalar columns so the
        # result stays hashable/sortable for pandas consumers (harness
        # convention in plans/registry.py: no array output columns)
        T.StructField("f0", T.DoubleType()),
        T.StructField("f1", T.DoubleType()),
        T.StructField("f2", T.DoubleType()),
        T.StructField("f3", T.DoubleType()),
    ]
)


def decode_and_featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batch in -> Arrow batch out.  Runs once
    per input batch on the executor; memory is O(batch), and batch size
    is governed by spark.sql.execution.arrow.maxRecordsPerBatch."""
    for pdf in batches:
        out = {
            "doc_id": [], "width": [], "height": [], "aspect": [],
            "f0": [], "f1": [], "f2": [], "f3": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, feat = _decode_stub(bytes(payload))
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["aspect"].append(_round6(w / h))
            for i in range(4):
                out[f"f{i}"].append(feat[i])
        yield pd.DataFrame(out)


@query(
    "mm_image_features",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {md5_long_sql('substring(text, 1, 64)', 1, 8)} AS hv
      FROM documents
    )
    SELECT doc_id,
           CAST(64 + hv % 192 AS INT) AS width,
           CAST(64 + (hv // 192) % 192 AS INT) AS height,
           round(CAST(64 + hv % 192 AS DOUBLE) / (64 + (hv // 192) % 192), 6) AS aspect,
           round((hv % 256) / 255.0, 6) AS f0,
           round(((hv // 256) % 256) / 255.0, 6) AS f1,
           round(((hv // 65536) % 256) / 255.0, 6) AS f2,
           round(((hv // 16777216) % 256) / 255.0, 6) AS f3
    FROM h
    """,
    tags=("multimodal", "pandas_udf"),
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract pipeline over binary payloads via
    mapInPandas (stubbed codec, real plumbing).  Oracle-checked: the
    stub derives dims/features from the md5 digest, which DuckDB
    replays exactly."""
    d = _docs(spark, sf_dir)
    p = with_payload(d).select("doc_id", "payload")
    return p.mapInPandas(decode_and_featurize, IMAGE_FEATURES_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB video frame sampler: emits one 'frame' per 128 characters of
    the decoded payload (1:N fan-out through mapInPandas, the UDTF
    shape); frame_hash is the md5 of each chunk.  Character-based
    framing + md5 keep the kernel deterministic AND expressible in SQL,
    so the fan-out is oracle-checked end to end."""
    import hashlib

    for pdf in batches:
        rows = {"doc_id": [], "frame_idx": [], "frame_hash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            s = bytes(payload).decode("utf-8")
            n_frames = max(1, (len(s) + 127) // 128)
            for i in range(n_frames):
                chunk = s[i * 128 : (i + 1) * 128]
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(i)
                rows["frame_hash"].append(hashlib.md5(chunk.encode("utf-8")).hexdigest())
        yield pd.DataFrame(rows)


@query(
    "mm_frame_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) > 0
    )
    SELECT d.doc_id, CAST(t.i AS INT) AS frame_idx,
           md5(substring(d.text, t.i * 128 + 1, 128)) AS frame_hash
    FROM d, LATERAL unnest(range(0, (d.n + 127) // 128)) AS t(i)
    """,
    tags=("multimodal", "pandas_udf"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (one payload -> N frame rows) via
    mapInPandas; the 1:N generator shape used for video/audio chunking.
    The payload round-trips text through binary (with_payload), so the
    SQL twin frames the text column directly."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    p = with_payload(d).select("doc_id", "payload")
    return p.mapInPandas(sample_frames, FRAME_SCHEMA)


@query(
    "mm_grouped_embed_agg",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n,
           round({dec_sum_sql('CAST(embedding[1] AS DOUBLE)')} / COUNT(*), 6) AS centroid_d1
    FROM embeddings
    GROUP BY label
    """,
    tags=("multimodal", "embedding"),
)
def mm_grouped_embed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid component over the embedding array column —
    the typed-array aggregation pattern (first dim only, decimal-exact)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            dec_sum(F.element_at("embedding", 1).cast("double"))
            / F.count(F.lit(1)),
            6,
        ).alias("centroid_d1"),
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),  # 64-bit dHash, two's-complement
    ]
)

# 4 bands x 16 bits, threshold 3 — the published 64-bit fingerprint
# dedup configuration (Manku, Jain & Das Sarma, WWW'07 §3: k=3 with 4
# blocks).  Round-9 measurement forced this: the previous 8x8-bit
# banding saturates at scale — an 8-bit band key has only 256 values,
# so per-bucket occupancy grows as N/256 and candidate pairs as N^2/256
# once N >> 2k (measured 512.7 s engine-side at sf1's 600k docs);
# 16-bit keys defer the same blow-up by 256x (65k values -> ~9 docs per
# bucket at sf1, ~10M candidates).  Pigeonhole exactness holds at the
# tighter threshold: 3 errors cannot touch all 4 bands.
PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_HAMMING_MAX = 3


def payload_dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB perceptual hash (dHash): 65 region sums (4 codepoints each)
    over the first 260 characters of the decoded payload, bit_i =
    region_i > region_{i+1}.  With a real image codec the regions are
    downsampled grayscale pixels (the actual dHash algorithm); the
    signature, 64-bit output, and batch shape are identical.  Local
    edits perturb few region sums, so near-identical payloads land
    within a small Hamming distance.  Codepoint regions (not raw bytes)
    keep the hash SQL-replayable, so the whole near-dup pass is
    oracle-checked."""
    for pdf in batches:
        out = {"doc_id": [], "phash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            cps = [ord(ch) for ch in bytes(payload).decode("utf-8")[:260]]
            regions = [sum(cps[i * 4 : (i + 1) * 4]) for i in range(65)]
            h = 0
            for i in range(64):
                if regions[i] > regions[i + 1]:
                    h |= 1 << i
            if h >= 1 << 63:  # two's-complement into int64
                h -= 1 << 64
            out["doc_id"].append(doc_id)
            out["phash"].append(h)
        yield pd.DataFrame(out)


@query(
    "mm_phash_neardup",
    # The oracle is the BRUTE-FORCE Hamming-threshold join: the banded
    # join is exact (full recall) by the pigeonhole argument in the
    # docstring, so banded-Spark == brute-force-SQL is precisely the
    # property worth checking.
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             list_transform(string_split(substring(text, 1, 260), ''),
                            x -> unicode(x)) AS cps
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             list_transform(range(0, 65),
                            i -> coalesce(list_sum(list_slice(cps, i*4 + 1, i*4 + 4)), 0)) AS regs
      FROM c
    ),
    p AS (
      SELECT doc_id,
             CAST(CASE WHEN hu >= {hugeint_sql('1')} << 63
                       THEN hu - ({hugeint_sql('1')} << 64) ELSE hu END AS BIGINT) AS phash
      FROM (
        SELECT doc_id,
               list_sum(list_transform(range(0, 64),
                    i -> CASE WHEN regs[i+1] > regs[i+2]
                              THEN {hugeint_sql('1')} << i
                              ELSE {hugeint_sql('0')} END)) AS hu
        FROM r
      )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
    """,
    tags=("multimodal", "dedup", "lsh", "pandas_udf"),
    band_bits=16,  # ruled: Manku pigeonhole fixes 4 x 16-bit blocks
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media detection by perceptual hash: Python touches
    each payload exactly once (the mapInPandas dHash stub); candidate
    generation and verification are pure JVM — explode the 64-bit hash
    into {PHASH_BANDS} {PHASH_BAND_BITS}-bit bands (Manku et al. WWW'07
    k={PHASH_HAMMING_MAX}), equi-join on (band, band_value), then
    verify bit_count(XOR) <= {PHASH_HAMMING_MAX}.

    By pigeonhole, any pair within Hamming distance {PHASH_BANDS}-1
    shares at least one clean band, so at threshold {PHASH_HAMMING_MAX}
    the banded join is EXACT (full recall), not approximate — asserted
    against a brute-force pass in tests AND against the brute-force SQL
    oracle (codepoint-region dHash is DuckDB-replayable).  At 100 TB the
    (band, value) key bucket-partitions like every other LSH key here —
    band-key CARDINALITY is the scale limiter (the r9 lesson: 8-bit
    bands saturate at 256 values and went quadratic by sf1), which is
    why the band width is 16 bits; per-candidate verification is one
    XOR+popcount."""
    d = _docs(spark, sf_dir)
    p = with_payload(d).select("doc_id", "payload")
    hashes = materialize(p.mapInPandas(payload_dhash, PHASH_SCHEMA))

    bands = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("phash", b * PHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                        .alias("val"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "phash", "bb.band", "bb.val")
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "val"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.phash").alias("ha"),
            F.col("r.phash").alias("hb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= PHASH_HAMMING_MAX)
    )


EMBED_DIM = 8

EMBED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fake_embedding", T.ArrayType(T.DoubleType())),
    ]
)


def embed_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB embedding model: deterministic 8-dim vector from the decoded
    payload (replace with a real encoder; batch shape is the contract).
    Dim i hashes every 8th character starting at i (first 32 of them)
    with md5 — strided so local edits move several dims, md5 so DuckDB
    replays the embedding bit-for-bit (the fake stays oracle-checkable
    through the downstream cosine match)."""
    import hashlib

    for pdf in batches:
        out = {"doc_id": [], "fake_embedding": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            s = bytes(payload).decode("utf-8")
            vec = []
            for i in range(EMBED_DIM):
                chunk = s[i::EMBED_DIM][:32]
                h = int(hashlib.md5(chunk.encode("utf-8")).hexdigest()[:8], 16)
                vec.append((h % 2001 - 1000) / 1000.0)
            out["doc_id"].append(doc_id)
            out["fake_embedding"].append(vec)
        yield pd.DataFrame(out)


def _embed_component_sql(j: int) -> str:
    """DuckDB twin of one ``embed_payloads`` dimension: md5 of the
    strided character subsequence, mapped into [-1, 1]."""
    strided = (
        "array_to_string(list_slice(list_filter(string_split(text, ''), "
        f"(x, i) -> (i - 1) % {EMBED_DIM} = {j}), 1, 32), '')"
    )
    return f"({md5_long_sql(strided, 1, 8)} % 2001 - 1000) / 1000.0"


def _embed_match_oracle() -> str:
    fe = "[" + ", ".join(_embed_component_sql(j) for j in range(EMBED_DIM)) + "]"
    cen = ", ".join(
        f"{dec_sum_sql(f'CAST(embedding[{j + 1}] AS DOUBLE)')} / COUNT(*)"
        for j in range(EMBED_DIM)
    )
    return f"""
    WITH emb AS (
      SELECT doc_id, {fe} AS fe
      FROM documents WHERE length(text) > 0
    ),
    cen AS (
      SELECT label, [{cen}] AS centroid FROM embeddings GROUP BY label
    ),
    scored AS (
      SELECT e.doc_id, c.label, {cosine_rounded_sql('e.fe', 'c.centroid')} AS cos
      FROM emb e CROSS JOIN cen c
    ),
    r AS (
      SELECT doc_id, label, cos,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cos DESC, label) AS rn
      FROM scored
    )
    SELECT doc_id, label AS best_label, cos FROM r WHERE rn = 1
    """


@query(
    "mm_embed_and_match",
    oracle=_embed_match_oracle(),
    tags=("multimodal", "pandas_udf", "similarity"),
)
def mm_embed_and_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embed-then-search composition: binary payloads -> mapInPandas
    embedding stub -> nearest centroid by cosine (centroids = per-label
    means of the first EMBED_DIM dims of the embeddings table).  The
    multimodal -> similarity pipeline shape: decode/embed is the only
    Python stage; matching stays JVM-side.  Oracle-checked end to end:
    md5-derived fake embeddings + decimal-mean centroids + rounded
    cosine are all engine-portable."""
    from oracle_parquet_dumper_spark.functions.vectors import cosine

    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    embedded = with_payload(d).select("doc_id", "payload").mapInPandas(
        embed_payloads, EMBED_SCHEMA
    )
    e = load_table(spark, sf_dir, "embeddings")
    centroids = (
        e.groupBy("label")
        .agg(
            F.array(
                *[
                    (dec_sum(F.element_at("embedding", i + 1).cast("double")) / F.count(F.lit(1)))
                    for i in range(EMBED_DIM)
                ]
            ).alias("centroid")
        )
    )
    scored = embedded.crossJoin(F.broadcast(centroids)).select(
        "doc_id", "label", F.round(cosine("fake_embedding", "centroid"), 6).alias("cos")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("cos").desc(), "label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("label").alias("best_label"), "cos")
    )


# ---------------------------------------------------------------------------
# Audio: payload bytes as 8-bit PCM -> framed energy / zero-crossing rate
# ---------------------------------------------------------------------------

AUDIO_FRAME = 256  # samples per analysis frame

AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("n_crossings", T.LongType()),
    ]
)


def audio_frame_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: each payload is DECODED (stub: bytes as
    unsigned 8-bit PCM centered at 128 — swapping in a real codec via
    soundfile/ffmpeg touches only this line) and framed into
    {AUDIO_FRAME}-sample windows; per frame: energy = sum((s-128)^2)
    and the zero-crossing count — the classic silence/voicing screens
    run before any expensive audio model.  1:N generator shape, all
    integer outputs so the DuckDB twin is bit-exact."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "frame_id", "n_samples", "energy", "n_crossings")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            s = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64) - 128
            for f in range(0, len(s), AUDIO_FRAME):
                fr = s[f : f + AUDIO_FRAME]
                neg = fr < 0
                out["doc_id"].append(doc_id)
                out["frame_id"].append(f // AUDIO_FRAME)
                out["n_samples"].append(len(fr))
                out["energy"].append(int((fr * fr).sum()))
                out["n_crossings"].append(int((neg[1:] != neg[:-1]).sum()))
        yield pd.DataFrame(out)


@query(
    "mm_audio_frame_energy",
    oracle=f"""
    WITH samples AS (
      SELECT doc_id, generate_subscripts(s, 1) - 1 AS pos, unnest(s) AS v
      FROM (SELECT doc_id, list_transform(split(text, ''), c -> ascii(c)) AS s
            FROM documents
            -- ASCII-only, non-empty: split('','') yields [''] (a phantom
            -- 0-sample) and ascii() returns CODEPOINTS while the kernel
            -- reads UTF-8 OCTETS, so the two sides are provably equal
            -- exactly on this restriction (1 char == 1 byte == its code).
            WHERE length(text) > 0 AND length(text) = strlen(text))
    ),
    marked AS (
      SELECT doc_id, pos // {AUDIO_FRAME} AS frame_id, v,
             CASE WHEN pos % {AUDIO_FRAME} != 0
                   AND (v < 128) != (LAG(v) OVER (PARTITION BY doc_id ORDER BY pos) < 128)
                  THEN 1 ELSE 0 END AS crossing
      FROM samples
    )
    SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
           COUNT(*) AS n_samples,
           CAST(SUM((v - 128) * (v - 128)) AS BIGINT) AS energy,
           CAST(SUM(crossing) AS BIGINT) AS n_crossings
    FROM marked GROUP BY doc_id, frame_id
    """,
    tags=("multimodal", "pandas_udf", "audio"),
)
def mm_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over opaque binary payloads: frame into
    {AUDIO_FRAME}-sample windows, emit per-frame energy and
    zero-crossing count via an Arrow-batched mapInPandas kernel — the
    seventh mm_* operator, filling the audio slot next to image
    features (mm_image_features) and video frame sampling
    (mm_frame_sample).  The decode is the documented deterministic stub
    (fixtures carry no real audio; the reference excludes binary
    columns outright, main.py:96-97); the Spark-side plumbing — binary
    column, 1:N batch generator, integer feature columns — is real.
    Oracle-checked because the stub PCM equals the text's ASCII codes,
    which DuckDB reproduces with split+ascii; all outputs are exact
    integers.  Both sides restrict to NON-EMPTY, ASCII-ONLY docs
    (length == octet_length): outside that set the kernel reads UTF-8
    octets while the oracle's ascii() reads codepoints (and DuckDB's
    split('','') emits a phantom '' sample), so the restriction is what
    makes the equivalence hold for ANY input, not just the current
    all-ASCII fixtures.  The JVM-side filter also keeps non-decodable
    docs out of the Arrow boundary.  At 100 TB: kernel is O(batch), no
    state across rows, and frames inherit the scan's partitioning — the
    decode stage scales with executors like any map."""
    d = _docs(spark, sf_dir).where(
        (F.length("text") > 0) & (F.length("text") == F.octet_length("text"))
    )
    p = with_payload(d).select("doc_id", "payload")
    return p.mapInPandas(audio_frame_features, AUDIO_FRAME_SCHEMA)


VIDEO_FRAME = 64  # chars per fake frame (stub decode, see module doc)
VIDEO_CUT_MILLI = 3000  # scene-cut threshold on |delta mean luma|, milli-units

SCENE_CUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("ml_prev", T.LongType()),
        T.StructField("ml_cur", T.LongType()),
        T.StructField("delta_milli", T.LongType()),
    ]
)


def scene_cut_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: STUB video decode (payload bytes = the frame
    stream; a real build swaps in ffmpeg keyframe extraction here),
    frames of {VIDEO_FRAME} bytes, per-frame mean luma in exact
    milli-units ((1000*sum) // n), and a scene cut wherever consecutive
    frame means jump by more than {VIDEO_CUT_MILLI}.  The per-payload
    sequential diff lives INSIDE the kernel (frames of one video never
    span batches because the fan-out happens here), so no window/state
    is needed Spark-side — the shape real shot-detection uses."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "frame_idx", "ml_prev", "ml_cur", "delta_milli")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
            prev = None
            for i in range(0, len(b), VIDEO_FRAME):
                fr = b[i : i + VIDEO_FRAME]
                ml = int(1000 * int(fr.sum()) // len(fr))
                if prev is not None and abs(ml - prev) > VIDEO_CUT_MILLI:
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i // VIDEO_FRAME)
                    out["ml_prev"].append(prev)
                    out["ml_cur"].append(ml)
                    out["delta_milli"].append(abs(ml - prev))
                prev = ml
        yield pd.DataFrame(out)


@query(
    "mm_video_scene_cut",
    oracle=f"""
    WITH samples AS (
      SELECT doc_id, generate_subscripts(s, 1) - 1 AS pos, unnest(s) AS v
      FROM (SELECT doc_id, list_transform(split(text, ''), c -> ascii(c)) AS s
            FROM documents
            -- same ASCII-only, non-empty restriction as
            -- mm_audio_frame_energy: 1 char == 1 byte == its code
            WHERE length(text) > 0 AND length(text) = strlen(text))
    ),
    fr AS (
      SELECT doc_id, pos // {VIDEO_FRAME} AS frame_idx,
             CAST((1000 * SUM(v)) // COUNT(*) AS BIGINT) AS ml
      FROM samples GROUP BY doc_id, pos // {VIDEO_FRAME}
    ),
    d AS (
      SELECT doc_id, frame_idx, ml,
             lag(ml) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS mp
      FROM fr
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           mp AS ml_prev, ml AS ml_cur,
           abs(ml - mp) AS delta_milli
    FROM d
    WHERE mp IS NOT NULL AND abs(ml - mp) > {VIDEO_CUT_MILLI}
    """,
    tags=("multimodal", "pandas_udf", "video"),
)
def mm_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut (shot boundary) detection over opaque binary
    payloads: frame the stream into {VIDEO_FRAME}-byte fake frames,
    compute per-frame mean luma exactly in milli-units, and report
    every transition whose mean jumps by more than {VIDEO_CUT_MILLI} —
    the eighth mm_* operator, the temporal-DIFF complement of
    mm_frame_sample's stateless chunking.  Decode is the documented
    deterministic stub (no codecs in the container; the reference
    excludes binary columns outright, main.py:96-97) but the
    frame-to-frame sequential comparison inside an Arrow-batched
    kernel is exactly how a real shot detector runs at scale: one
    payload's frames never cross batches, so the diff needs no
    Spark-side window or shuffle — the ONLY exchange in the plan is
    the parquet scan's.  Same ASCII/non-empty input restriction as
    mm_audio_frame_energy (octets == codepoints on that domain), so
    the oracle replays the kernel bit-for-bit."""
    d = _docs(spark, sf_dir).where(
        (F.length("text") > 0) & (F.length("text") == F.octet_length("text"))
    )
    p = with_payload(d).select("doc_id", "payload")
    return p.mapInPandas(scene_cut_kernel, SCENE_CUT_SCHEMA)


# --- tile-contrast screen (image uniformity proxy) --------------------------

TILE_BYTES = 16

TILE_CONTRAST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tiles", T.LongType()),
        T.StructField("tile_sum_total", T.LongType()),
        T.StructField("contrast_milli", T.LongType()),
    ]
)


def tile_contrast_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB image-tile analyzer: payload bytes in {TILE_BYTES}-byte
    tiles, per-tile 'brightness' = byte sum, doc-level contrast =
    integer population variance of tile sums in milli-units — all
    exact BIGINT arithmetic so the SQL twin replays it bit-for-bit.
    A real codec slots in at the byte-decode step (multimodal.py
    module note); the Spark-side plumbing is what's under test."""
    for pdf in batches:
        rows = {"doc_id": [], "n_tiles": [], "tile_sum_total": [], "contrast_milli": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            if not b:
                continue
            sums = [
                sum(b[i : i + TILE_BYTES])
                for i in range(0, len(b), TILE_BYTES)
            ]
            n = len(sums)
            s = sum(sums)
            ss = sum(x * x for x in sums)
            rows["doc_id"].append(doc_id)
            rows["n_tiles"].append(n)
            rows["tile_sum_total"].append(s)
            rows["contrast_milli"].append((1000 * (n * ss - s * s)) // (n * n))
        yield pd.DataFrame(rows)


@query(
    "mm_tile_contrast",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE length(text) > 0 AND length(text) = strlen(text)
    ),
    chars AS (
      SELECT doc_id, (i - 1) // {TILE_BYTES} AS tile, ascii(substring(text, i, 1)) AS b
      FROM d, unnest(generate_series(1, length(text))) AS t(i)
    ),
    tiles AS (SELECT doc_id, tile, CAST(SUM(b) AS BIGINT) AS s FROM chars GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS ssum,
             CAST(SUM(s * s) AS BIGINT) AS ss
      FROM tiles GROUP BY 1
    )
    SELECT doc_id, n AS n_tiles, ssum AS tile_sum_total,
           (1000 * (n * ss - ssum * ssum)) // (n * n) AS contrast_milli
    FROM agg
    """,
    tags=("multimodal", "pandas_udf", "agg"),
)
def mm_tile_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image TILE-CONTRAST screen via mapInPandas: decode the payload
    (stubbed: utf-8 bytes), split into {TILE_BYTES}-byte tiles, score
    each doc by the integer variance of tile brightness — the
    uniformity proxy multimodal curation uses to drop blank / solid /
    banner-dominated images before paying for a real model pass
    (near-zero contrast = flat payload).  ASCII-only docs keep byte ==
    codepoint so the SQL twin can replay the byte math with ascii();
    a real image codec replaces only the bytes-in step.

    Scale shape: pure mapInPandas projection — no shuffle at all; the
    Arrow batch is the unit of work and output is one row per doc.
    The oracle pays an explode to char rows (oracle cost, not engine
    cost — the engine side never materializes per-byte rows)."""
    d = _docs(spark, sf_dir).where(
        (F.length("text") > 0) & (F.length("text") == F.octet_length("text"))
    )
    p = with_payload(d).select("doc_id", "payload")
    return p.mapInPandas(tile_contrast_kernel, TILE_CONTRAST_SCHEMA)


# --- fixed-size chunk dedup over binary payloads (r11) ----------------------

CHUNK_BYTES = 64


@query(
    "mm_chunk_dedup",
    oracle=f"""
    WITH chunks AS (
      SELECT md5(substring(text, i * {CHUNK_BYTES} + 1, {CHUNK_BYTES})) AS dig
      FROM documents,
           LATERAL unnest(generate_series(0, length(text) // {CHUNK_BYTES} - 1)) AS u(i)
      WHERE length(text) >= {CHUNK_BYTES}
    ),
    per AS (SELECT dig, CAST(COUNT(*) AS BIGINT) AS c FROM chunks GROUP BY dig)
    SELECT CAST(SUM(c) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(MAX(c) AS BIGINT) AS max_chunk_copies,
           CAST((1000000 * (SUM(c) - COUNT(*))) // SUM(c) AS BIGINT) AS dup_ppm
    FROM per
    """,
    tags=("multimodal", "binary", "dedup", "agg"),
)
def mm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-level CHUNK dedup over binary payloads: split every
    payload into fixed {CHUNK_BYTES}-byte chunks (tail fragment
    dropped), digest each, and report corpus-wide chunk duplication —
    total chunks, distinct chunks, the hottest chunk's copy count, and
    the dedup-able fraction in ppm.  This is the content-addressable
    storage estimate (how much would a CAS/chunk store save?) that
    complements the DOCUMENT-level dedup family: media payloads often
    share byte ranges (headers, silence, borders) without whole-file
    duplication.  Fixed-size chunking is the deterministic baseline the
    content-defined (rolling-hash) variant would refine at the cost of
    boundary-shift resistance.

    The Spark side chunks the BINARY payload column (the multimodal
    plumbing contract — substring/md5 operate on byte slices); the
    oracle chunks the text the payload encodes, byte-identical for the
    fixtures' ASCII text (with_payload, multimodal.py:43-48).

    Scale shape: chunk digests are a row-local explode (one md5 per
    chunk, computed BEFORE any movement); the only shuffle is the
    16-byte digest groupBy with map-side partial aggregation, then a
    1-row fold.  Chunk rows = corpus bytes / {CHUNK_BYTES} — linear,
    and never wider than a digest."""
    d = _docs(spark, sf_dir)
    p = with_payload(d).where(F.octet_length("payload") >= CHUNK_BYTES)
    digs = p.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, octet_length(payload) div {CHUNK_BYTES} - 1), "
                f"i -> md5(substring(payload, i * {CHUNK_BYTES} + 1, {CHUNK_BYTES})))"
            )
        ).alias("dig")
    )
    per = digs.groupBy("dig").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return per.agg(
        F.sum("c").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        F.max("c").cast("long").alias("max_chunk_copies"),
        F.expr(
            "CAST((1000000 * (SUM(c) - COUNT(*))) div SUM(c) AS BIGINT)"
        ).alias("dup_ppm"),
    )


# --- silence-run analysis over audio frames (r11) ---------------------------

SILENCE_ENERGY_PER_SAMPLE = 16  # mean squared deviation < 16 (RMS < 4) = silent


@query(
    "mm_audio_silence_ratio",
    oracle=f"""
    WITH samples AS (
      SELECT doc_id, generate_subscripts(s, 1) - 1 AS pos, unnest(s) AS v
      FROM (SELECT doc_id, list_transform(split(text, ''), c -> ascii(c)) AS s
            FROM documents
            WHERE length(text) > 0 AND length(text) = strlen(text))
    ),
    frames AS (
      SELECT doc_id, pos // {AUDIO_FRAME} AS frame_id,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM((v - 128) * (v - 128)) AS BIGINT) AS energy
      FROM samples GROUP BY doc_id, pos // {AUDIO_FRAME}
    ),
    marked AS (
      SELECT doc_id, frame_id,
             energy < n_samples * {SILENCE_ENERGY_PER_SAMPLE} AS silent
      FROM frames
    ),
    runs AS (
      SELECT doc_id,
             frame_id - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame_id)
               AS island,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS _dummy
      FROM marked WHERE silent
    ),
    longest AS (
      SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS longest_silence_frames
      FROM (SELECT doc_id, island, COUNT(*) AS run_len FROM runs GROUP BY doc_id, island)
      GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
      FROM marked GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_frames, b.n_silent,
           CAST((1000000 * b.n_silent) // b.n_frames AS BIGINT) AS silence_ppm,
           COALESCE(l.longest_silence_frames, 0) AS longest_silence_frames
    FROM base b LEFT JOIN longest l ON b.doc_id = l.doc_id
    """,
    tags=("multimodal", "pandas_udf", "audio", "window"),
)
def mm_audio_silence_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SILENCE analysis over the stub-decoded audio frames: per doc,
    the silent-frame fraction (frame energy below
    {SILENCE_ENERGY_PER_SAMPLE} mean-squared units, RMS < 4) and the
    LONGEST consecutive silent run — the two numbers a speech pipeline
    reads to decide trimming (leading/trailing silence) and splitting
    (long internal pauses).  Composes the mm_audio_frame_energy kernel
    (same Arrow-batched mapInPandas stub decode, same ASCII-exactness
    restriction) with a gaps-and-islands run-length pass — the
    window_gaps_islands pattern applied to frames instead of days.

    Exact integers end to end; docs with no silent frames report run
    length 0 via the left join rather than vanishing.

    Scale shape: the kernel is O(batch) map work; the islands
    (row_number) and both folds all key on doc_id — ONE doc-partitioned
    exchange of the frame relation (frames = bytes/{AUDIO_FRAME},
    narrower than the corpus); the run-length groupBy reuses the same
    clustering."""
    d = _docs(spark, sf_dir).where(
        (F.length("text") > 0) & (F.length("text") == F.octet_length("text"))
    )
    p = with_payload(d).select("doc_id", "payload")
    frames = p.mapInPandas(audio_frame_features, AUDIO_FRAME_SCHEMA)
    marked = frames.select(
        "doc_id",
        "frame_id",
        (F.col("energy") < F.col("n_samples") * SILENCE_ENERGY_PER_SAMPLE).alias(
            "silent"
        ),
    )
    w = W.partitionBy("doc_id").orderBy("frame_id")
    runs = (
        marked.where("silent")
        .select("doc_id", (F.col("frame_id") - F.row_number().over(w)).alias("island"))
        .groupBy("doc_id", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").cast("long").alias("longest_silence_frames"))
    )
    base = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum(F.when(F.col("silent"), 1).otherwise(0)).cast("long").alias("n_silent"),
    )
    return base.join(runs, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        "n_silent",
        F.expr("CAST((1000000 * n_silent) div n_frames AS BIGINT)").alias(
            "silence_ppm"
        ),
        F.coalesce("longest_silence_frames", F.lit(0))
        .cast("long")
        .alias("longest_silence_frames"),
    )
