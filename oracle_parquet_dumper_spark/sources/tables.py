"""Fixture table loaders.

The driver's correctness harness points every query at a directory of
parquet files (one per table, ``/root/testdata/sf*/<name>.parquet``).
Loading goes through ``spark.read.parquet`` so Catalyst's vectorized
reader, predicate pushdown, and column pruning all apply — at 100 TB the
same call reads a partitioned table directory instead of one file, with
no code change.

Parquet schema inference is a one-task Spark job on every
``spark.read.parquet`` call, plus a pyarrow footer read here for the
nanosecond-timestamp check.  A table is read once per query, so
``read_parquet_robust`` infers each file version's schema once per
process and then reads with that schema given: a repeat read runs no
Spark job.  The memo key is the stat of every file under the path plus
the session settings that change what inference returns.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ns_timestamp_columns(path: str) -> list[str]:
    """Column names stored as nanosecond parquet timestamps (which
    Spark's reader rejects outright with PARQUET_TYPE_ILLEGAL)."""
    import pyarrow.dataset as ds
    import pyarrow as pa

    try:
        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


# The session settings that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# memo key -> (inferred StructType, nanosecond-timestamp columns).  One
# small entry per file version read in the process.  Two threads that
# miss together both infer and store the same value, so it needs no lock.
_SCHEMA_MEMO: dict[tuple, tuple[StructType, tuple[str, ...]]] = {}


def _file_versions(path: str) -> tuple | None:
    """``(path, size, st_mtime_ns, st_ino)`` of every file under ``path``
    (the file itself, or every file of a directory table), or None when
    ``path`` cannot be stat'ed locally."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return ((path, st.st_size, st.st_mtime_ns, st.st_ino),)
    files = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(root, n)
            try:
                st = os.stat(f)
            except OSError:  # removed mid-walk: the next read sees it gone
                return None
            files.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(files)


def _infer_schema(spark: SparkSession, path: str) -> tuple[StructType, tuple[str, ...]]:
    """Spark's inferred schema of ``path`` (one Spark job) and the
    nanosecond-timestamp columns it holds as raw longs."""
    ns_cols = _ns_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    ns_longs = tuple(
        f.name for f in schema.fields if f.name in ns_cols and isinstance(f.dataType, LongType)
    )
    return schema, ns_longs


def read_parquet_robust(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet that tolerates nanosecond timestamps: reads
    them as raw nanos (``nanosAsLong``) and truncates to microseconds —
    exactly what DuckDB's ``CAST(ts AS TIMESTAMP)`` does — yielding
    TIMESTAMP_NTZ like every other timestamp column.

    Spark's inferred schema and the nanosecond columns are memoized per
    file version, and every read passes the schema to
    ``spark.read.schema``, so only the first read of a file version pays
    the inference job and the footer read.  The key is the path, the
    ``(path, size, st_mtime_ns, st_ino)`` of every file under it, and the
    ``_INFERENCE_CONFS`` values: adding, removing or rewriting a file, or
    changing one of those settings, misses.  (An in-place rewrite to the
    same size within one file-system timestamp tick would not; writers
    that replace files by rename get a new inode.)  A path ``os.stat``
    cannot see is inferred on every read, so a missing table still raises
    Spark's own PATH_NOT_FOUND."""
    from pyspark.sql import functions as F

    versions = _file_versions(path)
    key = None
    if versions is not None:
        key = (path, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS), versions)
    hit = _SCHEMA_MEMO.get(key)  # None is never stored as a key
    if hit is None:
        hit = _infer_schema(spark, path)
        if key is not None:
            _SCHEMA_MEMO[key] = hit
    elif hit[1]:  # a session started since the memo was filled lacks it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, ns_cols = hit
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Keep this the single scan entry point so a
    switch to another table source is one line."""
    return read_parquet_robust(spark, table_path(sf_dir, name))


def split_scan(df: DataFrame, cpu_weight: int = 1) -> DataFrame:
    """Adaptive scan-parallelism restore (optimization guide §2.5,
    "input skew: one huge unsplittable file").  The fixture tables are
    single-file parquet written with ONE row group, and a row group is
    parquet's splitting unit — so however many cores exist, the scan
    plans ONE task and every heavy per-row map stage downstream
    (tokenize, shingle md5, hyperplane dots) runs single-threaded.
    When a scan under-splits (fewer partitions than defaultParallelism),
    insert one round-robin exchange so the map work spreads across
    cores; on a real multi-file/multi-row-group table the condition is
    false and the plan is unchanged, so nothing here is tuned to local
    mode — the target derives from the session's parallelism.

    CONTRACT: ``df`` must be a scan/filter/project chain (no joins or
    aggregates beneath) — this function touches ``df.rdd`` to count
    partitions, and under AQE converting a DataFrame with shuffles
    beneath it to an RDD eagerly EXECUTES the upstream query stages at
    plan-build time (silent double execution).  Every current call site
    is a filtered fixture scan; keep it that way.

    Apply ONLY above scans feeding heavy per-row work: for cheap row
    work the exchange costs more than it buys (measured at sf0.1:
    minhash signature build 3.07 -> 1.79 s median with the split;
    plain q1-style scan+aggregate 1.09 -> 2.88 s — a regression).
    Round-robin + the default sort-before-repartition keeps the
    row-to-partition assignment deterministic under task retry
    (SPARK-23207), and no query in the registry is sensitive to
    physical row placement (all outputs are order-hashed).

    Bytes floor: below SPARK_GRAFT_SPLIT_SCAN_MIN_BYTES (default 4 MB —
    Spark's own ``files.openCostInBytes`` constant, i.e. "inputs smaller
    than this are not worth extra tasks") the split is skipped: the
    added stages' scheduling latency exceeds the map win on tiny inputs
    (measured at sf0.1, 0.59 MB documents: tfidf 0.58 -> 1.46 s WITH an
    unconditional split), while one decade up the same call sites win
    multiples (SCALING.md round-14 decade table).  The floor tests RAW
    input bytes — it was calibrated on raw file sizes in r14 and must
    keep gating the same inputs whatever ``cpu_weight`` says.

    Bytes-proportional target (r15, VERDICT r14 #1): above the floor
    the split is sized ``min(p, max(2, nbytes*cpu_weight // min_bytes))``
    instead of all-or-nothing ``p`` — Spark's own maxSplitBytes/openCost
    packing logic, applied to the one-row-group case Spark cannot split
    itself.  The r14 all-or-nothing form made the 10.8 MB sf0.1 lineitem
    scan pay a 32-way shuffle + 32 Python worker spin-ups for ~120k
    rows: the driver bench measured the UDF ladder 2.1-2.5x slower.

    ``cpu_weight`` is the per-BYTE CPU cost of the downstream map work
    relative to the light scalar-arithmetic work that calibrated the
    4 MB floor (guide §1.2: per-task work feeds back into sizing).
    Tokenize + k-gram md5 + 16 affine folds over every shingle is
    ~1-2 orders of magnitude more CPU per input byte than one scalar
    UDF call per row, and the r14 decade table shows those call sites
    saturating 32 cores on a 6.2 MB input (minhash signature build
    3.07 -> 1.79 s even on 0.59 MB pre-floor) — so the heavy document
    pipelines pass ``cpu_weight=32``, which reproduces their measured
    r14 sf1 behavior (any above-floor input still fans to full
    parallelism), while light Python-boundary sites keep the default 1
    and split proportionally."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= p:
        return df
    min_bytes = int(os.environ.get("SPARK_GRAFT_SPLIT_SCAN_MIN_BYTES", str(4 << 20)))
    paths = [
        f[len("file:"):] if f.startswith("file:") else f for f in df.inputFiles()
    ]
    try:
        nbytes = sum(os.path.getsize(f) for f in paths)
    except OSError:
        nbytes = 0
    if nbytes < min_bytes:
        return df
    # Effective scan parallelism is bounded by ROW GROUPS, not planned
    # splits: Spark's maxSplitBytes packing happily plans 3 splits over
    # a one-row-group file, but a row group lands whole in the split
    # containing its start offset — the other planned tasks are empty.
    # Footer-only reads, and only on the cur < p path (never at scale).
    # If the footers cannot be read, assume ONE row group: the split then
    # errs toward splitting, never toward a silently one-task scan.
    try:
        import pyarrow.parquet as pq

        row_groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in paths)
    except Exception:
        row_groups = 1
    eff = min(cur, row_groups)
    # ceil, matching Spark's own bin-packing convention
    target = min(p, max(2, (nbytes * cpu_weight + min_bytes - 1) // min_bytes))
    if target <= eff:
        return df
    return df.repartition(int(target))


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register fixture tables as temp views for the SQL API surface."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
