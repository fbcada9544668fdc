"""Storage layouts for scale: bucketed tables and space-filling-curve
clustering (SURVEY.md §2 Part B sources row; SCALING.md co-location
story).

- **Bucketing** (``bucketBy`` + ``saveAsTable``): rows are pre-hashed
  into a fixed bucket count on the join/agg key, so a join of two
  tables bucketed on the same key by the same count runs with NO
  exchange on either side — the shuffle happened once at write time and
  is amortized over every subsequent join.  The right layout for the
  huge fact-fact joins (orders x lineitem) that dominate 100 TB plans.
  ``tests/test_bucketing.py`` asserts the exchange-free plan.

- **Curve clustering** (Hilbert / Z-order range repartition): every
  written file gets a tight min/max envelope on several columns at
  once, so row-group and file statistics skip on each of them.

The reference (main.py:110-189) always writes one flat directory per
table; both layouts here are Part B extensions over its sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed parquet table in the session
    catalog.  ``n_buckets`` is the write-time shuffle width AND the
    read-time parallelism floor — pick it from target partition size
    (total bytes / 128 MB), not from cluster size, and use the SAME
    count for every table that joins on ``bucket_col``; mismatched
    counts reintroduce one side's exchange."""
    w = df.write.mode(mode).option("path", path).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


# --- shared stored-state lifecycle primitives ------------------------------
#
# Both stored-state layouts (ensure_bucketed_state here and the dedup
# corpus index in operators/dedup.py) promote builds with the same two
# moves: atomic rename into the fingerprint-keyed location, then GC of
# superseded siblings.  Round-9 shipped both moves with latent hazards
# (ADVICE r9): a swallowed rename failure could silently serve
# stale/partial state, and an immediate sibling rmtree could kill a
# concurrent session mid-scan.  These helpers are the hardened versions
# both call sites share.

STATE_GC_GRACE_S = 1800.0  # gc_state_siblings' grace when none is passed

_SUPERSEDED_MARK = ".superseded"


def promote_state_build(tmp_path: str, path: str, complete) -> None:
    """Atomically promote a finished build dir into its keyed location.

    ``os.rename`` failing does NOT imply a concurrent session landed
    identical bytes — the destination may pre-exist stale (an explicit
    dir reused after the corpus changed) or half-written (a crashed
    copy).  Round 9 treated every OSError as a benign concurrent win,
    which silently discarded the fresh rebuild (ADVICE r9, medium).
    Here the loss is accepted ONLY when ``complete()`` verifies the
    destination is a finished build of the same fingerprint-keyed
    location; otherwise the error propagates so the caller never serves
    unverified state."""
    import os
    import shutil

    try:
        os.rename(tmp_path, path)
    except OSError:
        shutil.rmtree(tmp_path, ignore_errors=True)
        if not complete():
            raise


def revive_state(path: str) -> None:
    """Clear a stale tombstone from a keyed state dir that has become
    current again (the corpus was regenerated back to identical bytes,
    so a previously-superseded fingerprint is live once more).  Without
    this, the next supersede could skip straight to phase-2 removal on
    the old tombstone's age."""
    import contextlib
    import os

    with contextlib.suppress(OSError):
        os.remove(os.path.join(path, _SUPERSEDED_MARK))


def gc_state_siblings(
    base: str,
    keep: str,
    *,
    grace_s: float | None = None,
    on_remove=None,
) -> list[str]:
    """Two-phase, age-gated GC of superseded state under ``base``.

    Deleting a superseded fingerprint sibling the moment a new build
    lands races any long-running session still mid-scan over it (the
    dir's mtime says when it was BUILT, not when it was last read, so
    age alone can't prove quiescence).  Phase 1 therefore only
    TOMBSTONES a superseded sibling (touches ``<sib>/.superseded``);
    phase 2 removes it once the tombstone itself is older than the
    grace period — a reader that started before the supersede has had
    the whole grace window to finish.  Abandoned ``.tmp.*`` build dirs
    from crashed sessions are swept on the same age gate (mtime is
    correct for those: nothing reads a tmp dir but its writer, and a
    crashed writer stops touching it).

    ``grace_s`` defaults to ``STATE_GC_GRACE_S``, read at call time.
    Returns the sibling names actually removed; ``on_remove(name)``
    runs for each (catalog deregistration hook)."""
    import os
    import shutil
    import time

    grace = STATE_GC_GRACE_S if grace_s is None else grace_s
    now = time.time()
    removed: list[str] = []
    try:
        siblings = os.listdir(base)
    except OSError:
        return removed
    for old in siblings:
        if old == keep:
            continue
        p = os.path.join(base, old)
        try:
            if ".tmp." in old:
                if now - os.stat(p).st_mtime >= grace:
                    shutil.rmtree(p, ignore_errors=True)
                continue
            mark = os.path.join(p, _SUPERSEDED_MARK)
            if not os.path.exists(mark):
                with open(mark, "w") as fh:
                    fh.write(f"{now}")
                continue
            if now - os.stat(mark).st_mtime >= grace:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(old)
                if on_remove is not None:
                    on_remove(old)
        except OSError:
            continue  # raced a concurrent GC — someone else removed it
    return removed


def ensure_bucketed_state(
    spark: SparkSession,
    sf_dir: str,
    *,
    state_name: str,
    fp_table: str,
    schema_ddl: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str,
    build,
) -> str:
    """Ensure a corpus-derived, round-invariant relation exists as a
    bucketed parquet table and return its catalog name — the shared
    lifecycle for iterative operators whose per-round join side must
    keep HashPartitioning at any scale (graph_pagerank_bucketed,
    dedup_label_propagation_bucketed).

    Lifecycle rules (VERDICT r8 #3 / ADVICE r8), all planted-tested in
    tests/test_round9_ops.py:

    - state lives at ``<tmp>/<state_name>/<md5(sf_dir)>/<fingerprint>``,
      where the fingerprint is a content hash of ``fp_table``'s parquet
      files (sizes + mtimes) — regenerating the fixture in place
      rotates the key;
    - the catalog registration and the data path are verified
      INDEPENDENTLY: a registration whose data is gone is dropped and
      rebuilt; a warm path with no registration (fresh session) is
      re-registered as an external bucketed table WITHOUT rewriting
      (a concurrent session may be mid-scan);
    - builds land via write-to-unique-tempdir + atomic rename, never
      overwrite-in-place on the shared path; a FAILED rename is
      accepted only when the destination is verifiably complete (a
      concurrent identical build won), else it raises
      (promote_state_build);
    - superseded fingerprint siblings of the same corpus path (and
      their catalog entries) are garbage-collected with the two-phase
      tombstone + grace-period protocol of ``gc_state_siblings``, so a
      concurrent session mid-scan over the superseded state keeps its
      files for the whole grace window; crashed builds' ``.tmp.*``
      dirs are swept on the same age gate.

    ``build(spark)`` returns the DataFrame to persist; ``schema_ddl``
    is its column DDL for the external re-registration."""
    import hashlib
    import os
    import tempfile
    import uuid

    # function-level: dedup imports the registry package, which imports
    # operator modules that import this module
    from oracle_parquet_dumper_spark.operators.dedup import _corpus_fingerprint

    pathkey = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:12]
    fpkey = _corpus_fingerprint(sf_dir, table=fp_table)
    base = os.path.join(tempfile.gettempdir(), state_name, pathkey)
    path = os.path.join(base, fpkey)
    table = f"{state_name}_{pathkey}_{fpkey}"

    def data_present() -> bool:
        return os.path.isfile(os.path.join(path, "_SUCCESS"))

    if spark.catalog.tableExists(table):
        if data_present():
            revive_state(path)  # fingerprint reinstated => clear tombstone
            return table
        spark.sql(f"DROP TABLE IF EXISTS {table}")  # registration outlived data

    if data_present():
        revive_state(path)
    else:
        nonce = uuid.uuid4().hex[:8]
        tmp_table = f"{table}_tmp_{nonce}"
        tmp_path = f"{path}.tmp.{nonce}"
        write_bucketed_table(
            build(spark),
            tmp_table,
            tmp_path,
            bucket_col=bucket_col,
            n_buckets=n_buckets,
            sort_col=sort_col,
        )
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")  # external: files stay
        os.makedirs(base, exist_ok=True)
        # rename failure is benign ONLY if a concurrent identical build
        # (same fingerprint => same corpus) verifiably completed; a
        # half-written destination must raise, not fall through to
        # CREATE TABLE over missing data (ADVICE r9)
        promote_state_build(tmp_path, path, data_present)
        gc_state_siblings(
            base,
            fpkey,
            on_remove=lambda old: spark.sql(
                f"DROP TABLE IF EXISTS {state_name}_{pathkey}_{old}"
            ),
        )

    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) "
        f"USING parquet CLUSTERED BY ({bucket_col}) SORTED BY ({sort_col}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    return table


# --- Space-filling-curve clustering (multi-dimensional file skipping) -------

ZORDER_BITS = 16


def check_curve(curve: str, cols: list[str] | None = None) -> None:
    """ValueError for an unknown curve, or a Hilbert over other than 2 ``cols``."""
    if curve not in ("hilbert", "zorder"):
        raise ValueError(f"cluster_curve must be 'hilbert' or 'zorder', got {curve!r}")
    if curve == "hilbert" and cols is not None and len(cols) != 2:
        raise ValueError(f"hilbert clustering needs exactly 2 columns, got {cols} (use zorder)")


def curve_clustered(
    df: DataFrame, cols: list[str], curve: str, n: int | None = None
) -> DataFrame:
    """Range-repartition ``df`` on a ``curve`` key over ``cols`` (one
    sampling shuffle into ``n`` partitions, default the shuffle partition
    count), sort within each, drop the key: rolled files come out as
    disjoint curve-range tiles, tight on every clustered column.

    The tile boundaries, and so the per-file row counts, are not
    reproducible across sessions: ``RangePartitioner`` seeds its key
    sample with the RDD id, which depends on what the session ran
    before.  The set of rows written is always the same."""
    check_curve(curve, cols)
    key_of, key = (hilbert_key, "_h") if curve == "hilbert" else (zorder_key, "_z")
    keyed = key_of(df, cols)
    return keyed.repartitionByRange(*([n] if n else []), key).sortWithinPartitions(key).drop(key)


def _with_scaled(df: DataFrame, cols: list[str], bits: int):
    """``df`` cross-joined with its in-plan broadcast min/max row, each of
    ``cols`` min-max scaled to ``bits`` bits, and the bound columns."""
    from pyspark.sql import functions as F

    mins_maxes = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"_mx_{i}") for i, c in enumerate(cols)],
    )
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(cols):
        mn, mx = F.col(f"_mn_{i}"), F.col(f"_mx_{i}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        scaled.append(
            F.least(
                F.floor((F.col(c).cast("double") - mn) / span * top).cast("long"), F.lit(top)
            )
        )
    bounds = [f"_m{x}_{i}" for x in "nx" for i in range(len(cols))]
    return df.crossJoin(F.broadcast(mins_maxes)), scaled, bounds


def zorder_key(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Return ``df`` with an interleaved-bit Morton key ``_z`` over
    ``cols`` (Delta/Iceberg's OPTIMIZE ZORDER layout, built from plain
    column expressions).

    Each column is min-max scaled to a ``bits``-bit integer using an
    in-plan broadcast 1-row aggregate (no driver collect), then the bit
    planes are interleaved: bit b of column i lands at position
    b*len(cols)+i.  Sorting by ``_z`` gives every file a tight min/max
    envelope on EVERY z-ordered column simultaneously — single-column
    sorting does this for the first column only and leaves the others'
    per-file ranges at full width (asserted in tests/test_layouts.py).
    At 100 TB this is what turns parquet row-group stats + partition-file
    pruning into multi-dimensional skipping for point/range predicates
    on any of the clustered columns."""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    n = len(cols)
    if bits * n > 63:
        # bit b of column i lands at position b*n+i in a signed long; past
        # bit 62 the sign bit flips and high keys sort FIRST, silently
        # breaking the Morton ordering (and the file-skipping it exists for).
        raise ValueError(
            f"zorder_key: bits*len(cols) = {bits}*{n} = {bits * n} exceeds 63 "
            f"(signed-long overflow would corrupt the sort order); "
            f"use bits <= {63 // n} for {n} columns"
        )
    j, scaled, bounds = _with_scaled(df, cols, bits)
    terms = [
        F.shiftleft(F.shiftrightunsigned(s, b).bitwiseAND(F.lit(1)), b * n + i)
        for i, s in enumerate(scaled)
        for b in range(bits)
    ]
    # bit positions are disjoint, so summing assembles the Morton code
    return j.withColumn("_z", reduce(add, terms)).drop(*bounds)


def hilbert_key(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Return ``df`` with a Hilbert-curve index ``_h`` over two columns —
    the same multi-dimensional clustering contract as ``zorder_key`` but
    with strictly better locality: consecutive Hilbert positions are
    always grid-adjacent (no Morton "jumps" across the key space), so
    range-partitioned files get tighter per-file envelopes on both
    dimensions.

    Each column is min-max scaled to a ``bits``-bit integer exactly as
    in ``zorder_key`` (in-plan broadcast bounds, no driver collect),
    then the standard xy->d walk (Hamilton's algorithm, the loop form
    popularized by Wikipedia's "Hilbert curve" d2xy/xy2d) runs as
    ``bits`` chained integer-only projections — one named column per
    level, so the expression tree stays LINEAR in ``bits`` instead of
    doubling per level, and every op is exact integer arithmetic
    (bit-reproducible in any engine; the SQL twin in
    operators/layout_queries.py mirrors it CTE-for-CTE)."""
    from pyspark.sql import functions as F

    check_curve("hilbert", cols)
    if 2 * bits > 62:
        raise ValueError(f"hilbert_key: 2*bits = {2 * bits} exceeds 62 (signed-long overflow)")
    j, scaled, bounds = _with_scaled(df, cols, bits)
    cur = j.withColumn("_hx", scaled[0]).withColumn("_hy", scaled[1]).withColumn(
        "_h", F.lit(0).cast("long")
    )
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        x, y, d = F.col("_hx"), F.col("_hy"), F.col("_h")
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        d2 = d + F.lit(s).cast("long") * F.lit(s) * (F.lit(3) * rx).bitwiseXOR(ry).cast("long")
        # rotate the quadrant: only when ry == 0; flip both coords when
        # rx == 1, then swap x and y
        fx = F.when(rx == 1, F.lit(s - 1) - x).otherwise(x)
        fy = F.when(rx == 1, F.lit(s - 1) - y).otherwise(y)
        nx = F.when(ry == 0, fy).otherwise(x)
        ny = F.when(ry == 0, fx).otherwise(y)
        cur = cur.withColumns({"_h": d2, "_hx": nx, "_hy": ny})
    return cur.drop("_hx", "_hy", *bounds)
