"""Export-parity core: the reference's OracleParquetExporter surface
(main.py:31-263) re-expressed on Spark.

Parity map (SURVEY.md §2 Part A):

- A1-A3  catalog enumeration + regex include/exclude  -> ``catalog.py``
- A4-A5  type-pruned projection + lowercase rename    -> ``_project``
         (Spark type and JDBC source type, ``catalog.eligible_fields``)
- A6/A9  table scan, batched fetch                    -> one
         ``catalog.read_table(schema, table)`` per table (JDBC fetchsize)
- A7     row limit                                    -> ``df.limit``
- A11    compression (none/snappy/gzip/zstd, default zstd)
- A12    byte-targeted file rolling                   -> ``maxRecordsPerFile``
         derived from a sampled average row width (the reference itself
         documents its size as approximate, main.py:453-454)
- A13    overwrite / error-if-exists                  -> directory guard
- A14    snapshot isolation                           -> JDBC
         ``sessionInitStatement``, per connection (one per table read)
- A15    ``<out>/<schema>/<table>/<table>_<n>.parquet`` layout
- A16    schema x table driver loop with wall-clock metrics
- A17    zero-eligible-column skip (warn)
- empty-table semantics (SURVEY.md §1.2): reference writes NO file for an
  empty table (lazy writer, main.py:165-170) — reproduced by the
  row-width sample of A12: a sample with no rows means no write.

Unlike the reference (strictly serial: one connection, sequential tables,
sequential 10k-row batches), every table export here is a distributed
Spark job, and ``max_concurrent_tables`` tables export at once on threads
that keep the caller's job group (under Spark's default FIFO scheduler).
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os
import re
import shutil
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path

import pyarrow.dataset as pads
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.catalog import ParquetDirectoryCatalog, eligible_fields
from oracle_parquet_dumper_spark.sources.layouts import check_curve, curve_clustered

logger = logging.getLogger(__name__)

# Reference defaults (main.py:20-21, main.py:408)
DEFAULT_ROW_LIMIT = -1
DEFAULT_MAX_FILE_SIZE = 200_000_000
DEFAULT_COMPRESSION = "zstd"
COMPRESSION_CHOICES = ("none", "snappy", "gzip", "zstd")
SIZE_SAMPLE_ROWS = 2_000
_STAGING = ".delta.tmp"  # suffix of an incremental delta's staging dir
# Watermark types whose str() round-trip preserves ordering under
# ``> CAST(lit AS type)``; string is deliberately absent (lexicographic).
_ORDERABLE_WATERMARK_TYPES = frozenset(
    {"byte", "short", "integer", "long", "float", "double", "decimal",
     "date", "timestamp", "timestamp_ntz"}
)


@dataclass
class ExportResult:
    schema: str
    table: str
    rows: int
    files: list[str]
    seconds: float
    skipped: str | None = None
    # Output directory written (None for skipped tables): validate_export
    # audits this path, never one guessed from the names.
    target: str | None = None


@dataclass
class TableValidation:
    schema: str
    table: str
    ok: bool
    issues: list[str] = field(default_factory=list)


def validate_export(
    spark: SparkSession,
    output_path: str,
    results: list[ExportResult],
    incremental: bool = False,
) -> list[TableValidation]:
    """Post-export read-back audit: every non-skipped table's parquet
    output (``ExportResult.target``) must (a) exist, (b) read back with
    the exported row count (>= for incremental appends), (c) carry at
    least one column.  This catches the failure exports silently
    tolerate — a sink that wrote fewer rows than it claimed.  Row and
    column counts come from the footers of the written files, read with
    pyarrow on the driver, so the audit runs no Spark job; ``spark`` and
    ``output_path`` are unused.  The per-table DQ operators
    (operators/validation.py) are the deeper, schema-aware layer."""
    out: list[TableValidation] = []
    for r in results:
        if r.skipped:
            continue
        issues: list[str] = []
        if not os.path.isdir(r.target):
            issues.append("output directory missing")
        else:
            try:
                # Same files Spark would read: names starting with "_" or
                # "." (markers, checksums) are skipped.
                dataset = pads.dataset(r.target, format="parquet")
                if not dataset.files:
                    raise FileNotFoundError(f"no parquet data files under {r.target}")
                if not dataset.schema.names:
                    issues.append("no columns in output")
                n = dataset.count_rows()
                if incremental:
                    if n < r.rows:
                        issues.append(f"read-back rows {n} < exported rows {r.rows}")
                elif n != r.rows:
                    issues.append(f"read-back rows {n} != exported rows {r.rows}")
            except Exception as exc:  # unreadable/empty dir counts as failed
                issues.append(f"unreadable output: {type(exc).__name__}")
        out.append(TableValidation(r.schema, r.table, not issues, issues))
    return out


def _rows_per_file(df: DataFrame, max_file_size: int) -> int | None:
    """maxRecordsPerFile ~= max_file_size / avg_in_memory_row_bytes,
    measured on a bounded sample via Arrow — the same 'uncompressed
    buffer size' the reference rolls on (main.py:174-181).  Returns None
    when the sample has no rows: the relation is empty, and the sample
    is its only emptiness probe."""
    sample = df.limit(SIZE_SAMPLE_ROWS)
    try:
        tbl = sample.toArrow()
        n, nbytes = tbl.num_rows, tbl.nbytes
    except Exception:
        pdf = sample.toPandas()
        n, nbytes = len(pdf), int(pdf.memory_usage(deep=True).sum())
    if n == 0:
        return None
    if nbytes == 0:
        return 1_000_000
    return max(1, int(max_file_size / (nbytes / n)))


def _write_rolled(
    df: DataFrame, path: str, compression: str, rows_per_file: int, metrics: tuple = (),
) -> dict:
    """The write every export ends in (A11/A12): overwrite ``path``,
    one file per ``rows_per_file`` rows.  ``metrics`` are observed on
    the write job itself (no re-scan) and returned by alias."""
    if metrics:
        obs = Observation()
        df = df.observe(obs, *metrics)
    (
        df.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", str(rows_per_file))
        .parquet(path)
    )
    return obs.get if metrics else {}


def _dump_json(path: str, obj) -> None:
    """Write ``obj`` to ``path`` atomically (temp file, then rename)."""
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def _reference_names(parts_dir: str, target: str, table: str) -> dict[str, str]:
    """Map each Spark part-file in ``parts_dir`` to the reference name
    ``<table>_<n>.parquet`` (main.py:166,245-253), numbering on after the
    files already finalized in ``target`` so appends extend the sequence
    instead of colliding."""
    existing = re.compile(re.escape(table) + r"_(\d+)\.parquet$")
    taken = [int(m.group(1)) for f in os.listdir(target) if (m := existing.match(f))]
    start = max(taken) + 1 if taken else 0
    parts = sorted(
        f for f in os.listdir(parts_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    return {p: f"{table}_{start + i}.parquet" for i, p in enumerate(parts)}


def _finalize_layout(target: str, table: str) -> list[str]:
    """Rename Spark's part-files in ``target`` to the reference layout and
    drop job markers.  Pure metadata renames — O(#files), not O(bytes)."""
    names = _reference_names(target, target, table)
    for part, new in names.items():
        os.rename(os.path.join(target, part), os.path.join(target, new))
    for entry in os.listdir(target):
        if entry == "_SUCCESS" or entry.startswith(".") or entry.endswith(".crc"):
            os.remove(os.path.join(target, entry))
    return list(names.values())


@dataclass
class SparkParquetExporter:
    """Constructor parameters mirror the reference's (main.py:32-50);
    connection parameters are replaced by a ``catalog`` (parquet-dir or
    JDBC), keeping the export pipeline identical for both."""

    spark: SparkSession
    catalog: object  # ParquetDirectoryCatalog | JdbcCatalog
    output_path: str
    schemas: list[str] = field(default_factory=list)
    table_name_include_pattern: str = ".*"
    table_name_exclude_pattern: str | None = None
    compression_method: str = DEFAULT_COMPRESSION
    overwrite: bool = False
    row_limit: int = DEFAULT_ROW_LIMIT
    lowercase_object_names: bool = False
    parquet_max_file_size: int = DEFAULT_MAX_FILE_SIZE
    max_concurrent_tables: int = 1
    # Space-filling-curve clustering per table (layouts.curve_clustered):
    # every file gets a tight min/max envelope on EVERY listed column, for
    # multi-dimensional file skipping (OPTIMIZE ZORDER at export time).
    # Column names are post-projection (lowercased if lowercase_object_names).
    cluster_by: dict[str, list[str]] = field(default_factory=dict)
    cluster_curve: str = "hilbert"  # or "zorder"

    def __post_init__(self):
        if self.compression_method not in COMPRESSION_CHOICES:
            raise ValueError(
                f"compression_method must be one of {COMPRESSION_CHOICES}, got {self.compression_method!r}"
            )
        check_curve(self.cluster_curve)
        for cols in filter(None, self.cluster_by.values()):  # [] = unclustered
            check_curve(self.cluster_curve, cols)

    # -- catalog introspection (reference EP3 surface, main.py:87-217) ------
    def get_tables(self, schema: str) -> list[str]:
        """Reference ``get_tables`` parity (main.py:191-217): regex-filtered,
        name-ordered table list."""
        return self.catalog.list_tables(
            schema, self.table_name_include_pattern, self.table_name_exclude_pattern
        )

    # -- projection (A4/A5) -------------------------------------------------
    def _project(self, df: DataFrame) -> DataFrame | None:
        cols = eligible_fields(df.schema)
        if not cols:
            return None
        df = df.select(*cols)
        if self.lowercase_object_names:
            df = df.toDF(*[c.lower() for c in cols])
        return df

    def _name(self, name: str) -> str:
        return name.lower() if self.lowercase_object_names else name

    def _write_table(
        self, t0: float, schema: str, table: str, df: DataFrame, empty: str, *metrics,
        row_limit: int = DEFAULT_ROW_LIMIT, staged: bool = False,
    ) -> tuple[ExportResult, dict]:
        """Full and incremental export: project, limit, size the rolling
        from one sample that is also the emptiness probe (skipped as
        ``empty``), cluster, write observing ``rows`` and ``metrics``.
        Writes the table dir in reference layout, or, when ``staged``, its
        ``.delta.tmp`` dir with Spark's names for the caller to commit."""
        target = os.path.join(self.output_path, self._name(schema), self._name(table))
        projected = self._project(df)
        if projected is None:
            logger.warning("Table %s.%s has no eligible columns - skipping", schema, table)
            return ExportResult(
                schema, table, 0, [], time.perf_counter() - t0, "no_eligible_columns"
            ), {}
        if row_limit != DEFAULT_ROW_LIMIT:
            projected = projected.limit(row_limit)
        # Sized before clustering, where the sample is a cheap limit().  No
        # rows, no file: the reference's ParquetWriter is lazy (main.py:165).
        rows_per_file = _rows_per_file(projected, self.parquet_max_file_size)
        if rows_per_file is None:
            logger.info("Table %s.%s: %s - no file written", schema, table, empty)
            return ExportResult(schema, table, 0, [], time.perf_counter() - t0, empty), {}
        if self.cluster_by.get(table):
            projected = curve_clustered(projected, self.cluster_by[table], self.cluster_curve)
        got = _write_rolled(
            projected,
            target + _STAGING if staged else target,
            self.compression_method,
            rows_per_file,
            (F.count(F.lit(1)).alias("rows"), *metrics),
        )
        files = [] if staged else _finalize_layout(target, self._name(table))
        elapsed = time.perf_counter() - t0
        return ExportResult(schema, table, int(got["rows"]), files, elapsed, target=target), got

    # -- single table (reference export_table, main.py:129-187) -------------
    def export_table(self, schema: str, table: str) -> ExportResult:
        t0 = time.perf_counter()
        df = self.catalog.read_table(schema, table)
        result, _ = self._write_table(t0, schema, table, df, "empty", row_limit=self.row_limit)
        logger.info("Exported %s.%s in %.4f s", schema, table, result.seconds)
        return result

    # -- incremental export (watermark high-water-mark pattern) -------------
    # No reference counterpart (the reference always re-exports fully);
    # this is the standard warehouse-ingest extension: remember the max
    # of a monotonic column per table, export only rows strictly above
    # it next run.  The filter lands directly on the source scan
    # (pushdown / partition pruning at 100 TB), and the new high-water
    # mark comes from the SAME observe() pass as the row count — zero
    # extra jobs.  Caveat (documented, standard): rows that arrive later
    # with a watermark value <= the recorded mark are not picked up; use
    # a monotonic column (sequence, SCN, ingest timestamp).

    def _state_path(self) -> str:
        return os.path.join(self.output_path, "_incremental_state.json")

    def _load_state(self) -> dict[str, str]:
        try:
            with open(self._state_path()) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _save_state(self, state: dict[str, str]) -> None:
        os.makedirs(self.output_path, exist_ok=True)
        _dump_json(self._state_path(), state)

    def export_table_incremental(
        self, schema: str, table: str, watermark_col: str
    ) -> ExportResult:
        t0 = time.perf_counter()
        self._recover_pending()
        key = f"{schema}.{table}"
        state = self._load_state()
        last = state.get(key)

        df = self.catalog.read_table(schema, table)
        # Resolve the watermark column case-insensitively (Spark resolves
        # columns case-insensitively; df.schema[...] does not) and reject
        # types whose str() round-trip is not order-preserving: a string
        # watermark would compare lexicographically ('9' > '10'), silently
        # dropping or double-exporting rows.
        matches = [f for f in df.schema.fields if f.name.lower() == watermark_col.lower()]
        if not matches:
            raise ValueError(
                f"Watermark column {watermark_col!r} not found in {schema}.{table}; "
                f"available columns: {[f.name for f in df.schema.fields]}"
            )
        wm_field = matches[0]
        watermark_col = wm_field.name
        if wm_field.dataType.typeName() not in _ORDERABLE_WATERMARK_TYPES:
            raise ValueError(
                f"Watermark column {watermark_col!r} has type "
                f"{wm_field.dataType.simpleString()}; incremental export requires a "
                f"numeric, date or timestamp watermark (string watermarks compare "
                f"lexicographically and would corrupt the high-water mark)"
            )
        if last is not None:
            df = df.where(F.col(watermark_col) > F.lit(last).cast(wm_field.dataType))
        # Crash-consistent append: stage the delta, then commit through a
        # pending manifest (atomic rename) listing every file move and the
        # new watermark.  A crash before the manifest leaves only garbage
        # staging (the next run overwrites it); after it, _recover_pending()
        # finishes the idempotent moves and advances the watermark before
        # any new delta.  Append-then-save-state would double-export.
        result, got = self._write_table(
            t0, schema, table, df, "up_to_date",
            F.max(self._name(watermark_col)).alias("wm"), staged=True,
        )
        if result.skipped:
            return result
        if got["wm"] is None:
            # All-NULL watermark (first run only: later runs filter
            # `col > last`).  Storing "None" would poison every later run;
            # nothing is committed yet, so aborting is clean.
            raise ValueError(
                f"Watermark column {watermark_col!r} is NULL for every row of "
                f"{schema}.{table}; incremental export needs at least one "
                f"non-NULL watermark value to record a high-water mark"
            )
        target, staging = result.target, result.target + _STAGING
        os.makedirs(target, exist_ok=True)
        moves = _reference_names(staging, target, self._name(table))
        manifest = {"key": key, "target": target, "staging": staging,
                    "watermark": str(got["wm"]), "moves": moves}
        _dump_json(self._pending_path(), manifest)
        files = self._commit_pending(manifest, state)
        return dataclasses.replace(result, files=files, seconds=time.perf_counter() - t0)

    def _pending_path(self) -> str:
        return os.path.join(self.output_path, "_incremental_pending.json")

    def _commit_pending(self, manifest: dict, state: dict) -> list[str]:
        """Apply a pending manifest: move staged files into the table dir
        (idempotent — a file already moved is skipped), advance the
        watermark, then drop the manifest and staging dir.  Called both on
        the happy path and from :meth:`_recover_pending` after a crash."""
        staging, target = manifest["staging"], manifest["target"]
        files = []
        for part, final in sorted(manifest["moves"].items()):
            src, dst = os.path.join(staging, part), os.path.join(target, final)
            if os.path.exists(src):
                os.replace(src, dst)
            elif not os.path.exists(dst):
                raise RuntimeError(
                    f"Incremental commit lost file {part!r}: neither staged "
                    f"({src}) nor committed ({dst}) copy exists"
                )
            files.append(final)
        state[manifest["key"]] = manifest["watermark"]
        self._save_state(state)
        os.remove(self._pending_path())
        if os.path.exists(staging):
            shutil.rmtree(staging)
        return files

    def _recover_pending(self) -> None:
        """Finish a commit interrupted by a crash: if a pending manifest
        exists, its delta was fully staged but possibly only partially
        moved — complete the moves and watermark advance before computing
        any new delta (otherwise the same rows would export twice).  One
        file probe when nothing is pending."""
        if os.path.exists(self._pending_path()):
            with open(self._pending_path()) as fh:
                manifest = json.load(fh)
            logger.warning(
                "Recovering interrupted incremental export for %s (%d files)",
                manifest["key"], len(manifest["moves"]),
            )
            self._commit_pending(manifest, self._load_state())

    def _sweep_orphan_staging(self) -> None:
        """Delete the ``*.delta.tmp`` dirs a crash before the manifest
        write left behind (they would confuse recursive parquet globs).
        Called after recovery, before any new staging: all are orphans."""
        for root, dirs, _files in os.walk(self.output_path):
            for d in list(dirs):
                if d.endswith(_STAGING):
                    orphan = os.path.join(root, d)
                    logger.warning("Removing orphaned staging directory %s", orphan)
                    shutil.rmtree(orphan)
                    dirs.remove(d)

    def export_tables_incremental(
        self, watermarks: dict[str, str]
    ) -> list[ExportResult]:
        """Incremental driver loop: ``watermarks`` maps table name ->
        monotonic watermark column.  Unlike ``export_tables`` this never
        clears the output directory — it appends new deltas and advances
        the per-table high-water marks in ``_incremental_state.json``."""
        os.makedirs(self.output_path, exist_ok=True)
        self._recover_pending()
        self._sweep_orphan_staging()
        results: list[ExportResult] = []
        matched: set[str] = set()
        for schema in self.schemas or self.catalog.list_schemas():
            for table in self.get_tables(schema):
                if table in watermarks:
                    matched.add(table)
                    results.append(
                        self.export_table_incremental(schema, table, watermarks[table])
                    )
        # A typo'd or schema-filtered watermark key would otherwise vanish
        # silently — the caller would read "no result row" as "up to date".
        unmatched = sorted(set(watermarks) - matched)
        if unmatched:
            logger.warning(
                "Watermark entries matched no exported table (typo or filtered "
                "out by schema/include/exclude?): %s", unmatched
            )
        return results

    # -- driver loop (reference export_tables, main.py:219-263) -------------
    def export_tables(self) -> list[ExportResult]:
        t_all = time.perf_counter()
        if os.path.exists(self.output_path):
            if not self.overwrite:
                raise RuntimeError(
                    f"Output path: {self.output_path} exists and overwrite is not allowed."
                )
            shutil.rmtree(self.output_path)
        os.makedirs(self.output_path, exist_ok=True)

        results: list[ExportResult] = []
        # One loop for every max_concurrent_tables (1 = serial).  Pool
        # threads do not inherit the caller's Spark local properties (job
        # group, description, scheduler pool); the wrapper copies them in.
        # Given the session, PySpark would also copy job tags, but it then
        # fails when PYSPARK_PIN_THREAD=false; without it, it warns that
        # tags are not copied, which this exporter does not use.
        with warnings.catch_warnings():
            warnings.filterwarnings("ignore", "Spark session is not provided")
            export = inheritable_thread_target(self.export_table)
        with ThreadPoolExecutor(max_workers=self.max_concurrent_tables) as pool:
            for schema in self.schemas or self.catalog.list_schemas():
                t_schema = time.perf_counter()
                results.extend(pool.map(partial(export, schema), self.get_tables(schema)))
                logger.info(
                    "Exported schema: %s in %.4f s", schema, time.perf_counter() - t_schema
                )
        logger.info("Exported all schemas in %.4f s", time.perf_counter() - t_all)
        return results


def compact_table(
    spark: SparkSession,
    path: str,
    table: str,
    target_file_size: int = DEFAULT_MAX_FILE_SIZE,
    compression: str = DEFAULT_COMPRESSION,
    cluster_by: list[str] | None = None,
    cluster_curve: str = "hilbert",
) -> int:
    """Compact a table directory's small files into ~target-sized ones,
    preserving the reference ``<table>_<n>.parquet`` naming.  Incremental
    appends accumulate one small file per run; this rewrite is the
    standard maintenance pass (Delta OPTIMIZE / Iceberg rewrite_data_files
    for plain parquet dirs).  One distributed read + one write; the
    rows-per-file target reuses the exporter's sampled row-width
    heuristic (A12).  ``cluster_by`` additionally orders the rewrite on a
    space-filling curve over the listed columns (OPTIMIZE ZORDER parity:
    compaction is exactly when clustering is cheapest, since the data is
    being rewritten anyway — the curve turns the repartition it must do
    regardless into a range-repartition + sort).  Returns the resulting
    file count."""
    # Startup recovery: a crash mid-swap leaves ``<path>.compact.old``
    # holding the (complete) pre-compaction data.  If the live dir is
    # missing, restore it before proceeding; if both exist, the swap
    # completed and the old copy is stale garbage.
    path = path.rstrip("/")
    old = path + ".compact.old"
    if os.path.exists(old):
        if not os.path.exists(path):
            os.rename(old, path)
        else:
            shutil.rmtree(old)
    # Refuse to compact while a crashed incremental commit is pending for
    # this directory: compaction renumbers files from <table>_0, but the
    # manifest's staged moves were computed against the PRE-compaction
    # numbering — replaying them afterwards would overwrite compacted data
    # files.  The manifest lives at the exporter's output root; probe the
    # ancestors of the table dir (layout is <out>/<schema>/<table>).
    live = os.path.abspath(path)
    pending = [
        m for d in list(Path(live).parents)[:3]
        if (m := d / "_incremental_pending.json").exists()
    ]
    # The nearest manifest counts; one for another table is safe.
    if pending and os.path.abspath(json.loads(pending[0].read_text()).get("target", "")) == live:
        raise RuntimeError(
            f"A pending incremental commit targets {path}; run the "
            f"incremental exporter once to recover it before compacting"
        )
    # A raw read, not read_parquet_robust: compaction must write back
    # exactly the types it read (no nanosecond-timestamp conversion).
    df = spark.read.parquet(path)
    # An empty input sizes as 1000-byte rows and still writes one file.
    rows_per_file = _rows_per_file(df, target_file_size) or max(1, int(target_file_size / 1000))
    n_files = max(1, (df.count() + rows_per_file - 1) // rows_per_file)

    tmp = path + ".compact.tmp"
    if cluster_by:
        df = curve_clustered(df, cluster_by, cluster_curve, n_files)
    else:
        df = df.repartition(n_files)
    _write_rolled(df, tmp, compression, rows_per_file)
    # Atomic-ish swap: never leave a window where the live dir is gone.
    # rmtree-then-rename would lose the table entirely if we crash between
    # the two (the incremental state still records the high-water mark, so
    # the next run would append only the delta on top of nothing).  Instead
    # move the live dir aside, rename tmp into place, then delete the old
    # copy; a crash at any point leaves either the old or the new data
    # present, and a leftover ``.compact.old`` is recovered on re-run.
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back: restore the live dir
        raise
    shutil.rmtree(old)
    return len(_finalize_layout(path, table))


def exporter(
    spark: SparkSession,
    source_path: str,
    output_path: str,
    **kwargs,
) -> list[ExportResult]:
    """Programmatic one-call surface, analog of reference ``exporter()``
    (main.py:266-314) with the parquet-directory catalog."""
    cat = ParquetDirectoryCatalog(spark, source_path)
    return SparkParquetExporter(
        spark=spark, catalog=cat, output_path=output_path, **kwargs
    ).export_tables()
