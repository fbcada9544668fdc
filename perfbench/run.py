"""Benchmark of the engine: JDBC->Parquet export, and one query per
operator module, each driven by one closed-loop client on
``local[<cores>]``.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Run from the repository root.  The first run builds the inputs under
``perfbench/.work`` (DuckDB oracle hashes of the fixtures, an embedded
Derby database) and reuses them afterwards; that time is recorded
in the run record, not in ``setup_s``.

One run: start the session, warm the tables, run one untimed warm-up pass
over the workload's ops that checks every result (query ops: hash-equal
to the DuckDB oracle; export ops: validated, row counts equal to Derby's,
reference file names), then run whole passes -- each in an order drawn
from ``--seed`` -- until ``--seconds`` have elapsed, and at least two.
The last stdout line
is the result: end-to-end metrics with ``--trace 0``; with ``--trace 1``
the session also writes Spark's event log, and the result holds per-layer
metrics instead.  The line before it is the run record (config, sample
counts, preparation time).  See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from workloads import (  # noqa: E402
    EXPORT_MAX_FILE_BYTES,
    PACKAGE,
    TABLES,
    TINY_DATA,
    WORKLOADS,
    Clock,
    check_export,
    dir_bytes,
    result_hash,
)

FIXTURES = os.path.join(HERE, "fixtures")
# Two samples of every op per run, even when one pass outlasts --seconds.
MIN_PASSES = 2
MODULES = ("relational", "windows", "setops", "scalars", "events_analytics",
           "dedup", "similarity", "text", "graph", "udfs")
MODULE_METRICS = (
    ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("build_jobs", "count"), ("executor_cpu_s", "s"), ("executor_run_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("driver_gap_s", "s"),
)
EXPORT_METRICS = (
    ("catalog.list_tables_s", "s"), ("catalog.read_table_s", "s"),
    ("exporter.export_table_s", "s"), ("exporter.validate_s", "s"),
    ("exporter.jobs", "count"), ("exporter.tasks", "count"),
    ("exporter.files_written", "count"), ("exporter.bytes_written", "bytes"),
    ("exporter.executor_cpu_s", "s"), ("exporter.driver_gap_s", "s"),
)
END_TO_END = (
    ("setup_s", "s"), ("pass_cpu_s", "s"), ("parquet_bytes_per_row", "bytes/row"),
    ("peak_rss_mb", "MB"),
)
PER_LAYER = (
    (("session.get_spark_s", "s"), ("tables.warm_s", "s"), ("setup.warmup_pass_s", "s"),
     ("setup.wall_s", "s"))
    + EXPORT_METRICS
    + tuple((f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS)
    + (("spark.failed_tasks", "count"), ("spark.gc_s", "s"),
       ("wall.ops_per_s", "ops/s"), ("wall.op_p50_s", "s"), ("wall.pass_s", "s"),
       ("trace.cpu_s_per_op", "s"))
)


def pin_environment() -> dict:
    """Fix the run config before pyspark is imported; returned for the
    run record."""
    cpus = len(os.sched_getaffinity(0))
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_SPLIT_SCAN_MIN_BYTES", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pins)
    for d in (pins["SPARK_LOCAL_DIRS"], pins["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return pins


def spark_conf(eventlog_dir: str | None) -> dict[str, str]:
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}"
        ),
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 compresses event logs with zstd by default; the
            # parser reads plain JSON lines.
            "spark.eventLog.compress": "false",
            # One file, <dir>/<app id>, renamed from .inprogress on stop.
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": eventlog_dir,
        })
    return conf


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks used by it and its reaped
    children) for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # after the command name: state ppid ... utime stime cutime cstime
            table[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return table


def descendants(pid: int, table: dict | None = None) -> set[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    table = proc_table() if table is None else table
    found, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, (pp, _cpu) in table.items() if pp in frontier} - found
        found |= frontier
    return found


def jit_ticks(jvm_pid: int) -> int:
    """CPU clock ticks of the JVM's JIT compiler threads (a fixed set: the
    JVM runs with -XX:-UseDynamicNumberOfCompilerThreads)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        if name.startswith(("C1 Compiler", "C2 Compiler")):
            ticks += sum(int(x) for x in rest.split()[11:13])
    return ticks


def tree_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """(CPU seconds, JIT-compiler CPU seconds) used so far by this
    process, the JVM and every process below the JVM.  Unlike wall time,
    CPU time barely moves when other tenants compete for the cores; the
    JIT part is the one-off cost of compiling hot code, which a fresh JVM
    keeps paying through its first minute."""
    table = proc_table()
    own = os.times()
    ticks = sum(table[p][1] for p in {jvm_pid} | descendants(jvm_pid, table) if p in table)
    hz = os.sysconf("SC_CLK_TCK")
    return own.user + own.system + ticks / hz, jit_ticks(jvm_pid) / hz


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of the machine's CPUs so far: time the
    hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in workers:  # they exit once the JVM's pipes close
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 15)
            except ProcessLookupError:
                pass


# -- preparation (runs in a child process, once per checkout) -----------------


def prepared_dir(tiny: bool) -> str:
    """Keyed by the workload definitions and the fixture files, so a change
    to either prepares afresh instead of reusing stale inputs."""
    import hashlib

    h = hashlib.sha1(repr([(w.name, w.data, w.ops) for w in WORKLOADS.values()]).encode())
    files = [os.path.join(d, f) for d, _dirs, names in os.walk(FIXTURES) for f in names]
    for path in sorted(files):
        h.update(os.path.relpath(path, FIXTURES).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return os.path.join(WORK, f"{'tiny' if tiny else 'full'}-{h.hexdigest()[:10]}")


def prepare(tiny: bool) -> None:
    """Compute the oracle hashes and load the Derby database; write
    ``prep.json`` last, as the completion marker."""
    import duckdb

    from oracle_parquet_dumper_spark import plans

    base = prepared_dir(tiny)
    os.makedirs(base, exist_ok=True)
    record: dict = {"steps_s": {}}
    t_all = time.perf_counter()
    t0 = time.perf_counter()
    oracle: dict[str, dict[str, str]] = {}
    for w in WORKLOADS.values():
        data = TINY_DATA if tiny else w.data
        sf_dir = os.path.join(FIXTURES, data)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for q in w.ops:
            spec = plans.REGISTRY.get(q)
            if spec is not None and spec.oracle is not None:
                oracle.setdefault(data, {})[q] = result_hash(con.sql(spec.oracle).df())
        con.close()
    record["steps_s"]["oracle_hashes"] = round(time.perf_counter() - t0, 3)
    with open(os.path.join(base, "oracle.json"), "w") as fh:
        json.dump(oracle, fh, indent=1, sort_keys=True)

    from oracle_parquet_dumper_spark.session import get_spark
    from workloads import load_derby

    t0 = time.perf_counter()
    export_data = TINY_DATA if tiny else WORKLOADS["export_jdbc"].data
    spark = get_spark("perfbench-prepare", extra_conf=spark_conf(None))
    try:
        derby_rows = load_derby(spark, os.path.join(FIXTURES, export_data),
                                os.path.join(base, "derby"))
    finally:
        stop_spark(spark)
    record["steps_s"]["derby_load"] = round(time.perf_counter() - t0, 3)
    record.update(total_s=round(time.perf_counter() - t_all, 3), derby_rows=derby_rows)
    with open(os.path.join(base, "prep.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)


def ensure_prepared(tiny: bool) -> dict:
    marker = os.path.join(prepared_dir(tiny), "prep.json")
    if not os.path.isfile(marker):
        cmd = [sys.executable, os.path.abspath(__file__), "--prepare"] + (["--tiny"] if tiny else [])
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=840)
    with open(marker) as fh:
        return json.load(fh)


# -- ops ----------------------------------------------------------------------


class Runner:
    """Executes the ops of one workload in one Spark session and keeps
    what the metrics need."""

    def __init__(self, spark, workload, base: str, prep: dict, tiny: bool, clock: Clock):
        from oracle_parquet_dumper_spark import plans

        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.data = TINY_DATA if tiny else workload.data
        self.sf_dir = os.path.join(FIXTURES, self.data)
        self.clock = clock
        self.specs = {q: plans.REGISTRY[q] for q in workload.ops if q != "export"}
        with open(os.path.join(base, "oracle.json")) as fh:
            self.oracle = json.load(fh).get(self.data, {})
        self.derby_rows = prep["derby_rows"]
        self.derby_path = os.path.join(base, "derby")
        self.export_out = os.path.join(WORK, "export-out")
        self.input_rows: dict[str, int] = {}  # per query op, from the warm-up pass
        self.input_bytes: dict[str, int] = {}
        self.failed_ops = 0
        self.failures: list[str] = []  # messages; one failed op may have several
        self.catalog = None
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def layer(self, op: str) -> str:
        if op == "export":
            return "exporter"
        return self.specs[op].fn.__module__.rsplit(".", 1)[-1]

    def warm_tables(self) -> None:
        if "export" in self.workload.ops:
            from workloads import derby_catalog_class

            self.catalog = derby_catalog_class()(self.spark, self.derby_path, self.clock)
            self.catalog.list_tables("APP")  # boots the Derby database
            return
        from oracle_parquet_dumper_spark.sources.tables import load_table

        for t in TABLES:  # file listing and footers; the warm-up pass runs the jobs
            load_table(self.spark, self.sf_dir, t)

    def _export(self, group: str) -> tuple[float, dict]:
        from oracle_parquet_dumper_spark.exporter import validate_export
        from workloads import timed_exporter_class

        self.sc.setJobGroup(f"{group}:op", "export")
        exporter = timed_exporter_class()(
            spark=self.spark, catalog=self.catalog, output_path=self.export_out,
            schemas=["APP"], compression_method="zstd", overwrite=True,
            lowercase_object_names=True, parquet_max_file_size=EXPORT_MAX_FILE_BYTES,
            clock=self.clock,
        )
        t0 = time.perf_counter()
        results = exporter.export_tables()
        with self.clock.span("exporter.validate_s"):
            validations = validate_export(self.spark, self.export_out, results)
        elapsed = time.perf_counter() - t0
        issues = check_export(self.export_out, results, validations, self.derby_rows)
        files, nbytes = dir_bytes(self.export_out)
        rows = sum(r.rows for r in results)
        return elapsed, {"issues": issues, "rows": rows, "bytes": nbytes, "files": files}

    def _query(self, op: str, group: str, check: bool) -> tuple[float, dict]:
        spec = self.specs[op]
        self.sc.setJobGroup(f"{group}:build", op)
        t0 = time.perf_counter()
        df = spec.fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        self.sc.setJobGroup(f"{group}:exec", op)
        if not check:
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            return t2 - t0, {"build_s": t1 - t0, "exec_s": t2 - t1}
        issues = []
        expected = self.oracle.get(op)
        got = result_hash(df.toPandas())
        if got != expected:
            issues.append(f"{op}: result hash {got[:12]} != oracle {str(expected)[:12]}")
        self._record_inputs(op, df)
        return time.perf_counter() - t0, {"issues": issues}

    def _record_inputs(self, op: str, df) -> None:
        """Rows and bytes of the fixture tables the op's final plan scans."""
        import pyarrow.parquet as pq

        rows = nbytes = 0
        for f in set(df.inputFiles()):
            path = f[len("file:"):] if f.startswith("file:") else f
            rows += pq.ParquetFile(path).metadata.num_rows
            nbytes += os.path.getsize(path)
        self.input_rows[op], self.input_bytes[op] = rows, nbytes

    def run_op(self, op: str, group: str, check: bool = False) -> tuple[float, dict] | None:
        """One op; returns (wall seconds, details incl. ``cpu_s``), or None
        if it failed."""
        gc.collect()
        self.spark.catalog.clearCache()
        cpu0, jit0 = tree_cpu_s(self.jvm_pid)
        steal0, ticks0 = cpu_ticks()
        try:
            if op == "export":
                elapsed, info = self._export(group)
            else:
                elapsed, info = self._query(op, group, check)
        except Exception as exc:  # a failed op is counted, the run goes on
            self.failed_ops += 1
            self.failures.append(f"{op}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        cpu1, jit1 = tree_cpu_s(self.jvm_pid)
        steal1, ticks1 = cpu_ticks()
        info["steal_share"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        info["jit_cpu_s"] = jit1 - jit0
        info["cpu_s"] = cpu1 - cpu0 - info["jit_cpu_s"]
        if info.get("issues"):
            self.failed_ops += 1
            self.failures.extend(info["issues"])
            return None
        return elapsed, info


# -- one benchmark run --------------------------------------------------------


def run(args) -> None:
    pins = pin_environment()
    prep = ensure_prepared(args.tiny)
    t_start = time.perf_counter()  # setup clock: preparation is excluded
    own = os.times()
    cpu_start = own.user + own.system
    steal_start, ticks_start = cpu_ticks()
    from bench import box_state  # other-JVM / load tripwire, sampled before our JVM starts

    box = box_state()
    workload = WORKLOADS[args.workload]
    base = prepared_dir(args.tiny)
    clock = Clock(enabled=bool(args.trace))
    eventlog_dir = None
    if args.trace:
        eventlog_dir = os.path.join(WORK, "eventlog")
        os.makedirs(eventlog_dir, exist_ok=True)

    from oracle_parquet_dumper_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(eventlog_dir))
    get_spark_s = time.perf_counter() - t0
    try:
        runner = Runner(spark, workload, base, prep, args.tiny, clock)
        t0 = time.perf_counter()
        runner.warm_tables()
        warm_s = time.perf_counter() - t0

        rng = random.Random(args.seed)
        attempted = 0
        warmup_ops = {}
        t0 = time.perf_counter()
        for op in rng.sample(workload.ops, len(workload.ops)):  # untimed; checks results
            t1 = time.perf_counter()
            runner.run_op(op, f"w{attempted}:{runner.layer(op)}", check=True)
            attempted += 1
            warmup_ops[op] = round(time.perf_counter() - t1, 4)
        warmup_s = time.perf_counter() - t0
        setup_wall = time.perf_counter() - t_start
        setup_cpu, setup_jit = tree_cpu_s(runner.jvm_pid)
        setup_cpu -= cpu_start
        steal_end, ticks_end = cpu_ticks()
        setup_steal = (steal_end - steal_start) / max(1, ticks_end - ticks_start)
        clock.totals.clear()  # per-layer spans cover the timed passes only

        timed = []  # (job group, op, wall seconds, details)
        passes = 0
        t0 = time.perf_counter()
        while True:
            for op in rng.sample(workload.ops, len(workload.ops)):
                group = f"{attempted}:{runner.layer(op)}"
                attempted += 1
                res = runner.run_op(op, group)
                if res is not None:
                    timed.append((group, op, res[0], res[1]))
            passes += 1
            if passes >= MIN_PASSES and time.perf_counter() - t0 >= args.seconds:
                break
        wall = time.perf_counter() - t0

        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(runner.jvm_pid)
        config = {
            "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "app_id": spark.sparkContext.applicationId,
        }
    finally:
        stop_spark(spark)

    if not timed:
        raise RuntimeError(f"no op succeeded: {runner.failures[:5]}")
    lat = [t[2] for t in timed]
    cpu = [t[3]["cpu_s"] for t in timed]
    op_lat = {op: [t[2] for t in timed if t[1] == op] for op in workload.ops}
    op_cpu = {op: [t[3]["cpu_s"] for t in timed if t[1] == op] for op in workload.ops}
    # Each op's median over the passes, summed, so every op counts.
    med_lat = {op: statistics.median(v) for op, v in op_lat.items() if v}
    med_cpu = {op: statistics.median(v) for op, v in op_cpu.items() if v}
    if workload.ops == ("export",):  # rows exported, parquet bytes written
        op_rows = [t[3]["rows"] for t in timed]
        nbytes = sum(t[3]["bytes"] for t in timed)
    else:  # rows and parquet bytes of the fixture tables scanned
        op_rows = [runner.input_rows.get(t[1], 0) for t in timed]
        nbytes = sum(runner.input_bytes.get(t[1], 0) for t in timed)
    rows = sum(op_rows)
    # Set-up and op cost are CPU seconds: wall time moved 19-39% between
    # runs of the same code with the time other guests took from this VM.
    e2e = {
        "setup_s": setup_cpu,
        "pass_cpu_s": sum(med_cpu.values()),
        "parquet_bytes_per_row": nbytes / rows if rows else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }
    # Measured but too noisy on a shared machine to carry a bound.
    secondary = {"setup_wall_s": setup_wall, "pass_wall_s": sum(med_lat.values()),
                 "ops_per_s": len(timed) / wall, "op_p50_s": statistics.median(lat),
                 "rows_per_s": rows / sum(lat), "cpu_s_per_op": sum(cpu) / len(cpu),
                 "rows_per_cpu_s": rows / sum(cpu)}
    failed = runner.failed_ops
    record = {
        "workload": workload.name, "why": workload.why, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "data": runner.data, "sf_dir": os.path.relpath(runner.sf_dir, ROOT),
        "ops": list(workload.ops),
        "closed_loop_clients": 1, "passes": passes, "timed_ops": len(timed),
        "timed_wall_s": round(wall, 4),
        "samples": {"pass_cpu_s": {op: len(v) for op, v in op_cpu.items()},
                    "pass_wall_s": {op: len(v) for op, v in op_lat.items()}},
        "op_input_rows": {op: runner.input_rows.get(op) for op in workload.ops},
        "setup_parts_s": {"get_spark": round(get_spark_s, 4), "warm_tables": round(warm_s, 4),
                          "warmup_pass": warmup_ops},
        "setup_jit_cpu_s": round(setup_jit, 3), "setup_steal_share": round(setup_steal, 4),
        "op_latency_s": {op: [round(x, 4) for x in v] for op, v in op_lat.items()},
        "op_cpu_s": {op: [round(x, 4) for x in v] for op, v in op_cpu.items()},
        "op_median_latency_s": {op: round(v, 4) for op, v in med_lat.items()},
        "op_median_cpu_s": {op: round(v, 4) for op, v in med_cpu.items()},
        "op_steal_share": {op: [round(t[3]["steal_share"], 4) for t in timed if t[1] == op]
                           for op in workload.ops},
        "jit_cpu_s": round(sum(t[3]["jit_cpu_s"] for t in timed), 4),
        "box_state": box, "env": pins, **config,
        "preparation": prep, "failed_ops": failed, "failures": runner.failures[:20],
        "end_to_end": e2e, "secondary": secondary,
    }
    if args.trace:
        metrics = per_layer(runner, timed, passes, {
            "session.get_spark_s": get_spark_s, "tables.warm_s": warm_s,
            "setup.warmup_pass_s": warmup_s, "setup.wall_s": setup_wall,
            "wall.ops_per_s": secondary["ops_per_s"], "wall.op_p50_s": secondary["op_p50_s"],
            "wall.pass_s": secondary["pass_wall_s"],
            "trace.cpu_s_per_op": secondary["cpu_s_per_op"],
        }, eventlog_dir, config["app_id"])
        units = dict(PER_LAYER)
    else:
        metrics, units = e2e, dict(END_TO_END)
    print(json.dumps({"perfbench_run": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def per_layer(runner, timed, passes, run_level, eventlog_dir, app_id) -> dict:
    """Per-layer metrics of the timed passes, as totals per pass, plus the
    ``run_level`` values measured by the caller."""
    import eventlog

    path = os.path.join(eventlog_dir, app_id)
    stats = eventlog.parse(path)
    os.remove(path)
    out = {name: 0.0 for name, _unit in PER_LAYER}
    out.update(run_level)
    for name, secs in runner.clock.totals.items():
        out[name] = secs / passes
    for group, op, secs, info in timed:
        layer = runner.layer(op)
        phases = {p: stats.get(f"{group}:{p}") for p in ("build", "exec", "op")}
        present = [s for s in phases.values() if s is not None]
        spans = [span for s in present for span in s.stage_spans]
        sums = {
            "jobs": sum(s.jobs for s in present),
            "tasks": sum(s.tasks for s in present),
            "executor_cpu_s": sum(s.executor_cpu_s for s in present),
            "executor_run_s": sum(s.executor_run_s for s in present),
            "shuffle_write_mb": sum(s.shuffle_write_bytes for s in present) / 2**20,
            "spill_mb": sum(s.spill_bytes for s in present) / 2**20,
            "driver_gap_s": max(0.0, secs - eventlog.union_seconds(spans)),
        }
        if layer == "exporter":
            sums.update(files_written=info["files"], bytes_written=info["bytes"])
            keys = ("jobs", "tasks", "executor_cpu_s", "driver_gap_s",
                    "files_written", "bytes_written")
        else:
            sums.update(build_s=info["build_s"], exec_s=info["exec_s"],
                        build_jobs=phases["build"].jobs if phases["build"] else 0)
            keys = tuple(k for k, _u in MODULE_METRICS)
        for k in keys:
            out[f"{layer}.{k}"] += sums[k] / passes
        out["spark.failed_tasks"] += sum(s.failed_tasks for s in present)
        out["spark.gc_s"] += sum(s.gc_s for s in present) / passes
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help=f"use the {TINY_DATA} fixture for every workload (smoke check)")
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout")
    if args.prepare:
        pin_environment()
        prepare(args.tiny)
        return
    if args.workload is None:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
