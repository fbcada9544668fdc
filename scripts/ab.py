"""Interleaved same-session A/B of query variants.

    python scripts/ab.py BASELINE [VARIANT ...] [--reps N] [--conf k=v ...] [--out DIR]

A variant is a registry query name or ``module:function`` with the
registry signature ``(spark, sf_dir) -> DataFrame``.  The fixture is
$SPARK_GRAFT_SF_DIR, as in bench.py.  A single variant is simply timed.

1. Correctness gate, untimed: every variant's result is hashed with
   ``cross_sf_sweep.row_hash`` (the driver's convention).  If any hash
   differs, the script prints the hashes and exits 1 before timing
   anything.  Each variant's executed (final adaptive) plan from this
   pass is written to ``DIR/<variant>.txt`` (``:`` becomes ``.``).
2. Timed reps: the variant order rotates every rep, and each rep runs
   bench.py's ``run_rep`` under the Spark job group ``<variant>:<rep>``.
   The session writes an uncompressed event log, which
   perfbench/eventlog.py turns into per-rep executor CPU, tasks, shuffle
   write, spill and driver gap (wall minus the union of stage spans).

Prints one JSON line ``{"ab": ...}``: the config stamp, each ``--conf``
value as the session reads it, and per variant its hash, the median and
IQR of wall seconds, the reps it won against the baseline in the same
rep (a gain needs 9 of 10), and the median of each layer stat.

Settings the JVM fixes at start, such as ``spark.io.compression.codec``,
cannot be interleaved in one session: compare them with alternating
invocations that differ only in ``--conf``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import eventlog  # noqa: E402
from bench import SF_DIR, box_state, config_stamp, run_rep  # noqa: E402
from cross_sf_sweep import row_hash  # noqa: E402

LAYER_STATS = ("executor_cpu_s", "tasks", "shuffle_write_mb", "spill_mb", "driver_gap_s")


def resolve(name: str):
    """The query function a variant name refers to."""
    if ":" in name:
        module, fn = name.split(":", 1)
        return getattr(importlib.import_module(module), fn)
    from oracle_parquet_dumper_spark.plans import REGISTRY

    return REGISTRY[name].fn


def layer_stats(stats: dict, group: str, wall: float) -> dict:
    s = stats.get(group) or eventlog.GroupStats()
    return {
        "executor_cpu_s": s.executor_cpu_s,
        "tasks": s.tasks,
        "shuffle_write_mb": s.shuffle_write_bytes / 2**20,
        "spill_mb": s.spill_bytes / 2**20,
        "driver_gap_s": max(0.0, wall - eventlog.union_seconds(s.stage_spans)),
    }


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _median, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def summarize(names: list[str], walls: dict, stats: dict, hashes: dict) -> dict:
    base = walls[names[0]]
    out = {}
    for n in names:
        ws = walls[n]
        layers = [layer_stats(stats, f"{n}:{rep}", w) for rep, w in enumerate(ws)]
        out[n] = {
            **hashes[n],
            "wall_median_s": round(statistics.median(ws), 4),
            "wall_iqr_s": round(iqr(ws), 4),
            "wall_s": [round(w, 4) for w in ws],
            "pairs_won": None if n == names[0] else sum(w < b for w, b in zip(ws, base)),
            **{k: round(statistics.median(l[k] for l in layers), 4) for k in LAYER_STATS},
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("variants", nargs="+", metavar="VARIANT", help="the first is the baseline")
    ap.add_argument("--reps", type=int, default=5, help="timed reps per variant (default 5)")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="Spark setting for the whole session; repeatable")
    ap.add_argument("--out", help="directory for the executed plans (default: a new temp dir)")
    args = ap.parse_args()
    names = args.variants
    if len(set(names)) != len(names):
        ap.error("variant names must be distinct")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    if any("=" not in kv for kv in args.conf):
        ap.error("--conf takes K=V")
    conf = dict(kv.split("=", 1) for kv in args.conf)
    fns = {}
    for n in names:
        try:
            fns[n] = resolve(n)
        except (KeyError, ImportError, AttributeError) as e:
            ap.error(f"unknown variant {n!r}: {e!r}")
    out = args.out or tempfile.mkdtemp(prefix="ab-")
    os.makedirs(out, exist_ok=True)

    box = box_state()  # sampled before this session's JVM starts
    from oracle_parquet_dumper_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="ab-eventlog-") as log_dir:
        spark = get_spark("ab", extra_conf={
            "spark.eventLog.enabled": "true",
            # Spark compresses event logs with zstd by default; eventlog.py
            # reads plain JSON lines from one file, <dir>/<app id>.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir,
            **conf,
        })
        sc = spark.sparkContext
        app_id = sc.applicationId
        record = {
            "baseline": names[0], "out": out,
            "config": config_stamp(spark, box),
            "conf": {k: spark.conf.get(k, None) for k in conf},
        }
        try:
            hashes = {}
            for n in names:
                sc.setJobGroup(f"gate:{n}", n)
                df = fns[n](spark, SF_DIR)
                h, rows, _cols = row_hash(df.toPandas())
                hashes[n] = {"hash": h, "rows": rows}
                # the plan of the execution toPandas just ran: final, adaptive
                with open(os.path.join(out, n.replace(":", ".") + ".txt"), "w") as fh:
                    fh.write(df._jdf.queryExecution().executedPlan().toString())
            if len({v["hash"] for v in hashes.values()}) > 1:
                record.update(error="result hashes differ", timed_reps=0, hashes=hashes)
                print(json.dumps({"ab": record}))
                return 1
            walls = {n: [] for n in names}
            for rep in range(args.reps):
                k = rep % len(names)
                for n in names[k:] + names[:k]:
                    sc.setJobGroup(f"{n}:{rep}", n)
                    walls[n].append(run_rep(spark, fns[n]))
        finally:
            spark.stop()  # closes the event log
        stats = eventlog.parse(os.path.join(log_dir, app_id))
    record.update(timed_reps=args.reps, variants=summarize(names, walls, stats, hashes))
    print(json.dumps({"ab": record}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
