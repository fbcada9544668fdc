"""scripts/ab.py end to end at sf0.001: one subprocess, so one Spark JVM,
per case, with candidate variants in a module on PYTHONPATH."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import REPO_ROOT, SMOKE_SF_DIR

BASELINE = "q1_pricing_summary"
VARIANTS = f'''
from oracle_parquet_dumper_spark.plans import REGISTRY


def same(spark, sf_dir):
    return REGISTRY["{BASELINE}"].fn(spark, sf_dir)


def fewer_rows(spark, sf_dir):
    return same(spark, sf_dir).limit(1)
'''


def run_ab(tmp_path, *args):
    (tmp_path / "ab_variants.py").write_text(VARIANTS)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(tmp_path), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_SF_DIR": SMOKE_SF_DIR,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "scripts", "ab.py"), *args,
         "--out", str(tmp_path / "out")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-2000:]
    return proc.returncode, json.loads(lines[-1])["ab"]


def test_equal_variants_are_timed_with_layer_stats_and_plans(tmp_path):
    rc, rec = run_ab(tmp_path, BASELINE, "ab_variants:same", "--reps", "2")
    assert rc == 0
    assert rec["timed_reps"] == 2
    assert rec["config"]["sf_dir"] == SMOKE_SF_DIR
    assert rec["config"]["SPARK_GRAFT_CPUS"] == "2"
    assert rec["config"]["master"] == "local[2]"
    variants = rec["variants"]
    assert set(variants) == {BASELINE, "ab_variants:same"}
    assert variants[BASELINE]["hash"] == variants["ab_variants:same"]["hash"]
    assert variants[BASELINE]["pairs_won"] is None
    assert 0 <= variants["ab_variants:same"]["pairs_won"] <= 2
    for v in variants.values():
        assert len(v["wall_s"]) == 2 and v["wall_median_s"] > 0
        assert v["tasks"] > 0 and v["executor_cpu_s"] > 0 and v["shuffle_write_mb"] > 0
    for name in (BASELINE, "ab_variants.same"):
        plan = (tmp_path / "out" / f"{name}.txt").read_text()
        assert plan.startswith("AdaptiveSparkPlan isFinalPlan=true")


def test_differing_rows_fail_before_timing(tmp_path):
    rc, rec = run_ab(tmp_path, BASELINE, "ab_variants:fewer_rows")
    assert rc != 0
    assert rec["error"] == "result hashes differ"
    assert rec["timed_reps"] == 0 and "variants" not in rec
    assert rec["hashes"][BASELINE]["rows"] == 6
    assert rec["hashes"]["ab_variants:fewer_rows"]["rows"] == 1


def test_conf_is_stamped_in_record(tmp_path):
    rc, rec = run_ab(
        tmp_path, BASELINE, "--reps", "1",
        "--conf", "spark.sql.autoBroadcastJoinThreshold=-1",
    )
    assert rc == 0
    assert rec["conf"] == {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    assert list(rec["variants"]) == [BASELINE]
