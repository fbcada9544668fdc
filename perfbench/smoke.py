"""Smoke check of the benchmark itself.

Runs every workload of BENCHMARK.json at sf0.001 for one second, with
tracing off and on, and fails unless each run exits 0, reports correct
outputs, and prints exactly the metric names of BENCHMARK.json with their
units (end-to-end metrics untraced, per-layer metrics traced), each a
number and every end-to-end value above zero.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_result(res: dict, expected: dict[str, str], positive: bool) -> list[str]:
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        problems.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    got = {k: m.get("unit") for k, m in res.get("metrics", {}).items()}
    if got != expected:
        missing = sorted(set(expected) - set(got))
        extra = sorted(set(got) - set(expected))
        wrong = sorted(k for k in set(got) & set(expected) if got[k] != expected[k])
        problems.append(f"metrics missing={missing} extra={extra} wrong_unit={wrong}")
    for k, m in res.get("metrics", {}).items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v) or (positive and v <= 0):
            problems.append(f"{k}: bad value {v!r}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--tiny",
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            if proc.returncode != 0:
                problems = [f"exit {proc.returncode}: {proc.stderr.strip()[-500:]}"]
            else:
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                problems = check_result(res, expected[trace], positive=not trace)
            failures += bool(problems)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else problems}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
