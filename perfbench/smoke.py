#!/usr/bin/env python3
"""Smoke run of the benchmark at the tiny input size.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced (``--size tiny``) and
checks that each run exits 0, that its result line is well formed, and
that it carries exactly the metrics BENCHMARK.json names, each with the
unit named there: the end-to-end ones untraced, the per-layer ones traced.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def check(result: dict, expected: dict[str, str]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        problems.append(f"run not clean: {({k: result.get(k) for k in ('correct', 'attempted', 'failed')})}")
    metrics = result.get("metrics", {})
    for name in sorted(set(expected) ^ set(metrics)):
        problems.append(f"metric {name} {'missing' if name in expected else 'not in BENCHMARK.json'}")
    for name, unit in expected.items():
        got = metrics.get(name)
        if got is None:
            continue
        if got.get("unit") != unit:
            problems.append(f"{name}: unit {got.get('unit')!r}, expected {unit!r}")
        if not isinstance(got.get("value"), (int, float)):
            problems.append(f"{name}: value {got.get('value')!r} is not a number")
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    from run import WORKLOADS

    failures = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, str(HERE / "run.py"), "--workload", workload,
                "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems = [f"exit {proc.returncode}: {proc.stderr.strip()[-2000:]}"]
            else:
                problems = check(json.loads(lines[-1]), wanted[trace])
            status = "ok" if not problems else "FAIL"
            print(f"{workload} trace={trace}: {status}")
            for p in problems:
                print(f"  {p}")
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
