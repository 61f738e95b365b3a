"""Smoke run of the benchmark on tiny inputs (sf0.001, 50-bulk screens).

    python3 perfbench/smoke.py        # from the repository root

For every workload in BENCHMARK.json, runs perfbench/run.py untraced and
traced and asserts that the last stdout line has exactly the result keys,
that every op passed its output check, and that every metric BENCHMARK.json
names for that mode is printed with its unit as a finite number.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def check_result(line: str, expected: dict[str, str]) -> list[str]:
    """Problems with one result line (empty when it is well formed)."""
    res = json.loads(line)
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        problems.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        problems.append(f"attempted={res.get('attempted')}")
    metrics = res.get("metrics", {})
    if set(metrics) != set(expected):
        problems.append(f"metric names differ: {sorted(set(metrics) ^ set(expected))}")
    for name, unit in expected.items():
        m = metrics.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            problems.append(f"{name}: unit {m.get('unit')!r} != {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{name}: value {v!r}")
    return problems


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = 0
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--smoke",
                   "--workload", wl, "--seed", "1", "--seconds", "2", "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems = [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
            else:
                problems = check_result(lines[-1], units[trace])
            status = "ok" if not problems else "FAIL"
            print(f"{status}  {wl} trace={trace}")
            for p in problems:
                print(f"      {p}")
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
