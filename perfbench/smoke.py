#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at sf 0.001, one untraced op
and one traced op between two untraced ones, each result checked for every metric BENCHMARK.json
names, with its unit and a finite value.

    python3 perfbench/smoke.py      # from the repository root; about 5 minutes

Exits 0 when every run passes.
"""
import json
import math
import subprocess
import sys

sys.dont_write_bytecode = True
from run import WORKLOADS  # noqa: E402


def run(workload, trace, ops):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--ops", str(ops)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr.strip().splitlines()[-1:]}"
    return json.loads(lines[-1]), None


def problems(result, expected):
    found = []
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        found.append(f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    metrics = result["metrics"]
    if set(metrics) != set(expected):
        found.append(f"metric names differ: missing {sorted(set(expected) - set(metrics))}, "
                     f"extra {sorted(set(metrics) - set(expected))}")
    for name, unit in expected.items():
        m = metrics.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            found.append(f"{name}: unit {m.get('unit')!r}, expected {unit!r}")
        if not isinstance(m.get("value"), (int, float)) or not math.isfinite(m["value"]):
            found.append(f"{name}: value {m.get('value')!r} is not a finite number")
    return found


def main():
    spec = json.load(open("BENCHMARK.json"))
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = 0
    for workload in WORKLOADS:
        for trace, ops in ((0, 1), (1, 3)):
            result, error = run(workload, trace, ops)
            found = [error] if error else problems(result, expected[trace])
            failures += bool(found)
            print(f"{'FAIL' if found else 'ok  '} {workload} trace={trace}", flush=True)
            for f in found:
                print(f"     {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
