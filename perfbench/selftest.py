#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at tiny sizes, untraced
and traced, through the same runner the full benchmark uses.

    python3 perfbench/selftest.py [workload ...]

Checks that each run exits 0 and that its last stdout line is the
result object, correct, with every metric BENCHMARK.json names (and no
other) printed with its declared unit. Takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def check_run(workload: str, trace: int, bench: dict) -> list:
    cmd = [sys.executable, str(ROOT / bench["command"][1]),
           "--workload", workload, "--seed", "7", "--seconds", "4",
           "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"{where}: not correct: {result.get('failed')} "
                        f"failed\n{proc.stderr[-3000:]}")
    if not result.get("attempted", 0) >= 1:
        problems.append(f"{where}: no op attempted")
    declared = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
    if got != want:
        problems.append(f"{where}: metrics/units differ: missing "
                        f"{sorted(set(want) - set(got))}, extra "
                        f"{sorted(set(got) - set(want))}, unit mismatch "
                        f"{[k for k in want if k in got and got[k] != want[k]]}")
    for k, v in result.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            problems.append(f"{where}: {k} value {v.get('value')!r}")
    print(f"{where}: {'ok' if not problems else 'FAILED'}", flush=True)
    return problems


def main(argv) -> int:
    from perfbench.workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    names = [w["name"] for w in bench["workloads"]]
    if sorted(names) != sorted(WORKLOADS):
        problems.append(f"BENCHMARK.json workloads {names}")
    for workload in argv or names:
        for trace in (0, 1):
            problems += check_run(workload, trace, bench)
    for p in problems:
        print(p, file=sys.stderr)
    print("selftest " + ("passed" if not problems else "FAILED"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
