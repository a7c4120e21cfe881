#!/usr/bin/env python3
"""Smoke test of the benchmark.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at sf0.001 with the fewest warm
passes a run makes, untraced and traced, and checks that each run exits 0,
prints every metric it owes by name with its unit (untraced: every
end-to-end metric, gated in BENCHMARK.json or not; traced: every per-layer
metric), puts exactly the BENCHMARK.json metrics in its result, and
reports a fail ratio of 0. Exits 1 if any run fails a check.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: every end-to-end metric an untraced run prints, with its unit
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "0",
        "--trace", str(trace), "--scale", "sf0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    owed = spec["per_layer"] if trace else spec["end_to_end"]
    if set(result["metrics"]) != {m["name"] for m in owed}:
        errors.append(f"metric names differ: {sorted(set(result['metrics']) ^ {m['name'] for m in owed})}")
    for m in owed:
        got = result["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"]:
            errors.append(f"{m['name']}: unit {got.get('unit')!r} != {m['unit']!r}")
    printed = {m["name"]: m["unit"] for m in owed}
    if not trace:
        printed.update(END_TO_END)
    for name, unit in printed.items():
        pattern = rf"^{re.escape(name)} \S+ {re.escape(unit)}\b"
        if not any(re.match(pattern, line) for line in lines):
            errors.append(f"{name}: no report line with its unit")
    ratio = [line for line in lines if line.startswith("fail_ratio ")]
    if not ratio or float(ratio[0].split()[1]) != 0.0:
        errors.append(f"fail_ratio is not 0: {ratio}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"correct/attempted/failed: {result['correct']}/{result['attempted']}/{result['failed']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            errors = check_run(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not errors else 'FAILED'}", flush=True)
            for e in errors:
                print(f"  {e}")
            failed |= bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
