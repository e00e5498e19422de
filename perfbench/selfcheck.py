"""Self-check: run every workload briefly, untraced and traced, and assert
that the result line carries every metric BENCHMARK.json names, with its
unit, and that the error counts and the named figures print.

    python3 perfbench/selfcheck.py [--seconds 2]

Exits non-zero on the first violation.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, seconds: float, benchmark: dict) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload}: result keys {sorted(result)}")
    if not (isinstance(result["attempted"], int) and result["attempted"] >= 1
            and isinstance(result["failed"], int)):
        raise SystemExit(f"{workload}: bad counts {result['attempted']}/{result['failed']}")
    kind = "per_layer" if trace else "end_to_end"
    for m in benchmark[kind]:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            raise SystemExit(f"{workload}: metric {m['name']} missing or mis-unitted: {got}")
        if kind == "end_to_end" and not got["value"] > 0:
            raise SystemExit(f"{workload}: end-to-end metric {m['name']} is {got['value']}")
    if not any(line.startswith("error_rate = ") and "attempted" in line for line in lines):
        raise SystemExit(f"{workload}: no error_rate line")
    print(f"ok {workload} trace={trace}: {len(result['metrics'])} metrics, "
          f"failed {result['failed']} of {result['attempted']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seconds", type=float, default=2)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        benchmark = json.load(f)
    for w in benchmark["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace, a.seconds, benchmark)


if __name__ == "__main__":
    main()
