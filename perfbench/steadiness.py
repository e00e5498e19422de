"""Steadiness record: run each workload once per seed and report, for every
end-to-end metric, the median and the interquartile spread as a share of
the median (``statistics.quantiles(values, n=4)``), next to its bound.

    python3 perfbench/steadiness.py --seeds 42-51 [--workload bus-live] \
        [--out perfbench/STEADINESS.json]

The record is appended to ``--out`` (one entry per workload and call).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="a seed or an inclusive range a-b")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    records = []
    for w in workloads:
        runs, walls = [], []
        for seed in seeds(a.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
                 str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            walls.append(time.time() - t0)
            if proc.returncode != 0:
                raise SystemExit(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append(result)
            print(w, seed, f"{walls[-1]:.0f}s", result["failed"], "failed",
                  {k: round(v["value"], 4) for k, v in result["metrics"].items()}, flush=True)
        spread = {}
        for m in bench["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(values, n=4)
            spread[m["name"]] = {
                "median": q2, "iqr_share": (q3 - q1) / q2, "bound": m["bound"],
                "values": values,
            }
            print(f"  {m['name']}: median {q2:.6g} spread {(q3 - q1) / q2:.3f} bound {m['bound']}")
        records.append({
            "workload": w, "seeds": a.seeds, "run_seconds": bench["run_seconds"],
            "wall_s_median": statistics.median(walls), "failed": sum(r["failed"] for r in runs),
            "metrics": spread,
        })
    if a.out:
        old = []
        if os.path.isfile(a.out):
            with open(a.out) as f:
                old = json.load(f)
        with open(a.out, "w") as f:
            json.dump(old + records, f, indent=1)


if __name__ == "__main__":
    main()
