"""EventStream benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch-headline --seed 1 --seconds 8 --trace 0

Workloads (spec.json holds their fixed inputs, what each end-to-end metric
means on each, and which end-to-end metric each per-layer metric should
move; BENCHMARK.json holds the metrics, units and bounds):

- ``batch-headline`` (batch.py): headline queries from ``bench.HEADLINE``
  over seeded ``scripts/gen_fixtures.py`` tables, built and collected with
  toPandas(), checked against their duckdb oracles;
- ``bus`` (bus.py): a live phase, open-loop event files tailed by
  ``plans.routes.start_streaming`` and fanned out to the benchmark's routes
  (bus_live.py), then a catch-up phase, a sharded RESP backlog drained
  through ``rediswire``, ``correlate_responses`` and ``completion_barrier``
  (bus_catchup.py). The load comes from generator.py, a process of its own.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics (a layer the workload does not run, by
spec.json's ``per_layer_moves``, reports 0), and spans with self time per
layer, plus the tracing overhead against the untraced run of the same
workload and seed, are written to ``perfbench/out/trace``. The run uses ``local[nproc]``, reads and writes only
inside the checkout, and exits non-zero without a result line if the
package is missing or an operation cannot run.

selfcheck.py runs every workload briefly and checks the result lines;
steadiness.py makes the repeated runs behind STEADINESS.json.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import BENCHMARK, OUT, ROOT, SPEC, HostSampler, Tracer, emit, pin_env, start_spark

WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="EventStream benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def layer_workloads(layer: str) -> set[str]:
    """The workloads that run a layer: those of the end-to-end metrics
    spec.json says it moves."""
    return {move.split(":")[0] for move in SPEC["per_layer_moves"][layer]}


def task_cpu_s(log_dir: str, job_ids: set[int]) -> float:
    """Summed executorCpuTime of the tasks of ``job_ids``, from the
    uncompressed event log."""
    stage_job: dict[int, int] = {}
    total_ns = 0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if stage_job.get(ev["Stage ID"]) in job_ids:
                        total_ns += (ev.get("Task Metrics") or {}).get("Executor CPU Time", 0)
    return total_ns / 1e9


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("eventstream_spark/__init__.py", "scripts/gen_fixtures.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing from the checkout", file=sys.stderr)
            return 2
    pin_env()
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    tag = f"{args.workload}-{args.seed}"
    log_dir = os.path.join(OUT, "trace", f"{tag}-eventlog") if trace else None
    if log_dir is not None:
        import shutil

        shutil.rmtree(log_dir, ignore_errors=True)
    tracer = Tracer(trace)

    if args.workload == "batch-headline":
        import batch as workload
    else:
        import bus as workload

    with HostSampler() as sampler:
        t0 = sampler.mark()
        spark = start_spark(log_dir)
        args.session_s = sampler.busy(t0, sampler.mark())
        try:
            result = workload.run(spark, args, tracer, sampler)
        finally:
            stop_spark(spark)
        t1 = sampler.mark()
        result.setdefault("named", {})["host.steal_pct"] = (
            100.0 * (1.0 - sampler.busy(t0, t1) / (t1 - t0)), "%")

    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    record = os.path.join(OUT, "runs", f"{tag}.json")
    if not trace:
        with open(record, "w") as f:
            json.dump({"metrics": result["metrics"], "named": result.get("named", {})}, f)
        emit(result, trace=False)
        return 0

    # A layer the workload does not run reports 0; one it runs but did not
    # measure is an error (emit() rejects the result).
    layers = {m["name"]: 0.0 for m in BENCHMARK["per_layer"]
              if args.workload not in layer_workloads(m["name"])}
    layers.update(result["layers"])
    if "cpu_jobs" in result:
        job_ids, per = result["cpu_jobs"]
        layers["exec.task_cpu_s"] = task_cpu_s(log_dir, job_ids) / per
    overhead = {}
    if os.path.isfile(record):
        with open(record) as f:
            untraced = json.load(f)["metrics"]
        overhead = {
            name: {"traced": result["metrics"][name], "untraced": value,
                   "overhead_pct": 100.0 * (result["metrics"][name] / value - 1.0)}
            for name, value in untraced.items() if value
        }
        for name, o in overhead.items():
            print(f"tracing overhead {name}: {o['overhead_pct']:+.1f}% "
                  f"({o['traced']:.6g} traced vs {o['untraced']:.6g} untraced)")
    else:
        print(f"tracing overhead: no untraced run of {tag} recorded yet")
    tracer.write(
        os.path.join(OUT, "trace", f"{tag}.spans.json"),
        {"workload": args.workload, "seed": args.seed, "layers": layers,
         "end_to_end_traced": result["metrics"], "tracing_overhead": overhead},
    )
    result["metrics"] = layers
    emit(result, trace=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
