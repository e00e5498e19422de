"""Live phase of the ``bus`` workload: the read-and-route loop, run live.

The generator process lands one parquet file of events per tick into a
landing directory at a fixed rate; the engine tails it through
``plans.routes.start_streaming(available_now=False)`` and fans each
micro-batch out to the benchmark's own routes: one plain noop route and
parquet routes, three of them through transforms (``tag_workflow``,
``forward``, ``respond``). An event's latency runs from its creation stamp
to the write of the commit-log entry of the micro-batch that routed it.
The oracle is ``plans.routes.compile_bus`` over the same landed files. A
run whose generator fell behind its schedule is invalid (correct=false).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from statistics import median

import pyarrow.parquet as pq
from numpy import quantile

import streams
from common import SPEC, fresh_dir
from generator import live_events

CFG = SPEC["workloads"]["bus"]["live"]
# Columns every routed row carries and the oracle can reproduce exactly
# (the header holds a fresh current_timestamp per plan).
CHECK_COLS = ["event", "message_id", "response_to", "application_name",
              "application_instance", "workflow_id", "ts", "target_stream"]


def engine_config(source_dir: str, sink_root: str):
    from eventstream_spark.plans import EngineConfig

    routes = []
    for r in CFG["routes"]:
        r = json.loads(json.dumps(r))
        if r["sink"]["kind"] == "parquet":
            r["sink"]["target"] = os.path.join(sink_root, r["name"])
        routes.append(r)
    return EngineConfig.from_dict(
        {
            "application_name": "perfbench",
            "application_instance": "0",
            "busses": [{"name": "live", "source_path": source_dir, "routes": routes}],
        }
    )


def _stream(spark, cfg, source_dir: str, checkpoint: str, schema):
    from eventstream_spark.plans import start_streaming

    return start_streaming(
        spark, cfg, cfg.busses[0], source_dir, schema, checkpoint, available_now=False
    )


def _wait_files(checkpoint: str, names: set[str], deadline: float) -> None:
    while time.time() < deadline:
        seen = streams.file_batches(checkpoint)
        commits = streams.commit_times(checkpoint)
        if names <= set(seen) and all(seen[n] in commits for n in names):
            return
        time.sleep(0.1)


def warm(spark, run_dir: str, seed: int):
    """Untimed warm stream: lands one file at a time and waits for its
    commit, so each is a micro-batch of its own, until the route plans are
    compiled and the JIT has seen the loop a few times."""
    import numpy as np

    warm_dir = fresh_dir(os.path.join(run_dir, "warm_in"))
    rng = np.random.default_rng(seed + 7)
    per_file = int(CFG["rate_eps"] * CFG["tick_s"])

    def land(k: int) -> str:
        name = f"part-{k:06d}.parquet"
        due = time.time() + np.arange(per_file) / CFG["rate_eps"]
        pq.write_table(live_events(rng, k * per_file, (due * 1e6).astype(np.int64)),
                       os.path.join(warm_dir, "." + name))
        os.replace(os.path.join(warm_dir, "." + name), os.path.join(warm_dir, name))
        return name

    land(0)
    schema = spark.read.parquet(warm_dir).schema
    cfg = engine_config(warm_dir, os.path.join(run_dir, "warm_sinks"))
    ckpt = os.path.join(run_dir, "warm_ckpt")
    q = _stream(spark, cfg, warm_dir, ckpt, schema)
    try:
        _wait_files(ckpt, {"part-000000.parquet"}, time.time() + 120)
        for k in range(1, CFG["warm_batches"]):
            _wait_files(ckpt, {land(k)}, time.time() + 60)
    finally:
        q.stop()
    return schema


def measure(spark, args, tracer, sampler, run_dir: str, schema) -> dict:
    """The live phase's measured window and its oracle check."""
    land = fresh_dir(os.path.join(run_dir, "landing"))
    sinks = os.path.join(run_dir, "sinks")
    cfg = engine_config(land, sinks)
    ckpt = os.path.join(run_dir, "ckpt")
    q = _stream(spark, cfg, land, ckpt, schema)
    start = time.time() + 1.0  # leaves the generator time to import
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"), "live",
         "--out", land, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--start", repr(start)],
        stdout=subprocess.PIPE, text=True,
    )
    sampler.exclude.add(gen.pid)
    try:
        out, _ = gen.communicate(timeout=args.seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        q.stop()
        raise RuntimeError(f"generator exited with {gen.returncode}")
    gen_stats = json.loads(out.strip().splitlines()[-1])
    files = {n for n in os.listdir(land) if n.endswith(".parquet")}
    _wait_files(ckpt, files, time.time() + CFG["grace_s"])
    try:
        progress = list(q.recentProgress)
    finally:
        q.stop()

    # Per-event latency: creation stamp -> commit of the batch that read it,
    # less the steal in between.
    file_batch = streams.file_batches(ckpt)
    commits = streams.commit_times(ckpt)
    lat_ms, lat_batch, committed_end, n_events, uncommitted = [], [], 0.0, 0, 0
    for name in sorted(files):
        due_s = pq.read_table(os.path.join(land, name), columns=["ts"]).column("ts")
        due_s = due_s.cast("int64").to_numpy() / 1e6
        n_events += len(due_s)
        b = file_batch.get(name)
        if b is None or b not in commits:
            uncommitted += len(due_s)
            continue
        lat_ms.extend(sampler.busy(due_s, commits[b]) * 1000.0)
        lat_batch.extend([b] * len(due_s))
        committed_end = max(committed_end, commits[b])
    window = committed_end - start
    batches = streams.data_batches(progress)

    # Oracle: the batch compile of the same bus over the same files.
    failed_ids = check_routes(spark, cfg, sinks)
    failed = uncommitted + len(failed_ids)

    n_routes = len(cfg.busses[0].routes)
    p50, p90 = quantile(lat_ms, 0.5), quantile(lat_ms, 0.9)
    layers = {
        "sources.file.latest_offset_ms": streams.phase_median_ms(batches, "latestOffset"),
        "plans.routes.add_batch_ms": streams.phase_median_ms(batches, "addBatch"),
        "plans.routes.route_writes": float(len(batches) * n_routes),
        "streaming.batch_ms": streams.phase_median_ms(batches, "triggerExecution"),
        "streaming.planning_ms": streams.phase_median_ms(batches, "queryPlanning"),
        "streaming.commit_ms": streams.phase_median_ms(batches, "walCommit", "commitOffsets"),
        "streaming.batches": float(len(batches)),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in batches]) if batches else 0.0,
        "generator.late_max_s": gen_stats["late_max_s"],
    }
    streams.add_batch_spans(tracer, "live", batches)
    # Stamps inside one micro-batch are correlated: count the batches
    # that hold the events beyond p90.
    beyond_p90 = len({b for lat, b in zip(lat_ms, lat_batch) if lat > p90})
    return {
        "attempted": n_events,
        "failed": failed,
        # a file landed more than a whole tick late: the schedule fell behind
        "on_time": gen_stats["late_max_s"] <= CFG["tick_s"],
        "latency_p50_ms": p50,
        "latency_p90_ms": p90,
        "layers": layers,
        "named": {
            "live.latency_p50_ms": (p50, "ms"),
            "live.latency_p90_ms": (p90, "ms"),
            "live.throughput_eps": ((n_events - uncommitted) / window, "1/s"),
            "live.micro_batches": (len(batches), "count"),
            "live.micro_batches_beyond_p90": (beyond_p90, "count"),
            "live.generator_late_max_s": (gen_stats["late_max_s"], "s"),
        },
    }


def check_routes(spark, cfg, sinks: str) -> set[str]:
    """Events whose routing differs from the batch oracle, by id. Parquet
    routes are compared row for row. A noop sink keeps no output, so for a
    noop route the check is the caller's: every event was committed."""
    from eventstream_spark.plans import compile_bus
    from eventstream_spark.testing import compare

    bus = cfg.busses[0]
    want = compile_bus(spark, cfg, bus, "")
    bad: set[str] = set()
    for route in bus.routes:
        if route.sink.kind != "parquet":
            continue
        cols = [c for c in CHECK_COLS if c in want[route.name].columns]
        exp = want[route.name].select(cols).toPandas()
        got = spark.read.parquet(route.sink.target).select(cols).toPandas() if os.path.isdir(
            route.sink.target) else exp.iloc[0:0]
        if compare(got, exp):
            # respond clears message_id; its request's id is response_to
            key = "message_id" if exp["message_id"].notna().any() else "response_to"
            a, b = set(got[key].astype(str)), set(exp[key].astype(str))
            # equal id sets here mean values or multiplicities differ
            bad |= (a ^ b) or (a | b)
    return bad
