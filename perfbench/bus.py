"""``bus``: the event bus, live and catching up, in one session.

Two phases share the session. Both warm up first (the catch-up warm drain,
then the live warm stream), so that each is measured on a warm session;
then the live window is measured, then the catch-up drain:

1. live (bus_live.py): open-loop event files tailed by
   ``plans.routes.start_streaming`` and fanned out to the benchmark's routes.
   Its event latency is the workload's ``latency_p50_ms``/``latency_p90_ms``.
   Its throughput equals the offered rate whenever the engine keeps up (an
   event left uncommitted counts as failed), so it is printed, not bounded.
2. catch-up (bus_catchup.py): a sharded RESP backlog drained through
   ``rediswire``, ``correlate_responses`` and ``completion_barrier``. Its
   drain rate is the workload's ``throughput_per_s``.

Set-up is the session plus both phases' untimed warm work.
"""

from __future__ import annotations

import os

import bus_live
from bus_catchup import CatchUp
from common import OUT, fresh_dir


def run(spark, args, tracer, sampler) -> dict:
    run_dir = fresh_dir(os.path.join(OUT, "bus-live"))
    with CatchUp(spark, args, sampler) as catchup:
        t0 = sampler.mark()
        catchup.warm()
        schema = bus_live.warm(spark, run_dir, args.seed)
        warm_s = sampler.busy(t0, sampler.mark())
        live = bus_live.measure(spark, args, tracer, sampler, run_dir, schema)
        drained = catchup.measure(tracer)
    attempted = live["attempted"] + drained["attempted"]
    failed = live["failed"] + drained["failed"]
    if not live["on_time"]:
        print(f"perfbench: the generator ran {live['layers']['generator.late_max_s']:.3f}s "
              "late, behind its schedule; the run is invalid")
    return {
        "correct": failed == 0 and live["on_time"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": args.session_s + warm_s,
            "latency_p50_ms": live["latency_p50_ms"],
            "latency_p90_ms": live["latency_p90_ms"],
            "throughput_per_s": drained["drain_eps"],
            "peak_rss_mb": sampler.peak_mb,
        },
        "layers": {**live["layers"], **drained["layers"]},
        "named": {
            **live["named"],
            "live.failed": (live["failed"], f"of {live['attempted']} events"),
            **drained["named"],
            "catchup.failed": (drained["failed"], f"of {drained['attempted']} checks"),
        },
    }
