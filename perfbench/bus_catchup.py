"""Catch-up phase of the ``bus`` workload: drain a fixed backlog.

The generator process hosts the RESP broker and publishes the backlog of
requests, responses and per-consumer acks into four sharded streams before
anything is timed. Each drain starts two
streaming queries over the ``rediswire`` source with fresh checkpoints:

- correlate: ``stream_entry_to_envelope`` -> ``correlate_responses(
  join_type="leftOuter")``, whose output holds the request/response pairs
  and, once the watermark passes, the dead letters;
- barrier: the per-consumer acks -> ``completion_barrier``.

A drain ends when both queries have read the whole backlog and the
correlate query has run the watermark batch that flushes its dead letters.
The measured backlog is drained once; its events over the drain's wall
time give the drain rate. The drain's output is checked against the batch
forms of the same calls over a batch read of the same streams.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from statistics import median

from numpy import quantile

import streams
from common import OUT, SPEC, fresh_dir

CFG = SPEC["workloads"]["bus"]["catchup"]
WITHIN = f"{CFG['within_s']} seconds"
DRAIN_TIMEOUT_S = 120


def _source(spark, port: int, names: list[str]):
    return (
        spark.readStream.format("rediswire")
        .option("host", "127.0.0.1")
        .option("port", str(port))
        .option("streams", ",".join(names))
        .load()
    )


def _split(env):
    import pyspark.sql.functions as F

    requests = env.where(F.col("event") == "order.request")
    responses = env.where(F.col("event") == "order.request_response")
    acks = env.where(F.col("event") == "ack").select(
        F.col("props")["ref"].alias("message_id"), F.col("props")["consumer"].alias("consumer")
    )
    return requests, responses, acks


def _pairs_dlq(rows) -> tuple[set, set]:
    pairs = {(r[0], r[1]) for r in rows if r[2] is not None}
    dlq = {r[0] for r in rows if r[2] is None}
    return pairs, dlq


def oracle(spark, port: int, names: list[str]) -> dict:
    """Batch correlate / unanswered / barrier over a batch read of the
    same streams."""
    from eventstream_spark.codec import stream_entry_to_envelope
    from eventstream_spark.streaming import (
        barrier_batch_oracle,
        correlate_responses,
        unanswered_requests,
    )

    env = stream_entry_to_envelope(
        spark.read.format("rediswire").option("host", "127.0.0.1")
        .option("port", str(port)).option("streams", ",".join(names)).load()
    ).cache()
    try:
        requests, responses, acks = _split(env)
        pairs = correlate_responses(requests, responses, within=WITHIN).select(
            "request_message_id", "response_message_id").collect()
        dlq = unanswered_requests(requests, responses, within=WITHIN).select(
            "message_id").collect()
        done = barrier_batch_oracle(acks, CFG["consumers"]).select("message_id").collect()
    finally:
        env.unpersist()
    return {
        "pairs": {(r[0], r[1]) for r in pairs},
        "dlq": {r[0] for r in dlq},
        "completed": {r[0] for r in done},
    }


def drain(spark, port: int, names: list[str], n_events: int, run_dir: str, tag: str) -> dict:
    """Drain the streams once with fresh checkpoints; returns the timings,
    the progress of both queries and what they emitted."""
    import pyspark.sql.functions as F
    from eventstream_spark.codec import stream_entry_to_envelope
    from eventstream_spark.streaming import completion_barrier, correlate_responses

    requests, _, _ = _split(stream_entry_to_envelope(_source(spark, port, names)))
    _, responses, _ = _split(stream_entry_to_envelope(_source(spark, port, names)))
    _, _, acks = _split(stream_entry_to_envelope(_source(spark, port, names)))
    joined = correlate_responses(
        requests, responses, within=WITHIN, join_type="leftOuter"
    ).select("request_message_id", "response_message_id",
             F.col("response_response_to").alias("answered_by"))
    barrier = completion_barrier(acks, CFG["consumers"])
    ckpt = fresh_dir(os.path.join(run_dir, tag))

    def start(df, name):
        return (
            df.writeStream.format("memory").queryName(f"{name}_{tag}")
            .option("checkpointLocation", os.path.join(ckpt, name))
            .trigger(processingTime=CFG["trigger"]).start()
        )

    t0 = time.time()
    queries = {"correlate": start(joined, "correlate"), "barrier": start(barrier, "barrier")}
    # correlate reads the backlog twice (one source per join side) and
    # needs one more batch after it, the one the new watermark triggers.
    want = {"correlate": 2 * n_events, "barrier": n_events}
    ends: dict[str, float] = {}
    try:
        while len(ends) < 2:
            if time.time() - t0 > DRAIN_TIMEOUT_S:
                raise TimeoutError(f"drain {tag} unfinished after {DRAIN_TIMEOUT_S}s")
            for name, q in queries.items():
                if name in ends:
                    continue
                if q.exception() is not None:
                    raise RuntimeError(f"{name} query failed: {q.exception()}")
                batches = streams.data_batches(q.recentProgress)
                read = 0
                for i, p in enumerate(batches):
                    read += p["numInputRows"]
                    if read < want[name]:
                        continue
                    flushed = name == "barrier" or (i + 1 < len(batches))
                    if flushed:
                        last = batches[i] if name == "barrier" else batches[i + 1]
                        ends[name] = streams.progress_end(last)
                    break
            time.sleep(0.05)
    finally:
        progress = {name: list(q.recentProgress) for name, q in queries.items()}
        for q in queries.values():
            q.stop()
    pairs, dlq = _pairs_dlq(spark.table(f"correlate_{tag}").collect())
    completed = {r[0] for r in spark.table(f"barrier_{tag}").where(
        F.col("status") == "complete").collect()}
    return {
        "start": t0, "ends": ends, "progress": progress,
        "pairs": pairs, "dlq": dlq, "completed": completed,
    }


class CatchUp:
    """The catch-up phase: the generator process publishes the backlogs
    and serves them while the phase runs; ``warm()`` drains the small warm
    backlog (untimed set-up), ``measure()`` computes the oracle and runs
    the timed drain. Closing stops the generator."""

    def __init__(self, spark, args, sampler):
        from eventstream_spark.sources.redis_stream import register_rediswire

        self.spark, self.args, self.sampler = spark, args, sampler
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"),
             "catchup", "--seed", str(args.seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        sampler.exclude.add(self.gen.pid)
        try:
            line = self.gen.stdout.readline()
            if not line:
                raise RuntimeError(f"generator exited with {self.gen.wait()}")
            self.info = json.loads(line)
            register_rediswire(spark)
            self.run_dir = fresh_dir(os.path.join(OUT, "bus-catchup"))
        except BaseException:
            self.close()
            raise

    def __enter__(self) -> "CatchUp":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        self.gen.stdin.close()
        try:
            self.gen.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.gen.kill()
            self.gen.wait()

    def warm(self) -> None:
        warm = self.info["warm"]
        drain(self.spark, self.info["port"], warm["streams"], warm["events"],
              self.run_dir, "warm")

    def measure(self, tracer) -> dict:
        port = self.info["port"]
        names, n_events = self.info["bus"]["streams"], self.info["bus"]["events"]
        expect = oracle(self.spark, port, names)
        d = drain(self.spark, port, names, n_events, self.run_dir, "timed")
        attempted = failed = 0
        for key in ("pairs", "dlq", "completed"):
            attempted += len(expect[key])
            failed += len(d[key] ^ expect[key])
        busy = self.sampler.busy
        wall = busy(d["start"], max(d["ends"].values()))
        p50, p90 = _event_latency_ms(d, busy, self.info["bus"]["acks"], n_events)
        return {
            "attempted": attempted,
            "failed": failed,
            "drain_eps": n_events / wall,
            "layers": catchup_layers(d, tracer),
            "named": {
                "catchup.drain_eps": (n_events / wall, "1/s"),
                "catchup.drain_s": (wall, "s"),
                "catchup.latency_p50_ms": (p50, "ms"),
                "catchup.latency_p90_ms": (p90, "ms"),
                "catchup.backlog_events": (n_events, "count"),
                "catchup.publish_s": (self.info["publish_s"], "s"),
            },
        }


def _event_latency_ms(d: dict, busy, n_acks: int, n_events: int) -> tuple[float, float]:
    """p50 and p90 over the backlog's events of the time from drain start
    until the engine was done with them: acks when the barrier query
    committed the batch that read them, requests and responses when the
    correlate query committed the batch that flushed its dead letters."""
    done_ms = {name: busy(d["start"], end) * 1000.0 for name, end in d["ends"].items()}
    lat = [done_ms["barrier"]] * n_acks + [done_ms["correlate"]] * (n_events - n_acks)
    return quantile(lat, 0.5), quantile(lat, 0.9)


def catchup_layers(d: dict, tracer) -> dict:
    """Per-layer figures of the timed drain."""
    for name in ("correlate", "barrier"):
        streams.add_batch_spans(tracer, f"{name}.drain", streams.data_batches(d["progress"][name]))
    batches = [p for name in ("correlate", "barrier")
               for p in streams.data_batches(d["progress"][name])]
    fed = [p for p in batches if p["numInputRows"] > 0]
    return {
        "sources.rediswire.latest_offset_ms": streams.phase_median_ms(fed, "latestOffset"),
        "streaming.drain.batch_ms": streams.phase_median_ms(batches, "triggerExecution"),
        "streaming.drain.planning_ms": streams.phase_median_ms(batches, "queryPlanning"),
        "streaming.drain.commit_ms": streams.phase_median_ms(batches, "walCommit", "commitOffsets"),
        "streaming.drain.batches": float(len(batches)),
        "streaming.drain.rows_per_batch": median([p["numInputRows"] for p in fed]),
        "streaming.correlate.pairs": float(len(d["pairs"])),
        "streaming.correlate.dlq": float(len(d["dlq"])),
        "streaming.barrier.completed": float(len(d["completed"])),
        **streams.state_peaks(batches),
    }
