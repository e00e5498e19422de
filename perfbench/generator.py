"""Open-loop load generator for the event-bus workloads.

Runs as its own process, separate from the engine under test, so that a
slow engine cannot slow the schedule. Every event is stamped with its
creation time (the time it was due) and the generator reports how late its
schedule ran.

    python3 perfbench/generator.py live --out DIR --seed 1 --seconds 8 \
        --start 1760000000.0
    python3 perfbench/generator.py catchup --seed 1

Rates, tick, backlog sizes, shards and consumers are the fixed inputs in
spec.json; the command line carries only what changes per run.

``live`` lands one parquet file per tick into DIR (written under a dot name,
then renamed, so the file source never sees a partial file) and prints one
JSON line when the schedule ends.

``catchup`` hosts the in-process RESP broker, publishes a small warm backlog
and the measured backlog into four sharded streams each, prints one JSON
line (port, streams, counts, publish time) and keeps serving until its
standard input closes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

from common import ROOT, SPEC

sys.path.insert(0, ROOT)

LIVE = SPEC["workloads"]["bus"]["live"]
CATCHUP = SPEC["workloads"]["bus"]["catchup"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_WEIGHTS = [0.35, 0.05, 0.15, 0.05, 0.40]
# XADD commands per pipelined call: each call costs a fixed ~40 ms round
# trip against the in-process broker, so calls are few and large.
PIPELINE_CHUNK = 2000


def live_events(rng: np.random.Generator, first_id: int, due_us: np.ndarray):
    """Events shaped like the fixture ``events`` table; ``ts`` is the
    creation stamp (the due time on the open-loop schedule)."""
    import pyarrow as pa

    n = len(due_us)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(due_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 250, n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.choice(5, n, p=EVENT_WEIGHTS)],
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 120, n)],
        }
    )


def run_live(a: argparse.Namespace) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(a.seed)
    rate, tick = LIVE["rate_eps"], LIVE["tick_s"]
    per_tick = int(round(rate * tick))
    n_ticks = int(round(a.seconds / tick))
    # One untimed table build and write first, so first-call costs in
    # pyarrow do not make the first tick late.
    pq.write_table(live_events(np.random.default_rng(0), 0, np.zeros(per_tick, np.int64)),
                   pa.BufferOutputStream())
    late_max = 0.0
    n_events = 0
    for k in range(n_ticks):
        tick_end = a.start + (k + 1) * tick
        # Events of tick k are due evenly inside the tick; the file lands
        # at the tick's end, once every event in it has been created.
        due = a.start + k * tick + np.arange(per_tick) / rate
        delay = tick_end - time.time()
        if delay > 0:
            time.sleep(delay)
        table = live_events(rng, n_events, (due * 1e6).astype(np.int64))
        tmp = os.path.join(a.out, f".part-{k:06d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(a.out, f"part-{k:06d}.parquet"))
        late_max = max(late_max, time.time() - tick_end)
        n_events += per_tick
    return {"events": n_events, "files": n_ticks, "late_max_s": late_max}


def catchup_backlog(seed: int, n_requests: int, within_s: int):
    """Requests, responses and per-consumer acks, as (shard, ms, fields).

    - 85% of requests are answered; of those, 6% answer after the
      correlation window and 3% carry a stamp before their request
      (out of order), so both land in the dead-letter view.
    - 90% of requests are acked by every consumer, the rest miss one;
      4% of acks are duplicated.
    - One sentinel request/response pair an hour past the backlog moves
      the watermark beyond every window, so every dead letter is emitted.
    """
    rng = np.random.default_rng(seed)
    base_ms = 1_700_000_000_000 + (seed % 1000) * 86_400_000
    rows: list[tuple[int, int, dict]] = []  # (ms, kind order, fields)
    req_ms = base_ms + np.arange(n_requests) * 10
    answered = rng.random(n_requests) < 0.85
    kind = rng.random(n_requests)
    lat_ms = rng.exponential(within_s * 1000 / 6, n_requests).astype(np.int64)
    lat_ms = np.minimum(lat_ms, within_s * 1000 - 1)
    lat_ms = np.where(kind < 0.06, within_s * 1000 + 1 + rng.integers(0, 20_000, n_requests), lat_ms)
    lat_ms = np.where((kind >= 0.06) & (kind < 0.09), -rng.integers(1_000, 5_000, n_requests), lat_ms)
    n_consumers = len(CATCHUP["consumers"])
    missing = np.where(rng.random(n_requests) < 0.10, rng.integers(0, n_consumers, n_requests), -1)
    for i in range(n_requests):
        rows.append((int(req_ms[i]), 0, {"event": "order.request", "seq": str(i)}))
        if answered[i]:
            rows.append((int(req_ms[i] + lat_ms[i]), 1, {"event": "order.request_response", "req": str(i)}))
        for c, consumer in enumerate(CATCHUP["consumers"]):
            if c == missing[i]:
                continue
            ack_ms = int(req_ms[i] + rng.integers(0, 5_000))
            copies = 2 if rng.random() < 0.04 else 1
            for _ in range(copies):
                rows.append((ack_ms, 2, {"event": "ack", "req": str(i), "consumer": consumer}))
    sentinel_ms = int(req_ms[-1]) + 3_600_000
    rows.append((sentinel_ms, 0, {"event": "order.request", "seq": str(n_requests)}))
    rows.append((sentinel_ms + 1, 1, {"event": "order.request_response", "req": str(n_requests)}))
    rows.sort(key=lambda r: (r[0], r[1]))
    # Globally unique, per-shard increasing entry IDs: the ID is the
    # message_id (the correlation key) and its millis prefix the event time.
    ids, last_ms, seq = [], None, 0
    for ms, _, _ in rows:
        seq = seq + 1 if ms == last_ms else 0
        last_ms = ms
        ids.append(f"{ms}-{seq}")
    req_id = {r[2]["seq"]: i for i, r in zip(ids, rows) if "seq" in r[2]}
    shard = rng.integers(0, CATCHUP["shards"], len(rows))
    out = []
    for entry_id, (_, _, fields), s in zip(ids, rows, shard):
        fields = dict(fields)
        if "req" in fields:
            target = req_id[fields.pop("req")]
            fields["response_to" if fields["event"] != "ack" else "ref"] = target
        out.append((int(s), entry_id, fields))
    return out


def run_catchup(a: argparse.Namespace) -> None:
    from eventstream_spark.sources.redis_stream import RedisStreamClient
    from eventstream_spark.sources.resp_server import FakeRedisServer

    # A small warm backlog on streams of its own, then the measured one.
    backlogs = {
        "warm": catchup_backlog(a.seed + 1, CATCHUP["warm_requests"], CATCHUP["within_s"]),
        "bus": catchup_backlog(a.seed, CATCHUP["requests"], CATCHUP["within_s"]),
    }
    report = {}
    with FakeRedisServer() as server:
        t0 = time.perf_counter()
        with RedisStreamClient("127.0.0.1", server.port) as client:
            for prefix, backlog in backlogs.items():
                streams = [f"{prefix}{s}" for s in range(CATCHUP["shards"])]
                for s, name in enumerate(streams):
                    cmds = [
                        ("XADD", name, entry_id, *[x for kv in fields.items() for x in kv])
                        for shard, entry_id, fields in backlog
                        if shard == s
                    ]
                    for i in range(0, len(cmds), PIPELINE_CHUNK):
                        client.pipeline(cmds[i : i + PIPELINE_CHUNK])
                report[prefix] = {
                    "streams": streams,
                    "events": len(backlog),
                    "acks": sum(1 for _, _, f in backlog if f["event"] == "ack"),
                }
        report["publish_s"] = time.perf_counter() - t0
        report["port"] = server.port
        print(json.dumps(report), flush=True)
        sys.stdin.read()  # serve until the benchmark closes our stdin


def main() -> None:
    ap = argparse.ArgumentParser(description="open-loop event generator")
    sub = ap.add_subparsers(dest="mode", required=True)
    live = sub.add_parser("live")
    live.add_argument("--out", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--seconds", type=float, required=True)
    live.add_argument("--start", type=float, required=True)
    cu = sub.add_parser("catchup")
    cu.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    if a.mode == "live":
        print(json.dumps(run_live(a)), flush=True)
    else:
        run_catchup(a)


if __name__ == "__main__":
    main()
