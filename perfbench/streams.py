"""Readers for Spark's own streaming reports, shared by the two event-bus
workloads: ``StreamingQuery.recentProgress`` and the checkpoint's commit
and file-source logs."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime
from statistics import median

# The order MicroBatchExecution runs the timed phases of one trigger in.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def progress_epoch(p: dict) -> float:
    """Trigger start of a progress report, as epoch seconds."""
    return datetime.fromisoformat(str(p["timestamp"]).replace("Z", "+00:00")).timestamp()


def progress_end(p: dict) -> float:
    return progress_epoch(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def data_batches(progress: list[dict]) -> list[dict]:
    """Progress reports of triggers that ran a batch (one per batch id; the
    last report of a batch id wins)."""
    by_id: dict[int, dict] = {}
    for p in progress:
        if "addBatch" in p["durationMs"]:
            by_id[p["batchId"]] = p
    return [by_id[k] for k in sorted(by_id)]


def add_batch_spans(tracer, query: str, batches: list[dict]) -> None:
    """One span per micro-batch and one child per phase, rebuilt from the
    reported durations laid end to end from the trigger start."""
    for p in batches:
        run_id = f"{query}#{p['batchId']}"
        t = progress_epoch(p)
        parent = tracer.add("micro_batch", t, progress_end(p), None, run_id)
        for phase in PHASES:
            ms = p["durationMs"].get(phase)
            if ms is not None:
                tracer.add(phase, t, t + ms / 1000.0, parent, run_id)
                t += ms / 1000.0


def phase_median_ms(batches: list[dict], *phases: str) -> float:
    if not batches:
        return 0.0
    return median(sum(p["durationMs"].get(ph, 0) for ph in phases) for p in batches)


def state_peaks(batches: list[dict]) -> dict[str, float]:
    rows = mem = commit = dropped = 0.0
    for p in batches:
        ops = p.get("stateOperators") or []
        rows = max(rows, sum(op.get("numRowsTotal", 0) for op in ops))
        mem = max(mem, sum(op.get("memoryUsedBytes", 0) for op in ops))
        commit += sum(op.get("commitTimeMs", 0) for op in ops)
        dropped += sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    return {
        "streaming.state_rows_peak": rows,
        "streaming.state_bytes_peak": mem,
        "streaming.state_commit_ms": commit,
        "streaming.rows_dropped_by_watermark": dropped,
    }


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> time its entry in the checkpoint commit log was written."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime_ns / 1e9
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """File basename -> the batch id that read it, from the file-source log
    (plain and compacted entries both carry ``batchId``)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out
