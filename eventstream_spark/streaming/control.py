"""Control plane: query manager + retention (reference A11-A14, A12).

The reference's master control plane answers instance-info requests, stops
targeted readers, purges consumers, and trims/archives streams via messages
on a MASTER stream (event_stream/handlers/master.py:27-183,
event_stream/streams/reader.py:77-109). On Spark the control surface is the
driver: `spark.streams` already tracks every StreamingQuery, so the manager
is a thin, named wrapper — status/progress (A11), targeted stop (A14),
checkpoint purge (A13) — plus the trim-and-archive retention job (A12) as a
batch table operation.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col
from pyspark.sql.streaming import StreamingQuery


@dataclass
class QueryInfo:
    """Instance-info response shape (A11: get_instance/print_instance_info,
    reference handlers/master.py:134-151, handlers/instance_info.py:10-26)."""

    name: str | None
    query_id: str
    run_id: str
    is_active: bool
    status: dict[str, Any]
    last_progress: dict[str, Any] | None


class QueryManager:
    """Named registry over ``spark.streams``.

    Queries register under ``application_name:instance`` style names (the
    reference's close-target match is app name + instance,
    handlers/master.py:154-183); `stop` takes the same selector.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._queries: dict[str, StreamingQuery] = {}
        self._checkpoints: dict[str, str] = {}
        self._owners: dict[str, tuple[str | None, str | None]] = {}

    def register(
        self,
        name: str,
        query: StreamingQuery,
        checkpoint_dir: str | None = None,
        owner: tuple[str | None, str | None] | None = None,
    ) -> StreamingQuery:
        """``owner`` is the (application_name, application_instance) identity
        the query answers for — the reference's close-target selector
        (handlers/master.py:154-183)."""
        self._queries[name] = query
        if checkpoint_dir is not None:
            self._checkpoints[name] = checkpoint_dir
        if owner is not None:
            self._owners[name] = owner
        return query

    def names(self) -> list[str]:
        return sorted(self._queries)

    def info(self, name: str) -> QueryInfo:
        """A11 get_instance: status + last progress for one query."""
        q = self._queries[name]
        return QueryInfo(
            name=q.name,
            query_id=str(q.id),
            run_id=str(q.runId),
            is_active=q.isActive,
            status=q.status,
            last_progress=q.lastProgress,
        )

    def info_all(self) -> dict[str, QueryInfo]:
        return {name: self.info(name) for name in self.names()}

    def stop(self, name: str) -> bool:
        """A14 close_streams: targeted graceful stop. Returns whether the
        query was active. The query stays registered (inspectable) until
        `purge`."""
        q = self._queries[name]
        was_active = q.isActive
        if was_active:
            q.stop()
            q.awaitTermination()
        return was_active

    def stop_all(self) -> list[str]:
        return [name for name in self.names() if self.stop(name)]

    def stop_owned(
        self,
        application_name: str | None = None,
        application_instance: str | None = None,
    ) -> list[str]:
        """A14 close-target match (reference handlers/master.py:154-183,
        close_local.py should_close): stop every registered query whose
        owner matches the given application name/instance; ``None`` matches
        any (same wildcard semantics as the reference's optional args)."""
        stopped = []
        for name in self.names():
            app, inst = self._owners.get(name, (None, None))
            if application_name is not None and app != application_name:
                continue
            if application_instance is not None and inst != application_instance:
                continue
            if self.stop(name):
                stopped.append(name)
        return stopped

    def purge(self, name: str, drop_checkpoint: bool = False) -> None:
        """A13 purge_consumers: forget the query; optionally drop its
        checkpoint so a restart reprocesses from scratch (the analog of
        destroying the consumer group's pending state)."""
        self.stop(name)
        self._queries.pop(name)
        checkpoint = self._checkpoints.pop(name, None)
        if drop_checkpoint and checkpoint and os.path.isdir(checkpoint):
            shutil.rmtree(checkpoint)

    def await_all(self, timeout_sec: float | None = None) -> None:
        """Wait for every registered query to terminate, raising the first
        failure. ``timeout_sec`` bounds the whole call: all queries share
        one deadline, and each waits for what is left of it (at least 1 ms,
        since Spark rejects a zero timeout)."""
        deadline = None if timeout_sec is None else time.monotonic() + timeout_sec
        for name in self.names():
            q = self._queries[name]
            if deadline is None:
                q.awaitTermination()
            else:
                q.awaitTermination(max(deadline - time.monotonic(), 0.001))

    def idle_seconds(self, name: str) -> float | None:
        """Seconds since the query last made progress; ``None`` while an
        active query hasn't produced its first progress event yet (it is
        starting up, not idle)."""
        q = self._queries[name]
        progress = q.lastProgress
        if progress is None:
            return None if q.isActive else float("inf")
        stamp = dt.datetime.fromisoformat(
            str(progress["timestamp"]).replace("Z", "+00:00")
        )
        return (dt.datetime.now(dt.timezone.utc) - stamp).total_seconds()

    def clear_idle(
        self,
        idle_seconds: float,
        checkpoint_root: str | None = None,
        ignore_pending: bool = False,
    ) -> dict[str, list[str]]:
        """Idle-group GC sweep (reference clear_groups.py:85-128 destroys
        consumer groups whose only consumer has been idle past a
        threshold, and clean_handler_records.py:74-101 deletes stale
        per-handler records): purge every registered query that is
        terminated, or active but without progress for ``idle_seconds``,
        dropping its checkpoint — the consumer-group state analog.

        ``ignore_pending=False`` (the reference default) skips an idle
        query that still reports available data, exactly as the reference
        skips groups with pending entries.

        ``checkpoint_root`` additionally sweeps ORPHANED checkpoint
        directories under that root — dirs no registered query owns whose
        newest file is older than the threshold (crashed runs from dead
        processes; the clean_handler_records analog). Work is
        proportional to the number of queries + orphan dirs."""
        purged: list[str] = []
        for name in self.names():
            idle = self.idle_seconds(name)
            if idle is None or idle < idle_seconds:
                continue
            q = self._queries[name]
            if (
                not ignore_pending
                and q.isActive
                and q.status.get("isDataAvailable")
            ):
                continue
            self.purge(name, drop_checkpoint=True)
            purged.append(name)

        orphans: list[str] = []
        if checkpoint_root and os.path.isdir(checkpoint_root):
            owned = {
                os.path.realpath(p) for p in self._checkpoints.values()
            }
            now = dt.datetime.now().timestamp()
            for entry in sorted(os.listdir(checkpoint_root)):
                path = os.path.join(checkpoint_root, entry)
                if not os.path.isdir(path) or os.path.realpath(path) in owned:
                    continue
                newest = max(
                    (
                        os.path.getmtime(os.path.join(root, f))
                        for root, _, files in os.walk(path)
                        for f in files
                    ),
                    default=os.path.getmtime(path),
                )
                if now - newest >= idle_seconds:
                    shutil.rmtree(path)
                    orphans.append(entry)
        return {"purged": purged, "orphaned_checkpoints": orphans}


def publish_event(
    spark: SparkSession,
    stream_dir: str,
    event_type: str = "get_instance",
    props: dict[str, Any] | None = None,
    user_id: int = 0,
) -> str:
    """XADD analog: append ONE raw event row to a stream directory a
    streaming query is tailing. Returns the message_id the row will carry
    after ``normalize_envelope`` (str(event_id)), which a response stamps
    into ``response_to`` — the reference's request↔response correlation key
    (messages/base.py:578)."""
    import json as _json
    import time as _time

    from ..catalog import EVENTS_RAW_SCHEMA

    event_id = _time.time_ns() // 1000  # micros: unique-enough, sortable
    row = (
        event_id,
        dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),  # NTZ wall-clock
        user_id,
        event_type,
        0.0,
        _json.dumps(props or {}),
    )
    spark.createDataFrame([row], EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(stream_dir)
    return str(event_id)


def close_local(
    spark: SparkSession,
    manager: QueryManager,
    master_dir: str,
    responses_dir: str,
    application_name: str | None = None,
    application_instance: str | None = None,
    request_event: str = "get_instance",
    timeout_sec: float = 60.0,
    poll_sec: float = 0.5,
) -> dict[str, Any]:
    """The reference's close_local flow (close_local.py:112-146), A11+A14
    composed through data: publish ``get_instance`` to the MASTER stream,
    poll the response sink for ``get_instance_response`` envelopes
    correlated to OUR request (``response_to == message_id``), filter to the
    requested app/instance (should_close semantics, None = wildcard), and
    stop the matched queries.

    Where the reference publishes a second ``close_streams`` message, the
    Spark control surface is the driver itself, so the close step is a
    targeted ``QueryManager.stop_owned`` — same selector, no second hop.
    """
    import time as _time

    request_id = publish_event(spark, master_dir, request_event)
    deadline = _time.time() + timeout_sec
    want_event = f"{request_event}_response"
    targets: list[tuple[str, str]] = []
    while _time.time() < deadline:
        try:
            resp = spark.read.parquet(responses_dir)
            rows = (
                resp.where(
                    (col("event") == want_event) & (col("response_to") == request_id)
                )
                .select("application_name", "application_instance")
                .distinct()
                .collect()
            )
        except Exception:  # sink dir not created yet
            rows = []
        targets = [
            (r.application_name, r.application_instance)
            for r in rows
            if (application_name is None or r.application_name == application_name)
            and (application_instance is None or r.application_instance == application_instance)
        ]
        if targets:
            break
        _time.sleep(poll_sec)

    closed: list[str] = []
    for app, inst in targets:
        closed.extend(manager.stop_owned(app, inst))
    return {"request_id": request_id, "targets": targets, "closed": sorted(set(closed))}


def trim_and_archive(
    spark: SparkSession,
    table_dir: str,
    keep_count: int,
    archive_dir: str | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    archive_date: dt.date | None = None,
) -> dict[str, int]:
    """A12 trim_streams (reference handlers/master.py:27-69): if the table
    holds more than ``keep_count`` rows, append the oldest overflow to a
    dated archive, then rewrite the table to the newest ``keep_count``.

    The reference dumps overflow JSON to ``{stream}_archive_{date}.json``
    then ``XTRIM maxlen~count``; here the archive is parquet (columnar,
    re-queryable) partitioned into a dated subdirectory.

    Determinism: "oldest" is (ts, id) ascending — same total order as Redis
    IDs (millis-seq). The overflow boundary is computed with a single
    ordered scan, no collect of data rows.

    Scale: this local form rewrites the retained tail, which is correct for
    a bounded control stream (the reference default keeps only ~100-500
    entries). For a 100 TB event table use ``trim_partitions`` — archive
    then drop whole dated partitions, never a rewrite of retained data.
    """
    df = spark.read.parquet(table_dir)
    total = df.count()
    if total <= keep_count:
        return {"total": total, "archived": 0, "kept": total}

    overflow_n = total - keep_count
    ordered = df.orderBy(col(ts_col).asc(), col(id_col).asc())
    overflow = ordered.limit(overflow_n)

    if archive_dir is not None:
        date_tag = (archive_date or dt.date.today()).isoformat()
        overflow.write.mode("append").parquet(os.path.join(archive_dir, date_tag))

    # Keep the newest keep_count rows; anti-join on the id is exact even if
    # timestamps tie across the boundary.
    kept = df.join(overflow.select(id_col), on=id_col, how="left_anti")
    tmp_dir = table_dir.rstrip("/") + ".trim_tmp"
    kept.write.mode("overwrite").parquet(tmp_dir)
    # Atomic-ish swap: parquet dirs only; on a transactional table format
    # (Delta/Iceberg) this whole function is one DELETE + VACUUM.
    backup = table_dir.rstrip("/") + ".trim_bak"
    os.rename(table_dir, backup)
    os.rename(tmp_dir, table_dir)
    shutil.rmtree(backup)
    return {"total": total, "archived": overflow_n, "kept": keep_count}


def trim_partitions(
    table_dir: str,
    horizon: dt.date | str,
    archive_dir: str | None = None,
    partition_col: str = "date",
) -> dict[str, int]:
    """A12 retention at 100 TB scale: archive-then-drop whole
    ``{partition_col}=`` partitions strictly older than ``horizon``.

    Retained partitions are never read, rewritten, or even opened — their
    files keep inode and mtime — and the dropped partitions MOVE (a
    directory rename, no data copy) into ``archive_dir`` when given, else
    are deleted. Work is proportional to the number of dropped partitions,
    not table size: the 100 TB twin of the reference's archive-then-XTRIM
    (handlers/master.py:27-69), where ``trim_and_archive`` above is the
    bounded-control-stream form.

    ``horizon`` compares against the partition value as a string (ISO dates
    sort lexicographically, so date partitions need no parsing); a
    partition is dropped when ``value < horizon``. On a transactional table
    format this is ALTER TABLE DROP PARTITION / delete-where + vacuum.
    """
    horizon_s = horizon.isoformat() if isinstance(horizon, dt.date) else str(horizon)
    prefix = f"{partition_col}="
    dropped = kept = 0
    for entry in sorted(os.listdir(table_dir)):
        path = os.path.join(table_dir, entry)
        if not entry.startswith(prefix) or not os.path.isdir(path):
            continue
        if entry[len(prefix):] < horizon_s:
            if archive_dir is not None:
                os.makedirs(archive_dir, exist_ok=True)
                dest = os.path.join(archive_dir, entry)
                if os.path.exists(dest):
                    # A partition archived before (re-ingested then trimmed
                    # again): merge files into the existing directory —
                    # shutil.move would nest date=X/date=X and double-count
                    # on read_archive. Colliding file names get a numeric
                    # suffix so nothing is overwritten.
                    for f in os.listdir(path):
                        target = os.path.join(dest, f)
                        if os.path.exists(target):
                            stem, ext = os.path.splitext(f)
                            k = 1
                            while os.path.exists(target):
                                target = os.path.join(dest, f"{stem}.retrim{k}{ext}")
                                k += 1
                        shutil.move(os.path.join(path, f), target)
                    shutil.rmtree(path)
                else:
                    shutil.move(path, dest)
            else:
                shutil.rmtree(path)
            dropped += 1
        else:
            kept += 1
    return {"partitions_dropped": dropped, "partitions_kept": kept}


def read_archive(spark: SparkSession, archive_dir: str) -> DataFrame:
    """Read back every dated archive partition as one DataFrame."""
    return spark.read.option("recursiveFileLookup", "true").parquet(archive_dir)


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 << 20,
) -> dict[str, int]:
    """Small-files compaction: streaming sinks and frequent micro-batches
    leave many tiny parquet files; scans then pay per-file open/footer costs
    and the driver pays listing costs. Rewrite the directory into
    ``ceil(total_bytes / target_file_bytes)`` files.

    Scale: run per partition (date=...) directory, not over a whole 100 TB
    table; on Delta/Iceberg this is OPTIMIZE/rewrite_data_files. The rewrite
    uses coalesce (no shuffle) since output files need no particular
    clustering; use repartition(key) instead when re-clustering is wanted.
    """
    files = [
        os.path.join(table_dir, f)
        for f in os.listdir(table_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // target_file_bytes))
    if n_out >= len(files):
        return {"files_before": len(files), "files_after": len(files), "bytes": total_bytes}

    df = spark.read.parquet(table_dir)
    tmp_dir = table_dir.rstrip("/") + ".compact_tmp"
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp_dir)
    backup = table_dir.rstrip("/") + ".compact_bak"
    os.rename(table_dir, backup)
    os.rename(tmp_dir, table_dir)
    shutil.rmtree(backup)
    after = len([f for f in os.listdir(table_dir) if f.endswith(".parquet")])
    return {"files_before": len(files), "files_after": after, "bytes": total_bytes}
