"""Route compilation and execution.

Batch: one catalog scan per bus, N route DataFrames (Catalyst merges the
shared scan work; each route is filter → transform → sink).

Streaming: ONE ``readStream`` scan per bus fanned out to every route inside
``foreachBatch`` — the single-scan multi-sink pattern (reference A4: one
consumer-group read dispatching to all handler lists; SURVEY §4.2 custom
item 1). The micro-batch is persisted once so N routes don't re-read the
source, then every route builds its plan and writes on its own thread, the
way the reference runs an event's handlers concurrently (common.py:456-462):
a batch takes about as long as its slowest route, not the sum of them.
Delivery is at least once: a batch that fails or is interrupted before its
commit is replayed whole, and a parquet route appends its rows again (see
``streaming.sinks.idempotent_parquet_sink`` for a per-batch-idempotent
writer); noop and memory routes are unaffected by a replay.

Scale: at 100 TB the per-route filters are pushed into the shared scan's
row-group pruning when routes run as separate batch jobs; in the streaming
fan-out the single persisted micro-batch bounds memory by trigger size
(maxFilesPerTrigger), not table size.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.functions import col
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from ..catalog import fix_nanos_ts, load
from ..codec import normalize_envelope
from .transforms import observe_route
from .config import (
    BusConfig,
    EngineConfig,
    RouteConfig,
    SinkConfig,
    checkpoint_dir_for,
)


def _source_batch(spark: SparkSession, cfg: EngineConfig, bus: BusConfig, sf_dir: str) -> DataFrame:
    if bus.source_table:
        raw = load(spark, sf_dir, bus.source_table)
    else:
        raw = spark.read.parquet(bus.source_path)
    return normalize_envelope(
        raw,
        application_name=cfg.application_name,
        application_instance=cfg.application_instance,
    )


def _apply_route(df: DataFrame, route: RouteConfig) -> DataFrame:
    out = df.where(col("event").isin(*route.events))
    if route.transform is not None:
        out = route.transform.load()(out, **route.kwargs)
    return out


def compile_bus(
    spark: SparkSession, cfg: EngineConfig, bus: BusConfig, sf_dir: str
) -> dict[str, DataFrame]:
    """Batch compilation: route name → DataFrame (unexecuted plan)."""
    src = _source_batch(spark, cfg, bus, sf_dir)
    return {route.name: _apply_route(src, route) for route in bus.routes}


def _write_batch(df: DataFrame, sink: SinkConfig, batch_tag: str | None = None) -> None:
    if sink.kind == "noop":
        df.write.format("noop").mode("overwrite").save()
    elif sink.kind == "console":
        df.show(20, truncate=False)
    elif sink.kind == "parquet":
        df.write.mode(sink.mode).parquet(sink.target)
    elif sink.kind == "memory":
        # Batch twin of the streaming memory sink: a global temp view.
        df.createOrReplaceGlobalTempView(sink.target)
    else:  # pragma: no cover - config validation rejects earlier
        raise ValueError(f"unknown sink kind {sink.kind!r}")


def _write_route(df: DataFrame, route: RouteConfig, batch_tag: str) -> None:
    _write_batch(_apply_route(df, route), route.sink, batch_tag)


def run_batch(spark: SparkSession, cfg: EngineConfig, sf_dir: str) -> dict[str, int]:
    """Execute every bus/route once over the batch view; returns row counts.

    One action per route: for noop/parquet sinks the count rides the sink
    write itself via ``observe()`` (a second full pass over 100 TB just to
    count rows is the anti-pattern); for the memory sink — a lazily
    registered view with no consuming action of its own — the count IS the
    materializing action; the console debug sink counts via the same single
    full action and then displays a bounded 20-row sample (limit-pushdown
    scan, not a second full pass)."""
    results: dict[str, int] = {}
    for bus in cfg.busses:
        for name, df in compile_bus(spark, cfg, bus, sf_dir).items():
            route = next(r for r in bus.routes if r.name == name)
            key = f"{bus.name}.{name}"
            if route.sink.kind in ("noop", "parquet"):
                obs = Observation()
                _write_batch(observe_route(df, obs), route.sink)
                results[key] = int(obs.get["n_rows"])
            elif route.sink.kind == "memory":
                _write_batch(df, route.sink)  # view registration is lazy
                results[key] = df.count()
            else:  # console
                results[key] = df.count()
                df.show(20, truncate=False)  # show() plans its own CollectLimit
    return results


def start_streaming(
    spark: SparkSession,
    cfg: EngineConfig,
    bus: BusConfig,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """One streaming scan, N routes, via foreachBatch (single-scan fan-out).

    ``source_dir`` is a parquet directory tailed as a file stream — the
    Spark analog of tailing a Redis stream with a consumer group (A1/A2);
    the checkpoint replaces group offsets (A3), and replay-on-failure
    replaces the inbox/idle-reclaim machinery (A15-A18).

    Each micro-batch is persisted once and its routes run concurrently, one
    thread per route, each building its route plan and writing its sink.
    Every thread inherits the query's job group, so ``stop()`` cancels the
    route writes in flight. The batch waits for all of them; if any route
    fails, the first failure (in route order) fails the batch, which is
    not committed and is replayed on restart: at-least-once, so parquet
    routes may hold a replayed batch's rows twice.
    """
    # fix_nanos_ts's NTZ→LTZ cast reads the session timezone: pin UTC before
    # building the stream so a caller-supplied non-UTC session can't shift
    # every event timestamp (same contract as catalog.load for batch).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = fix_nanos_ts(spark.readStream.schema(schema).parquet(source_dir))
    env = normalize_envelope(
        raw,
        application_name=cfg.application_name,
        application_instance=cfg.application_instance,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # A zero-route bus still commits its (empty) fan-out.
            with ThreadPoolExecutor(max(len(bus.routes), 1)) as pool:
                # One wrapper per route: each captures its own copy of this
                # thread's local properties (the query's job group among
                # them) for its pool thread, so no two threads share one.
                writes = [
                    pool.submit(
                        inheritable_thread_target(batch_df.sparkSession)(_write_route),
                        batch_df,
                        route,
                        str(batch_id),
                    )
                    for route in bus.routes
                ]
            for write in writes:
                write.result()
        finally:
            batch_df.unpersist()

    writer = env.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_per_route(
    spark: SparkSession,
    cfg: EngineConfig,
    bus: BusConfig,
    source_dir: str,
    schema,
    checkpoint_root: str,
    manager=None,
    available_now: bool = True,
) -> dict[str, "StreamingQuery"]:
    """One INDEPENDENT streaming query per route — the Spark-idiomatic
    alternative to the foreachBatch fan-out (SURVEY A19 disposition): each
    route owns its checkpoint (named via the A28 group convention), so
    routes progress, fail, and recover independently, and every route sees
    the whole stream (the reference's unique-group broadcast semantics).

    Trade-off vs ``start_streaming``: N queries scan the source N times
    (fine for file/Kafka sources — the OS page cache and Kafka fan-out
    absorb it) in exchange for per-route isolation and exactly-once per
    sink. Use the foreachBatch form when one scan must feed all routes.

    Routes with memory/console sinks use the native streaming sinks here
    (no foreachBatch involved). If ``manager`` (a QueryManager) is given,
    each query is registered under ``bus:route``.
    """
    # Same UTC pin as start_streaming: the NTZ→LTZ ts cast must not depend
    # on the caller session's timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = fix_nanos_ts(spark.readStream.schema(schema).parquet(source_dir))
    env = normalize_envelope(
        raw,
        application_name=cfg.application_name,
        application_instance=cfg.application_instance,
    )
    queries = {}
    for route in bus.routes:
        routed = _apply_route(env, route)
        ckpt = checkpoint_dir_for(
            checkpoint_root,
            bus.name,
            cfg.application_name,
            route.name,
            cfg.application_instance,
            unique=True,
        )
        writer = routed.writeStream.option("checkpointLocation", ckpt)
        if route.sink.kind == "parquet":
            writer = writer.format("parquet").option("path", route.sink.target)
        elif route.sink.kind == "memory":
            writer = writer.format("memory").queryName(route.sink.target)
        elif route.sink.kind == "console":
            writer = writer.format("console")
        else:  # noop
            writer = writer.format("noop")
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        name = f"{bus.name}:{route.name}"
        if manager is not None:
            manager.register(
                name,
                q,
                ckpt,
                owner=(cfg.application_name, cfg.application_instance),
            )
        queries[name] = q
    return queries
