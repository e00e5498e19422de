"""Sources: multi-format batch readers, range/tail reads (A21), length probe
(A22), and streaming source factories (A1)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from eventstream_spark.catalog import EVENTS_RAW_SCHEMA, load, table_path
from eventstream_spark.sources import (
    events_file_stream,
    file_stream,
    kafka_stream,
    rate_stream,
    read_any,
    read_range,
    read_tail,
    stream_length,
)


def test_read_any_parquet_matches_catalog(spark, sf_dir):
    via_sources = read_any(spark, table_path(sf_dir, "nation"))
    assert via_sources.count() == load(spark, sf_dir, "nation").count()


def test_read_any_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, name STRING")
    target = str(tmp_path / "t.csv")
    df.write.option("header", "true").csv(target)
    back = read_any(spark, target, fmt="csv", schema="id INT, name STRING")
    assert sorted((r.id, r.name) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_read_any_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, name STRING")
    target = str(tmp_path / "t.json")
    df.write.json(target)
    back = read_any(spark, target, fmt="json", schema="id LONG, name STRING")
    assert back.count() == 2 and set(back.columns) == {"id", "name"}


def test_read_range_inclusive_bounds_match_oracle(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    start, end = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 20)
    got = read_range(events, "ts", start, end).count()
    want = events.where((events.ts >= start) & (events.ts <= end)).count()
    assert got == want > 0


def test_read_range_filter_is_pushed_down(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    plan = read_range(events, "event_id", 10, 20)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(event_id" in plan


def test_read_tail_is_deterministic_top_n(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    tail = read_tail(events, 15, ts_col="ts", id_col="event_id").collect()
    assert len(tail) == 15
    keys = [(r.ts, r.event_id) for r in tail]
    assert keys == sorted(keys, reverse=True)
    # Plans as a top-N, not a global sort.
    plan = (
        read_tail(events, 15, ts_col="ts", id_col="event_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_stream_length(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    assert stream_length(events) == events.count()


def _stage_events_dir(sf_dir, tmp_path):
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    os.symlink(table_path(sf_dir, "events"), src_dir / "part-0.parquet")
    return str(src_dir)


def test_file_stream_availablenow_equals_batch(spark, sf_dir, tmp_path):
    stream = file_stream(
        spark, _stage_events_dir(sf_dir, tmp_path), EVENTS_RAW_SCHEMA, max_files_per_trigger=1
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("src_events_all")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT COUNT(*) AS n FROM src_events_all").collect()[0].n
    assert got == load(spark, sf_dir, "events").count()


def test_events_file_stream_yields_envelope(spark, sf_dir, tmp_path):
    env = events_file_stream(
        spark,
        _stage_events_dir(sf_dir, tmp_path),
        application_name="app",
        application_instance="i1",
    )
    for field in ("event", "message_id", "response_to", "ts", "header", "props"):
        assert field in env.columns
    q = (
        env.writeStream.format("memory")
        .queryName("src_envelope")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.sql(
        "SELECT event, message_id, application_name FROM src_envelope LIMIT 1"
    ).collect()[0]
    assert row.application_name == "app" and row.event is not None


def test_streaming_reads_pin_utc_on_a_non_utc_session(spark, sf_dir, tmp_path):
    """``file_stream`` pins the session to UTC, so streams started from a
    non-UTC session (a driver's vanilla one, say) read the same event times
    as the UTC batch plan and the duckdb oracle."""
    import pyspark.sql.functions as F

    from eventstream_spark.operators.streaming_queries import ORACLES, q90_stream_hourly
    from eventstream_spark.plans import EngineConfig, compile_bus, start_streaming
    from eventstream_spark.testing import assert_matches_oracle

    src = _stage_events_dir(sf_dir, tmp_path)
    sink = str(tmp_path / "clicks")
    cfg = EngineConfig.from_dict(
        {
            "application_name": "tz",
            "application_instance": "0",
            "busses": [
                {
                    "name": "ev",
                    "source_path": src,
                    "routes": [
                        {"name": "clicks", "event": "click",
                         "sink": {"kind": "parquet", "target": sink}}
                    ],
                }
            ],
        }
    )
    tz = "spark.sql.session.timeZone"
    try:
        spark.conf.set(tz, "America/New_York")
        q = start_streaming(
            spark, cfg, cfg.busses[0], src, EVENTS_RAW_SCHEMA, str(tmp_path / "ckpt")
        )
        assert q.awaitTermination(120)
        spark.conf.set(tz, "America/New_York")
        hourly = q90_stream_hourly(spark, sf_dir)
    finally:
        spark.conf.set(tz, "UTC")

    def id_micros(df):  # unix_micros reads the instant, not the session zone
        return sorted(df.select("message_id", F.unix_micros("ts")).collect())

    want = compile_bus(spark, cfg, cfg.busses[0], sf_dir)["clicks"]
    assert id_micros(spark.read.parquet(sink)) == id_micros(want)
    assert_matches_oracle(hourly, ORACLES["q90_stream_hourly"], sf_dir)


def test_kafka_stream_connector_gate(spark):
    """Dual-mode: with the connector on the classpath (--packages
    org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2) the factory must
    return the standard kafka schema (no broker needed — load() is lazy);
    without it, the friendly actionable gate, never a raw JVM stack."""
    try:
        df = kafka_stream(spark, "localhost:9092", "events")
    except NotImplementedError as e:
        assert "spark-sql-kafka-0-10_2.13:4.1.2" in str(e)  # pinned recipe
    else:
        assert df.isStreaming
        assert {"key", "value", "topic", "partition", "offset"} <= set(df.columns)


def test_rate_stream_schema(spark):
    df = rate_stream(spark, rows_per_second=10)
    assert df.isStreaming and set(df.columns) == {"timestamp", "value"}


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from eventstream_spark.sources.bucketed import read_bucketed, write_bucketed

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").selectExpr("c_custkey", "c_nationkey")
    write_bucketed(orders, "t_orders_b", "o_custkey", 8)
    write_bucketed(cust, "t_cust_b", "c_custkey", 8)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force a non-broadcast plan so bucketing (not broadcast) is what
        # eliminates the shuffle.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob, cb = read_bucketed(spark, "t_orders_b"), read_bucketed(spark, "t_cust_b")
        j = ob.join(cb, ob.o_custkey == cb.c_custkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0
        assert "Bucketed: true" in plan
        # Same answer as the plain join.
        plain = orders.join(cust, orders.o_custkey == cust.c_custkey)
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from eventstream_spark.sources.bucketed import write_partitioned

    events = load(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_part")
    write_partitioned(events, path, "event_date")
    # One directory per day on disk.
    days = [d for d in os.listdir(path) if d.startswith("event_date=")]
    assert len(days) > 5

    back = spark.read.parquet(path)
    one_day = back.where(F.col("event_date") == "2024-01-03")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # The date filter lands in PartitionFilters (directory pruning), not in
    # the data filters — no row is read outside the matching partition.
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]
    want = events.where(F.to_date("ts") == "2024-01-03").count()
    assert one_day.count() == want > 0
