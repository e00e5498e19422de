"""Live Redis-Stream ingestion (A1 against a real socket): the RESP client
and the rediswire data source exercised end-to-end against an in-process
RESP2 server (eventstream_spark/sources/resp_server.py) — no Redis binary
needed."""

from __future__ import annotations

import pytest

from eventstream_spark.sources.redis_stream import (
    RedisStreamClient,
    RespError,
    register_rediswire,
)
from eventstream_spark.sources.resp_server import FakeRedisServer


def _fill(client, n=3):
    ids = []
    for i in range(n):
        ids.append(client.xadd("EVENTS", {"event": "click", "value": str(i)}))
    return ids


def test_client_stream_verbs_roundtrip():
    with FakeRedisServer() as server, RedisStreamClient("127.0.0.1", server.port) as c:
        assert c.ping() == "PONG"
        ids = _fill(c)
        assert c.xlen("EVENTS") == 3
        got = c.xrange("EVENTS")
        assert [e[0] for e in got] == ids
        assert got[0][1] == {"event": "click", "value": "0"}
        # exclusive start: everything after the first entry
        after = c.xrange("EVENTS", f"({ids[0]}")
        assert [e[0] for e in after] == ids[1:]
        assert c.last_id("EVENTS") == ids[-1]
        # explicit IDs are honored and monotonic with generated ones
        fixed = c.xadd("EVENTS", {"event": "purchase"}, entry_id="99999999999999-5")
        assert fixed == "99999999999999-5"
        assert c.last_id("EVENTS") == fixed


def test_pipeline_error_keeps_connection_aligned():
    """A mid-pipeline -ERR must not desynchronize the connection: all N
    replies are drained before the first error is raised, so subsequent
    commands on the same connection get THEIR replies, not leftovers."""
    with FakeRedisServer() as server, RedisStreamClient("127.0.0.1", server.port) as c:
        with pytest.raises(RespError):
            c.pipeline(
                [
                    ("XADD", "EVENTS", "*", "k", "1"),
                    ("BOGUS",),
                    ("XADD", "EVENTS", "*", "k", "2"),
                ]
            )
        assert c.ping() == "PONG"  # aligned: PING's reply is PING's reply
        assert c.xlen("EVENTS") == 2  # both XADDs around the error landed


def test_client_auth_required():
    with FakeRedisServer(password="sesame") as server:
        with RedisStreamClient("127.0.0.1", server.port, password="sesame") as c:
            assert c.ping() == "PONG"
        bad = RedisStreamClient("127.0.0.1", server.port)
        with pytest.raises(RespError):
            bad.ping()
        bad.close()


def test_client_consumer_group_at_least_once():
    """Reference parity for the group verbs (XREADGROUP delivery + XACK),
    kept for admin flows even though the Spark source reads by ID range."""
    with FakeRedisServer() as server, RedisStreamClient("127.0.0.1", server.port) as c:
        ids = _fill(c)
        assert c.xgroup_create("EVENTS", "g1", start_id="0") == "OK"
        got = c.xreadgroup("g1", "worker-1", "EVENTS")
        assert [e[0] for e in got] == ids
        assert c.xreadgroup("g1", "worker-1", "EVENTS") == []  # cursor advanced
        assert c.xack("EVENTS", "g1", *ids) == 3
        assert c.xack("EVENTS", "g1", ids[0]) == 0  # already acked


def test_batch_read_matches_stream_contents(spark):
    with FakeRedisServer() as server:
        with RedisStreamClient("127.0.0.1", server.port) as c:
            ids = _fill(c, n=5)
        register_rediswire(spark)
        df = (
            spark.read.format("rediswire")
            .option("host", "127.0.0.1")
            .option("port", str(server.port))
            .option("stream", "EVENTS")
            .load()
        )
        rows = df.orderBy("message_id").collect()
        assert [r.message_id for r in rows] == sorted(ids)
        assert rows[0].fields == {"event": "click", "value": "0"}
        # event time = ID millis prefix (reference get_message_date)
        millis = int(ids[0].split("-")[0])
        assert int(rows[0].ts.timestamp() * 1000) == millis


def test_stream_read_is_incremental_and_replay_safe(spark, tmp_path):
    """Micro-batches advance by stream ID; a checkpoint restart re-reads
    nothing (exactly-once into an idempotent sink) and picks up new rows."""
    with FakeRedisServer() as server:
        client = RedisStreamClient("127.0.0.1", server.port)
        _fill(client, n=3)
        register_rediswire(spark)
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def run_once():
            q = (
                spark.readStream.format("rediswire")
                .option("host", "127.0.0.1")
                .option("port", str(server.port))
                .option("stream", "EVENTS")
                .load()
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        assert spark.read.parquet(out_dir).count() == 3
        # New entries after the checkpointed offset arrive incrementally...
        client.xadd("EVENTS", {"event": "purchase", "value": "9"})
        run_once()
        got = spark.read.parquet(out_dir)
        assert got.count() == 4
        # ...and nothing was double-read across restarts.
        assert got.select("message_id").distinct().count() == 4
        client.close()


def test_drain_available_now_reaches_end_across_uncommitted_restart(spark, tmp_path):
    """THE availableNow sharp edge (module docstring): restarting from a
    checkpoint holding an UNCOMMITTED batch makes the single-batch fallback
    finish that stale batch only — entries appended after its offsets were
    captured would need another manual run. drain_available_now must land
    ALL of them in one call. The uncommitted batch is manufactured exactly
    as a crash would leave it: offsets/N written, commits/N missing."""
    import os

    from eventstream_spark.sources.redis_stream import drain_available_now

    with FakeRedisServer() as server:
        client = RedisStreamClient("127.0.0.1", server.port)
        ids = _fill(client, n=3)
        register_rediswire(spark)
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def start():
            return (
                spark.readStream.format("rediswire")
                .option("host", "127.0.0.1")
                .option("port", str(server.port))
                .option("stream", "EVENTS")
                .load()
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        q.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == 3

        # crash simulation: batch 0's offsets exist but its commit is gone
        # (the .crc checksum sidecar must go too, or the local ChecksumFs
        # fails the commit rewrite as a concurrent-writer rename clash)
        os.remove(os.path.join(ckpt, "commits", "0"))
        crc = os.path.join(ckpt, "commits", ".0.crc")
        if os.path.exists(crc):
            os.remove(crc)
        # ...and MORE entries land after those offsets were captured
        new_ids = [
            client.xadd("EVENTS", {"event": "purchase", "value": str(i)})
            for i in range(2)
        ]

        # a single plain run would only re-finish batch 0 (the documented
        # sharp edge); ONE drain call must reach the true end of stream
        drain_available_now(start, await_secs=120)
        got = spark.read.parquet(out_dir)
        assert got.select("message_id").distinct().count() == 5
        assert {
            r.message_id for r in got.select("message_id").distinct().collect()
        } == set(ids) | set(new_ids)
        client.close()


def test_sharded_reader_one_input_partition_per_stream():
    """The 100 TB ingest posture: N streams → N InputPartitions in ONE
    micro-batch, each with its own cursor in the composite offset."""
    from eventstream_spark.sources.redis_stream import RedisWireStreamReader

    names = [f"S{i}" for i in range(4)]
    with FakeRedisServer() as server, RedisStreamClient("127.0.0.1", server.port) as c:
        for i, s in enumerate(names):
            c.xadd(s, {"v": str(i)})
        reader = RedisWireStreamReader(
            {"host": "127.0.0.1", "port": str(server.port), "streams": ",".join(names)}
        )
        start, end = reader.initialOffset(), reader.latestOffset()
        assert set(end["last_ids"]) == set(names)
        parts = reader.partitions(start, end)
        assert len(parts) == 4  # >=4 input partitions in one micro-batch
        assert sorted(p.stream for p in parts) == names
        rows = sum(b.num_rows for p in parts for b in reader.read(p))
        assert rows == 4
        # Only advanced shards produce partitions in the next batch.
        c.xadd("S2", {"v": "x"})
        end2 = reader.latestOffset()
        parts2 = reader.partitions(end, end2)
        assert [p.stream for p in parts2] == ["S2"]
        assert sum(b.num_rows for p in parts2 for b in reader.read(p)) == 1
        # Quiescent bus: one no-op partition (Spark requires >=1), zero rows.
        idle = reader.partitions(end2, end2)
        assert len(idle) == 1
        assert sum(b.num_rows for p in idle for b in reader.read(p)) == 0


def test_sharded_reader_legacy_offset_upgrade():
    """A pre-sharding checkpoint ({"last_id": id}) resumes cleanly on a
    single-stream reader — no re-read, no gap."""
    from eventstream_spark.sources.redis_stream import RedisWireStreamReader

    with FakeRedisServer() as server, RedisStreamClient("127.0.0.1", server.port) as c:
        ids = _fill(c, n=3)
        reader = RedisWireStreamReader(
            {"host": "127.0.0.1", "port": str(server.port), "stream": "EVENTS"}
        )
        legacy = {"last_id": ids[0]}
        parts = reader.partitions(legacy, reader.latestOffset())
        assert len(parts) == 1
        got = [
            row
            for p in parts
            for b in reader.read(p)
            for row in b.column(0).to_pylist()
        ]
        assert got == ids[1:]  # exclusive of the checkpointed id


def test_batch_read_unions_sharded_streams(spark):
    with FakeRedisServer() as server:
        with RedisStreamClient("127.0.0.1", server.port) as c:
            a = c.xadd("SHARD_A", {"v": "1"})
            b = c.xadd("SHARD_B", {"v": "2"})
        register_rediswire(spark)
        df = (
            spark.read.format("rediswire")
            .option("host", "127.0.0.1")
            .option("port", str(server.port))
            .option("streams", "SHARD_A,SHARD_B")
            .load()
        )
        assert df.rdd.getNumPartitions() == 2
        assert sorted(r.message_id for r in df.collect()) == sorted([a, b])


def test_rediswire_rows_compose_into_envelopes(spark):
    """The full ingestion composition: live stream -> wire rows ->
    canonical envelope -> response derivation (A1 -> SURVEY §1 -> A8)."""
    from eventstream_spark.codec import create_response, stream_entry_to_envelope

    with FakeRedisServer() as server:
        with RedisStreamClient("127.0.0.1", server.port) as c:
            c.xadd(
                "EVENTS",
                {"event": "get_instance", "application_name": "w", "k": "7"},
            )
        register_rediswire(spark)
        df = (
            spark.read.format("rediswire")
            .option("host", "127.0.0.1")
            .option("port", str(server.port))
            .option("stream", "EVENTS")
            .load()
        )
        env = stream_entry_to_envelope(df)
        row = env.first()
        assert row.event == "get_instance" and row.application_name == "w"
        assert row.props == {"k": "7"}  # envelope keys lifted OUT of props
        assert row.message_id is not None and row.ts is not None
        resp = create_response(env, "responder", "i-9").first()
        assert resp.event == "get_instance_response"
        assert resp.response_to == row.message_id
