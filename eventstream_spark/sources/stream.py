"""Streaming source factories (reference A1: the consumer-group poll loop,
event_stream/utilities/communication.py:648-712).

The Spark analog of "tail a named Redis stream with a consumer group" is a
Structured Streaming source + a checkpoint directory: the checkpoint replaces
group offsets (A3), replay-on-failure replaces inbox/idle reclamation
(A15-A18). Three concrete sources:

- `file_stream` — tail a growing parquet directory (the local/test path and
  the lakehouse-landing-zone path at scale). It is the package's one
  reader of a parquet landing zone: it owns the session pin (UTC) and the
  ``ts`` normalization, so every streaming read interprets the tz-naive
  fixture timestamps exactly as the batch catalog does;
- `kafka_stream` — the true high-throughput stream transport; option-complete
  but gated on the Kafka connector jars being on the classpath;
- `rate_stream`  — synthetic load for soak tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..catalog import EVENTS_RAW_SCHEMA, _pin_session, fix_nanos_ts
from ..codec import normalize_envelope


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a parquet directory as a stream. Schema is required (streaming
    sources never infer — per-batch inference would let the schema drift,
    SURVEY §7 hard-part 2).

    The session is pinned (UTC, nanosAsLong) before the stream is built, by
    the same helper ``catalog.load`` uses, so ``fix_nanos_ts``'s NTZ → LTZ
    cast and every event-time op downstream read the wall-clock the batch
    catalog and the duckdb oracles read, whatever the caller's session said.
    ``fix_nanos_ts`` is a no-op on tables without ``ts``.

    `max_files_per_trigger` bounds micro-batch size so executor memory is
    sized by trigger, not by backlog — the scale knob for catch-up reads.
    """
    _pin_session(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return fix_nanos_ts(reader.parquet(path))


def events_file_stream(
    spark: SparkSession,
    source_dir: str,
    application_name: str | None = None,
    application_instance: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """An events landing directory as an envelope stream: ``file_stream``
    → canonical envelope (event, message_id, ts, props map, header).
    ``source_dir`` is a directory of parquet files in the fixture events
    schema (the Spark file source tails directories, not single files —
    stage/symlink the fixture into one for tests)."""
    return normalize_envelope(
        file_stream(
            spark,
            source_dir,
            EVENTS_RAW_SCHEMA,
            max_files_per_trigger=max_files_per_trigger,
        ),
        application_name=application_name,
        application_instance=application_instance,
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    group_id: str | None = None,
    starting_offsets: str = "latest",
    **options: str,
) -> DataFrame:
    """Kafka source — the direct analog of the reference's named stream +
    consumer group (group.id ≈ group name; unique group per query =
    broadcast, shared group semantics come from partition assignment,
    reference A28 configuration/communication.py:105-128).

    Connector availability is detected by attempting the load and catching
    the source-not-found error — so a connector supplied via ``--jars``,
    ``--packages``, or a fat classpath all work; only a genuinely missing
    connector raises, with guidance instead of a deep JVM stack.

    Exact bootstrap recipe for THIS build (pyspark 4.1.2 / Scala 2.13; the
    connector version must match the Spark version):

        spark-submit --packages \\
            org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 app.py
        # or, on an offline cluster, pre-fetch the same coordinates plus
        # their transitive deps (kafka-clients, commons-pool2,
        # spark-token-provider-kafka-0-10) and pass them via --jars

    tests/test_sources.py::test_kafka_stream_connector_gate activates the
    real-schema assertion automatically when the connector is present and
    pins the friendly gate otherwise.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if group_id is not None:
        reader = reader.option("kafka.group.id", group_id)
    for key, value in options.items():
        reader = reader.option(key, value)
    try:
        return reader.load()
    except Exception as exc:  # connector missing → friendly, actionable error
        msg = str(exc)
        if "Failed to find" in msg and "kafka" in msg.lower():
            raise NotImplementedError(
                "Kafka connector not on classpath; add it via --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 (match the "
                "connector version to your Spark version) or pre-fetched "
                "--jars on offline clusters — recipe in this docstring"
            ) from exc
        raise


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic `(timestamp, value)` stream for soak/throughput tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
