"""External streaming source mappings (SURVEY §2.2 A5/A6).

The reference ingests events over long-lived HTTP/webhook connections (R1).
The engine's production mapping is Kafka (`BASELINE.json:7` — "Structured
Streaming + Kafka/socket source"); the socket source covers the direct-TCP
path and is integration-tested (tests/test_socket_source.py). No Kafka
broker exists in this environment, so ``kafka_source`` is the documented,
type-checked construction — exercised for import/shape only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from twitter_event_stream_spark.streaming.pipelines import decode_events


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100_000,
) -> DataFrame:
    """A6 — Kafka ingest (R1 production path): value bytes → typed events.

    ``maxOffsetsPerTrigger`` is the backpressure bound (R12): each
    micro-batch reads a bounded offset range, so trigger latency stays flat
    under burst load. Requires the spark-sql-kafka connector on the
    classpath; raises the connector's own error otherwise.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load()
    return decode_events(raw, value_col="value")


def socket_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """A5 — direct TCP NDJSON ingest; ``tests/test_socket_source.py`` feeds
    it from a local TCP server and checks the decoded events."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return decode_events(raw)
