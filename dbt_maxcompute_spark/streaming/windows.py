"""Structured Streaming window aggregations over the events schema.

The reference has no streaming (SURVEY.md §2.9) — this is the
Spark-native extension: the same tumbling/sliding window semantics as
suite/events_suite.py, expressed over ``readStream`` with watermarks
for late data, so a batch backfill and a live stream share one
definition.

Scale: stateful window aggs keep per-(window,key) state in the state
store; the watermark bounds state size (windows older than watermark
are finalized and evicted). At 100 TB/day ingest, partition state by
key via `spark.sql.shuffle.partitions` sized to the executor count,
and use `Trigger.AvailableNow` for catch-up backfills (processes the
backlog in bounded batches, then stops — same results as one big
batch).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The fixture's ts physical type has varied across driver generations
# (TIMESTAMP(NANOS) read as long, tz-adjusted µs, tz-naive µs); the
# stream reader sniffs the directory's current schema with a one-off
# batch metadata read and normalizes to TIMESTAMP exactly like
# sources.registry (a production stream knows its schema a priori —
# the sniff is fixture-compat only).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

EVENTS_SCHEMA = StructType(
    [f if f.name != "ts" else StructField("ts", TimestampType()) for f in EVENTS_RAW_SCHEMA]
)


# state_partition_scope mutates a session-global conf; concurrent scopes
# (or a concurrent batch query racing a drain) must not interleave
# set/restore — round-13 ADVICE item 1
_SCOPE_LOCK = threading.Lock()


def _stream_shuffle_partitions(spark: SparkSession) -> int | None:
    """Streaming shuffle-partition default, derived from the SESSION
    (round-13 verdict item 7 — a literal constant is box-tuned):
    ``max(4, min(64, defaultParallelism // 4))`` — 8 on the 32-core
    local box, scaling with the cluster instead of serializing stateful
    throughput on one. ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS``
    overrides (validated: a non-integer raises a clear ValueError
    instead of an opaque planning error mid-stream — round-13 ADVICE
    item 2); ``inherit``/``0``/empty keeps the session value."""
    val = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "auto")
    if val == "auto":
        par = spark.sparkContext.defaultParallelism
        return max(4, min(64, par // 4))
    if val in ("", "0", "inherit"):
        return None
    try:
        n = int(val)
    except ValueError:
        raise ValueError(
            "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS must be an integer, "
            f"'inherit', or empty (got {val!r})"
        ) from None
    if n <= 0:
        return None
    return n


@contextmanager
def state_partition_scope(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the STREAMING default
    for the duration of a stream start + drain.

    Every stateful streaming operator keeps one state-store instance
    per shuffle partition, and every micro-batch pays a per-instance
    load/commit/maintenance round even for partitions that hold no
    rows this trigger (a stream-stream join keeps FOUR stores per
    partition). Batch shuffle sizing (cores, then AQE-coalesced) is
    the wrong default here: AQE does not run inside a streaming query,
    and state placement is pinned by the checkpoint, so a 32-core
    session pays 32 x stores x triggers of pure state-store overhead
    regardless of data volume. Size streaming shuffles by stateful-key
    throughput instead: derived from ``defaultParallelism`` (see
    :func:`_stream_shuffle_partitions`; the value is baked into each
    NEW checkpoint at its first trigger, so it must be set before
    ``start()``). Scopes are serialized by a module lock so two
    overlapping drains cannot race the set/restore pair and leave the
    session pinned to the stream value."""
    n = _stream_shuffle_partitions(spark)
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    with _SCOPE_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a directory of event parquet files.
    `path` must be a directory (Spark's file stream source lists it)."""
    from pyspark.sql.types import TimestampNTZType

    sniffed = spark.read.parquet(path).schema
    ts_type = sniffed["ts"].dataType
    if isinstance(ts_type, LongType):
        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = (
        spark.readStream.schema(sniffed)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    if isinstance(ts_type, TimestampNTZType):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_hourly(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-hour, per-type rolling counts/sums with late-data watermark.
    Same semantics as events_suite.q_events_tumbling_hourly.

    Grouping keeps the full window STRUCT (start projected after the
    agg): extracting window.start inside the key severs the
    watermark-to-key link and Spark rejects append mode — the mode
    where watermark finality is live."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("__w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("__w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_available_now(agg: DataFrame, query_name: str) -> None:
    """Drain the source with AvailableNow into an in-memory sink (test /
    backfill harness). Complete mode: window aggs without append-mode
    finality; production sinks would use update/append + a real sink."""
    with state_partition_scope(agg.sparkSession):
        q = (
            agg.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_available_now_append(agg: DataFrame, query_name: str) -> None:
    """AvailableNow drain in APPEND mode: a window row is emitted
    exactly once, when the watermark passes its end — the mode where
    watermark semantics (late-input dropping + state eviction) are
    actually LIVE. Complete mode retains all state and drops nothing,
    so late-data claims can only be demonstrated here."""
    with state_partition_scope(agg.sparkSession):
        q = (
            agg.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
