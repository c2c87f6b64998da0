"""Structured Streaming lifts of the batch cores (SURVEY.md W1-W3, W5).

Every streaming query reuses the exact batch transform functions — the
streaming layer only swaps sources (``readStream``) and sinks
(``writeStream``/``foreachBatch``), so the DuckDB-oracle-checked batch
semantics carry over unchanged.

Production source mapping (S1/S2): the producer leg reads
``rate-micro-batch`` (EventBridge 1/min schedule analogue,
KinesisHealthCheckStack.java:109-117); the consumer leg reads a Kinesis
connector or — hermetically — a file stream of kinesis-event JSON with
``maxFilesPerTrigger=1`` reproducing ESM ``batchSize(1)``
(KinesisHealthCheckStack.java:157). ``startingposition=LATEST`` (W2,
``:160``) corresponds to starting a file stream against an empty directory /
the connector's latest offset, with checkpointed offsets thereafter.

Bounded drives (backfills, oracle-compared replays, tests) share two
helpers: ``replay_feed`` turns ordered chunk DataFrames into that same
one-file-per-trigger stream, and ``drain`` runs a writer to completion
under the ``availableNow`` trigger, failing loudly instead of returning a
partial sink; ``drain_to_memory`` is its memory-sink form.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from amazon_kinesis_data_streams_health_check_spark.functions import scalar
from amazon_kinesis_data_streams_health_check_spark.operators.consumer import (
    decoded_records,
    metric_rows,
)
from amazon_kinesis_data_streams_health_check_spark.operators.producer import tracer_records
from amazon_kinesis_data_streams_health_check_spark.schemas import (
    KINESIS_EVENT_SCHEMA_PERMISSIVE,
)
from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_events import (
    explode_records,
)


def producer_stream(
    spark: SparkSession,
    stream_name: str = "health-check-stream",
    interval_ms: int = 60_000,
    rows_per_batch: int = 1,
    start_timestamp_ms: int | None = None,
) -> DataFrame:
    """S1/W1: scheduled constant-row source -> tracer records.

    ``rate-micro-batch`` emits exactly ``rowsPerBatch`` rows per trigger with
    a stable per-batch timestamp — the EventBridge 1/min constant-input rule.
    The batch timestamp plays ``Instant.now()`` (deterministic per batch,
    replayable from the checkpoint). Pinning ``start_timestamp_ms`` makes a
    bounded drain fully value-deterministic (oracle-comparable); production
    leaves it unset and takes the wall clock.
    """
    reader = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("advanceMillisPerBatch", interval_ms)
    )
    if start_timestamp_ms is not None:
        reader = reader.option("startTimestamp", start_timestamp_ms)
    src = reader.load()
    return tracer_records(src, F.col("timestamp"), F.lit(stream_name))


def consumer_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int = 1,
    event_time_source: str = "coalesce",
    now: F.Column | None = None,
) -> DataFrame:
    """S2/S3: kinesis-event JSON file stream -> decoded metric rows.

    ``maxFilesPerTrigger=1`` reproduces ESM batchSize=1. The metric "now"
    defaults to the processing-time clock, exactly like the consumer Lambda
    (HealthCheckConsumerHandler.java:71); a deterministic backfill (or an
    oracle-compared drive) injects a pinned ``now`` literal instead.
    """
    batches = (
        spark.readStream.schema(KINESIS_EVENT_SCHEMA_PERMISSIVE)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("mode", "PERMISSIVE")
        .json(events_dir)
    )
    decoded = decoded_records(explode_records(batches))
    return metric_rows(
        decoded,
        now if now is not None else F.current_timestamp(),
        event_time_source=event_time_source,
    )


def windowed_max_stream(
    metrics: DataFrame,
    period: str = "1 minute",
    watermark: str = "2 minutes",
    dedup_ids: bool = False,
) -> DataFrame:
    """W3/W5: watermarked tumbling MAX per stream — the CloudWatch period
    aggregation (A1) lifted to streaming. ``dedup_ids`` adds
    ``dropDuplicatesWithinWatermark`` for the ESM at-least-once redelivery
    (SURVEY.md W5; requires an ``event_id`` column)."""
    df = metrics.withWatermark("ts", watermark)
    if dedup_ids:
        df = df.dropDuplicatesWithinWatermark(["event_id"])
    w = F.window(F.col("ts"), period)
    return (
        df.groupBy(F.col("stream_name"), w.alias("w"))
        .agg(F.max("value").alias("max_value"), F.count(F.lit(1)).alias("n_datapoints"))
        .select(
            "stream_name",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "max_value",
            "n_datapoints",
        )
    )


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Sessionization lifted to streaming: ``session_window`` (variable-length
    merging windows held in the state store) per user with a ``gap``
    inactivity bound. Identical aggregate list to the batch ``user_sessions``
    query, so a bounded complete-mode drain satisfies the same oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.unix_timestamp(F.min("ts")).alias("session_start_s"),
            F.unix_timestamp(F.max("ts")).alias("session_last_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start_s", "session_last_s", "n_events")
    )


def delivery_audit_join(
    tracers_ts: DataFrame,
    receipts: DataFrame,
    max_delay: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked left-outer stream-stream join: which produced tracers were
    actually delivered, at what lag — and which were LOST.

    The reference's consumer only sees records that arrive; a tracer Kinesis
    drops is invisible to it (its alarm catches the silence indirectly via
    TreatMissingData). Joining the producer leg against the consumer leg
    closes that gap: a tracer with no receipt in ``[sent_ts, sent_ts +
    max_delay]`` emits with NULL ``arrival_ts`` (``delivered = false``) once
    both watermarks pass the bound — per-record loss attribution, not just
    "metrics went quiet".

    Scale: both sides shuffle on ``partition_key``; the interval bound +
    watermarks let Spark evict join state after ``watermark + max_delay``,
    so state is O(in-flight records), independent of stream history.

    ``tracers_ts``: (stream_name, partition_key, sent_ts) — the producer leg
    with its batch instant as event time. ``receipts``: any frame with
    (partitionKey, arrival_ts) — e.g. ``decoded_records`` output.
    """
    t = tracers_ts.withWatermark("sent_ts", watermark)
    r = receipts.select(
        F.col("partitionKey").alias("partition_key_r"),
        F.col("arrival_ts"),
    ).withWatermark("arrival_ts", watermark)
    cond = (
        (F.col("partition_key") == F.col("partition_key_r"))
        & (F.col("arrival_ts") >= F.col("sent_ts"))
        & (F.col("arrival_ts") <= F.col("sent_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return t.join(r, cond, "leftOuter").select(
        "stream_name",
        "partition_key",
        "sent_ts",
        "arrival_ts",
        (F.unix_timestamp("arrival_ts") - F.unix_timestamp("sent_ts")).alias(
            "lag_seconds"
        ),
        F.col("arrival_ts").isNotNull().alias("delivered"),
    )


def write_metrics_sink(
    metrics: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """K2: append-mode parquet metrics sink (the CloudWatch stand-in).
    One vectorized write per micro-batch — the reference's per-record
    PutMetricData HTTP call (HealthCheckConsumerHandler.java:64-84) batched
    away, as SURVEY.md section 4 prescribes."""
    writer = (
        metrics.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def alerts_foreach_batch_sink(
    alerts: DataFrame,
    alerts_path: str,
    checkpoint: str,
):
    """K3: alarm-transition rows appended via foreachBatch (the SNS publish
    stand-in). foreachBatch reuses the batch transition filter so alert
    semantics stay oracle-checked."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.filter(F.col("transitioned"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(alerts_path)
        )

    return (
        alerts.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


#: Hang guard of every bounded drive, in seconds: a drive still running
#: after this long is hung, not slow (the sf100 corpus ingests legitimately
#: take minutes per micro-batch).
DRAIN_TIMEOUT_S = 3600

#: mtime of the first replayed file; each later file is 10 s newer.
_REPLAY_EPOCH_S = 1_700_000_000


def replay_feed(
    spark: SparkSession, chunks: list[DataFrame], prefix: str
) -> tuple[DataFrame, int]:
    """Bounded ESM ``batchSize=1`` replay: one micro-batch per chunk, in order.

    Each chunk is written as ONE parquet file into a fresh feed dir with
    strictly ascending mtimes; the file source orders by mtime, so the
    ``maxFilesPerTrigger=1`` stream consumes the chunks in the order given,
    one per trigger (an empty chunk still yields its empty micro-batch).
    The writes go through one staging dir, removed after the moves. The
    stream schema is the first chunk's.

    Returns ``(stream, n_files)``, the file count a drive checks its
    commits against.
    """
    feed_dir = tempfile.mkdtemp(prefix=prefix)
    staging = tempfile.mkdtemp(prefix=f"{prefix}staging_")
    try:
        for i, chunk in enumerate(chunks):
            out = os.path.join(staging, str(i))
            chunk.coalesce(1).write.parquet(out)
            (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
            dst = os.path.join(feed_dir, f"chunk_{i:04d}.parquet")
            shutil.move(part, dst)
            mtime = _REPLAY_EPOCH_S + 10 * i
            os.utime(dst, (mtime, mtime))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    stream = (
        spark.readStream.schema(chunks[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    return stream, len(chunks)


def drain(sink: DataStreamWriter | StreamingQuery, name: str) -> StreamingQuery:
    """Run a bounded stream to completion; return the finished query.

    ``sink`` is a writer, started here as ``name`` (plus a unique suffix)
    with a fresh checkpoint and the ``availableNow`` trigger, or a query a
    sink helper already started. A failed query raises. A query still
    active after ``DRAIN_TIMEOUT_S`` is stopped and raises too, naming the
    micro-batches it completed: a partial sink is never a result.
    """
    if isinstance(sink, DataStreamWriter):
        sink = (
            sink.queryName(f"{name}_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
            .trigger(availableNow=True)
            .start()
        )
    if not sink.awaitTermination(DRAIN_TIMEOUT_S):
        done = len(sink.recentProgress)
        sink.stop()
        raise TimeoutError(
            f"stream drive {name!r} still active after {DRAIN_TIMEOUT_S}s "
            f"with {done} micro-batches completed; stopped"
        )
    return sink


def drain_to_memory(
    stream: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """``drain`` into a memory sink; return the sink's table.

    The stateful operators' state-store partition count is frozen from
    ``spark.sql.shuffle.partitions`` at the first micro-batch. Under a
    default Spark session that is 200, and AQE does NOT coalesce
    streaming stateful shuffles — so a 4-chunk drive schedules 800 near
    -empty state tasks (~70s observed for the EWMA/forecast drives at
    sf0.01). Clamp to the session's core count for the drive and restore
    after; results are partitioning-independent (every drive value-hashes
    against its batch twin regardless).
    """
    spark = stream.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions", None)
    clamp = max(4, min(int(spark.sparkContext.defaultParallelism), 16))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(clamp))
        q = drain(
            stream.writeStream.format("memory").outputMode(output_mode), name
        )
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(q.name)
