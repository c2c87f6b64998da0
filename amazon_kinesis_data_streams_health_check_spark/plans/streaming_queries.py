"""Structured Streaming entries for the driver surface.

Most drives here carry FULL DuckDB value-hash oracles: where the drive is
deterministic (pinned startTimestamp, file feeds in mtime order,
far-future watermark sentinels flushing all state), the batch twin's SQL
applies verbatim as the oracle (e.g. ``streaming_stateful_alarm``,
``streaming_cusum``, ``streaming_hysteresis_alarm``, ``streaming_dedup_events``).
The few genuinely wall-clock-dependent drives register rows-only; tests pin
the semantics either way (tests/test_streaming.py).

Each builder drives a real streaming query to completion hermetically
through ``streaming/pipeline.py``: ``replay_feed`` turns ordered chunk
DataFrames into a one-file-per-trigger stream, and ``drain`` (or its
memory-sink form ``drain_to_memory``) runs it under the ``availableNow``
trigger and raises on a failed or hung drive. That is the verify recipe's
preferred drive mode and also exactly how a backfill of the production
pipeline runs: identical code, bounded input.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_events import (
    synthesize_from_events,
)
from amazon_kinesis_data_streams_health_check_spark.plans.ext_queries import (
    _QUALITY_SQL,
)
from amazon_kinesis_data_streams_health_check_spark.plans.healthcheck_queries import (
    _CUSUM_SQL,
    _FLAGSHIP_SQL,
    _HYST_SQL,
)
from amazon_kinesis_data_streams_health_check_spark.plans.mining_queries import (
    _BACKTEST_SQL,
    _SPRT_SQL,
)
from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
    load_table,
    restore_timestamp,
    stream_table,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
    consumer_stream,
    drain,
    drain_to_memory,
    producer_stream,
    replay_feed,
    windowed_max_stream,
)


def _mod_chunks(df: DataFrame, key: str) -> list[DataFrame]:
    """Four chunks of ``df`` by ``key`` mod 4: the replay feed of a
    per-row or complete-mode drive, whose output is slicing-independent."""
    return [df.filter(F.pmod(F.col(key), F.lit(4)) == i) for i in range(4)]


def _range_chunks(
    df: DataFrame, col: str, lo: int, hi: int, unit: int = 60
) -> list[DataFrame]:
    """Four ascending ranges of ``col`` over ``[lo, hi]``, cut on ``unit``
    boundaries: the replay order of the period feeds."""
    step = max(unit, ((hi - lo + unit) // 4 // unit) * unit)
    cuts = [lo + i * step for i in range(4)] + [hi + 2 * unit]
    c = F.col(col)
    return [df.filter((c >= a) & (c < b)) for a, b in zip(cuts, cuts[1:])]


#: Pinned schedule for the oracle-compared producer drive: an availableNow
#: drain of rate-micro-batch with a fixed startTimestamp yields exactly one
#: batch of ``rowsPerBatch`` rows at that timestamp (verified deterministic
#: across runs) — the EventBridge schedule replayed from a known instant.
_TRACER_START_MS = 1_700_000_000_000
_TRACER_ROWS = 5

_STREAM_TRACER_SQL = f"""
WITH b AS (
  SELECT make_timestamp({_TRACER_START_MS} * 1000) AS t
  FROM range(0, {_TRACER_ROWS})
)
SELECT 'health-check-stream' AS stream_name,
       strftime(t, '%Y-%m-%dT%H:%M:%S.%fZ') AS partition_key,
       '{{"currentInstant":"' || strftime(t, '%Y-%m-%dT%H:%M:%S.%fZ') || '"}}' AS data_json,
       to_base64(encode('{{"currentInstant":"' || strftime(t, '%Y-%m-%dT%H:%M:%S.%fZ') || '"}}')) AS data_b64
FROM b
"""


@register(
    "streaming_tracer_produce",
    # The drained batch timestamp is pinned (startTimestamp option), so the
    # producer-leg transform chain (P1-P4: instant -> tracer JSON -> UTF-8 ->
    # base64, partition key = instant) is value-hash-checked under streaming.
    oracle=_STREAM_TRACER_SQL,
    doc="S1/W1 streaming: rate-micro-batch schedule with pinned start "
    "timestamp -> tracer records (full value-hash oracle)",
    tags=("core", "streaming"),
)
def streaming_tracer_produce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drain_to_memory(
        producer_stream(
            spark,
            "health-check-stream",
            rows_per_batch=_TRACER_ROWS,
            start_timestamp_ms=_TRACER_START_MS,
        ),
        "tracers",
    )


#: Deterministic subset for the oracle-compared streaming drives: the row set
#: must not depend on scan order (``limit`` would), only on values.
_STREAM_FILTER = "event_id % 50 = 0"

_STREAM_CONSUMER_SQL = f"""
WITH sub AS (SELECT * FROM events WHERE {_STREAM_FILTER}),
now_t AS (SELECT max(ts) AS now_ts FROM sub),
syn AS (
  SELECT 'arn:aws:kinesis:us-east-1:123456789012:stream/' || event_type AS arn,
         to_base64(encode('{{"currentInstant":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') || '"}}')) AS data,
         ts AS arrival
  FROM sub
),
dec AS (
  SELECT arn, arrival,
         COALESCE(
           TRY_CAST(json_extract_string(decode(from_base64(data)), '$.currentInstant') AS TIMESTAMP),
           arrival
         ) AS ev
  FROM syn
)
SELECT date_trunc('second', ev) AS ts,
       'KinesisServiceHealthCheck' AS namespace,
       'HealthCheckSinceSeconds' AS metric_name,
       split_part(split_part(arn, ':', 6), '/', 2) AS stream_name,
       CAST(CAST(epoch(date_trunc('second', now_ts)) AS BIGINT)
            - CAST(epoch(date_trunc('second', ev)) AS BIGINT) AS DOUBLE) AS value
FROM dec, now_t
WHERE ev IS NOT NULL
"""


@register(
    "streaming_consumer_metrics",
    # Deterministic drive: value-filtered input subset + pinned "now" (max
    # event time of the subset), so the batch consumer oracle applies verbatim
    # to the streaming run — the stateless transform chain is identical by
    # construction (streaming/pipeline.py reuses the batch column ops).
    oracle=_STREAM_CONSUMER_SQL,
    doc="S2/S3 streaming: kinesis-event JSON file stream -> decoded lag metric "
    "rows (availableNow drain, pinned now => full value-hash oracle)",
    tags=("core", "streaming"),
)
def streaming_consumer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesizes kinesis-event JSON from the events table (bounded), then
    runs the REAL consumer file-stream over it — schema, PERMISSIVE parse,
    explode, decode, metric projection all exercised under streaming."""
    events = load_table(spark, sf_dir, "events").filter(F.expr(_STREAM_FILTER))
    now_val = events.agg(F.max("ts")).collect()[0][0]
    src_dir = tempfile.mkdtemp(prefix="kinesis_events_")
    synthesize_from_events(events).write.mode("overwrite").json(src_dir)
    metrics = consumer_stream(
        spark,
        src_dir,
        max_files_per_trigger=8,
        event_time_source="coalesce",
        now=F.lit(now_val),
    )
    return drain_to_memory(metrics, "consumer_metrics_stream")


_STREAM_WINDOW_SQL = """
SELECT event_type AS stream_name,
       date_trunc('minute', ts) AS window_start,
       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
       max(value) AS max_value,
       count(*) AS n_datapoints
FROM events
GROUP BY 1, 2
"""


@register(
    "streaming_window_max",
    # Complete-mode drain of a bounded backfill: the sink holds every window's
    # final aggregate regardless of trigger boundaries, so the batch tumbling
    # oracle applies verbatim. Append-mode (watermark-gated) emission is
    # trigger-dependent by design and stays pinned in tests/test_streaming.py.
    oracle=_STREAM_WINDOW_SQL,
    doc="W3/W5 streaming: watermarked 1-min tumbling max over the events "
    "stream (availableNow + complete-mode sink => full value-hash oracle)",
    tags=("core", "streaming"),
)
def streaming_window_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streams the events parquet (bounded backfill) through the
    watermarked tumbling-max aggregation (A1/W3)."""
    metrics = stream_table(spark, sf_dir, "events").select(
        "ts",
        F.col("event_type").alias("stream_name"),
        F.col("value"),
    )
    return drain_to_memory(
        windowed_max_stream(metrics), "windowed_max_stream", output_mode="complete"
    )


_STREAM_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_last_s,
       count(*) AS n_events
FROM s
GROUP BY user_id, sid
"""


@register(
    "streaming_user_sessions",
    # Complete-mode drain of a bounded backfill: session windows merge to
    # their final extents in the state store regardless of micro-batch
    # boundaries, so the batch gaps-and-islands oracle applies verbatim.
    oracle=_STREAM_SESSIONS_SQL,
    doc="W3 streaming: session_window(30 min gap) sessionization over the "
    "events stream (availableNow + complete-mode sink => full value-hash "
    "oracle; the stateful merging-window path, vs the tumbling W3 drive)",
    tags=("core", "streaming"),
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streams the events parquet through the merging session-window
    aggregation — the variable-length stateful window the batch
    ``user_sessions`` query computes with gaps-and-islands."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        sessionized_stream,
    )

    events = stream_table(spark, sf_dir, "events").select("ts", "user_id")
    return drain_to_memory(
        sessionized_stream(events), "sessionized_stream", output_mode="complete"
    )


_STREAM_DEDUP_SQL = f"""
SELECT event_id, ts, event_type, value
FROM events WHERE {_STREAM_FILTER}
"""


@register(
    "streaming_dedup_events",
    # Exact streaming dedup is micro-batch-order independent: state holds every
    # seen key, each key emits exactly once (its copies are identical rows), so
    # the batch DISTINCT oracle applies whatever the trigger slicing was.
    oracle=_STREAM_DEDUP_SQL,
    doc="W5 streaming: at-least-once duplicate suppression — a doubled event "
    "feed file-streamed through dropDuplicates(event_id) emits each record "
    "exactly once (full value-hash oracle vs the distinct batch twin)",
    tags=("core", "streaming"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feeds every event TWICE (the ESM at-least-once redelivery model,
    KinesisHealthCheckStack.java:158 ``bisectBatchOnError(false)`` — retries
    redeliver whole batches) split across several files/micro-batches, then
    dedups on the unique record key inside the stream. Unbounded-state exact
    dedup keeps the drive deterministic; the watermark-bounded variant
    (``dropDuplicatesWithinWatermark``, state that evicts) is semantically
    trigger-dependent and stays pinned in tests/test_streaming.py."""
    sub = load_table(spark, sf_dir, "events").filter(F.expr(_STREAM_FILTER)).select(
        "event_id", "ts", "event_type", "value"
    )
    src_dir = tempfile.mkdtemp(prefix="dedup_stream_")
    # Two copies, spread over 8 files so duplicates cross micro-batches.
    sub.unionAll(sub).repartition(8).write.mode("overwrite").parquet(src_dir)
    raw = restore_timestamp(
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir),
        "ts",
    )
    return drain_to_memory(raw.dropDuplicates(["event_id"]), "dedup_stream")


_AUDIT_SQL = f"""
WITH sub AS (SELECT * FROM events WHERE {_STREAM_FILTER}),
t AS (
  SELECT event_type AS stream_name,
         strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS partition_key,
         ts AS sent_ts
  FROM sub
),
r AS (
  SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS partition_key,
         ts + (event_id % 3) * INTERVAL 1 SECOND AS arrival_ts
  FROM sub WHERE event_id % 250 <> 0
)
SELECT t.stream_name, t.partition_key, t.sent_ts, r.arrival_ts,
       CAST(epoch(r.arrival_ts) AS BIGINT) - CAST(epoch(t.sent_ts) AS BIGINT)
         AS lag_seconds,
       r.arrival_ts IS NOT NULL AS delivered
FROM t LEFT JOIN r
  ON r.partition_key = t.partition_key
 AND r.arrival_ts >= t.sent_ts
 AND r.arrival_ts <= t.sent_ts + INTERVAL 5 MINUTE
"""


@register(
    "streaming_delivery_audit",
    # Bounded two-leg drive with far-future watermark sentinels: every
    # matched AND lost tracer row is flushed before the drain ends, so the
    # left-outer interval join's final row set equals the batch join — the
    # emission ORDER is trigger-dependent, the SET is not.
    oracle=_AUDIT_SQL,
    doc="W-join streaming: watermarked left-outer stream-stream interval join "
    "(producer tracers vs consumer receipts -> per-record delivery lag and "
    "loss attribution; full value-hash oracle vs the batch interval join)",
    tags=("core", "streaming"),
)
def streaming_delivery_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the real delivery-audit join over two bounded legs built from
    a value-filtered events subset: tracers (event-time instants) vs
    receipts whose arrival is the event time skewed by ``event_id % 3``
    seconds, with every 250th receipt dropped — so the oracle checks real
    nonzero lags AND ``delivered = false`` loss rows. Sentinel rows one hour
    past the data (filtered from the result) advance both watermarks so the
    availableNow drain flushes all outer-join state deterministically."""
    from amazon_kinesis_data_streams_health_check_spark.functions import scalar
    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        delivery_audit_join,
    )

    sub = load_table(spark, sf_dir, "events").filter(F.expr(_STREAM_FILTER))
    hi = sub.agg(F.max("ts")).collect()[0][0]

    tracer_rows = sub.select(
        F.col("event_type").alias("stream_name"),
        scalar.instant_iso(F.col("ts")).alias("partition_key"),
        F.col("ts").alias("sent_ts"),
    )
    tracer_sentinel = spark.range(1).select(
        F.lit("_sentinel").alias("stream_name"),
        F.lit("_sentinel").alias("partition_key"),
        (F.lit(hi) + F.expr("INTERVAL 1 HOUR")).alias("sent_ts"),
    )
    receipt_rows = (
        sub.filter(F.col("event_id") % 250 != 0)
        .select(
            scalar.instant_iso(F.col("ts")).alias("partitionKey"),
            (
                F.col("ts")
                + (F.col("event_id") % 3).cast("int") * F.expr("INTERVAL 1 SECOND")
            ).alias("arrival_ts"),
        )
    )
    receipt_sentinel = spark.range(1).select(
        F.lit("_sentinel").alias("partitionKey"),
        (F.lit(hi) + F.expr("INTERVAL 1 HOUR")).alias("arrival_ts"),
    )

    # Data then sentinel, one micro-batch each per leg.
    tracers, _ = replay_feed(spark, [tracer_rows, tracer_sentinel], "audit_tracers_")
    receipts, _ = replay_feed(
        spark, [receipt_rows, receipt_sentinel], "audit_receipts_"
    )
    audited = delivery_audit_join(tracers, receipts)
    sunk = drain_to_memory(audited, "delivery_audit", output_mode="append")
    return sunk.filter(F.col("stream_name") != "_sentinel")


@register(
    "streaming_stateful_alarm",
    # The period-walk state machine emits exactly one row per (stream, grid
    # period) whatever the micro-batch slicing, so the batch flagship oracle
    # (tumbling max -> global period grid -> BREACHING-on-missing -> strict
    # threshold -> transition-only actions) applies verbatim. Import, not
    # copy: the two entries must stay semantically identical.
    oracle=_FLAGSHIP_SQL,
    doc="W4/W6 streaming: applyInPandasWithState alarm state machine — "
    "per-period max feed walked in order with missing=>BREACHING synthesis "
    "and cross-batch state; full value-hash oracle vs the batch flagship",
    tags=("core", "streaming", "flagship"),
)
def streaming_stateful_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked drive of the one genuinely stateful operator
    (KinesisHealthCheckStack.java:165-183 semantics, streaming form).

    The stateless front end (event-time choice -> P9-truncated lag -> 1-min
    tumbling max) is precomputed batch-side into a bounded per-period feed —
    those stages are oracle-checked under streaming by
    ``streaming_consumer_metrics`` / ``streaming_window_max`` already. What
    runs INSIDE the stream is the stateful tail no window aggregation can
    express: the per-stream alarm state machine with BREACHING synthesis for
    absent periods and transition detection, its state carried across
    micro-batches (4 feed files, mtime-ordered, one per trigger).

    The wall-clock heartbeat-timeout leg (processing-/event-time timeouts)
    stays pinned hermetically in tests/test_streaming.py.
    """
    from amazon_kinesis_data_streams_health_check_spark.operators.lag import (
        staleness_at_window_close,
    )
    from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
        period_alarm_stream,
    )

    events = load_table(spark, sf_dir, "events")
    lagged = staleness_at_window_close(
        events, ts_col="ts", payload_col="props", key_col="event_type"
    )
    metrics = (
        lagged.groupBy("stream_name", "window_start")
        .agg(
            F.max("lag_seconds").alias("lag_max"),
            F.count(F.lit(1)).alias("n_datapoints"),
        )
        .select(
            "stream_name",
            F.unix_timestamp("window_start").alias("ws_s"),
            F.col("lag_max").cast("double").alias("max_value"),
            F.col("n_datapoints").cast("long").alias("n_datapoints"),
        )
        .localCheckpoint(eager=False)
    )
    b = metrics.agg(F.min("ws_s").alias("lo"), F.max("ws_s").alias("hi")).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])

    # Per-stream flush sentinels (ws past the grid) so trailing missing
    # periods are evaluated; they live in the LAST feed file.
    sentinels = metrics.select("stream_name").distinct().select(
        "stream_name",
        F.lit(hi_s + 60).cast("long").alias("ws_s"),
        F.lit(None).cast("double").alias("max_value"),
        F.lit(0).cast("long").alias("n_datapoints"),
    )

    # 4 chunks by period range, replayed in order across 4 real
    # micro-batches, exercising cross-batch state persistence.
    chunks = _range_chunks(metrics, "ws_s", lo_s, hi_s)
    chunks[-1] = chunks[-1].unionByName(sentinels)
    feed, _ = replay_feed(spark, chunks, "alarm_feed_")
    alarms = period_alarm_stream(feed, threshold=30.0, lo_s=lo_s, hi_s=hi_s)
    sunk = drain_to_memory(alarms, "stateful_alarm", output_mode="update")
    return sunk.select(
        "stream_name",
        F.timestamp_seconds("ws_s").alias("window_start"),
        F.timestamp_seconds(F.col("ws_s") + 60).alias("window_end"),
        "max_lag",
        "n_datapoints",
        "state",
        "prev_state",
        "transitioned",
    )


# ---------------------------------------------------------------------------
# Custom Python Data Source: the simulated Kinesis connector (S1/S2 without
# AWS). Batch scan is pure arithmetic -> DuckDB generate_series oracle; the
# streaming drive decodes through the real consumer column ops.
# ---------------------------------------------------------------------------
_KS_SHARDS = 4
_KS_PER_SHARD = 250
_KS_EPOCH = 1_700_000_000
_KS_IVL_MS = 60_000

_KS_SCAN_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq
  FROM range(0, {_KS_SHARDS}) s, range(0, {_KS_PER_SHARD}) q
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST(seq AS BIGINT) AS seq,
       lpad(CAST(CAST(shard AS HUGEINT) * 100000000000000000000 + seq AS VARCHAR),
            56, '0') AS sequence_number,
       strftime(to_timestamp({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000),
                '%Y-%m-%dT%H:%M:%SZ') AS partition_key,
       CAST({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000 AS BIGINT) AS payload_epoch_s,
       CAST(octet_length(encode('{{"currentInstant": "' ||
            strftime(to_timestamp({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000),
                     '%Y-%m-%dT%H:%M:%SZ') || '"}}')) AS BIGINT) AS payload_len
FROM g
"""


@register(
    "kinesis_sim_scan",
    oracle=_KS_SCAN_SQL,
    doc="S1/S2: custom Python DataSource batch scan (simulated Kinesis wire: "
    "shards, 56-digit sequences, tracer payload bytes) vs a generate_series "
    "oracle — one partition per shard, fully deterministic",
    tags=("core", "source"),
)
def kinesis_sim_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _KS_SHARDS)
        .option("recordsPerShard", _KS_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    payload = F.decode("data", "UTF-8")
    return raw.select(
        "shard_id",
        F.substring("sequence_number", 37, 20).cast("long").alias("seq"),
        "sequence_number",
        "partition_key",
        F.unix_timestamp(
            F.to_timestamp(F.get_json_object(payload, "$.currentInstant"))
        ).alias("payload_epoch_s"),
        F.octet_length("data").cast("long").alias("payload_len"),
    )


# ---------------------------------------------------------------------------
# KPL aggregated-wire round trip: the one real Kinesis wire capability the
# reference sidesteps (ESM batchSize(1), KinesisHealthCheckStack.java:157;
# one user record per kinesis record, kinesis-event.json:8). The sim feed is
# packed into genuine KPL aggregated records (magic + protobuf + md5,
# functions/kpl.py) five-per-blob per shard, de-aggregated with KCL
# semantics, and decoded to the same metric rows as the unpacked twin —
# every derived column is pure arithmetic, so a generate_series oracle
# value-hashes the whole pack->unpack->decode path. The per-shard multiset
# audit (count + payload checksum) rides in the hash as a TRUE boolean.
# ---------------------------------------------------------------------------
_KPL_PER_BLOB = 5

_KPL_DEAGG_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq
  FROM range(0, {_KS_SHARDS}) s, range(0, {_KS_PER_SHARD}) q
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST(seq // {_KPL_PER_BLOB} AS BIGINT) AS agg_index,
       CAST(seq % {_KPL_PER_BLOB} AS BIGINT) AS subsequence,
       strftime(to_timestamp({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000),
                '%Y-%m-%dT%H:%M:%SZ') AS user_partition_key,
       strftime(to_timestamp({_KS_EPOCH} + (seq - seq % {_KPL_PER_BLOB})
                             * {_KS_IVL_MS} // 1000),
                '%Y-%m-%dT%H:%M:%SZ') AS agg_partition_key,
       CAST({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000 AS BIGINT) AS payload_epoch_s,
       CAST(octet_length(encode('{{"currentInstant": "' ||
            strftime(to_timestamp({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000),
                     '%Y-%m-%dT%H:%M:%SZ') || '"}}')) AS BIGINT) AS payload_len,
       TRUE AS roundtrip_exact
FROM g
"""


@register(
    "kinesis_kpl_deaggregate",
    oracle=_KPL_DEAGG_SQL,
    doc="S2/K1: KPL record aggregation round trip — sim feed packed into "
    "real KPL aggregated records (magic+protobuf+md5) five per blob per "
    "shard, de-aggregated with KCL semantics (subsequence numbers, "
    "passthrough for non-KPL payloads), decoded to the unpacked twin's "
    "metric rows; per-shard multiset audit boolean rides in the value hash",
    tags=("core", "source", "kinesis"),
)
def kinesis_kpl_deaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pack shuffles once on the shard key (the stream's own
    parallelism unit — KPL aggregation never crosses shards); explode is a
    narrow Arrow ``mapInPandas`` with fan-out = records-per-blob; the
    decode is codegen'd column ops on the exploded rows. The audit legs are
    per-shard aggregates (bounded cardinality) broadcast onto the output."""
    from amazon_kinesis_data_streams_health_check_spark.operators.kpl_agg import (
        explode_kpl,
        kpl_pack_unpack_roundtrip_audit,
        pack_kpl,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _KS_SHARDS)
        .option("recordsPerShard", _KS_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    raw = raw.localCheckpoint(eager=False)  # feeds pack AND the audit twin
    packed = pack_kpl(raw, max_per_blob=_KPL_PER_BLOB)
    packed = packed.localCheckpoint(eager=False)  # feeds explode AND audit
    exploded = explode_kpl(
        packed,
        pk_col="agg_partition_key",
        data_col="agg_data",
        keep_cols=("shard_id", "agg_index", "agg_partition_key"),
    )
    payload = F.decode("user_data", "UTF-8")
    decoded = exploded.select(
        "shard_id",
        F.col("agg_index").cast("long").alias("agg_index"),
        "subsequence",
        "user_partition_key",
        "agg_partition_key",
        F.unix_timestamp(
            F.to_timestamp(F.get_json_object(payload, "$.currentInstant"))
        ).alias("payload_epoch_s"),
        F.octet_length("user_data").cast("long").alias("payload_len"),
    )
    audit = kpl_pack_unpack_roundtrip_audit(
        raw,
        explode_kpl(
            packed,
            pk_col="agg_partition_key",
            data_col="agg_data",
            keep_cols=("shard_id",),
        ),
    )
    return decoded.crossJoin(F.broadcast(audit)).select(
        "shard_id",
        "agg_index",
        "subsequence",
        "user_partition_key",
        "agg_partition_key",
        "payload_epoch_s",
        "payload_len",
        F.col("roundtrip_exact"),
    )


# ---------------------------------------------------------------------------
# Producer-side KPL aggregation through the put sink: the actual KPL use
# case — pack user records into aggregated blobs BEFORE PutRecord so each
# wire call carries many records. The aggregate routes by ITS partition key
# (md5 hash-range, first member's key — the real KPL caveat: member records
# ride wherever the aggregate lands), the sink commits via the task-commit
# manifest, and the committed wire bytes de-aggregate back to the exact
# user-record multiset. Every derived column (including the md5 routing) is
# reproducible arithmetic, so the whole produce->commit->deagg loop
# value-hashes against a generate_series oracle.
# ---------------------------------------------------------------------------
_KPLP_SHARDS = 2
_KPLP_PER_SHARD = 100
_KPLP_SINK_SHARDS = 4

_KPL_PRODUCE_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq
  FROM range(0, {_KPLP_SHARDS}) s, range(0, {_KPLP_PER_SHARD}) q
),
agg AS (
  SELECT shard, seq // {_KPL_PER_BLOB} AS agg_index,
         strftime(to_timestamp({_KS_EPOCH} + (seq - seq % {_KPL_PER_BLOB})
                               * {_KS_IVL_MS} // 1000),
                  '%Y-%m-%dT%H:%M:%SZ') AS agg_pk,
         count(*) AS n_members
  FROM g GROUP BY 1, 2, 3
),
routed AS (
  SELECT ('0x' || substr(md5(agg_pk), 1, 8))::BIGINT % {_KPLP_SINK_SHARDS}
           AS sink_shard,
         agg_pk, n_members
  FROM agg
)
SELECT 'shardId-' || lpad(CAST(sink_shard AS VARCHAR), 12, '0') AS sink_shard_id,
       CAST(count(*) AS BIGINT) AS n_agg_records,
       CAST(sum(n_members) AS BIGINT) AS n_user_records,
       CAST(count(DISTINCT agg_pk) AS BIGINT) AS n_distinct_agg_pks
FROM routed GROUP BY 1
"""


@register(
    "kinesis_kpl_produce_roundtrip",
    oracle=_KPL_PRODUCE_SQL,
    doc="K1 + KPL: producer-side aggregation through the put sink — user "
    "records packed 5-per-blob, aggregates routed by md5(partition key) "
    "hash range (the real KPL placement: members ride with the aggregate), "
    "committed via the task-commit manifest, then the committed wire bytes "
    "de-aggregated back; per-sink-shard accounting value-hashes against a "
    "generate_series oracle reproducing the md5 routing",
    tags=("core", "sink", "kinesis"),
)
def kinesis_kpl_produce_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pack shuffles once per source shard; the sink write is
    the task-commit publish protocol (pending -> manifest) with per-record
    md5 routing inside the writer; the read-back + de-aggregation is a
    narrow Arrow map over committed files only. One wire call per
    aggregate instead of per record is exactly why the KPL exists."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.operators.kpl_agg import (
        explode_kpl,
        pack_kpl,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_put import (
        read_committed,
        register_kinesis_put,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    register_kinesis_put(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _KPLP_SHARDS)
        .option("recordsPerShard", _KPLP_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    packed = pack_kpl(raw, max_per_blob=_KPL_PER_BLOB)
    sink_dir = _tf.mkdtemp(prefix="kpl_put_sink_")
    (
        packed.select(
            F.lit("health-check-stream").alias("stream_name"),
            F.col("agg_partition_key").alias("partitionKey"),
            F.col("agg_data").alias("data"),
        )
        .write.format("kinesis_put")
        .mode("append")
        .option("path", sink_dir)
        .option("numShards", _KPLP_SINK_SHARDS)
        .save()
    )
    committed = read_committed(spark, sink_dir).select(
        "shard_id",
        "partition_key",
        F.unbase64("data_b64").alias("data"),
    )
    committed = committed.localCheckpoint(eager=False)  # agg counts AND explode
    agg_counts = committed.groupBy(F.col("shard_id").alias("sink_shard_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_agg_records"),
        F.countDistinct("partition_key").cast("long").alias("n_distinct_agg_pks"),
    )
    exploded = explode_kpl(
        committed,
        pk_col="partition_key",
        data_col="data",
        keep_cols=("shard_id",),
    )
    user_counts = exploded.groupBy(F.col("shard_id").alias("sink_shard_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_user_records")
    )
    return agg_counts.join(user_counts, "sink_shard_id").select(
        "sink_shard_id", "n_agg_records", "n_user_records", "n_distinct_agg_pks"
    )


# ---------------------------------------------------------------------------
# Shard-throughput audit: Kinesis' published per-shard write limits are
# 1000 records/s and 1 MiB/s — the capacity-planning numbers every real
# producer sizes against (and the reason resharding exists). The sim feed
# is driven fast (intervalMs=50 => 20 rec/s/shard) and audited per
# (shard, second) against both limits; per-shard peaks and throttle-second
# counts are pure arithmetic, so the oracle recomputes them exactly.
# ---------------------------------------------------------------------------
_THR_SHARDS = 2
_THR_PER_SHARD = 600
_THR_IVL_MS = 50  # 20 records/s/shard
_THR_REC_LIMIT = 1000
_THR_BYTE_LIMIT = 1 << 20

_THROUGHPUT_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq
  FROM range(0, {_THR_SHARDS}) s, range(0, {_THR_PER_SHARD}) q
),
r AS (
  SELECT shard,
         CAST({_KS_EPOCH} + seq * {_THR_IVL_MS} // 1000 AS BIGINT) AS sec,
         octet_length(encode('{{"currentInstant": "' ||
             strftime(to_timestamp({_KS_EPOCH} + seq * {_THR_IVL_MS} // 1000),
                      '%Y-%m-%dT%H:%M:%SZ') || '"}}'))
           + octet_length(encode(
             strftime(to_timestamp({_KS_EPOCH} + seq * {_THR_IVL_MS} // 1000),
                      '%Y-%m-%dT%H:%M:%SZ'))) AS bytes
  FROM g
),
persec AS (
  SELECT shard, sec, CAST(count(*) AS BIGINT) AS n, CAST(sum(bytes) AS BIGINT) AS b
  FROM r GROUP BY shard, sec
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST(count(*) AS BIGINT) AS n_active_seconds,
       CAST(max(n) AS BIGINT) AS peak_records_per_s,
       CAST(max(b) AS BIGINT) AS peak_bytes_per_s,
       CAST(sum(CASE WHEN n > {_THR_REC_LIMIT}
                       OR b > {_THR_BYTE_LIMIT} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_throttled_seconds,
       CAST(1000000 * max(n) // {_THR_REC_LIMIT} AS BIGINT)
         AS peak_record_util_ppm,
       CAST(1000000 * max(b) // {_THR_BYTE_LIMIT} AS BIGINT)
         AS peak_byte_util_ppm
FROM persec GROUP BY shard
"""


@register(
    "shard_throughput_audit",
    oracle=_THROUGHPUT_SQL,
    doc="Kinesis capacity audit: per-(shard, second) record and byte rates "
    "against the published 1000 rec/s / 1 MiB/s shard limits — peaks, "
    "throttle-second counts, and utilization ppm; the sizing signal that "
    "drives resharding decisions (shard_reshard_routing is the act)",
    tags=("core", "source", "kinesis"),
)
def shard_throughput_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow projection (record bytes = payload + key,
    the PutRecord accounting) into a per-(shard, second) aggregation with
    map-side partials, then a per-shard rollup — bounded by shard count.
    The audit is exactly what CloudWatch's WriteProvisionedThroughput
    metrics report; here it is derived from the wire itself."""
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _THR_SHARDS)
        .option("recordsPerShard", _THR_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _THR_IVL_MS)
        .load()
    )
    persec = (
        raw.select(
            "shard_id",
            F.col("approximate_arrival_ts").cast("long").alias("sec"),
            (
                F.octet_length("data")
                + F.octet_length(F.encode("partition_key", "UTF-8"))
            ).alias("bytes"),
        )
        .groupBy("shard_id", "sec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("bytes").cast("long").alias("b"),
        )
    )
    return persec.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_seconds"),
        F.max("n").alias("peak_records_per_s"),
        F.max("b").alias("peak_bytes_per_s"),
        F.sum(
            (
                (F.col("n") > _THR_REC_LIMIT) | (F.col("b") > _THR_BYTE_LIMIT)
            ).cast("int")
        )
        .cast("long")
        .alias("n_throttled_seconds"),
        F.expr(f"CAST(1000000 * max(n) div {_THR_REC_LIMIT} AS BIGINT)").alias(
            "peak_record_util_ppm"
        ),
        F.expr(f"CAST(1000000 * max(b) div {_THR_BYTE_LIMIT} AS BIGINT)").alias(
            "peak_byte_util_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Consumer iterator age: the infrastructure-side lag metric
# (GetRecords.IteratorAgeMilliseconds) — the payload lag the reference
# alarms on (HealthCheckSinceSeconds) tells you the DATA is stale; iterator
# age tells you the CONSUMER is behind. Simulated consumer checkpoints
# (each shard processed through a different fraction of its backlog) are
# compared against the latest arrivals: age = now - arrival(next unread),
# backlog = records past the checkpoint. Pure arithmetic on the sim wire,
# exactly reproduced by the oracle.
# ---------------------------------------------------------------------------
_ITER_SHARDS = 4
_ITER_PER_SHARD = 250

_ITER_AGE_SQL = f"""
WITH ckpt AS (
  SELECT s.range AS shard,
         -- shard k has processed through 50 + 50*k records (all < 250)
         CAST(50 + 50 * s.range AS BIGINT) AS processed
  FROM range(0, {_ITER_SHARDS}) s
),
latest AS (
  SELECT CAST({_KS_EPOCH} + ({_ITER_PER_SHARD} - 1) * {_KS_IVL_MS} // 1000
              AS BIGINT) AS now_s
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       processed AS n_processed,
       CAST({_ITER_PER_SHARD} - processed AS BIGINT) AS n_backlog,
       CAST((now_s - ({_KS_EPOCH} + processed * {_KS_IVL_MS} // 1000)) * 1000
            AS BIGINT) AS iterator_age_ms,
       CAST({_ITER_PER_SHARD} - processed AS BIGINT) * 1000
         >= CAST(60000 AS BIGINT) // {_KS_IVL_MS} AS behind,
       (now_s - ({_KS_EPOCH} + processed * {_KS_IVL_MS} // 1000)) * 1000
         > 3600000 AS age_alarm_1h
FROM ckpt, latest
"""


@register(
    "consumer_iterator_age",
    oracle=_ITER_AGE_SQL,
    doc="Kinesis ops: per-shard consumer iterator age (the "
    "GetRecords.IteratorAgeMilliseconds signal) — checkpointed offsets vs "
    "the latest arrival give age-in-ms, backlog depth, and the 1-hour age "
    "alarm every production consumer runs; the data-staleness twin of the "
    "reference's HealthCheckSinceSeconds payload lag",
    tags=("core", "source", "kinesis"),
)
def consumer_iterator_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the unread slice is an offset-pruned scan per shard
    (sequence predicate on the sim source's arithmetic wire — on a real
    connector this is exactly the iterator position), aggregated to one
    row per shard; checkpoint and latest sides are both bounded by shard
    count and broadcast."""
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _ITER_SHARDS)
        .option("recordsPerShard", _ITER_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    wire = raw.select(
        "shard_id",
        F.substring("sequence_number", 37, 20).cast("long").alias("seq"),
        F.col("approximate_arrival_ts").cast("long").alias("arrival_s"),
    )
    wire = wire.localCheckpoint(eager=False)  # feeds latest AND backlog legs
    # Simulated consumer checkpoints: shard k processed through 50 + 50k.
    ckpt = wire.select("shard_id").distinct().select(
        "shard_id",
        (
            F.lit(50)
            + 50 * F.substring("shard_id", 9, 12).cast("long")
        ).alias("processed"),
    )
    latest = wire.agg(F.max("arrival_s").alias("now_s"))
    unread = (
        wire.join(F.broadcast(ckpt), "shard_id")
        .filter(F.col("seq") >= F.col("processed"))
        .groupBy("shard_id", "processed")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_backlog"),
            F.min("arrival_s").alias("next_arrival_s"),
        )
    )
    return unread.crossJoin(F.broadcast(latest)).select(
        "shard_id",
        F.col("processed").alias("n_processed"),
        "n_backlog",
        ((F.col("now_s") - F.col("next_arrival_s")) * 1000)
        .cast("long")
        .alias("iterator_age_ms"),
        (
            F.col("n_backlog") * 1000 >= F.expr(f"CAST(60000 AS BIGINT) div {_KS_IVL_MS}")
        ).alias("behind"),
        ((F.col("now_s") - F.col("next_arrival_s")) * 1000 > 3_600_000).alias(
            "age_alarm_1h"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming KPL consumer leg: de-aggregation running INSIDE a live
# Structured Streaming pipeline (mapInPandas on a streaming DF) — a packed
# wire feed file-streamed one file per trigger through explode_kpl and the
# consumer decode. The transform is stateless per kinesis record, so the
# drained row set is micro-batch-slicing independent and the batch twin's
# arithmetic oracle applies verbatim.
# ---------------------------------------------------------------------------
_SKPL_SHARDS = 2
_SKPL_PER_SHARD = 100

_SKPL_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq
  FROM range(0, {_SKPL_SHARDS}) s, range(0, {_SKPL_PER_SHARD}) q
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST(seq // {_KPL_PER_BLOB} AS BIGINT) AS agg_index,
       CAST(seq % {_KPL_PER_BLOB} AS BIGINT) AS subsequence,
       strftime(to_timestamp({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000),
                '%Y-%m-%dT%H:%M:%SZ') AS user_partition_key,
       CAST({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000 AS BIGINT) AS payload_epoch_s,
       CAST(octet_length(encode('{{"currentInstant": "' ||
            strftime(to_timestamp({_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000),
                     '%Y-%m-%dT%H:%M:%SZ') || '"}}')) AS BIGINT) AS payload_len
FROM g
"""


@register(
    "streaming_kpl_consume",
    oracle=_SKPL_SQL,
    doc="S2 streaming + KPL: packed aggregated records file-streamed one "
    "file per trigger through Arrow de-aggregation (mapInPandas on the "
    "streaming DF) and the consumer decode; stateless per kinesis record, "
    "so the batch arithmetic oracle applies to the drained set verbatim",
    tags=("core", "streaming", "source", "kinesis"),
)
def streaming_kpl_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: de-aggregation is a narrow per-batch Arrow map (fan-out
    = records per blob) — no state, no shuffle before the sink; exactly how
    a real KPL-consuming Spark pipeline runs against the kinesis connector."""
    from amazon_kinesis_data_streams_health_check_spark.operators.kpl_agg import (
        explode_kpl,
        pack_kpl,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _SKPL_SHARDS)
        .option("recordsPerShard", _SKPL_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    packed = pack_kpl(raw, max_per_blob=_KPL_PER_BLOB)
    feed_dir = tempfile.mkdtemp(prefix="kpl_feed_")
    packed.repartition(4).write.mode("overwrite").parquet(feed_dir)
    stream = (
        spark.readStream.schema(packed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    exploded = explode_kpl(
        stream,
        pk_col="agg_partition_key",
        data_col="agg_data",
        keep_cols=("shard_id", "agg_index"),
    )
    payload = F.decode("user_data", "UTF-8")
    decoded = exploded.select(
        "shard_id",
        F.col("agg_index").cast("long").alias("agg_index"),
        "subsequence",
        "user_partition_key",
        F.unix_timestamp(
            F.to_timestamp(F.get_json_object(payload, "$.currentInstant"))
        ).alias("payload_epoch_s"),
        F.octet_length("user_data").cast("long").alias("payload_len"),
    )
    return drain_to_memory(decoded, "kpl_consume")


# ---------------------------------------------------------------------------
# W1 trigger cadence, driver-visible: the paced sim source admits EXACTLY
# recordsPerBatch per shard per trigger, so each micro-batch's content is a
# pure function of its batch id regardless of wall-clock timing — the
# foreachBatch drive records (batch, shard) -> (count, seq range) and the
# oracle recomputes the admission schedule arithmetically. Empty triggers
# run no batch (no rows recorded), so the drive is deterministic end to end.
# ---------------------------------------------------------------------------
_CAD_SHARDS = 2
_CAD_PER_SHARD = 100
_CAD_PER_BATCH = 25
_CAD_BATCHES = _CAD_PER_SHARD // _CAD_PER_BATCH

_CADENCE_SQL = f"""
WITH b AS (SELECT unnest(range(0, {_CAD_BATCHES})) AS batch_id),
     s AS (SELECT unnest(range(0, {_CAD_SHARDS})) AS shard)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST({_CAD_PER_BATCH} AS BIGINT) AS n_records,
       CAST(batch_id * {_CAD_PER_BATCH} AS BIGINT) AS min_seq,
       CAST(batch_id * {_CAD_PER_BATCH} + {_CAD_PER_BATCH} - 1 AS BIGINT) AS max_seq
FROM b, s
"""


@register(
    "streaming_trigger_cadence",
    oracle=_CADENCE_SQL,
    doc="W1: trigger cadence driven for real — the paced custom source "
    "admits exactly recordsPerBatch per shard per trigger; the foreachBatch "
    "drive records each micro-batch's per-shard count and sequence range "
    "and the oracle replays the admission schedule arithmetically",
    tags=("core", "streaming", "source"),
)
def streaming_trigger_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the per-batch audit is a per-shard aggregate (bounded
    by shard count — the stream's own parallelism unit); the driver-side
    accumulation is batches x shards rows of metadata, not data. The drive
    itself is the production pacing path (W1): processingTime trigger,
    checkpointed, stopped only after the full backlog has been admitted."""
    import time

    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    stream = (
        spark.readStream.format("kinesis_sim")
        .option("numShards", _CAD_SHARDS)
        .option("recordsPerShard", _CAD_PER_SHARD)
        .option("recordsPerBatch", _CAD_PER_BATCH)
        .option("drain", "false")
        .load()
    )
    seen: list[tuple] = []

    def _audit(df, batch_id: int) -> None:
        rows = (
            df.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min(F.substring("sequence_number", 37, 20).cast("long")).alias("mn"),
                F.max(F.substring("sequence_number", 37, 20).cast("long")).alias("mx"),
            )
            .collect()
        )
        for r in rows:
            seen.append((int(batch_id), r.shard_id, r.n, r.mn, r.mx))

    ckpt = tempfile.mkdtemp(prefix="cadence_ckpt_")
    q = (
        stream.writeStream.foreachBatch(_audit)
        .trigger(processingTime="1 second")
        .option("checkpointLocation", ckpt)
        .start()
    )
    want = _CAD_BATCHES * _CAD_SHARDS
    deadline = time.time() + 240
    try:
        while time.time() < deadline and len(seen) < want:
            time.sleep(0.5)
    finally:
        q.stop()
    if len(seen) != want:  # loud: a hung/partial drive must not hash-pass
        raise RuntimeError(
            f"trigger-cadence drive incomplete: {len(seen)}/{want} audit rows"
        )
    return spark.createDataFrame(
        seen, "batch_id long, shard_id string, n_records long, min_seq long, max_seq long"
    )


# ---------------------------------------------------------------------------
# X2 per-shard ordered delivery, driver-visible: capture the DELIVERY order
# (monotonically_increasing_id before any shuffle — partition-local arrival
# position) and audit it per shard against the sequence numbers: zero
# inversions, zero gaps, full coverage. The oracle states the contract
# arithmetically. A source that delivered a shard's records out of order or
# dropped one would flip the counts and hash-fail.
# ---------------------------------------------------------------------------
_ORD_SHARDS = 4
_ORD_PER_SHARD = 250

_SHARD_ORDER_SQL = f"""
SELECT 'shardId-' || lpad(CAST(s.range AS VARCHAR), 12, '0') AS shard_id,
       CAST({_ORD_PER_SHARD} AS BIGINT) AS n_records,
       CAST(0 AS BIGINT) AS n_inversions,
       CAST(0 AS BIGINT) AS n_seq_gaps,
       CAST(0 AS BIGINT) AS first_seq,
       CAST({_ORD_PER_SHARD} - 1 AS BIGINT) AS last_seq
FROM range(0, {_ORD_SHARDS}) s
"""


@register(
    "shard_order_audit",
    oracle=_SHARD_ORDER_SQL,
    doc="X2: per-shard ordered delivery audited for real — delivery "
    "positions captured per scan partition before any shuffle, then a "
    "per-shard lag audit proves zero inversions (delivery order == "
    "sequence order) and zero sequence gaps; Kinesis' ordering guarantee "
    "as a hashed contract",
    tags=("core", "source", "kinesis"),
)
def shard_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the audit window partitions by shard — bounded per-key
    volume is inherent to Kinesis (a shard caps at 1 MB/s), so the
    per-shard sort is the audit's natural unit at any corpus size; the
    delivery-position capture is a narrow projection on the scan with zero
    shuffle before it."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _ORD_SHARDS)
        .option("recordsPerShard", _ORD_PER_SHARD)
        .load()
    )
    # Delivery order: partition-local arrival position, captured BEFORE any
    # shuffle (monotonically_increasing_id encodes (partition, position)).
    delivered = raw.select(
        "shard_id",
        F.substring("sequence_number", 37, 20).cast("long").alias("seq"),
        F.monotonically_increasing_id().alias("delivery_pos"),
    )
    w = Window.partitionBy("shard_id").orderBy("delivery_pos")
    audited = delivered.select(
        "shard_id",
        "seq",
        F.lag("seq").over(w).alias("prev_seq"),
    )
    return audited.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.sum((F.col("seq") <= F.col("prev_seq")).cast("int"))
        .cast("long")
        .alias("n_inversions"),
        F.sum((F.col("seq") != F.col("prev_seq") + 1).cast("int"))
        .cast("long")
        .alias("n_seq_gaps"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
    )


_KSC_SHARDS = 2
_KSC_PER_SHARD = 200

_KS_CONSUME_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq
  FROM range(0, {_KSC_SHARDS}) s, range(0, {_KSC_PER_SHARD}) q
),
e AS (
  SELECT shard, seq,
         {_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000 AS pay_s,
         {_KS_EPOCH} + seq * {_KS_IVL_MS} // 1000 AS arr_s
  FROM g
)
SELECT lpad(CAST(CAST(shard AS HUGEINT) * 100000000000000000000 + seq AS VARCHAR),
            56, '0') AS sequence_number,
       make_timestamp(CAST(pay_s AS BIGINT) * 1000000) AS ts,
       'health-check-stream' AS stream_name,
       CAST(CAST(arr_s AS BIGINT) - CAST(pay_s AS BIGINT) AS DOUBLE) AS value
FROM e
"""


@register(
    "streaming_kinesis_sim_consume",
    # The transform is stateless (per-record decode), so the drained row SET
    # is micro-batch-slicing independent; the source's records are pure
    # arithmetic — a generate_series oracle checks the whole wire decode.
    oracle=_KS_CONSUME_SQL,
    doc="S2/W1 streaming: custom Python DataSource stream drained with "
    "availableNow through the consumer decode to metric rows (full "
    "value-hash oracle vs a generate_series twin)",
    tags=("core", "streaming", "source"),
)
def streaming_kinesis_sim_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.functions import scalar
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.readStream.format("kinesis_sim")
        .option("numShards", _KSC_SHARDS)
        .option("recordsPerShard", _KSC_PER_SHARD)
        .load()
    )
    # Native-connector decode: binary payload (no base64 on this wire),
    # arrival from epoch seconds — the same P5-P9 column ops as the JSON leg.
    payload = F.decode("data", "UTF-8")
    payload_ts = scalar.parse_instant(F.get_json_object(payload, "$.currentInstant"))
    metrics = raw.select(
        F.col("sequence_number"),
        scalar.truncate_to_second(payload_ts).alias("ts"),
        F.regexp_extract("event_source_arn", r"stream/(.+)$", 1).alias("stream_name"),
        scalar.as_metric_value(
            scalar.lag_seconds(
                payload_ts, scalar.epoch_seconds_to_ts(F.col("approximate_arrival_ts"))
            )
        ).alias("value"),
    )
    return drain_to_memory(metrics, "kinesis_sim_consume")


@register(
    "metrics_sink_roundtrip",
    # Same deterministic drive as streaming_consumer_metrics, but sunk
    # through the real K2 parquet sink (checkpointed append) and read BACK
    # from the sink files — the consumer oracle applies to the round trip.
    oracle=_STREAM_CONSUMER_SQL,
    doc="K2 streaming: consumer metric stream -> checkpointed parquet "
    "metrics sink -> read-back; the sink round trip must preserve every "
    "metric row byte-for-byte (full value-hash oracle)",
    tags=("core", "streaming", "sink"),
)
def metrics_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the K2 sink (the CloudWatch stand-in: one vectorized parquet
    append per micro-batch instead of the reference's per-record
    PutMetricData call) end-to-end: synthesize wire JSON, file-stream it
    through the consumer decode, append to the sink with a checkpoint, then
    read the sink's files back as the result. Checkpointed exactly-once
    delivery under kill/restart is pinned in tests/test_streaming.py."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        write_metrics_sink,
    )

    events = load_table(spark, sf_dir, "events").filter(F.expr(_STREAM_FILTER))
    now_val = events.agg(F.max("ts")).collect()[0][0]
    src_dir = tempfile.mkdtemp(prefix="kinesis_events_sink_")
    synthesize_from_events(events).write.mode("overwrite").json(src_dir)
    metrics = consumer_stream(
        spark,
        src_dir,
        max_files_per_trigger=8,
        event_time_source="coalesce",
        now=F.lit(now_val),
    )
    sink_dir = tempfile.mkdtemp(prefix="metrics_sink_")
    ckpt = tempfile.mkdtemp(prefix="metrics_sink_ckpt_")
    drain(write_metrics_sink(metrics, sink_dir, ckpt), "metrics_sink")
    return spark.read.parquet(sink_dir)


@register(
    "streaming_corpus_quality",
    # Stateless per-document scoring: the drained row SET is micro-batch-
    # slicing independent, so the batch corpus-quality oracle applies
    # verbatim (import, not copy — the two surfaces must stay identical).
    oracle=_QUALITY_SQL,
    doc="E3 streaming: ingest-time corpus quality gating — the per-document "
    "token-stats + quality-score chain run over a document file stream "
    "(availableNow drain, full value-hash oracle vs the batch twin)",
    tags=("ext", "streaming", "text"),
)
def streaming_corpus_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape for training-data ingest: documents are scored AS
    THEY ARRIVE (one codegen'd projection per micro-batch, no state, no
    shuffle), so low-quality docs can be filtered before they ever land in
    the corpus lake. 4 files / maxFilesPerTrigger=1 exercises multi-batch
    draining; the transform chain is the exact batch operator
    (operators/textstats.py), swapped sources only."""
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        with_quality_score,
        with_token_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    stream, _ = replay_feed(spark, _mod_chunks(docs, "doc_id"), "docs_stream_")
    out = with_quality_score(with_token_stats(stream)).select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("long"),
        F.col("n_ws_tokens").cast("long"),
        F.col("n_distinct_tokens").cast("long"),
        F.col("total_token_chars").cast("long"),
        F.col("n_stopword_tokens").cast("long"),
        "ttr",
        "avg_token_len",
        "stopword_ratio",
        "quality_score",
    )
    return drain_to_memory(out, "corpus_quality_stream")


# ---------------------------------------------------------------------------
# Sliding-window trending: OVERLAPPING event-time windows (30 min window,
# 10 min slide) — the one windowing mode the other streaming drives don't
# cover (tumbling: streaming_window_max; session: streaming_user_sessions).
# ---------------------------------------------------------------------------
_TREND_WINDOW_S = 1800
_TREND_SLIDE_S = 600
_TREND_TOP_K = 3

_TRENDING_SQL = f"""
WITH e AS (
  SELECT event_type,
         {_TREND_SLIDE_S} * CAST(floor(epoch(ts) / {_TREND_SLIDE_S}) AS BIGINT) AS b
  FROM events
),
win AS (
  SELECT event_type, b - {_TREND_SLIDE_S} * k.k AS ws
  FROM e, (SELECT unnest(range({_TREND_WINDOW_S // _TREND_SLIDE_S})) AS k) k
),
counts AS (
  SELECT ws, event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM win GROUP BY ws, event_type
),
ranked AS (
  SELECT ws, event_type, n_events,
         row_number() OVER (PARTITION BY ws ORDER BY n_events DESC, event_type)
           AS rnk
  FROM counts
)
SELECT ws AS window_start_s, event_type, n_events, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= {_TREND_TOP_K}
"""


@register(
    "streaming_trending_terms",
    # Complete-mode drain of a bounded backfill => final counts per sliding
    # window; each event lands in exactly window/slide overlapping windows,
    # which the oracle reproduces by generating the k window starts per row.
    oracle=_TRENDING_SQL,
    doc="W3 streaming: sliding-window trending — overlapping 30-min windows "
    "sliding by 10 min over the event stream, top-3 types per window "
    "(availableNow drain + complete-mode sink => full value-hash oracle)",
    tags=("core", "streaming"),
)
def streaming_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streams the events parquet through a sliding ``F.window``
    aggregation. Scale shape: the streaming state is (window x type) counts
    — each arriving event updates window/slide = 3 state rows, constant
    work per event; the post-drain top-k ranks within each window key over
    the |windows| x |types| count table (aggregate-sized, never raw
    events)."""
    from pyspark.sql import Window as W

    counts = stream_table(spark, sf_dir, "events").groupBy(
        F.window(F.col("ts"), f"{_TREND_WINDOW_S} seconds", f"{_TREND_SLIDE_S} seconds").alias("w"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    drained = drain_to_memory(counts, "trending_stream", output_mode="complete")
    ranked = drained.select(
        F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    ).withColumn(
        "rank",
        F.row_number()
        .over(W.partitionBy("window_start_s").orderBy(F.desc("n_events"), "event_type"))
        .cast("long"),
    )
    return ranked.filter(F.col("rank") <= _TREND_TOP_K)


# ---------------------------------------------------------------------------
# Stream-STATIC join: enrich a live stream against a batch-computed profile
# table — the remaining join mode in the streaming suite (stream-stream:
# streaming_delivery_audit; here the dimension is static per the run and
# broadcasts into every micro-batch).
# ---------------------------------------------------------------------------
_ENRICHED_SQL = """
WITH f AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN e.ts >= f.first_ts + INTERVAL 1 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_veteran
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY e.event_type
"""


@register(
    "streaming_enriched_events",
    oracle=_ENRICHED_SQL,
    doc="Streaming stream-static join: each event enriched against the "
    "batch-computed per-user first-seen profile (broadcast into every "
    "micro-batch), counting veteran activity (>1 day after first seen) per "
    "type — availableNow drain, complete-mode sink, full value-hash oracle",
    tags=("core", "streaming"),
)
def streaming_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the profile table is one keyed min-aggregation over the
    batch store, broadcast into the stream (no per-batch shuffle of the
    stream side, no stream-side state for the join); the running aggregate
    keeps |event_type| state rows. The deployment shape for 'enrich ingest
    against yesterday's user table'."""
    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    raw = stream_table(spark, sf_dir, "events")
    enriched = raw.select("ts", "user_id", "event_type").join(
        F.broadcast(profile), "user_id"
    )
    out = enriched.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (F.col("ts") >= F.col("first_ts") + F.expr("INTERVAL 1 DAY")).cast("int")
        )
        .cast("long")
        .alias("n_veteran"),
    )
    return drain_to_memory(out, "enriched_stream", output_mode="complete")


# ---------------------------------------------------------------------------
# Streaming CUSUM: the online twin of the batch cusum_changepoint query.
# The state store carries the closed form's carry pair (prefix sum,
# running min) per side per stream, so the emitted statistic is
# byte-identical to the batch window computation under ANY micro-batch
# slicing — which is why the batch oracle applies verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_cusum",
    # Import, not copy: the streaming fold and the batch closed form must
    # stay semantically identical, so they share one oracle.
    oracle=_CUSUM_SQL,
    doc="Streaming drift detection: applyInPandasWithState two-sided CUSUM "
    "whose state is the closed form's (prefix, running-min) carry pair — "
    "driven over 4 mtime-ordered feed chunks (cross-batch state for real) "
    "and value-hash checked against the batch cusum_changepoint oracle",
    tags=("core", "streaming", "timeseries"),
)
def streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the offline pass (minute rollup + per-stream baseline)
    is the batch query's profile stage; online, the state store holds four
    BIGINTs per stream and each micro-batch folds its periods in O(rows).
    Because the carry pair is mergeable, a backfill replay from any
    checkpoint reproduces the identical statistic — the property that makes
    CUSUM deployable as a continuous query."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.cusum import (
        cusum_stream,
    )

    events = load_table(spark, sf_dir, "events")
    m = (
        events.groupBy(
            F.col("event_type").alias("stream_name"),
            (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60))
            .cast("long")
            .alias("ws"),
        )
        .agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    mu = m.groupBy("stream_name").agg(
        F.expr("sum(x) div count(1)").cast("long").alias("mu_milli"),
        F.expr("(sum(x) div count(1)) div 20").cast("long").alias("slack_milli"),
    )
    feed_rows = m.join(F.broadcast(mu), "stream_name").select(
        "stream_name", "ws", "x", "mu_milli", "slack_milli"
    )
    b = feed_rows.agg(F.min("ws").alias("lo"), F.max("ws").alias("hi")).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])

    # 4 chunks by period range, replayed in order across 4 real
    # micro-batches, exercising the cross-batch carry.
    feed, _ = replay_feed(
        spark, _range_chunks(feed_rows, "ws", lo_s, hi_s), "cusum_feed_"
    )
    return drain_to_memory(cusum_stream(feed), "cusum", output_mode="update")


# ---------------------------------------------------------------------------
# Streaming hysteresis alarm: the Schmitt-trigger state machine online. The
# held state is ONE enum per stream (the last forced transition), so this
# is the smallest possible stateful operator — and because the batch twin
# expresses the hold as last_value IGNORE NULLS, the two are semantically
# identical by construction and share one oracle.
# ---------------------------------------------------------------------------
@register(
    "streaming_hysteresis_alarm",
    # Import, not copy: the streaming hold and the batch window form must
    # stay semantically identical, so they share one oracle.
    oracle=_HYST_SQL,
    doc="Streaming Schmitt-trigger alarm: applyInPandasWithState holding "
    "the last forced transition (raise above HI, clear below LO, hold in "
    "the dead band) — 4 mtime-ordered feed chunks, value-hash checked "
    "against the batch hysteresis_alarm oracle",
    tags=("core", "streaming", "alerting"),
)
def streaming_hysteresis_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: state is one enum per stream — the minimum any alarm
    can carry; each micro-batch folds its periods in O(rows). The batch
    window form and this fold are the same recurrence, which the shared
    oracle enforces forever."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.cusum import (
        hysteresis_stream,
    )

    events = load_table(spark, sf_dir, "events")
    m = (
        events.groupBy(
            F.col("event_type").alias("stream_name"),
            (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60))
            .cast("long")
            .alias("ws"),
        )
        .agg(
            F.max(F.floor(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("x")
        )
        .localCheckpoint(eager=False)
    )
    b = m.agg(F.min("ws").alias("lo"), F.max("ws").alias("hi")).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])

    feed, _ = replay_feed(spark, _range_chunks(m, "ws", lo_s, hi_s), "hyst_feed_")
    return drain_to_memory(hysteresis_stream(feed), "hyst", output_mode="update")


# ---------------------------------------------------------------------------
# Retention-expiry risk: Kinesis deletes records retentionPeriodHours after
# arrival whether or not they were read, so a consumer that is behind AND
# slow loses data silently — the GetRecords read simply skips past the trim
# horizon. Given each shard's checkpoint and a drain rate, every unread
# record has a projected read time (now + queue position / rate) and a hard
# expiry (arrival + retention); records whose read time lands after expiry
# are unrecoverable-at-current-rate. This is the risk calculation behind
# the "IteratorAgeMilliseconds approaching retention" alarm AWS recommends.
# ---------------------------------------------------------------------------
_RET_SHARDS = 4
_RET_PER_SHARD = 500
_RET_IVL_MS = 60_000  # one record per minute per shard => ~8.3h of wire
_RET_HOURS = 6  # retention window under test
_RET_DRAIN_S = 10  # consumer drains one record per 10s per shard

_RET_RISK_SQL = f"""
WITH ckpt AS (
  SELECT s.range AS shard,
         CAST(40 + 90 * s.range AS BIGINT) AS processed
  FROM range(0, {_RET_SHARDS}) s
),
latest AS (
  SELECT CAST({_KS_EPOCH} + ({_RET_PER_SHARD} - 1) * {_RET_IVL_MS} // 1000
              AS BIGINT) AS now_s
),
unread AS (
  SELECT c.shard, c.processed, q.range AS seq,
         l.now_s + (q.range - c.processed) * {_RET_DRAIN_S} AS read_s,
         {_KS_EPOCH} + q.range * {_RET_IVL_MS} // 1000
           + {_RET_HOURS} * 3600 AS expiry_s
  FROM ckpt c, latest l, range(0, {_RET_PER_SHARD}) q
  WHERE q.range >= c.processed
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST(count(*) AS BIGINT) AS n_backlog,
       CAST(sum(CASE WHEN read_s > expiry_s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_risk,
       CAST(1000000 * sum(CASE WHEN read_s > expiry_s THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS at_risk_ppm,
       CAST(min(CASE WHEN read_s <= expiry_s THEN seq END) AS BIGINT)
         AS first_safe_seq,
       CAST(min(expiry_s - read_s) AS BIGINT) AS min_headroom_s
FROM unread GROUP BY shard
"""


@register(
    "retention_expiry_risk",
    oracle=_RET_RISK_SQL,
    doc="Kinesis ops: retention-expiry risk — unread records whose "
    "projected read time (checkpoint position drained at the consumer's "
    "rate) lands after their hard expiry (arrival + retention hours) are "
    "unrecoverable-at-current-rate; per-shard at-risk counts, ppm, first "
    "safe sequence, and worst-case headroom seconds — the calculation "
    "behind the iterator-age-vs-retention alarm",
    tags=("core", "source", "kinesis"),
)
def retention_expiry_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one offset-pruned scan of the sim wire (sequence
    predicate against the broadcast checkpoint table — the iterator
    position on a real connector), a narrow projected-read-time/expiry
    arithmetic map, and a per-shard aggregation bounded by shard count;
    the checkpoint and now sides are both broadcast.

    Reference parity: the reference's alarm watches data staleness
    (HealthCheckSinceSeconds); this is the operational complement every
    production stream needs — staleness extrapolated against the
    retention deadline (Kinesis trim-horizon semantics: delivery loss is
    silent)."""
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _RET_SHARDS)
        .option("recordsPerShard", _RET_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _RET_IVL_MS)
        .load()
    )
    wire = raw.select(
        "shard_id",
        F.substring("sequence_number", 37, 20).cast("long").alias("seq"),
        F.col("approximate_arrival_ts").cast("long").alias("arrival_s"),
    )
    wire = wire.localCheckpoint(eager=False)  # feeds the latest AND unread legs
    ckpt = wire.select("shard_id").distinct().select(
        "shard_id",
        (
            F.lit(40)
            + 90 * F.substring("shard_id", 9, 12).cast("long")
        ).alias("processed"),
    )
    latest = wire.agg(F.max("arrival_s").alias("now_s"))
    unread = (
        wire.join(F.broadcast(ckpt), "shard_id")
        .filter(F.col("seq") >= F.col("processed"))
        .crossJoin(F.broadcast(latest))
        .select(
            "shard_id",
            "seq",
            (
                F.col("now_s")
                + (F.col("seq") - F.col("processed")) * _RET_DRAIN_S
            ).alias("read_s"),
            (F.col("arrival_s") + _RET_HOURS * 3600).alias("expiry_s"),
        )
    )
    at_risk = (F.col("read_s") > F.col("expiry_s")).cast("int")
    return unread.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_backlog"),
        F.sum(at_risk).cast("long").alias("n_at_risk"),
        F.expr(
            "CAST(1000000 * sum(CAST(read_s > expiry_s AS INT)) div count(1) AS BIGINT)"
        ).alias("at_risk_ppm"),
        F.min(F.when(F.col("read_s") <= F.col("expiry_s"), F.col("seq")))
        .cast("long")
        .alias("first_safe_seq"),
        F.min(F.col("expiry_s") - F.col("read_s")).cast("long").alias("min_headroom_s"),
    )


# ---------------------------------------------------------------------------
# Enhanced-fan-out consumer divergence: with EFO every registered consumer
# gets its own iterator, so one stream serves several applications that
# fall behind independently — and the operational question becomes not
# "is THE consumer behind" but "which consumer is behind, and how far do
# they diverge". Three named consumers with independent checkpoints are
# audited per shard: each gets its own iterator age and backlog, and every
# row carries the shard's cross-consumer age spread and slowest-consumer
# flag — the per-application twin of consumer_iterator_age.
# ---------------------------------------------------------------------------
_FAN_SHARDS = 4
_FAN_PER_SHARD = 250
_FAN_CONSUMERS = ("analytics", "archive", "alerting")

_FANOUT_LAG_SQL = f"""
WITH ckpt AS (
  SELECT s.range AS shard, c.range AS cidx,
         CASE c.range WHEN 0 THEN 'analytics'
                      WHEN 1 THEN 'archive'
                      ELSE 'alerting' END AS consumer_name,
         CAST(20 + 30 * s.range + 50 * c.range AS BIGINT) AS processed
  FROM range(0, {_FAN_SHARDS}) s, range(0, 3) c
),
latest AS (
  SELECT CAST({_KS_EPOCH} + ({_FAN_PER_SHARD} - 1) * {_KS_IVL_MS} // 1000
              AS BIGINT) AS now_s
),
per AS (
  SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
         consumer_name, processed,
         CAST({_FAN_PER_SHARD} - processed AS BIGINT) AS n_backlog,
         CAST((l.now_s - ({_KS_EPOCH} + processed * {_KS_IVL_MS} // 1000))
              * 1000 AS BIGINT) AS iterator_age_ms
  FROM ckpt, latest l
)
SELECT shard_id, consumer_name, n_backlog, iterator_age_ms,
       iterator_age_ms = max(iterator_age_ms) OVER (PARTITION BY shard_id)
         AS is_slowest,
       CAST(max(iterator_age_ms) OVER (PARTITION BY shard_id)
            - min(iterator_age_ms) OVER (PARTITION BY shard_id) AS BIGINT)
         AS shard_age_spread_ms
FROM per
"""


@register(
    "consumer_fanout_lag",
    oracle=_FANOUT_LAG_SQL,
    doc="Kinesis ops: enhanced-fan-out consumer divergence — three named "
    "EFO consumers with independent checkpoints audited per shard (own "
    "iterator age and backlog each), plus the shard's cross-consumer age "
    "spread and slowest-consumer flag; the per-application view one stream "
    "serving several applications needs",
    tags=("core", "source", "kinesis"),
)
def consumer_fanout_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one offset-pruned scan of the sim wire joined against a
    broadcast (shard x consumer) checkpoint dimension — the unread slice is
    computed once per consumer iterator exactly as EFO bills it — then a
    per-(shard, consumer) aggregation and a window partitioned by shard_id
    (bounded by the registered-consumer limit, 20 per stream).

    Reference parity: the reference polls with one shared-throughput ESM
    consumer (KinesisHealthCheckStack.java:149-162); EFO is the production
    path when the same health stream feeds multiple applications."""
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )
    from pyspark.sql import Window

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _FAN_SHARDS)
        .option("recordsPerShard", _FAN_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    wire = raw.select(
        "shard_id",
        F.substring("sequence_number", 37, 20).cast("long").alias("seq"),
        F.col("approximate_arrival_ts").cast("long").alias("arrival_s"),
    )
    wire = wire.localCheckpoint(eager=False)  # feeds latest AND per-consumer legs
    consumers = spark.createDataFrame(
        [(i, name) for i, name in enumerate(_FAN_CONSUMERS)],
        "cidx int, consumer_name string",
    )
    ckpt = (
        wire.select("shard_id")
        .distinct()
        .crossJoin(F.broadcast(consumers))
        .select(
            "shard_id",
            "consumer_name",
            (
                F.lit(20)
                + 30 * F.substring("shard_id", 9, 12).cast("long")
                + 50 * F.col("cidx")
            ).alias("processed"),
        )
    )
    latest = wire.agg(F.max("arrival_s").alias("now_s"))
    per = (
        wire.join(F.broadcast(ckpt), "shard_id")
        .filter(F.col("seq") >= F.col("processed"))
        .groupBy("shard_id", "consumer_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_backlog"),
            F.min("arrival_s").alias("next_arrival_s"),
        )
        .crossJoin(F.broadcast(latest))
        .select(
            "shard_id",
            "consumer_name",
            "n_backlog",
            ((F.col("now_s") - F.col("next_arrival_s")) * 1000)
            .cast("long")
            .alias("iterator_age_ms"),
        )
    )
    w = Window.partitionBy("shard_id")
    return per.select(
        "shard_id",
        "consumer_name",
        "n_backlog",
        "iterator_age_ms",
        (F.col("iterator_age_ms") == F.max("iterator_age_ms").over(w)).alias(
            "is_slowest"
        ),
        (F.max("iterator_age_ms").over(w) - F.min("iterator_age_ms").over(w))
        .cast("long")
        .alias("shard_age_spread_ms"),
    )


# ---------------------------------------------------------------------------
# End-to-end consumer pipeline: the whole production path in one query —
# KPL-packed wire with deterministically corrupted blobs (last byte
# truncated => md5 trailer fails), KCL de-aggregation (corrupt blobs pass
# through as single raw records, KCL semantics), decode with DLQ
# classification (passthrough bytes are not JSON => routed out), metric
# rows from the survivors, and the flagship's missing-period grid over the
# decoded timeline (each corrupted blob erases its members' minutes, which
# the grid anti-join surfaces as breaching periods). Every count is
# arithmetic on (shard, seq), so one generate_series oracle value-hashes
# the entire pack -> corrupt -> deagg -> DLQ -> decode -> grid path,
# conservation boolean included.
# ---------------------------------------------------------------------------
_E2E_SHARDS = 2
_E2E_PER_SHARD = 240  # 4 hours of one-per-minute wire
_E2E_CORRUPT_MOD = 7  # blobs with agg_index % 7 == 3 get truncated

_E2E_PIPELINE_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq,
         (q.range // {_KPL_PER_BLOB}) % {_E2E_CORRUPT_MOD} = 3 AS corrupt
  FROM range(0, {_E2E_SHARDS}) s, range(0, {_E2E_PER_SHARD}) q
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST(count(DISTINCT seq // {_KPL_PER_BLOB}) AS BIGINT) AS n_blobs,
       CAST(count(DISTINCT CASE WHEN corrupt THEN seq // {_KPL_PER_BLOB} END)
            AS BIGINT) AS n_dlq_blobs,
       CAST(sum(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_decoded,
       -- good records sit one per minute, so the dense grid between the
       -- surviving min/max arrivals has this closed form
       CAST(max(CASE WHEN NOT corrupt THEN seq END)
            - min(CASE WHEN NOT corrupt THEN seq END) + 1 AS BIGINT)
         AS n_periods,
       CAST(max(CASE WHEN NOT corrupt THEN seq END)
            - min(CASE WHEN NOT corrupt THEN seq END) + 1
            - sum(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_periods,
       sum(CASE WHEN NOT corrupt THEN 1 ELSE 0 END)
         + {_KPL_PER_BLOB} * count(DISTINCT CASE WHEN corrupt
                                            THEN seq // {_KPL_PER_BLOB} END)
         = count(*) AS conservation
FROM g GROUP BY shard
"""


@register(
    "kinesis_e2e_pipeline",
    oracle=_E2E_PIPELINE_SQL,
    doc="End-to-end consumer path in one query: KPL-packed wire with "
    "deterministically corrupted blobs -> KCL de-aggregation (corrupt "
    "blobs pass through raw) -> DLQ classification at decode -> metric "
    "rows -> flagship missing-period grid (each lost blob erases its "
    "members' minutes, surfaced as breaching periods by the anti-join); "
    "per-shard blob/DLQ/decode/period counts with a conservation boolean "
    "in the value hash",
    tags=("core", "source", "kinesis"),
)
def kinesis_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pack shuffles once on the shard key (the stream's own
    parallelism unit); corruption, de-aggregation and decode are narrow
    (Arrow mapInPandas + codegen'd column ops); the grid anti-join runs on
    per-shard minute keys with the bounded grid side broadcast. All audit
    legs are shard-bounded aggregates joined broadcast.

    The corruption is real bytes-level damage (last byte of the blob
    removed, so the KPL md5 trailer fails exactly as a torn PutRecord
    would), not a flag — the KCL passthrough and the DLQ gate are
    genuinely exercised."""
    from amazon_kinesis_data_streams_health_check_spark.operators.kpl_agg import (
        explode_kpl,
        pack_kpl,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _E2E_SHARDS)
        .option("recordsPerShard", _E2E_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    packed = pack_kpl(raw, max_per_blob=_KPL_PER_BLOB)
    corrupted = packed.withColumn(
        "agg_data",
        F.when(
            F.col("agg_index") % _E2E_CORRUPT_MOD == 3,
            F.expr("substring(agg_data, 1, octet_length(agg_data) - 1)"),
        ).otherwise(F.col("agg_data")),
    )
    corrupted = corrupted.localCheckpoint(eager=False)  # blob count + explode
    n_blobs = corrupted.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blobs")
    )
    exploded = explode_kpl(
        corrupted,
        pk_col="agg_partition_key",
        data_col="agg_data",
        keep_cols=("shard_id",),
    )
    from amazon_kinesis_data_streams_health_check_spark.functions.scalar import (
        utf8_decode,
    )

    decoded = exploded.select(
        "shard_id",
        F.unix_timestamp(
            F.to_timestamp(
                F.get_json_object(
                    utf8_decode(F.col("user_data")), "$.currentInstant"
                )
            )
        ).alias("sec"),
    )
    decoded = decoded.localCheckpoint(eager=False)  # feeds DLQ AND good legs
    dlq = decoded.filter(F.col("sec").isNull()).groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dlq_blobs")
    )
    good = decoded.filter(F.col("sec").isNotNull())
    good = good.localCheckpoint(eager=False)  # feeds bounds, counts AND anti-join
    bounds = good.groupBy("shard_id").agg(
        F.min("sec").alias("lo_s"),
        F.max("sec").alias("hi_s"),
        F.count(F.lit(1)).cast("long").alias("n_decoded"),
    )
    bounds = bounds.localCheckpoint(eager=False)  # feeds grid AND the rollup
    grid = bounds.select(
        "shard_id",
        F.explode(F.expr("sequence(lo_s, hi_s, 60)")).alias("sec"),
    )
    # F3 at scale: aggregate the wire to per-(shard, period) FIRST (bounded
    # by the grid, not by rows), then anti-join two grid-bounded relations
    # with the present side broadcast.
    present = good.groupBy("shard_id", "sec").agg(F.count(F.lit(1)).alias("n"))
    missing = (
        grid.join(F.broadcast(present), ["shard_id", "sec"], "left_anti")
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_missing_periods"))
    )
    return (
        n_blobs.join(F.broadcast(dlq), "shard_id")
        .join(F.broadcast(bounds), "shard_id")
        .join(F.broadcast(missing), "shard_id")
        .select(
            "shard_id",
            "n_blobs",
            "n_dlq_blobs",
            "n_decoded",
            (F.expr("(hi_s - lo_s) div 60") + 1).cast("long").alias("n_periods"),
            "n_missing_periods",
            (
                F.col("n_decoded") + _KPL_PER_BLOB * F.col("n_dlq_blobs")
                == F.lit(_E2E_PER_SHARD)
            ).alias("conservation"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming schema-drift monitor: the drift monitor run the way production
# would actually run it — the (stream, key, half) presence counts are
# maintained LIVE by a complete-mode streaming aggregation over the event
# file stream (payload synthesis + json_object_keys explode per
# micro-batch), and the classification step reads the maintained counts
# after the drain. Totals come from the always-present schemaVersion key,
# so one streaming aggregation suffices (Spark allows a single agg per
# streaming query). Counting is micro-batch-slicing independent, so the
# batch monitor's SQL is the oracle verbatim.
# ---------------------------------------------------------------------------


@register(
    "streaming_schema_drift",
    oracle=None,  # set just below to the batch twin's SQL (import cycle)
    doc="Streaming drive of json_schema_drift: live complete-mode "
    "maintenance of the (stream, key, half) presence counts over the event "
    "file stream, classification on the drained bounded relation; batch "
    "monitor SQL as the value-hash oracle verbatim",
    tags=("ext", "streaming", "dq"),
)
def streaming_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape: the expensive, unbounded part (key histogram over
    the wire) is the live streaming aggregation — state is bounded by
    streams x keys x 2, not rows — while the cutover date is static config
    (stream-static broadcast join) and the added/dropped/rate-shift
    classification is a bounded post-drain read, exactly how a drift
    dashboard polls a continuously-maintained count table."""
    from amazon_kinesis_data_streams_health_check_spark.plans.healthcheck_queries import (
        _DRIFT_CUT_DAYS,
        drift_classify,
        drift_wire_payload,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "user_id", "event_id"
    )
    stream, _ = replay_feed(spark, _mod_chunks(events, "event_id"), "drift_stream_")
    bounds = events.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    early = F.expr(f"ts < d0 + INTERVAL {_DRIFT_CUT_DAYS} DAY")
    wire = stream.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        early.alias("early"),
        drift_wire_payload(early).alias("payload"),
    )
    keyed = (
        wire.select(
            "event_type",
            "early",
            F.explode(F.json_object_keys("payload")).alias("key"),
        )
        .groupBy("event_type", "key", "early")
        .agg(F.count(F.lit(1)).cast("long").alias("n_key"))
    )
    counts = drain_to_memory(
        keyed, "schema_drift_counts", output_mode="complete"
    ).localCheckpoint(eager=False)  # MemoryPlan self-joins trip dedup otherwise
    totals = counts.filter(F.col("key") == "schemaVersion").select(
        "event_type", "early", F.col("n_key").alias("n")
    )
    return drift_classify(spark, counts, totals)


# Same drift semantics => same oracle; assigned post-definition because the
# batch SQL lives in healthcheck_queries and importing it at module top
# would be cyclic.
def _attach_drift_oracle() -> None:
    from amazon_kinesis_data_streams_health_check_spark.plans.healthcheck_queries import (
        _SCHEMA_DRIFT_SQL,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans import registry

    q = registry._REGISTRY["streaming_schema_drift"]
    registry._REGISTRY["streaming_schema_drift"] = registry.Query(
        name=q.name, builder=q.builder, oracle=_SCHEMA_DRIFT_SQL, doc=q.doc, tags=q.tags
    )


_attach_drift_oracle()


# ---------------------------------------------------------------------------
# Streaming SCD2 enrichment: join each event to the dimension VERSION that
# was valid at the event's own time — the temporal twin of the equi-join
# enrichment above (streaming_enriched_events). The dimension is a
# three-version SCD2 tier table (validity windows cut at day 10 and 20 of
# the stream); the stream-static join is broadcast with the validity range
# as a residual predicate, so the stream side keeps zero join state and
# late/backfilled events still pick their historically-correct version —
# the property an equi-join against "current tier" silently violates.
# ---------------------------------------------------------------------------
_SCD2E_TIERS = ("basic", "plus", "pro")

_SCD2_ENRICH_SQL = f"""
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS d0 FROM events
),
dim AS (
  SELECT u.user_id, v.range AS ver,
         b.d0 + INTERVAL (10 * v.range) DAY AS valid_from,
         CASE WHEN v.range < 2 THEN b.d0 + INTERVAL (10 * (v.range + 1)) DAY
              ELSE TIMESTAMP '9999-01-01' END AS valid_to,
         CASE (u.user_id + v.range) % 3 WHEN 0 THEN 'basic'
              WHEN 1 THEN 'plus' ELSE 'pro' END AS tier
  FROM (SELECT DISTINCT user_id FROM events) u, range(0, 3) v, bounds b
)
SELECT d.tier, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(e.value * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_value_micros
FROM events e
JOIN dim d ON d.user_id = e.user_id
          AND e.ts >= d.valid_from AND e.ts < d.valid_to
GROUP BY d.tier, e.event_type
"""


@register(
    "streaming_scd2_enrich",
    oracle=_SCD2_ENRICH_SQL,
    doc="Streaming temporal enrichment: each event joins the SCD2 dimension "
    "version valid AT ITS OWN event time (broadcast stream-static join "
    "with a validity-range residual, zero stream-side join state) — the "
    "historically-correct enrichment an equi-join against 'current tier' "
    "silently gets wrong; per-(tier, type) rollup, batch SQL value-hash "
    "oracle",
    tags=("ext", "streaming"),
)
def streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the SCD2 dimension (|users| x 3 versions) broadcasts;
    the stream side never shuffles for the join and keeps only the final
    |tiers| x |types| aggregation state. Every event matches exactly one
    version by construction (contiguous windows, open-ended tail) — the
    conservation the batch twin's equality with the plain event count
    proves in the hash."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    versions = spark.createDataFrame([(0,), (1,), (2,)], "ver int")
    dim = (
        events.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(versions))
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.expr("d0 + make_interval(0, 0, 0, 10 * ver)").alias("valid_from"),
            F.when(
                F.col("ver") < 2,
                F.expr("d0 + make_interval(0, 0, 0, 10 * (ver + 1))"),
            )
            .otherwise(F.lit("9999-01-01").cast("timestamp"))
            .alias("valid_to"),
            F.element_at(
                F.array(*[F.lit(t) for t in _SCD2E_TIERS]),
                (F.pmod(F.col("user_id") + F.col("ver"), F.lit(3)) + 1).cast("int"),
            ).alias("tier"),
        )
    )
    raw = stream_table(spark, sf_dir, "events")
    enriched = raw.select("ts", "user_id", "event_type", "value").join(
        F.broadcast(dim),
        on=[
            raw["user_id"] == dim["user_id"],
            F.col("ts") >= F.col("valid_from"),
            F.col("ts") < F.col("valid_to"),
        ],
    )
    out = enriched.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 1e6).cast("long"))
        .cast("long")
        .alias("sum_value_micros"),
    )
    return drain_to_memory(out, "scd2_enrich_stream", output_mode="complete")


# ---------------------------------------------------------------------------
# Streaming token-bucket rate limiting: the online form of the batch
# rate_limit_audit fold. State per user is the bucket's unpacked fields;
# each micro-batch folds its events with the identical integer recurrence,
# so after the last batch the cumulative counters are byte-identical to
# the batch packed-BIGINT fold however the feed is sliced — the batch SQL
# is the oracle verbatim. The drive chunks events into four time-ordered
# files (per-key arrival order, the order a per-shard Kinesis consumer
# actually sees for a partition key) to exercise the cross-batch carry.
# ---------------------------------------------------------------------------
from amazon_kinesis_data_streams_health_check_spark.plans.healthcheck_queries import (  # noqa: E402
    _RL_CAP,
    _RL_REFILL_S,
    _RL_SQL,
    _RL_T,
)


@register(
    "streaming_rate_limit",
    oracle=_RL_SQL,
    doc="Streaming token-bucket rate limiting: per-user bucket state folded "
    "across four real micro-batches (applyInPandasWithState, update mode), "
    "cumulative counters byte-identical to the batch packed-BIGINT fold "
    "under any slicing — batch rate_limit_audit SQL as the value-hash "
    "oracle; dashboard read = latest row per user",
    tags=("ext", "streaming", "ops"),
)
def streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: state is O(users) x four BIGINTs in the state store;
    each micro-batch shuffles once on user_id into the stateful fold
    (Arrow-batched, no per-row Python round trips); emission is one
    cumulative row per touched user per batch and the final read is a
    max-of-struct per user — no window, no sort."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.rate_limit import (
        rate_limit_stream,
    )

    rows = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"CAST(ts AS LONG) * {_RL_T} + event_id").alias("s"),
    )
    b = rows.agg(F.min("s").alias("lo"), F.max("s").alias("hi")).collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    step = (hi - lo) // 4 + 1
    chunks = [
        rows.filter((F.col("s") >= lo + i * step) & (F.col("s") < lo + (i + 1) * step))
        for i in range(4)
    ]
    feed, _ = replay_feed(spark, chunks, "rl_feed_")
    drained = drain_to_memory(
        rate_limit_stream(feed, _RL_CAP, _RL_REFILL_S),
        "rate_limit",
        output_mode="update",
    )
    # Latest cumulative row per user: n_events is strictly increasing, so
    # max-of-struct picks the final batch's emission.
    final = drained.groupBy("user_id").agg(
        F.max(
            F.struct("n_events", "n_throttled", "throttled_ppm", "tokens_left")
        ).alias("m")
    )
    return final.select(
        "user_id",
        F.col("m.n_events").alias("n_events"),
        F.col("m.n_throttled").alias("n_throttled"),
        F.col("m.throttled_ppm").alias("throttled_ppm"),
        F.col("m.tokens_left").alias("tokens_left"),
    )


# ---------------------------------------------------------------------------
# Watermark late-data audit: the one watermark behavior none of the other
# drives pins — rows arriving AFTER their window's state was finalized are
# dropped, and append mode emits a window exactly once when the watermark
# passes its end. The drive replays a 3-batch feed (on-time minutes 0-9,
# then 10-19, then late replays of minutes 0-2 carrying a poison value
# alongside on-time minutes 20-24). Batch mechanics, probed and pinned:
# the watermark used in batch N derives from batch N-1's max event time,
# so the late rows meet evicted state and are dropped (batch-2
# numRowsDroppedByWatermark = rows-per-late-replay), no emitted window
# contains the poison value, and the final (empty) batch flushes windows
# up to max_event - delay. Every rule is integer arithmetic => full oracle.
# ---------------------------------------------------------------------------
_LATE_EPOCH = _KS_EPOCH
_LATE_DELAY_S = 120
_LATE_MINUTES = 25  # on-time minutes 0..24 across three files
_LATE_REPLAYED = 3  # minutes 0..2 replayed late with the poison value
_LATE_STREAMS = ("alpha", "beta")

_LATE_AUDIT_SQL = f"""
WITH ontime AS (
  SELECT s.name AS stream_name,
         {_LATE_EPOCH} + m.range * 60 + 30 AS sec,
         100 + m.range AS x
  FROM (SELECT unnest(['alpha', 'beta']) AS name) s,
       range(0, {_LATE_MINUTES}) m
),
-- late replays of minutes 0..2 arrive in batch 3; their windows end at or
-- below the batch-3 watermark (max event of batches 1-2 minus the delay),
-- so ALL of them drop: the accepted set is exactly the on-time rows.
wm AS (
  SELECT max(sec) - {_LATE_DELAY_S} AS final_wm FROM ontime
),
w AS (
  SELECT stream_name, (sec // 60) * 60 AS window_start_s,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(x) AS BIGINT) AS sum_x
  FROM ontime GROUP BY stream_name, (sec // 60) * 60
)
SELECT w.stream_name, CAST(w.window_start_s AS BIGINT) AS window_start_s,
       w.n_rows, w.sum_x
FROM w, wm WHERE w.window_start_s + 60 <= wm.final_wm
"""


@register(
    "streaming_late_data_audit",
    oracle=_LATE_AUDIT_SQL,
    doc="W5 streaming: watermark late-data semantics pinned end-to-end — "
    "late replays carrying a poison value meet evicted window state and "
    "drop (loud-checked against numRowsDroppedByWatermark), no emitted "
    "window is contaminated, and append mode emits exactly the windows "
    "whose end the final watermark passed; full arithmetic oracle",
    tags=("core", "streaming"),
)
def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: a watermarked tumbling aggregation — state bounded by
    (streams x in-flight windows), late rows filtered before the shuffle.
    The drive's determinism hangs on the probed microbatch rule that batch
    N's watermark derives from batch N-1's data; the poison value and the
    dropped-row counter turn any future regression of that rule into a
    loud hash/assert failure rather than silent acceptance."""
    e = _LATE_EPOCH
    files = [
        [(s, e + m * 60 + 30, 100 + m) for s in _LATE_STREAMS for m in range(10)],
        [(s, e + m * 60 + 30, 100 + m) for s in _LATE_STREAMS for m in range(10, 20)],
        [(s, e + m * 60 + 30, 999) for s in _LATE_STREAMS for m in range(_LATE_REPLAYED)]
        + [(s, e + m * 60 + 30, 100 + m) for s in _LATE_STREAMS for m in range(20, _LATE_MINUTES)],
    ]
    feed, _ = replay_feed(
        spark,
        [spark.createDataFrame(rows, "stream_name string, sec long, x long") for rows in files],
        "late_feed_",
    )
    agg = (
        feed.withColumn("ts", F.timestamp_seconds("sec"))
        .withWatermark("ts", f"{_LATE_DELAY_S} seconds")
        .groupBy("stream_name", F.window("ts", "60 seconds"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("x").cast("long").alias("sum_x"),
        )
        .select(
            "stream_name",
            F.col("window.start").cast("long").alias("window_start_s"),
            "n_rows",
            "sum_x",
        )
    )
    q = drain(agg.writeStream.format("memory").outputMode("append"), "late_audit")
    # Loud audit: the late replays must be dropped BY THE WATERMARK, not
    # silently absorbed — a regression of the batch/watermark rule would
    # otherwise only show as a value change.
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q.recentProgress
    )
    expected = len(_LATE_STREAMS) * _LATE_REPLAYED
    if dropped != expected:
        raise RuntimeError(
            f"watermark dropped {dropped} rows, expected {expected} — "
            "microbatch watermark semantics changed"
        )
    return spark.table(q.name)


# ---------------------------------------------------------------------------
# KCL subsequence checkpoint resume: with KPL aggregation, a checkpoint is a
# (sequenceNumber, subSequenceNumber) PAIR — a consumer that crashes mid-blob
# must resume AT the checkpointed kinesis record (AT_SEQUENCE_NUMBER),
# de-aggregate it again, and drop exactly the user records at or before the
# checkpointed subsequence; naive sequence-only resume either re-processes
# the whole blob (duplicates) or skips its tail (loss). The sim feed is
# packed 5-per-blob, each shard gets a distinct mid-blob checkpoint, and the
# resumed set is audited for conservation (processed-before + resumed =
# total) and contiguity (no gap, no duplicate) — both booleans ride in the
# value hash. Every derived column is pure arithmetic on the deterministic
# packing, so a generate_series oracle value-hashes the whole resume path.
# ---------------------------------------------------------------------------
_KCL_BLOBS = _KS_PER_SHARD // _KPL_PER_BLOB

_KCL_CKPT_SQL = f"""
WITH cp AS (
  SELECT s.range AS shard,
         20 + s.range * 5 AS cp_blob,
         s.range % {_KPL_PER_BLOB} AS cp_sub
  FROM range(0, {_KS_SHARDS}) s
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       CAST(cp_blob AS BIGINT) AS cp_blob,
       CAST(cp_sub AS BIGINT) AS cp_sub,
       CAST({_KCL_BLOBS} - cp_blob AS BIGINT) AS n_blobs_refetched,
       CAST(({_KCL_BLOBS} - cp_blob) * {_KPL_PER_BLOB} AS BIGINT)
         AS n_user_refetched,
       CAST(cp_sub + 1 AS BIGINT) AS n_skipped,
       CAST(({_KCL_BLOBS} - cp_blob) * {_KPL_PER_BLOB} - cp_sub - 1 AS BIGINT)
         AS n_resumed,
       CAST(cp_blob * {_KPL_PER_BLOB} + cp_sub + 1 AS BIGINT)
         AS first_resumed_seq,
       CAST({_KS_PER_SHARD} - 1 AS BIGINT) AS last_resumed_seq,
       TRUE AS conservation_exact,
       TRUE AS contiguous_no_dup
FROM cp
"""


@register(
    "kcl_subsequence_checkpoint",
    oracle=_KCL_CKPT_SQL,
    doc="W2/S2: KCL (sequence, subSequence) checkpoint resume over KPL "
    "aggregated records — restart re-fetches the checkpointed blob "
    "(AT_SEQUENCE_NUMBER), de-aggregates, and drops user records at or "
    "before the checkpointed subsequence; per-shard conservation and "
    "contiguity audits ride in the value hash",
    tags=("ext", "streaming", "kinesis"),
)
def kcl_subsequence_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: resume touches only blobs at or after the checkpoint —
    the refetch filter lands on the PACKED relation (one row per blob)
    before any de-aggregation fan-out, and the per-shard checkpoint table
    (one row per shard, the KCL lease table's size) broadcasts onto it.
    The audit is a per-shard aggregate over resumed rows; nothing wider
    than the stream's own shard parallelism ever shuffles."""
    from amazon_kinesis_data_streams_health_check_spark.operators.kpl_agg import (
        explode_kpl,
        pack_kpl,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _KS_SHARDS)
        .option("recordsPerShard", _KS_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _KS_IVL_MS)
        .load()
    )
    packed = pack_kpl(raw, max_per_blob=_KPL_PER_BLOB)
    ckpts = spark.createDataFrame(
        [
            (f"shardId-{s:012d}", 20 + s * 5, s % _KPL_PER_BLOB)
            for s in range(_KS_SHARDS)
        ],
        "shard_id string, cp_blob long, cp_sub long",
    )
    refetched = packed.join(F.broadcast(ckpts), "shard_id").filter(
        F.col("agg_index") >= F.col("cp_blob")
    )
    refetched = refetched.localCheckpoint(eager=False)  # feeds audit + resume
    exploded = explode_kpl(
        refetched,
        pk_col="agg_partition_key",
        data_col="agg_data",
        keep_cols=("shard_id", "agg_index", "cp_blob", "cp_sub"),
    )
    resumed = exploded.filter(
        ~((F.col("agg_index") == F.col("cp_blob"))
          & (F.col("subsequence") <= F.col("cp_sub")))
    ).select(
        "shard_id",
        "cp_blob",
        "cp_sub",
        (
            F.unix_timestamp(
                F.to_timestamp(
                    F.get_json_object(
                        F.decode("user_data", "UTF-8"), "$.currentInstant"
                    )
                )
            )
            - F.lit(_KS_EPOCH)
        ).cast("long").alias("seq_s"),
    )
    refetch_stats = refetched.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blobs_refetched"),
        F.sum("n_user_records").cast("long").alias("n_user_refetched"),
    )
    per_shard = resumed.groupBy("shard_id", "cp_blob", "cp_sub").agg(
        F.count(F.lit(1)).cast("long").alias("n_resumed"),
        F.countDistinct("seq_s").cast("long").alias("n_distinct"),
        F.expr(f"min(seq_s) div {_KS_IVL_MS // 1000}")
        .cast("long")
        .alias("first_resumed_seq"),
        F.expr(f"max(seq_s) div {_KS_IVL_MS // 1000}")
        .cast("long")
        .alias("last_resumed_seq"),
    )
    return per_shard.join(F.broadcast(refetch_stats), "shard_id").select(
        "shard_id",
        "cp_blob",
        "cp_sub",
        "n_blobs_refetched",
        "n_user_refetched",
        (F.col("cp_sub") + 1).cast("long").alias("n_skipped"),
        "n_resumed",
        "first_resumed_seq",
        "last_resumed_seq",
        (
            (F.col("cp_blob") * _KPL_PER_BLOB + F.col("cp_sub") + 1)
            + F.col("n_resumed")
            == F.lit(_KS_PER_SHARD)
        ).alias("conservation_exact"),
        (
            (F.col("n_distinct") == F.col("n_resumed"))
            & (
                F.col("last_resumed_seq") - F.col("first_resumed_seq") + 1
                == F.col("n_resumed")
            )
            & (
                F.col("first_resumed_seq")
                == F.col("cp_blob") * _KPL_PER_BLOB + F.col("cp_sub") + 1
            )
        ).alias("contiguous_no_dup"),
    )


# ---------------------------------------------------------------------------
# Multi-stream fan-in: one consumer application draining TWO Kinesis streams
# through a single unioned pipeline — the multi-stream KCL topology (one
# lease table, many streams) none of the single-source drives exercise. The
# streams deliberately disagree on shape (2x120 at 60 s vs 3x80 at 30 s) so
# the per-(stream, shard) consumption audit proves records kept their
# origin identity through the union: counts, sequence ranges, and the
# stream's own cadence-derived time span, all pure arithmetic.
# ---------------------------------------------------------------------------
_FANIN_A = {"stream": "stream-a", "shards": 2, "per_shard": 120, "ivl_ms": 60_000}
_FANIN_B = {"stream": "stream-b", "shards": 3, "per_shard": 80, "ivl_ms": 30_000}

_FANIN_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{c["stream"]}' AS stream_name,
       'shardId-' || lpad(CAST(s.range AS VARCHAR), 12, '0') AS shard_id,
       CAST({c["per_shard"]} AS BIGINT) AS n_records,
       CAST(0 AS BIGINT) AS first_seq,
       CAST({c["per_shard"]} - 1 AS BIGINT) AS last_seq,
       CAST(({c["per_shard"]} - 1) * {c["ivl_ms"]} // 1000 AS BIGINT) AS span_s
FROM range(0, {c["shards"]}) s"""
    for c in (_FANIN_A, _FANIN_B)
)


@register(
    "streaming_fanin_union",
    oracle=_FANIN_SQL,
    doc="S2 streaming: multi-stream fan-in — two sim streams with different "
    "shard counts and cadences drained through ONE unioned consumer "
    "pipeline (the multi-stream KCL topology); per-(stream, shard) counts, "
    "sequence ranges, and cadence-derived spans prove origin identity "
    "survives the union",
    tags=("ext", "streaming", "source", "kinesis"),
)
def streaming_fanin_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the union is plan-level (both sources keep their own
    partition parallelism — one task per shard per trigger); the decode is
    narrow on the unioned stream, and the audit aggregation keys on the
    bounded (stream, shard) dimension with map-side partials. Adding a
    third stream is another union leg, not a rewrite."""
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)

    def leg(c: dict) -> DataFrame:
        return (
            spark.readStream.format("kinesis_sim")
            .option("numShards", c["shards"])
            .option("recordsPerShard", c["per_shard"])
            .option("startEpochS", _KS_EPOCH)
            .option("intervalMs", c["ivl_ms"])
            .option("stream", c["stream"])
            .load()
        )

    unioned = leg(_FANIN_A).unionByName(leg(_FANIN_B))
    decoded = unioned.select(
        F.regexp_extract("event_source_arn", r"stream/(.+)$", 1).alias(
            "stream_name"
        ),
        "shard_id",
        F.substring("sequence_number", 37, 20).cast("long").alias("seq"),
        F.unix_timestamp(
            F.to_timestamp(
                F.get_json_object(F.decode("data", "UTF-8"), "$.currentInstant")
            )
        ).alias("pay_s"),
    )
    drained = drain_to_memory(decoded, "fanin_union")
    return drained.groupBy("stream_name", "shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.min("seq").cast("long").alias("first_seq"),
        F.max("seq").cast("long").alias("last_seq"),
        (F.max("pay_s") - F.min("pay_s")).cast("long").alias("span_s"),
    )


# ---------------------------------------------------------------------------
# Streaming lease rebalance: the KCL control plane run the way production
# runs it — worker heartbeats arrive as a stream; each micro-batch's live
# set is reconciled against the PERSISTED lease table. Batch 0 heartbeats
# all 4 workers (initial md5 takes, no moves); batch 1 is missing w3, so
# its leases expire and the sticky rebalance reassigns them. The final
# persisted table is exactly the batch planner's output, so the batch SQL
# (_LEASE_SQL) is the oracle verbatim.
# ---------------------------------------------------------------------------
from amazon_kinesis_data_streams_health_check_spark.plans.healthcheck_queries import (  # noqa: E402
    _LEASE_SQL,
    _lease_universe,
    plan_lease_rebalance,
)


@register(
    "streaming_lease_rebalance",
    oracle=_LEASE_SQL,
    doc="KCL control plane as a stream: heartbeat micro-batches reconcile "
    "the persisted lease table (batch 0: full fleet takes; batch 1: w3 "
    "missing => orphan + sticky rebalance); the final state equals the "
    "batch planner's output, so the batch SQL is the oracle verbatim — "
    "loud raise on partial drives or a wrong first-batch fleet",
    tags=("ext", "streaming", "kinesis", "ops"),
)
def streaming_lease_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per micro-batch the work is a lease-table-sized plan
    (bounded by shard count) against a broadcast live set — heartbeats are
    metadata, so this control-plane stream costs nothing next to the data
    plane it steers. State lives in versioned parquet (write-new-then-read
    — never overwriting the version being read), exactly how a lease table
    would be swapped in object storage."""
    import glob as _glob

    fleets = [["w0", "w1", "w2", "w3"], ["w0", "w1", "w2"]]
    stream, _ = replay_feed(
        spark,
        [spark.createDataFrame([(w,) for w in f], "worker string") for f in fleets],
        "hb_feed_",
    )

    state_root = tempfile.mkdtemp(prefix="lease_state_")
    seen: list[list[str]] = []

    def _reconcile(batch_df, batch_id: int) -> None:
        fleet = sorted(r.worker for r in batch_df.select("worker").distinct().collect())
        seen.append(fleet)
        versions = sorted(_glob.glob(os.path.join(state_root, "v*")))
        if not versions:
            if len(fleet) != 4:
                raise RuntimeError(f"first heartbeat batch saw fleet {fleet}")
            # initial takes: the md5 assignment, no rebalance audit yet
            state = _lease_universe(spark, sf_dir).select(
                "shard_id",
                "shard",
                "n_records",
                F.col("old_owner").alias("owner"),
            )
        else:
            named = spark.read.parquet(versions[-1]).select(
                "shard_id", "shard", "n_records", F.col("owner").alias("old_owner")
            )
            live = batch_df.select("worker").distinct()
            state = plan_lease_rebalance(named, live, len(fleet)).withColumn(
                "owner", F.col("new_owner")
            )
        state.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id}")
        )

    drain(stream.writeStream.foreachBatch(_reconcile), "lease_rebalance")
    if seen != fleets:
        raise RuntimeError(f"lease drive incomplete or misordered: {seen}")
    final = sorted(_glob.glob(os.path.join(state_root, "v*")))[-1]
    return spark.read.parquet(final).select(
        "shard_id",
        "n_records",
        "old_owner",
        "new_owner",
        "was_orphan",
        "moved",
        "new_owner_leases",
    )


# ---------------------------------------------------------------------------
# Streaming EWMA control chart: the online twin of ewma_control_chart. The
# state store holds the last 12 per-minute counts per stream — exactly what
# the batch window's lag(x, 1..12) reads — so the drive's output is
# byte-identical to the batch chart however the feed is sliced. The oracle
# is the batch SQL re-keyed to epoch seconds (the streaming feed's period
# key); every weight is a power of two, every statistic an exact BIGINT.
# ---------------------------------------------------------------------------
_SEWMA_H = 12
_SEWMA_TERMS = " + ".join(
    f"coalesce(lag(x, {k}) OVER w * {1 << (_SEWMA_H - k)}, 0)"
    for k in range(1, _SEWMA_H + 1)
)
_SEWMA_MASS = " + ".join(
    f"CASE WHEN lag(x, {k}) OVER w IS NOT NULL THEN {1 << (_SEWMA_H - k)} ELSE 0 END"
    for k in range(1, _SEWMA_H + 1)
)

_SEWMA_SQL = f"""
WITH metrics AS (
  SELECT event_type AS stream_name,
         CAST(floor(epoch(date_trunc('minute', ts))) AS BIGINT) AS ws,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
ew AS (
  SELECT stream_name, ws, x,
         CAST({_SEWMA_TERMS} AS BIGINT) AS ewma_num,
         CAST({_SEWMA_MASS} AS BIGINT) AS weight_sum
  FROM metrics
  WINDOW w AS (PARTITION BY stream_name ORDER BY ws)
)
SELECT stream_name, ws AS window_start_s, x AS n_arrivals, ewma_num,
       weight_sum,
       weight_sum < {(1 << _SEWMA_H) - 1} AS warmup,
       weight_sum = {(1 << _SEWMA_H) - 1}
         AND x * weight_sum > 2 * ewma_num AS spike_high,
       weight_sum = {(1 << _SEWMA_H) - 1}
         AND 2 * x * weight_sum < ewma_num AS spike_low
FROM ew
"""


@register(
    "streaming_ewma_chart",
    # Import, not copy: the streaming fold and the batch lag window must
    # stay semantically identical, so they share the chart's arithmetic.
    oracle=_SEWMA_SQL,
    doc="Streaming EWMA control chart: applyInPandasWithState holding the "
    "last 12 per-minute counts per stream (exactly the batch window's lag "
    "reads) — driven over 4 mtime-ordered feed chunks (cross-batch state "
    "for real) and value-hash checked against the batch chart re-keyed to "
    "epoch seconds",
    tags=("core", "streaming", "timeseries"),
)
def streaming_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the minute rollup is the batch chart's profile stage;
    online, the state store holds 12 BIGINTs per stream and each
    micro-batch folds its periods in O(rows * H). Because the carry is the
    literal lag history, a backfill replay from any checkpoint reproduces
    the identical chart — what makes the EWMA deployable continuously."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.ewma import (
        ewma_stream,
    )

    events = load_table(spark, sf_dir, "events")
    feed_rows = (
        events.groupBy(
            F.col("event_type").alias("stream_name"),
            (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60))
            .cast("long")
            .alias("ws"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    b = feed_rows.agg(F.min("ws").alias("lo"), F.max("ws").alias("hi")).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])

    feed, _ = replay_feed(
        spark, _range_chunks(feed_rows, "ws", lo_s, hi_s), "ewma_feed_"
    )
    return drain_to_memory(ewma_stream(feed), "ewma", output_mode="update")


# ---------------------------------------------------------------------------
# Streaming control-chart ensemble: the online twin of
# control_chart_ensemble. ONE state object serves all three charts — the
# last 59 counts (Shewhart's trailing window; the EWMA lags are its tail)
# plus the CUSUM carry pair — so the drive's output is byte-identical to
# the batch vote however the feed is sliced. The batch SQL is the oracle
# verbatim; the (mu, slack) baseline is learned offline exactly as in the
# standalone streaming CUSUM.
# ---------------------------------------------------------------------------
from amazon_kinesis_data_streams_health_check_spark.plans.healthcheck_queries import (  # noqa: E402
    _ENSEMBLE_SQL,
)


@register(
    "streaming_control_ensemble",
    # Import, not copy: the streaming fold and the batch windows must stay
    # semantically identical, so they share one oracle.
    oracle=_ENSEMBLE_SQL,
    doc="Streaming control-chart ensemble: applyInPandasWithState holding "
    "59 counts + the CUSUM carry pair per stream (one state object serves "
    "Shewhart, CUSUM and EWMA) — driven over 4 mtime-ordered feed chunks "
    "and value-hash checked against the batch 2-of-3 vote verbatim",
    tags=("core", "streaming", "timeseries"),
)
def streaming_control_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the minute rollup + per-stream baseline are the batch
    query's profile stage; online, the state store holds 61 BIGINTs per
    stream and each micro-batch folds its periods in O(rows * 60). Because
    the state is exactly what the batch windows read, a backfill replay
    from any checkpoint reproduces the identical page decisions."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.ensemble import (
        ensemble_stream,
    )

    events = load_table(spark, sf_dir, "events")
    m = (
        events.groupBy(
            F.col("event_type").alias("stream_name"),
            (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60))
            .cast("long")
            .alias("ws"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    mu = m.groupBy("stream_name").agg(
        F.expr("CAST(sum(x) div count(1) AS BIGINT)").alias("mu_milli"),
        F.expr(
            "greatest(1, CAST(floor(sqrt(CAST(sum(x) div count(1) AS DOUBLE)))"
            " AS BIGINT))"
        ).alias("slack_milli"),
    )
    feed_rows = m.join(F.broadcast(mu), "stream_name").select(
        "stream_name", "ws", "x", "mu_milli", "slack_milli"
    )
    b = feed_rows.agg(F.min("ws").alias("lo"), F.max("ws").alias("hi")).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])

    feed, _ = replay_feed(
        spark, _range_chunks(feed_rows, "ws", lo_s, hi_s), "ens_feed_"
    )
    return drain_to_memory(ensemble_stream(feed), "ens", output_mode="update")


# ---------------------------------------------------------------------------
# Shard-iterator semantics: GetShardIterator's five iterator types decide
# exactly which retained records a new consumer reads. The reference pins
# StartingPosition.LATEST for its ESM (KinesisHealthCheckStack.java:160);
# this query audits ALL five types against one sim feed — including the
# retention clamp (an AT_TIMESTAMP before the trim horizon starts at the
# horizon, records past retention are unreadable by ANY iterator).
# ---------------------------------------------------------------------------
_ITSEM_SHARDS = 3
_ITSEM_PER_SHARD = 240
_ITSEM_IVL_MS = 60_000
#: now = arrival of the newest record (the instant the iterators are cut).
_ITSEM_NOW = _KS_EPOCH + (_ITSEM_PER_SHARD - 1) * 60
#: 150-minute retention => trim horizon sits mid-feed (clamp is exercised).
_ITSEM_TRIM = _ITSEM_NOW - 150 * 60
#: LATEST iterator was created at minute 180 of the feed.
_ITSEM_OPEN = _KS_EPOCH + 180 * 60
#: AT_TIMESTAMP aimed at minute 60 — BEFORE the trim horizon (clamps).
_ITSEM_AT_TS = _KS_EPOCH + 60 * 60
#: per-shard pinned sequence index for AT/AFTER_SEQUENCE_NUMBER.
_ITSEM_PIN = 200

_ITSEM_SQL = f"""
WITH g AS (
  SELECT s.range AS shard, q.range AS seq
  FROM range(0, {_ITSEM_SHARDS}) s, range(0, {_ITSEM_PER_SHARD}) q
),
r AS (
  SELECT shard, seq,
         CAST({_KS_EPOCH} + seq * {_ITSEM_IVL_MS} // 1000 AS BIGINT) AS arrival,
         lpad(CAST(CAST(shard AS HUGEINT) * 100000000000000000000 + seq
                   AS VARCHAR), 56, '0') AS sequence_number
  FROM g
),
t(iterator_type) AS (
  VALUES ('TRIM_HORIZON'), ('LATEST'), ('AT_TIMESTAMP'),
         ('AT_SEQUENCE_NUMBER'), ('AFTER_SEQUENCE_NUMBER')
),
flags AS (
  SELECT r.*, t.iterator_type,
         arrival >= {_ITSEM_TRIM} AND CASE t.iterator_type
           WHEN 'TRIM_HORIZON' THEN TRUE
           WHEN 'LATEST' THEN arrival > {_ITSEM_OPEN}
           WHEN 'AT_TIMESTAMP' THEN arrival >= {_ITSEM_AT_TS}
           WHEN 'AT_SEQUENCE_NUMBER' THEN seq >= {_ITSEM_PIN}
           ELSE seq > {_ITSEM_PIN}
         END AS readable
  FROM r, t
)
SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
       iterator_type,
       CAST(count(*) AS BIGINT) AS n_readable,
       min(sequence_number) AS first_seq,
       max(sequence_number) AS last_seq,
       CAST(min(arrival) AS BIGINT) AS first_arrival_s,
       CAST(max(arrival) AS BIGINT) AS last_arrival_s,
       CAST(max(arrival) - min(arrival) AS BIGINT) AS readable_span_s,
       min(arrival) = {_ITSEM_TRIM} AS starts_at_trim
FROM flags WHERE readable
GROUP BY 1, 2
"""


@register(
    "shard_iterator_semantics",
    oracle=_ITSEM_SQL,
    doc="Kinesis GetShardIterator semantics: per-(shard, iterator type) the "
    "exact readable record set for TRIM_HORIZON / LATEST / AT_TIMESTAMP / "
    "AT_SEQUENCE_NUMBER / AFTER_SEQUENCE_NUMBER, with the retention clamp "
    "(AT_TIMESTAMP aimed before the trim horizon starts AT the horizon, and "
    "no iterator reads expired records). The reference consumer pins "
    "StartingPosition.LATEST (KinesisHealthCheckStack.java:160); this is "
    "the full decision table that choice came from",
    tags=("core", "source", "kinesis"),
)
def shard_iterator_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE scan of the wire, a narrow per-record projection
    (seq index = the numeric tail of the 56-digit sequence string), a
    5-way stack melt, and one keyed aggregation bounded by
    shards x iterator-types. No join, no window, no global sort."""
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(spark)
    raw = (
        spark.read.format("kinesis_sim")
        .option("numShards", _ITSEM_SHARDS)
        .option("recordsPerShard", _ITSEM_PER_SHARD)
        .option("startEpochS", _KS_EPOCH)
        .option("intervalMs", _ITSEM_IVL_MS)
        .load()
    )
    r = raw.select(
        "shard_id",
        "sequence_number",
        F.col("approximate_arrival_ts").cast("long").alias("arrival"),
        # shard * 10^20 + seq: the last 20 digits are exactly the seq index.
        F.expr("CAST(right(sequence_number, 20) AS BIGINT)").alias("seq"),
    )
    flags = r.select(
        "shard_id",
        "sequence_number",
        "arrival",
        F.expr(
            f"""stack(5,
              'TRIM_HORIZON', arrival >= {_ITSEM_TRIM},
              'LATEST', arrival >= {_ITSEM_TRIM} AND arrival > {_ITSEM_OPEN},
              'AT_TIMESTAMP',
                arrival >= {_ITSEM_TRIM} AND arrival >= {_ITSEM_AT_TS},
              'AT_SEQUENCE_NUMBER',
                arrival >= {_ITSEM_TRIM} AND seq >= {_ITSEM_PIN},
              'AFTER_SEQUENCE_NUMBER',
                arrival >= {_ITSEM_TRIM} AND seq > {_ITSEM_PIN}
            ) AS (iterator_type, readable)"""
        ),
    ).filter("readable")
    return flags.groupBy("shard_id", "iterator_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_readable"),
        F.min("sequence_number").alias("first_seq"),
        F.max("sequence_number").alias("last_seq"),
        F.min("arrival").alias("first_arrival_s"),
        F.max("arrival").alias("last_arrival_s"),
        (F.max("arrival") - F.min("arrival")).alias("readable_span_s"),
        (F.min("arrival") == F.lit(_ITSEM_TRIM)).alias("starts_at_trim"),
    )


# ---------------------------------------------------------------------------
# Producer retry duplication: Kinesis PutRecord is at-least-once — a
# timed-out-but-successful put that the producer retries lands TWICE, with
# distinct sequence numbers but identical payload and partition key (the
# documented "Kinesis does not remove duplicates" caveat; the reference's
# single un-retried PutRecord at HealthCheckProducerHandler.java:51-56
# sidesteps it). A deterministic 1/16 of the feed is retried; the
# idempotent-consumer audit (payload-key dedup, keep first delivery)
# must account for every duplicate exactly.
# ---------------------------------------------------------------------------
_RETRY_DEDUP_SQL = """
WITH base AS (
  SELECT event_type AS stream_name,
         CAST(event_id AS VARCHAR) AS pk,
         octet_length(encode(props)) AS bytes,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 16 = 0 AS retried
  FROM events
),
attempts AS (
  SELECT stream_name, pk, bytes, retried,
         unnest(range(1, CASE WHEN retried THEN 3 ELSE 2 END)) AS attempt
  FROM base
)
SELECT stream_name,
       CAST(count(*) AS BIGINT) AS n_put_attempts,
       CAST(count(DISTINCT pk) AS BIGINT) AS n_unique_records,
       CAST(count(*) - count(DISTINCT pk) AS BIGINT) AS n_duplicates,
       CAST(1000000 * (count(*) - count(DISTINCT pk)) // count(*) AS BIGINT)
         AS dup_ppm,
       CAST(count(DISTINCT CASE WHEN retried THEN pk END) AS BIGINT)
         AS n_retried,
       CAST(COALESCE(sum(CASE WHEN attempt = 2 THEN bytes END), 0) AS BIGINT)
         AS wasted_bytes,
       CAST(1000000 * COALESCE(sum(CASE WHEN attempt = 2 THEN bytes END), 0)
            // sum(bytes) AS BIGINT) AS waste_ppm,
       count(*) - count(DISTINCT pk)
         = count(DISTINCT CASE WHEN retried THEN pk END) AS retry_accounting_ok
FROM attempts GROUP BY 1
"""


@register(
    "producer_retry_dedup",
    oracle=_RETRY_DEDUP_SQL,
    doc="Kinesis at-least-once producer: timed-out-but-successful puts are "
    "retried and land twice (distinct sequence numbers, identical payload "
    "and key — the documented PutRecord duplication caveat the reference's "
    "single un-retried put sidesteps, HealthCheckProducerHandler.java:51-56)."
    " A deterministic 1/16 retry injection is audited by the idempotent "
    "consumer: duplicate counts, dup/waste ppm, and an exact accounting "
    "boolean (every duplicate traces to exactly one retried record)",
    tags=("core", "kinesis", "sink"),
)
def producer_retry_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow scan, an explode bounded at 2 rows per
    record, and a single per-stream aggregation. count(DISTINCT pk) makes
    Spark pre-group on (stream, pk) — the dedup itself IS the map-side
    partial aggregation, no second pass."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        F.col("event_type").alias("stream_name"),
        F.col("event_id").cast("string").alias("pk"),
        F.octet_length("props").alias("bytes"),
        (
            F.expr(
                "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
                " AS BIGINT) % 16"
            )
            == 0
        ).alias("retried"),
    )
    attempts = base.select(
        "*",
        F.explode(
            F.expr("sequence(1, CASE WHEN retried THEN 2 ELSE 1 END)")
        ).alias("attempt"),
    )
    return attempts.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_put_attempts"),
        F.countDistinct("pk").cast("long").alias("n_unique_records"),
        (F.count(F.lit(1)) - F.countDistinct("pk"))
        .cast("long")
        .alias("n_duplicates"),
        F.expr(
            "CAST(1000000 * (count(1) - count(DISTINCT pk)) div count(1)"
            " AS BIGINT)"
        ).alias("dup_ppm"),
        F.countDistinct(F.expr("CASE WHEN retried THEN pk END"))
        .cast("long")
        .alias("n_retried"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN attempt = 2 THEN bytes END")), F.lit(0)
        )
        .cast("long")
        .alias("wasted_bytes"),
        F.expr(
            "CAST(1000000 * COALESCE(sum(CASE WHEN attempt = 2 THEN bytes END), 0)"
            " div sum(bytes) AS BIGINT)"
        ).alias("waste_ppm"),
        (
            (F.count(F.lit(1)) - F.countDistinct("pk"))
            == F.countDistinct(F.expr("CASE WHEN retried THEN pk END"))
        ).alias("retry_accounting_ok"),
    )


# ---------------------------------------------------------------------------
# Streaming forecast residuals: the forecast_backtest evaluated ONLINE —
# the state store carries each stream's last 3 daily counts (exactly what
# the batch lag window reads), so the per-day forecasts are byte-identical
# to the batch computation under any micro-batch slicing, and the batch
# query's SQL is the oracle verbatim after the same loss rollup.
# ---------------------------------------------------------------------------
@register(
    "streaming_forecast_residuals",
    oracle=_BACKTEST_SQL,  # the batch twin's SQL verbatim
    doc="One-step forecast monitoring run the way production runs it: the "
    "densified daily series feeds 4 mtime-ordered chunks through "
    "applyInPandasWithState holding the 3-day history per stream; the "
    "drained per-day forecasts roll up to the identical (stream, model) "
    "loss table, so forecast_backtest's SQL value-hashes the whole drive",
    tags=("ext", "streaming", "timeseries"),
)
def streaming_forecast_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: state is O(streams * 3); the feed is the bounded daily
    grid, not raw events; the post-drain rollup and winner window run on
    (streams x 3 models) rows."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.streaming.forecast import (
        forecast_stream,
    )

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("stream_name"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    daily = daily.localCheckpoint(eager=False)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    keys = daily.select("stream_name").distinct()
    dense = (
        keys.crossJoin(F.broadcast(bounds))
        .select(
            "stream_name",
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
        )
        .join(daily, ["stream_name", "d"], "left")
        .select(
            "stream_name",
            F.unix_timestamp("d").alias("d_s"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    b = dense.agg(F.min("d_s").alias("lo"), F.max("d_s").alias("hi")).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])
    feed, _ = replay_feed(
        spark, _range_chunks(dense, "d_s", lo_s, hi_s, unit=86400), "fcst_feed_"
    )
    drained = drain_to_memory(
        forecast_stream(feed), "fcst", output_mode="update"
    )
    forecasts = drained.select(
        "stream_name",
        "y",
        F.expr(
            "stack(3, 'naive', f_naive, 'ma3', f_ma3, 'drift', f_drift)"
            " AS (model, f)"
        ),
    )
    scored = forecasts.groupBy("stream_name", "model").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_days"),
        F.expr("CAST(sum(abs(1000 * y - f)) div count(1) AS BIGINT)").alias(
            "mae_milli"
        ),
        F.expr(
            "CAST(sum(CASE WHEN 1000 * y >= f THEN 900 * (1000 * y - f) div 1000"
            " ELSE 100 * (f - 1000 * y) div 1000 END) div count(1) AS BIGINT)"
        ).alias("pinball90_milli"),
    )
    wb = Window.partitionBy("stream_name")
    return scored.select(
        "stream_name",
        "model",
        "n_eval_days",
        "mae_milli",
        "pinball90_milli",
        (F.col("mae_milli") == F.min("mae_milli").over(wb)).alias("best_mae"),
    )



# ---------------------------------------------------------------------------
# Streaming SPRT: the sequential test run the way it is meant to be run —
# online, deciding at the crossing minute. The state store holds each
# stream's running (llr, trials) prefix; the drained walk reduces to the
# batch decision table, so sprt_sequential_test's SQL is the oracle
# verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_sprt_monitor",
    oracle=_SPRT_SQL,  # the batch twin's SQL verbatim
    doc="Wald SPRT driven online: per-minute trial rollups feed 4 "
    "mtime-ordered chunks through applyInPandasWithState carrying the "
    "running millibit LLR and trial count per stream; the drained walk "
    "reduces to first-crossing decisions identical to the batch "
    "sequential test, whose SQL value-hashes the whole drive",
    tags=("ext", "streaming", "stats", "alerting"),
)
def streaming_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: state is two BIGINTs per stream; the feed is the
    bounded minute rollup; post-drain reduction is an arg-min over the
    crossing rows plus a stream-keyed join of tiny tables."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.sprt import (
        SPRT_BOUND_MBITS,
        sprt_stream,
    )

    events = load_table(spark, sf_dir, "events")
    trials = (
        events.groupBy(
            F.col("event_type").alias("stream_name"),
            F.date_trunc("minute", F.col("ts")).alias("m"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("value") > 50).cast("int")).cast("long").alias("s"),
        )
        .select("stream_name", F.unix_timestamp("m").alias("m_s"), "n", "s")
        .localCheckpoint(eager=False)
    )
    b = trials.agg(F.min("m_s").alias("lo"), F.max("m_s").alias("hi")).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])
    feed, _ = replay_feed(
        spark, _range_chunks(trials, "m_s", lo_s, hi_s), "sprt_feed_"
    )
    walk = drain_to_memory(sprt_stream(feed), "sprt", output_mode="update")
    walk = walk.localCheckpoint(eager=False)  # totals AND crossings
    crossings = walk.filter(F.expr(f"abs(llr_mbits) >= {SPRT_BOUND_MBITS}"))
    first_cross = crossings.groupBy("stream_name").agg(
        F.min("m_s").alias("decision_m_s"),
        F.expr("min_by(llr_mbits, m_s)").alias("llr_at_decision"),
        F.expr("min_by(cum_trials, m_s)").alias("trials_at_decision"),
    )
    totals = walk.groupBy("stream_name").agg(
        F.max("cum_trials").cast("long").alias("n_trials"),
        F.count(F.lit(1)).cast("long").alias("n_minutes"),
    )
    joined = totals.join(
        F.broadcast(first_cross.withColumnRenamed("stream_name", "fc_stream")),
        F.col("stream_name") == F.col("fc_stream"),
        "left",
    )
    return joined.select(
        "stream_name",
        "n_trials",
        "n_minutes",
        F.expr(
            "CASE WHEN fc_stream IS NULL THEN 'continue'"
            f" WHEN llr_at_decision >= {SPRT_BOUND_MBITS} THEN 'accept_h1'"
            " ELSE 'accept_h0' END"
        ).alias("decision"),
        F.col("decision_m_s").cast("long").alias("decision_minute_s"),
        F.col("trials_at_decision").cast("long").alias("trials_at_decision"),
        F.col("llr_at_decision").cast("long").alias("llr_at_decision_mbits"),
        F.expr(
            "CAST(CASE WHEN fc_stream IS NULL THEN NULL"
            " ELSE 1000000 * trials_at_decision div n_trials END AS BIGINT)"
        ).alias("sample_saving_ppm"),
    )



# ---------------------------------------------------------------------------
# Streaming journey surprisal: the online twin of journey_markov_surprisal.
# The edge-cost matrix (bounded by the squared type vocabulary) is fit
# offline from the full feed — the deploy pattern for any model-backed
# stream scorer — and ships to the workers as a captured dict; the state
# store carries (last_type, n_transitions, sum_bits) per user. Every
# transition emits the running prefix row, so the sink equals the batch
# window cumsum over all journey prefixes — one shared oracle.
# ---------------------------------------------------------------------------
_SJOURNEY_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER w AS to_type,
         row_number() OVER w AS idx
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
edges AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
rows_ AS (
  SELECT from_type, CAST(sum(c) AS BIGINT) AS row_total
  FROM edges GROUP BY from_type
),
costs AS (
  SELECT e.from_type, e.to_type,
         CAST(length(bin(r.row_total // e.c)) - 1 AS BIGINT) AS bits
  FROM edges e JOIN rows_ r ON r.from_type = e.from_type
),
scored AS (
  SELECT s.user_id, s.idx, c.bits
  FROM seq s JOIN costs c
    ON c.from_type = s.from_type AND c.to_type = s.to_type
  WHERE s.to_type IS NOT NULL
),
pref AS (
  SELECT user_id,
         CAST(row_number() OVER wp AS BIGINT) AS n_transitions,
         CAST(sum(bits) OVER wp AS BIGINT) AS sum_bits
  FROM scored
  WINDOW wp AS (PARTITION BY user_id ORDER BY idx)
)
SELECT user_id, n_transitions, sum_bits,
       CAST(1000000 * sum_bits // n_transitions AS BIGINT)
         AS score_micro_bits
FROM pref
"""


@register(
    "streaming_journey_surprisal",
    oracle=_SJOURNEY_SQL,
    doc="Streaming journey surprisal: applyInPandasWithState carrying "
    "(last event type, running transition count, running bits) per user, "
    "scoring each arrival against the offline-fit Markov edge-cost matrix "
    "— 4 mtime-ordered feed chunks (cross-batch state for real), every "
    "transition emits its running prefix row, value-hash checked against "
    "the batch window-cumsum over all journey prefixes",
    tags=("ext", "streaming", "behavior"),
)
def streaming_journey_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the offline fit is two bounded-key aggregations (the
    matrix is |type vocab|^2 rows — collected as bounded metadata, the
    k-means/BT pattern); online, state is 3 scalars per user and each
    micro-batch folds its rows in event order. Emitting every prefix makes
    the drive's sink independent of how the feed is sliced — the
    strongest replay-equivalence check available for per-key running
    state."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.streaming.journey import (
        journey_stream,
    )

    events = load_table(spark, sf_dir, "events")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    edges = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows_ = edges.groupBy("from_type").agg(
        F.sum("c").cast("long").alias("row_total")
    )
    cost_rows = (
        edges.join(rows_, "from_type")
        .select(
            "from_type",
            "to_type",
            (F.length(F.expr("bin(row_total div c)")) - 1)
            .cast("long")
            .alias("bits"),
        )
        .collect()  # bounded: |event-type vocab|^2 rows
    )
    costs = {(r.from_type, r.to_type): int(r.bits) for r in cost_rows}

    # Microsecond epoch — the full precision of a Spark TIMESTAMP — so the
    # stateful fold's (ts_us, event_id) sort matches the batch oracle's
    # ORDER BY ts, event_id even for same-second events of one user.
    feed_rows = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    ).localCheckpoint(eager=False)
    b = feed_rows.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    ).collect()[0]
    lo_s, hi_s = int(b["lo"]), int(b["hi"])

    feed, _ = replay_feed(
        spark, _range_chunks(feed_rows, "ts_us", lo_s, hi_s, unit=1), "journey_feed_"
    )
    return drain_to_memory(
        journey_stream(feed, costs), "journey", output_mode="update"
    )


# ---------------------------------------------------------------------------
# Streaming sequence packing: the online twin of curation_pack_sequences.
# Docs arrive in the deterministic md5-shuffle order (the layout service's
# delivery order) and each is bin-assigned on arrival; the state store
# carries ONE BIGINT per source (the running token total), so the sink's
# (cum_tokens, bin) pairs equal the batch window cumsum exactly — one
# shared per-doc oracle.
# ---------------------------------------------------------------------------
_SPACK_BUDGET = 512


def _spack_sql() -> str:
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        duck_hash_uniform,
    )
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        TOKEN_RE,
    )

    duck_tok = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
    return f"""
WITH tok AS (
  SELECT doc_id, source, CAST(len({duck_tok}) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source
           ORDER BY {duck_hash_uniform('doc_id')}, doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM tok
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(floor((cum_tokens - 1) / {_SPACK_BUDGET}) AS BIGINT) AS bin
FROM packed
"""


@register(
    "streaming_pack_assign",
    oracle=_spack_sql(),
    doc="Streaming sequence packing: applyInPandasWithState carrying one "
    "running token total per source, assigning each arriving doc its "
    f"{_SPACK_BUDGET}-token training bin in md5-shuffle delivery order — "
    "4 mtime-ordered feed chunks cut on shuffle-key ranges (cross-batch "
    "state for real), value-hash checked against the batch packing "
    "window's per-doc cumsum",
    tags=("ext", "streaming", "curation"),
)
def streaming_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: state is ONE BIGINT per source; each micro-batch folds
    its docs in shuffle-key order. The drive cuts feed files on
    shuffle-key ranges so per-source arrival order equals the batch
    window's order — the condition the real layout service guarantees by
    construction (it IS the thing emitting the order)."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        TOKEN_RE,
    )
    from amazon_kinesis_data_streams_health_check_spark.streaming.pack import (
        pack_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    feed_rows = docs.select(
        "source",
        hash_uniform("doc_id").alias("ou"),
        "doc_id",
        F.expr(
            f"CAST(size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0))"
            " AS BIGINT)"
        ).alias("n_tokens"),
    ).localCheckpoint(eager=False)

    # 4 chunks cut on shuffle-key (ou) ranges of [0, 2^32), replayed in
    # order: per-source arrival order across micro-batches equals the batch
    # window's (ou, doc_id) order.
    feed, _ = replay_feed(
        spark, _range_chunks(feed_rows, "ou", 0, (1 << 32) - 1, unit=1), "spack_feed_"
    )
    return drain_to_memory(
        pack_stream(feed, _SPACK_BUDGET), "spack", output_mode="update"
    )


# ---------------------------------------------------------------------------
# Streaming quality gate: the online twin of gopher_quality_rules — rule
# evaluation rides the feed projection (stateless, same codegen'd exprs),
# while the state store carries each source's running (seen, passed)
# totals so ingest drift is visible per arriving doc. One shared per-doc
# oracle: the batch window cumsum in md5-shuffle delivery order.
# ---------------------------------------------------------------------------
def _sgate_sql() -> str:
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        duck_hash_uniform,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.curation_queries import (
        _GOPHER_SQL,
    )

    return f"""
WITH g AS ({_GOPHER_SQL}),
seq AS (
  SELECT doc_id, source, passes_gopher AS passed,
         CAST(count(*) OVER w AS BIGINT) AS n_seen,
         CAST(sum(CASE WHEN passes_gopher THEN 1 ELSE 0 END) OVER w AS BIGINT)
           AS n_passed
  FROM g
  WINDOW w AS (PARTITION BY source
               ORDER BY {duck_hash_uniform('doc_id')}, doc_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT doc_id, source, passed, n_seen, n_passed,
       CAST(1000000 * n_passed // n_seen AS BIGINT) AS accept_ppm
FROM seq
"""


@register(
    "streaming_quality_gate",
    oracle=_sgate_sql(),
    doc="Streaming twin of the Gopher rule battery: stateless rule "
    "evaluation on the feed, applyInPandasWithState carrying each "
    "source's running (seen, passed) totals, every arriving doc emitting "
    "its acceptance-trajectory prefix row — 4 mtime-ordered feed chunks "
    "cut on shuffle-key ranges, value-hash checked against the batch "
    "window cumsum",
    tags=("ext", "streaming", "curation", "quality"),
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: state is TWO BIGINTs per source; the rule battery runs
    in the feed's codegen'd projection, never inside the Python fold (the
    fold only counts booleans). The drive cuts feed files on shuffle-key
    ranges so per-source arrival order equals the batch window's order —
    the same replay-equivalence device as streaming_pack_assign."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.curation_queries import (
        gopher_flags_df,
    )
    from amazon_kinesis_data_streams_health_check_spark.streaming.quality_gate import (
        quality_gate_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    feed_rows = (
        gopher_flags_df(docs)
        .select(
            "source",
            hash_uniform("doc_id").alias("ou"),
            "doc_id",
            F.col("passes_gopher").alias("passed"),
        )
        .localCheckpoint(eager=False)
    )

    feed, _ = replay_feed(
        spark, _range_chunks(feed_rows, "ou", 0, (1 << 32) - 1, unit=1), "sgate_feed_"
    )
    return drain_to_memory(
        quality_gate_stream(feed), "sgate", output_mode="update"
    )
