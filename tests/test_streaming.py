"""Streaming lifts: producer rate source, file-stream consumer, watermarked
window agg, checkpoint restart (W2), stateful heartbeat-timeout alarm (W4/W6).

All hermetic: file sources + memory/parquet sinks, bounded drives through
``replay_feed``/``drain`` where possible (the verify recipe's preferred
drive mode)."""

from __future__ import annotations

import json
import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.streaming import pipeline
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
    consumer_stream,
    drain,
    drain_to_memory,
    producer_stream,
    replay_feed,
    windowed_max_stream,
    write_metrics_sink,
)

GOLDEN_EVENT = {
    "records": [
        {
            "kinesis": {
                "kinesisSchemaVersion": "1.0",
                "partitionKey": "2022-10-17T10:00:00Z",
                "sequenceNumber": "49545115243490985018280067714973144582180062593244200961",
                "data": "eyJjdXJyZW50SW5zdGFudCI6IjIwMjItMTAtMTdUMTA6MDA6MDBaIn0=",
                "approximateArrivalTimestamp": 1666014770.0,
            },
            "eventSource": "aws:kinesis",
            "eventVersion": "1.0",
            "eventID": "shardId-000000000000:49545115243490985018280067714973144582180062593244200961",
            "eventName": "aws:kinesis:record",
            "invokeIdentityArn": "arn:aws:iam::123456789012:role/lambda-role",
            "awsRegion": "us-east-2",
            "eventSourceARN": "arn:aws:kinesis:us-east-2:123456789012:stream/lambda-stream",
        }
    ]
}


def _write_event(dirpath, name: str, arrival: float, seq: str = "01") -> None:
    e = json.loads(json.dumps(GOLDEN_EVENT))
    e["records"][0]["kinesis"]["approximateArrivalTimestamp"] = arrival
    e["records"][0]["kinesis"]["sequenceNumber"] = seq
    (dirpath / name).write_text(json.dumps(e))


def test_producer_stream_emits_tracers(spark):
    rows = drain_to_memory(producer_stream(spark, "health-check-stream"), "tracers").collect()
    assert len(rows) >= 1
    r = rows[0]
    assert r.stream_name == "health-check-stream"
    # Wire contract: payload json round-trips, partition key == the instant.
    assert json.loads(r.data_json)["currentInstant"] == r.partition_key
    assert r.partition_key.endswith("Z")


def test_consumer_stream_file_source(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    _write_event(src, "e1.json", 1666014770.0)
    metrics = consumer_stream(spark, str(src), event_time_source="arrival")
    rows = drain_to_memory(metrics, "consumer_metrics_stream").collect()
    assert len(rows) == 1
    assert rows[0].stream_name == "lambda-stream"
    assert rows[0].metric_name == "HealthCheckSinceSeconds"
    assert rows[0].value > 0  # arrival 2022 vs wall clock now


def test_windowed_max_stream_complete_mode(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    _write_event(src, "e1.json", 1666014770.0, "01")
    _write_event(src, "e2.json", 1666014775.5, "02")
    _write_event(src, "e3.json", 1666014830.0, "03")  # next minute window
    metrics = consumer_stream(
        spark, str(src), max_files_per_trigger=10, event_time_source="arrival"
    )
    agg = drain_to_memory(windowed_max_stream(metrics), "windowed_metrics", "complete")
    rows = {r.window_start.isoformat(): r for r in agg.collect()}
    assert len(rows) == 2  # 13:52 and 13:53 windows
    counts = sorted(r.n_datapoints for r in rows.values())
    assert counts == [1, 2]


def test_metrics_sink_checkpoint_restart(spark, tmp_path):
    # W2: restart from checkpoint does not reprocess already-committed files.
    src = tmp_path / "events"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_event(src, "e1.json", 1666014770.0, "01")
    drain(
        write_metrics_sink(
            consumer_stream(spark, str(src), event_time_source="arrival"), out, ckpt
        ),
        "metrics_sink",
    )
    assert spark.read.parquet(out).count() == 1
    # new file arrives; restart the query from the same checkpoint
    _write_event(src, "e2.json", 1666014771.0, "02")
    drain(
        write_metrics_sink(
            consumer_stream(spark, str(src), event_time_source="arrival"), out, ckpt
        ),
        "metrics_sink_restart",
    )
    df = spark.read.parquet(out)
    assert df.count() == 2  # exactly-once per file: no duplicates of e1
    assert df.select("stream_name").distinct().collect()[0][0] == "lambda-stream"


@pytest.mark.slow
def test_stateful_alarm_timeout_fires(spark, tmp_path):
    """W4: heartbeats stop -> processing-time timeout -> synthetic ALARM row."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
        alarm_state_stream,
    )

    # Heartbeat metrics from the rate source; rows stop after value >= 3 —
    # the stream keeps triggering (rate source), but the key sees no data,
    # so its 2s timeout must fire.
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .filter(F.col("value") < 3)
        .select(
            F.col("timestamp").alias("ts"),
            F.lit("hb-stream").alias("stream_name"),
            F.lit(0.5).alias("value"),
        )
    )
    alarms = alarm_state_stream(rate, threshold=1.0, timeout_ms=2000)
    q = (
        alarms.writeStream.format("memory")
        .queryName("alarm_states")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 45
        seen_timeout = False
        while time.time() < deadline and not seen_timeout:
            time.sleep(2)
            rows = spark.table("alarm_states").collect()
            seen_timeout = any(r.reason == "timeout" and r.state == "ALARM" for r in rows)
    finally:
        q.stop()
    rows = spark.table("alarm_states").collect()
    assert any(r.reason == "data" and r.state == "OK" for r in rows), rows
    assert seen_timeout, f"no timeout ALARM observed: {rows}"
    # Transition fired exactly when state flipped OK->ALARM.
    trans = [r for r in rows if r.transitioned]
    assert any(r.state == "ALARM" for r in trans)


def test_watermark_dedup_drops_redelivered(spark, tmp_path):
    """W5: ESM is at-least-once — a redelivered record (same eventID) must
    not double-count once dedup_ids is on."""
    src = tmp_path / "metrics_src"
    src.mkdir()
    r1 = {"event_id": "e1", "ts": "2024-01-01T00:00:10.000Z", "stream_name": "s", "value": 2.0}
    r2 = {"event_id": "e2", "ts": "2024-01-01T00:00:40.000Z", "stream_name": "s", "value": 1.0}
    (src / "f1.json").write_text(json.dumps(r1))
    # f2 redelivers r1 alongside the new r2.
    (src / "f2.json").write_text(json.dumps(r1) + "\n" + json.dumps(r2))
    stream = (
        spark.readStream.schema(
            "event_id string, ts timestamp, stream_name string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = windowed_max_stream(stream, dedup_ids=True)
    rows = drain_to_memory(agg, "dedup_windowed", "complete").collect()
    assert len(rows) == 1
    assert rows[0].n_datapoints == 2  # e1 once + e2, not e1 twice
    assert rows[0].max_value == 2.0


def test_delivery_audit_join_finds_lost_tracer(spark, tmp_path):
    """Stream-stream left-outer interval join: delivered tracers carry their
    lag; the undelivered one emits (delivered=false) after both watermarks
    pass its bound. Sentinel rows an hour later advance the watermarks so
    the availableNow drive can flush outer-join state."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        delivery_audit_join,
    )

    tdir = tmp_path / "tracers"
    rdir = tmp_path / "receipts"
    tdir.mkdir()
    rdir.mkdir()
    base = "2024-01-01T12:00:{:02d}Z"
    # Three tracers at :00/:10/:20; receipts for the first two only.
    (tdir / "t1.json").write_text(
        "\n".join(
            json.dumps({"stream_name": "s", "partition_key": base.format(s), "sent_ts": base.format(s)})
            for s in (0, 10, 20)
        )
    )
    (rdir / "r1.json").write_text(
        "\n".join(
            json.dumps({"partitionKey": base.format(s), "arrival_ts": f"2024-01-01T12:00:{s + d:02d}Z"})
            for s, d in ((0, 2), (10, 1))
        )
    )
    # Sentinels far past everything: advance both side's watermarks.
    (tdir / "t2.json").write_text(
        json.dumps({"stream_name": "s", "partition_key": "sentinel-t", "sent_ts": "2024-01-01T14:00:00Z"})
    )
    (rdir / "r2.json").write_text(
        json.dumps({"partitionKey": "sentinel-r", "arrival_ts": "2024-01-01T14:00:00Z"})
    )
    tracers = (
        spark.readStream.schema("stream_name string, partition_key string, sent_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(tdir))
    )
    receipts = (
        spark.readStream.schema("partitionKey string, arrival_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(rdir))
    )
    audited = delivery_audit_join(
        tracers, receipts, max_delay="1 minute", watermark="1 minute"
    )
    rows = {r.partition_key: r for r in drain_to_memory(audited, "delivery_audit").collect()
            if not r.partition_key.startswith("sentinel")}
    assert rows["2024-01-01T12:00:00Z"].delivered and rows["2024-01-01T12:00:00Z"].lag_seconds == 2
    assert rows["2024-01-01T12:00:10Z"].delivered and rows["2024-01-01T12:00:10Z"].lag_seconds == 1
    lost = rows["2024-01-01T12:00:20Z"]
    assert not lost.delivered and lost.arrival_ts is None and lost.lag_seconds is None


def test_event_time_alarm_gap_detected_deterministically(spark, tmp_path):
    """W4 (event-time variant): a stream that stops is alarmed when the
    WATERMARK passes its last event + gap — no wall-clock dependence, so a
    bounded availableNow replay always produces the same alarms."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
        alarm_state_stream_event_time,
    )

    src = tmp_path / "et_alarm_src"
    src.mkdir()
    row = lambda s, t, v: json.dumps(
        {"stream_name": s, "ts": f"2024-01-01T00:{t}:00.000Z", "value": v}
    )
    # dead-stream's last heartbeat at 00:00; live-stream keeps the watermark
    # moving (00:00 -> 00:10 -> 00:20), carrying it past 00:00 + 2min gap.
    (src / "f1.json").write_text(row("dead-stream", "00", 0.5) + "\n" + row("live-stream", "00", 0.5))
    (src / "f2.json").write_text(row("live-stream", "10", 0.5))
    (src / "f3.json").write_text(row("live-stream", "20", 0.5))

    metrics = (
        spark.readStream.schema("stream_name string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    alarms = alarm_state_stream_event_time(metrics, threshold=1.0, gap_ms=120_000)
    rows = drain_to_memory(alarms, "et_alarm_states", "update").collect()

    gaps = [r for r in rows if r.reason == "gap"]
    assert gaps and all(r.stream_name == "dead-stream" for r in gaps), rows
    assert any(r.state == "ALARM" and r.transitioned for r in gaps), rows
    # The live stream never alarms; both streams emitted OK data rows first.
    assert all(r.state == "OK" for r in rows if r.stream_name == "live-stream"), rows
    assert any(r.reason == "data" and r.stream_name == "dead-stream" for r in rows)


def test_period_alarm_slicing_invariant_vs_batch(spark):
    """The period-walk stateful alarm (W4/W6 oracle form) emits identical
    rows whether the feed arrives as one micro-batch or four, and both match
    the batch alarm_pipeline evaluation on the same metrics."""
    from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
        evaluate_alarm,
        with_period_grid,
    )
    from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
        period_alarm_stream,
    )

    base = 1_700_000_000 - (1_700_000_000 % 60)
    # Two streams, gappy periods (missing => BREACHING), values around thr=10.
    feed_rows = [
        ("a", base + 0 * 60, 5.0, 2),
        ("a", base + 1 * 60, 15.0, 1),  # ALARM (over threshold)
        # a: periods 2-3 missing -> ALARM
        ("a", base + 4 * 60, 3.0, 1),  # back to OK
        ("b", base + 1 * 60, 1.0, 3),  # b missing at period 0 -> ALARM first
        ("b", base + 2 * 60, 2.0, 1),
        ("b", base + 5 * 60, 30.0, 2),  # gap then over-threshold
    ]
    lo_s, hi_s = base, base + 5 * 60
    ddl = "stream_name string, ws_s long, max_value double, n_datapoints long"
    feed_df = spark.createDataFrame(feed_rows, ddl)
    sentinels = spark.createDataFrame(
        [("a", hi_s + 60, None, 0), ("b", hi_s + 60, None, 0)], ddl
    )

    def drive(split: bool, tag: str):
        if split:
            chunks = [
                feed_df.filter(F.col("ws_s") < lo_s + 120),
                feed_df.filter(
                    (F.col("ws_s") >= lo_s + 120) & (F.col("ws_s") < lo_s + 240)
                ),
                feed_df.filter(F.col("ws_s") >= lo_s + 240).unionByName(sentinels),
            ]
        else:
            chunks = [feed_df.unionByName(sentinels)]
        stream, _ = replay_feed(spark, chunks, f"pw_{tag}_")
        alarms = period_alarm_stream(stream, threshold=10.0, lo_s=lo_s, hi_s=hi_s)
        return sorted(
            drain_to_memory(alarms, f"pw_{tag}", "update").collect(),
            key=lambda r: (r.stream_name, r.ws_s),
        )

    one = drive(False, "one")
    four = drive(True, "four")
    assert [tuple(r) for r in one] == [tuple(r) for r in four]

    # Batch twin: same metrics through grid + evaluate_alarm.
    metrics = feed_df.select(
        "stream_name",
        F.timestamp_seconds("ws_s").alias("window_start"),
        F.timestamp_seconds(F.col("ws_s") + 60).alias("window_end"),
        "max_value",
        "n_datapoints",
    )
    batch = evaluate_alarm(
        with_period_grid(metrics), threshold=10.0, treat_missing="breaching"
    ).select(
        "stream_name",
        F.unix_timestamp("window_start").cast("long").alias("ws_s"),
        F.col("max_value").cast("double").alias("max_lag"),
        "n_datapoints",
        "state",
        "prev_state",
        "transitioned",
    )
    brows = sorted(batch.collect(), key=lambda r: (r.stream_name, r.ws_s))
    assert [tuple(r) for r in brows] == [tuple(r) for r in one]
    # Semantics spot-checks: missing periods breach; transitions only on change.
    by = {(r.stream_name, (r.ws_s - brows[0].ws_s) // 60): r for r in one}
    assert by[("a", 2)].state == "ALARM" and by[("a", 2)].max_lag is None
    assert by[("b", 0)].state == "ALARM" and by[("b", 0)].prev_state is None
    assert not by[("b", 0)].transitioned  # first period never "transitions"
    assert by[("a", 4)].state == "OK" and by[("a", 4)].transitioned


def test_streaming_cusum_matches_batch(spark, sf_small):
    """The streaming carry-pair fold must equal the batch closed form —
    same rows whatever the micro-batch slicing (the drive uses 4 chunks)."""
    from amazon_kinesis_data_streams_health_check_spark.plans.registry import all_queries

    qs = all_queries()
    got = {tuple(map(str, r)) for r in qs["streaming_cusum"].builder(spark, sf_small).collect()}
    want = {tuple(map(str, r)) for r in qs["cusum_changepoint"].builder(spark, sf_small).collect()}
    assert got == want


def test_ewma_slicing_invariant(spark):
    """The streaming EWMA chart emits identical rows whether the feed
    arrives as one micro-batch or three (the numerator recurrence is pinned
    Spark-free in tests/test_keyed_fold.py)."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.ewma import (
        ewma_stream,
    )

    base = 1_700_000_000 - (1_700_000_000 % 60)
    series = {
        "a": [3, 5, 2, 8, 1, 9, 4, 6, 2, 7, 5, 3, 40, 2, 1],  # spike at idx 12
        "b": [10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 1, 10],
    }
    feed_rows = [
        (s, base + i * 60, x)
        for s, xs in series.items()
        for i, x in enumerate(xs)
    ]
    ddl = "stream_name string, ws long, x long"
    feed_df = spark.createDataFrame(feed_rows, ddl)

    def drive(n_chunks: int, tag: str):
        per = 15 // n_chunks + 1
        chunks = [
            feed_df.filter(
                (F.col("ws") >= base + i * per * 60)
                & (F.col("ws") < base + (i + 1) * per * 60)
            )
            for i in range(n_chunks)
        ]
        stream, _ = replay_feed(spark, chunks, f"ewma_{tag}_")
        drained = drain_to_memory(ewma_stream(stream), f"ewma_{tag}", "update")
        return sorted(tuple(r) for r in drained.collect())

    one = drive(1, "one")
    three = drive(3, "three")
    assert one == three
    assert len(one) == sum(map(len, series.values()))
    # the engineered spike fires exactly once, outside warmup
    spikes = [r for r in one if r[6]]
    assert spikes == [r for r in one if r[0] == "a" and r[1] == base + 12 * 60]


def test_ensemble_slicing_invariant(spark):
    """The streaming ensemble emits identical voted rows whether the feed
    arrives as one micro-batch or three (cross-batch state carries the
    59-count history and the CUSUM pair)."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.ensemble import (
        ensemble_stream,
    )

    base = 1_700_000_000 - (1_700_000_000 % 60)
    xs = [10, 12, 9, 11, 10, 40, 10, 9, 11, 10, 10, 12, 9, 10, 11] * 5  # 75 periods
    feed_rows = [("s", base + i * 60, x, 10, 3) for i, x in enumerate(xs)]
    ddl = "stream_name string, ws long, x long, mu_milli long, slack_milli long"
    feed_df = spark.createDataFrame(feed_rows, ddl)

    def drive(n_chunks: int, tag: str):
        per = len(xs) // n_chunks + 1
        chunks = [
            feed_df.filter(
                (F.col("ws") >= base + i * per * 60)
                & (F.col("ws") < base + (i + 1) * per * 60)
            )
            for i in range(n_chunks)
        ]
        stream, _ = replay_feed(spark, chunks, f"ens_{tag}_")
        drained = drain_to_memory(ensemble_stream(stream), f"ens_{tag}", "update")
        return sorted(tuple(r) for r in drained.collect())

    one = drive(1, "one")
    three = drive(3, "three")
    assert one == three
    assert len(one) == len(xs)
    # internal consistency of the vote on every emitted row
    for r in one:
        assert r[6] == int(r[3]) + int(r[4]) + int(r[5]), r
        assert r[7] == (r[6] >= 2), r


def test_journey_stream_slicing_invariant(spark):
    """The streaming journey scorer emits identical prefix rows whether the
    feed arrives as one micro-batch or three (the running bits are pinned
    Spark-free in tests/test_keyed_fold.py)."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.journey import (
        journey_stream,
    )

    costs = {
        ("v", "v"): 1, ("v", "c"): 2, ("v", "p"): 5,
        ("c", "v"): 2, ("c", "c"): 3, ("c", "p"): 1,
        ("p", "v"): 0, ("p", "c"): 4, ("p", "p"): 6,
    }
    journeys = {
        1: ["v", "v", "c", "p", "v"],
        2: ["c", "c"],
        3: ["p"],  # no transition — must emit nothing
    }
    feed_rows = [
        (u, 100 * u + i, 1000 + i * 7, et)
        for u, ets in journeys.items()
        for i, et in enumerate(ets)
    ]
    ddl = "user_id long, event_id long, ts_us long, event_type string"
    feed_df = spark.createDataFrame(feed_rows, ddl)

    def drive(n_chunks: int, tag: str):
        lo, hi = 1000, 1000 + 5 * 7
        per = (hi - lo) // n_chunks + 1
        chunks = [
            feed_df.filter(
                (F.col("ts_us") >= lo + i * per) & (F.col("ts_us") < lo + (i + 1) * per)
            )
            for i in range(n_chunks)
        ]
        stream, _ = replay_feed(spark, chunks, f"journey_{tag}_")
        drained = drain_to_memory(journey_stream(stream, costs), f"journey_{tag}", "update")
        return sorted(tuple(r) for r in drained.collect())

    one = drive(1, "one")
    three = drive(3, "three")
    assert one == three
    # one row per transition; user 3's single event emits none
    assert sorted((r[0], r[1]) for r in one) == [(1, 1), (1, 2), (1, 3), (1, 4), (2, 1)]


def test_pack_stream_slicing_invariant(spark):
    """The streaming packer emits identical bin assignments whether the
    feed arrives as one micro-batch or three (the cumsum is pinned
    Spark-free in tests/test_keyed_fold.py)."""
    from amazon_kinesis_data_streams_health_check_spark.streaming.pack import (
        pack_stream,
    )

    rows = [  # (source, ou, doc_id, n_tokens) — ou pre-assigned
        ("s0", 10, 1, 300), ("s0", 20, 2, 300), ("s0", 30, 3, 100),
        ("s0", 40, 4, 900), ("s1", 15, 5, 512), ("s1", 35, 6, 1),
    ]
    ddl = "source string, ou long, doc_id long, n_tokens long"
    feed_df = spark.createDataFrame(rows, ddl)

    def drive(n_chunks: int, tag: str):
        per = 50 // n_chunks + 1
        chunks = [
            feed_df.filter((F.col("ou") >= i * per) & (F.col("ou") < (i + 1) * per))
            for i in range(n_chunks)
        ]
        stream, _ = replay_feed(spark, chunks, f"pack_{tag}_")
        drained = drain_to_memory(pack_stream(stream, 512), f"pack_{tag}", "update")
        return sorted(tuple(r) for r in drained.collect())

    one = drive(1, "one")
    three = drive(3, "three")
    assert one == three
    assert sorted(r[0] for r in one) == [r[2] for r in rows]


def test_replay_feed_one_chunk_per_micro_batch_in_order(spark, tmp_path, monkeypatch):
    """Chunks are consumed in the order given, one micro-batch each, and
    the staging dir is gone once the feed is written."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sizes = [3, 1, 4, 2]
    chunks = [
        spark.range(n).select(F.lit(i).alias("chunk"), F.col("id")) for i, n in enumerate(sizes)
    ]
    stream, n_files = replay_feed(spark, chunks, "order_feed_")
    assert n_files == len(sizes)
    (feed_dir,) = os.listdir(tmp_path)  # no staging dir left behind
    assert sorted(os.listdir(tmp_path / feed_dir)) == [
        f"chunk_{i:04d}.parquet" for i in range(len(sizes))
    ]

    seen: list[tuple[int, list[int]]] = []

    def _record(df, batch_id: int) -> None:
        seen.append((batch_id, sorted({r.chunk for r in df.collect()})))

    q = drain(stream.writeStream.foreachBatch(_record), "replay_order")
    assert seen == [(i, [i]) for i in range(len(sizes))]
    assert [p["numInputRows"] for p in q.recentProgress] == sizes


def test_drain_raises_on_hung_drive(spark, monkeypatch):
    """A drive still running at the hang guard is stopped and raises,
    naming the query and its completed micro-batches, instead of
    returning a partial sink."""
    monkeypatch.setattr(pipeline, "DRAIN_TIMEOUT_S", 1)
    stream, _ = replay_feed(spark, [spark.range(1)], "hung_feed_")

    def _hang(df, batch_id: int) -> None:
        time.sleep(4)

    with pytest.raises(TimeoutError, match=r"'hung_drive'.* 0 micro-batches completed"):
        drain(stream.writeStream.foreachBatch(_hang), "hung_drive")
    assert not [q for q in spark.streams.active if (q.name or "").startswith("hung_drive")]
