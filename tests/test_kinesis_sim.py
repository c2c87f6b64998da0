"""Custom Python DataSource (simulated Kinesis): wire contract, determinism,
shard-partition parallelism, streaming drain + paced modes."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
    register_kinesis_sim,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import drain_to_memory


def _read(spark, **opts):
    register_kinesis_sim(spark)
    r = spark.read.format("kinesis_sim")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_wire_contract(spark):
    rows = _read(spark, numShards=2, recordsPerShard=3).collect()
    assert len(rows) == 6
    r0 = sorted(rows, key=lambda r: r.sequence_number)[0]
    assert r0.shard_id == "shardId-000000000000"
    assert len(r0.sequence_number) == 56  # kinesis-event.json:7 width
    payload = json.loads(bytes(r0.data).decode())
    assert payload["currentInstant"] == r0.partition_key  # producer contract
    assert r0.partition_key.endswith("Z")
    assert r0.event_source_arn.endswith("stream/health-check-stream")


def test_batch_is_deterministic_and_shard_parallel(spark):
    df1 = _read(spark, numShards=4, recordsPerShard=10)
    df2 = _read(spark, numShards=4, recordsPerShard=10)
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))
    assert df1.rdd.getNumPartitions() == 4  # one per shard
    # Per-shard sequence ordering is dense 0..n-1.
    seqs = [
        r.seq
        for r in df1.filter(F.col("shard_id") == "shardId-000000000002")
        .select(F.substring("sequence_number", 37, 20).cast("long").alias("seq"))
        .orderBy("seq")
        .collect()
    ]
    assert seqs == list(range(10))


def test_stream_drain_mode_consumes_backlog(spark):
    register_kinesis_sim(spark)
    got = drain_to_memory(
        spark.readStream.format("kinesis_sim")
        .option("numShards", 3)
        .option("recordsPerShard", 7)
        .load(),
        "ks_drain",
    )
    assert got.count() == 21
    # Streaming rows match the batch read exactly (same generator).
    batch = _read(spark, numShards=3, recordsPerShard=7)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_paced_mode_advances_per_trigger(spark, tmp_path):
    register_kinesis_sim(spark)
    q = (
        spark.readStream.format("kinesis_sim")
        .option("numShards", 2)
        .option("recordsPerShard", 50)
        .option("recordsPerBatch", 5)
        .option("drain", "false")
        .load()
        .writeStream.format("memory")
        .queryName("ks_paced")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.table("ks_paced").count()
            if n >= 20:
                break
            time.sleep(2)
    finally:
        q.stop()
    n = spark.table("ks_paced").count()
    # Paced admission: several triggers' worth, not the whole 100-row backlog
    # in one gulp (first trigger = 5/shard).
    assert 10 <= n <= 100 and n % 10 == 0, n


def test_stream_checkpoint_restart_no_dups_no_gaps(spark, tmp_path):
    """W2: kill the paced stream mid-backlog, restart from the checkpoint —
    the union of both runs is exactly the backlog, no dup/no gap (offsets are
    the only state; read() re-derives rows from offsets deterministically).
    Parquet sink: the memory sink refuses checkpoint recovery by design."""
    import time

    register_kinesis_sim(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("kinesis_sim")
            .option("numShards", 2)
            .option("recordsPerShard", 30)
            .option("recordsPerBatch", 3)
            .option("drain", "false")
            .load()
            .select("shard_id", "sequence_number")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )

    def sink_rows():
        try:
            return {tuple(r) for r in spark.read.parquet(out).collect()}
        except Exception:
            return set()

    q1 = start()
    deadline = time.time() + 60
    while time.time() < deadline and len(sink_rows()) < 6:
        time.sleep(1)
    q1.stop()
    first = sink_rows()
    assert 0 < len(first) < 60  # genuinely mid-backlog (60-row backlog)

    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline and len(sink_rows()) < 60:
        time.sleep(1)
    q2.stop()
    final = sink_rows()

    # Exactly-once sink contract across restart: the union is the complete
    # backlog with no duplicates (a dup would collapse in the set; row COUNT
    # must equal the distinct count too).
    assert len(final) == 60, len(final)
    assert spark.read.parquet(out).count() == 60  # no physical duplicates
    assert first <= final
