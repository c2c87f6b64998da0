"""A custom Spark DataSource simulating Kinesis Data Streams — the S1/S2
source connector realized with Spark 4's Python Data Source API.

The reference consumes real Kinesis through an ESM (KinesisHealthCheckStack
.java:155-161); a production deployment of this engine would use the
spark-kinesis connector (sources/kinesis_events.py documents the mapping).
This module provides the same WIRE CONTRACT as an installable, dependency-
free source — ``spark.read.format("kinesis_sim")`` — so every consumer-leg
operator can be driven, batch or streaming, with zero AWS:

- **Shard model**: ``numShards`` independent shards, one ``InputPartition``
  per shard -> the scan parallelizes exactly like a real Kinesis reader
  (per-shard ordering preserved, no cross-shard ordering — Kinesis'
  guarantee).
- **Record model**: zero-padded 56-digit sequence numbers
  (kinesis-event.json:7), partition key = the tracer instant
  (HealthCheckProducerHandler.java:53), payload = the exact producer JSON
  bytes, arrival = epoch seconds (kinesis-event.json:9).
- **Determinism**: records are pure arithmetic on (shard, seq) under a
  configured epoch — a re-read yields byte-identical data, which is what
  makes the batch scan DuckDB-oracle-checkable and the streaming source
  replayable from checkpoints.

Streaming offsets are ``{shard: next_seq}`` dicts; each micro-batch advances
every shard by ``recordsPerBatch``. ``commit`` is a no-op (the source is
synthetic; nothing to ack) and ``read`` re-derives rows from offsets alone,
so checkpoint recovery replays exactly (W2).
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Iterator

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

#: Output schema — the exploded kinesis-record shape the consumer ops read.
KINESIS_SIM_SCHEMA = (
    "shard_id string, sequence_number string, partition_key string, "
    "data binary, approximate_arrival_ts double, event_source_arn string"
)

_ARN = "arn:aws:kinesis:us-east-1:123456789012:stream/"


def _instant(start_epoch_s: int, seq: int, interval_ms: int) -> str:
    t = dt.datetime.fromtimestamp(
        start_epoch_s + (seq * interval_ms) // 1000, tz=dt.timezone.utc
    )
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record(
    shard: int, seq: int, start_epoch_s: int, interval_ms: int, stream: str
) -> tuple:
    instant = _instant(start_epoch_s, seq, interval_ms)
    payload = json.dumps({"currentInstant": instant}).encode()  # Jackson shape
    return (
        f"shardId-{shard:012d}",
        str(shard * 10**20 + seq).zfill(56),
        instant,
        payload,
        float(start_epoch_s + (seq * interval_ms) // 1000),
        _ARN + stream,
    )


class _ShardPartition(InputPartition):
    def __init__(self, shard: int, start_seq: int, end_seq: int, opts: dict):
        self.shard = shard
        self.start_seq = start_seq
        self.end_seq = end_seq
        self.opts = opts


def _read_shard(p: _ShardPartition) -> Iterator[tuple]:
    # Imported in the body: this module is pickled by value (see
    # register_kinesis_sim), and a module-level reference would make the
    # driver-side runner, which cannot import the engine, import it too.
    # Shard reads run on executors, where the shipped package is importable.
    from amazon_kinesis_data_streams_health_check_spark import pyworker  # noqa: F401
    o = p.opts
    for seq in range(p.start_seq, p.end_seq):
        yield _record(
            p.shard, seq, o["start_epoch_s"], o["interval_ms"], o["stream"]
        )


def _options(raw: dict) -> dict:
    return {
        "num_shards": int(raw.get("numshards", 4)),
        "records_per_shard": int(raw.get("recordspershard", 100)),
        "records_per_batch": int(raw.get("recordsperbatch", 10)),
        "start_epoch_s": int(raw.get("startepochs", 1_700_000_000)),
        "interval_ms": int(raw.get("intervalms", 60_000)),
        "stream": raw.get("stream", "health-check-stream"),
        "drain": raw.get("drain", "true").lower() == "true",
    }


class KinesisSimBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.opts = _options(options)

    def partitions(self):
        return [
            _ShardPartition(s, 0, self.opts["records_per_shard"], self.opts)
            for s in range(self.opts["num_shards"])
        ]

    def read(self, partition: _ShardPartition) -> Iterator[tuple]:
        return _read_shard(partition)


class KinesisSimStreamReader(DataSourceStreamReader):
    """Drain-mode streaming: expose the whole backlog (the availableNow
    backfill path) with one InputPartition per shard — full scan parallelism.

    A fresh instance's ``latestOffset`` is the constant cap, so it can never
    regress below a checkpointed offset: restart-safe by construction.
    """

    def __init__(self, options: dict):
        self.opts = _options(options)

    def initialOffset(self) -> dict:
        return {str(s): 0 for s in range(self.opts["num_shards"])}

    def latestOffset(self) -> dict:
        cap = self.opts["records_per_shard"]
        return {str(s): cap for s in range(self.opts["num_shards"])}

    def partitions(self, start: dict, end: dict):
        return [
            _ShardPartition(int(s), start.get(s, 0), end[s], self.opts)
            for s in end
            if end[s] > start.get(s, 0)
        ]

    def read(self, partition: _ShardPartition) -> Iterator[tuple]:
        return _read_shard(partition)

    def commit(self, end: dict) -> None:
        pass  # synthetic source: nothing to ack

    def stop(self) -> None:
        pass


class KinesisSimSimpleReader(SimpleDataSourceStreamReader):
    """Paced-mode streaming (``drain=false``): each trigger admits
    ``recordsPerBatch`` more per shard — the live-stream simulation.

    Built on ``SimpleDataSourceStreamReader`` because pacing needs the
    AUTHORITATIVE start offset each batch: ``read(start)`` receives it, so a
    post-restart reader resumes exactly at the checkpointed position (a
    stateful ``latestOffset`` on a fresh partitioned reader would regress
    and re-emit committed ranges — the classic custom-source restart bug).
    Driver-side reads are the documented trade-off of the simple API; paced
    batches are small by definition, and the drain/batch paths keep full
    shard parallelism.
    """

    def __init__(self, options: dict):
        self.opts = _options(options)

    def initialOffset(self) -> dict:
        return {str(s): 0 for s in range(self.opts["num_shards"])}

    def _rows(self, start: dict, end: dict) -> list[tuple]:
        # Materialized (not a generator): the simple-reader wrapper pickles
        # the prefetched rows across the runner boundary.
        o = self.opts
        return [
            _record(int(s), seq, o["start_epoch_s"], o["interval_ms"], o["stream"])
            for s in sorted(end)
            for seq in range(start.get(s, 0), end[s])
        ]

    def read(self, start: dict):
        cap = self.opts["records_per_shard"]
        end = {
            s: min(v + self.opts["records_per_batch"], cap)
            for s, v in start.items()
        }
        return (iter(self._rows(start, end)), end)

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._rows(start, end))  # deterministic replay (W2)

    def commit(self, end: dict) -> None:
        pass


class KinesisSimDataSource(DataSource):
    """``spark.read.format("kinesis_sim")`` / ``spark.readStream.format(...)``.

    Options: ``numShards``, ``recordsPerShard`` (total backlog per shard),
    ``recordsPerBatch`` (streaming advance per trigger), ``startEpochS``,
    ``intervalMs``, ``stream``.
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self) -> str:
        return KINESIS_SIM_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return KinesisSimBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        # drain mode: shard-partitioned reader. Paced mode: raise the
        # sentinel Spark's dispatcher catches to fall back to
        # simpleStreamReader (pyspark datasource_internal._streamReader).
        if _options(self.options)["drain"]:
            return KinesisSimStreamReader(self.options)
        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED",
            messageParameters={"feature": "paced mode uses simpleStreamReader"},
        )

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return KinesisSimSimpleReader(self.options)


def register_kinesis_sim(spark) -> None:
    """Idempotently register the source on a session.

    The streaming half runs in a separate driver-side Python runner process
    that unpickles the DataSource WITHOUT this package on its path (addPyFile
    only reaches executors), so the module is registered for cloudpickle
    by-VALUE serialization — the class rides inside the pickle itself.
    """
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass  # older cloudpickle: batch path still works via pyFiles
    try:
        spark.dataSource.register(KinesisSimDataSource)
    except Exception:
        pass  # already registered on this session
