"""Kinesis put-records SINK as a Spark 4 Python DataSource writer — the K1
producer leg realized as an installable connector with the full task-commit
protocol, completing the connector pair with ``kinesis_sim`` (the source).

The reference producer calls PutRecord per tracer (HealthCheckProducerHandler
.java:49-55); a real deployment of this engine would use a Kinesis sink
connector. This module provides the same WIRE CONTRACT dependency-free:

- **Routing**: shard = md5(partitionKey) uint32 mod numShards — Kinesis'
  actual MD5 hash-range placement (X1), computed per record in the writer.
- **Exactly-once publish**: each write task lands its batch in
  ``{path}/_pending/<uuid>.jsonl`` and returns a commit message; only the
  driver's ``commit()`` moves pending files into ``{path}/records/`` and
  publishes ``_manifest.json`` naming exactly the committed files. A failed
  or speculative task's file is never named by the manifest and ``abort()``
  deletes it — the same publish-on-commit contract as the snapshot lake, so
  readers never observe a torn write.

Local-FS IO here (the simulation target is a directory); on a cluster the
identical protocol runs against any ``os``-like store — the task/driver
split, not the IO backend, is what the tests pin.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

#: Input schema the sink expects (``to_kinesis_put_requests`` output).
KINESIS_PUT_SCHEMA = "stream_name string, partitionKey string, data binary"


def shard_for_key(partition_key: str, num_shards: int) -> int:
    """Kinesis MD5 hash-range placement, reduced to a shard ordinal."""
    return int(hashlib.md5(partition_key.encode("utf-8")).hexdigest()[:8], 16) % num_shards


@dataclass
class _PutCommit(WriterCommitMessage):
    rel: str
    n_records: int


class KinesisPutWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.num_shards = int(options.get("numshards", 4))
        self.stream = options.get("stream", "health-check-stream")

    def write(self, iterator) -> _PutCommit:
        # Imported in the body for the reason given in kinesis_sim._read_shard:
        # this module is pickled by value; writes run on executors.
        from amazon_kinesis_data_streams_health_check_spark import pyworker  # noqa: F401

        os.makedirs(os.path.join(self.path, "_pending"), exist_ok=True)
        rel = f"{uuid.uuid4().hex}.jsonl"
        tmp = os.path.join(self.path, "_pending", rel)
        n = 0
        with open(tmp, "w", encoding="utf-8") as out:
            for row in iterator:
                pk = row.partitionKey
                rec = {
                    "stream": self.stream,
                    "shard_id": f"shardId-{shard_for_key(pk, self.num_shards):012d}",
                    "partition_key": pk,
                    "data_b64": base64.b64encode(bytes(row.data)).decode("ascii"),
                }
                out.write(json.dumps(rec, sort_keys=True) + "\n")
                n += 1
        return _PutCommit(rel=rel, n_records=n)

    def commit(self, messages) -> None:
        final_dir = os.path.join(self.path, "records")
        os.makedirs(final_dir, exist_ok=True)
        rels = []
        for m in messages:
            os.replace(
                os.path.join(self.path, "_pending", m.rel),
                os.path.join(final_dir, m.rel),
            )
            rels.append({"rel": m.rel, "n_records": m.n_records})
        with open(os.path.join(self.path, "_manifest.json"), "w") as out:
            json.dump(
                {"files": sorted(rels, key=lambda r: r["rel"])}, out, sort_keys=True
            )

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(os.path.join(self.path, "_pending", m.rel))
            except FileNotFoundError:
                pass


class KinesisPutStreamWriter(DataSourceStreamWriter):
    """Streaming leg of the sink: one manifest PER MICRO-BATCH
    (``_manifest-<batchId>.json``), published atomically-if-absent.

    foreachBatch-style replay safety without foreachBatch: after a crash
    between sink commit and checkpoint advance, the same batchId is
    re-executed — its tasks write fresh pending files, but ``commit`` sees
    the batch manifest already present, deletes the replay's pending files,
    and returns. Exactly-once output from an at-least-once engine, the same
    txn-stamp idea as the snapshot lake's stream sink, here expressed
    through Spark's native DataSourceStreamWriter protocol."""

    def __init__(self, options: dict):
        self._batch = KinesisPutWriter(options)
        self.path = options["path"]

    def write(self, iterator) -> _PutCommit:
        return self._batch.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        manifest = os.path.join(self.path, f"_manifest-{batchId:08d}.json")
        if os.path.exists(manifest):
            self.abort(messages, batchId)  # replayed batch: drop duplicates
            return
        final_dir = os.path.join(self.path, "records")
        os.makedirs(final_dir, exist_ok=True)
        rels = []
        for m in messages:
            if m is None:
                continue
            os.replace(
                os.path.join(self.path, "_pending", m.rel),
                os.path.join(final_dir, m.rel),
            )
            rels.append({"rel": m.rel, "n_records": m.n_records})
        tmp = manifest + ".tmp"
        with open(tmp, "w") as out:
            json.dump(
                {"batch_id": batchId,
                 "files": sorted(rels, key=lambda r: r["rel"])},
                out,
                sort_keys=True,
            )
        os.rename(tmp, manifest)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None:
                self._batch.abort([m])


def read_stream_committed(spark, path: str):
    """Union of every per-batch manifest's committed files."""
    import glob

    files = []
    for mpath in sorted(glob.glob(os.path.join(path, "_manifest-*.json"))):
        with open(mpath) as fh:
            manifest = json.load(fh)
        files += [
            os.path.join(path, "records", f["rel"]) for f in manifest["files"]
        ]
    schema = (
        "stream string, shard_id string, partition_key string, data_b64 string"
    )
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


class KinesisPutDataSource(DataSource):
    """``df.write.format("kinesis_put").option("path", dir).save()`` and
    ``df.writeStream.format("kinesis_put")...`` (per-batch manifests)."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_put"

    def schema(self) -> str:
        return KINESIS_PUT_SCHEMA

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return KinesisPutWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "KinesisPutStreamWriter":
        return KinesisPutStreamWriter(self.options)


def read_committed(spark, path: str):
    """Read back exactly the manifest-committed records (never pending or
    aborted debris)."""
    with open(os.path.join(path, "_manifest.json")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(path, "records", f["rel"]) for f in manifest["files"]]
    schema = (
        "stream string, shard_id string, partition_key string, data_b64 string"
    )
    if not files:
        from pyspark.sql.types import StructType as _S

        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


def register_kinesis_put(spark) -> None:
    """Idempotently register the sink (by-value pickling, same rationale as
    ``register_kinesis_sim``)."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass
    try:
        spark.dataSource.register(KinesisPutDataSource)
    except Exception:
        pass  # already registered on this session
