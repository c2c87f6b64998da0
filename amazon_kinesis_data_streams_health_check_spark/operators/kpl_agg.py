"""KPL aggregation operators — pack/unpack user records on the Kinesis wire.

Spark-side plumbing over :mod:`..functions.kpl` (the public KPL aggregated
record format). Both directions are Arrow-batched (``applyInPandas`` /
``mapInPandas``) — per-row Python UDFs never touch the hot path — and both
preserve Kinesis' per-shard ordering model:

- :func:`pack_kpl` is the PRODUCER leg: per shard, user records sorted by
  their order column are chunked into aggregated records of ``max_per_blob``.
  Grouping by shard matches the real KPL (aggregation never crosses a
  partition-key hash boundary, or records would land on the wrong shard);
  the aggregated record's partition key is its first member's, as the KPL
  does.
- :func:`explode_kpl` is the CONSUMER leg: each Kinesis record de-aggregates
  into (subsequence, user partition key, user data) rows — KCL semantics,
  non-KPL payloads pass through as subsequence 0.

Scale shape: pack shuffles once on the shard key (bounded cardinality, the
stream's own parallelism unit); explode is a narrow per-partition map with
fan-out = records-per-blob. At 100 TB both are scan-shaped.

Reference parity: the reference's ESM uses batchSize(1) and one user record
per kinesis record (KinesisHealthCheckStack.java:157, kinesis-event.json:8)
— these operators add the aggregated-wire capability every real consumer
needs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker
from amazon_kinesis_data_streams_health_check_spark.functions.kpl import (
    deaggregate,
    encode_aggregated,
)


def pack_kpl(
    df: DataFrame,
    shard_col: str = "shard_id",
    pk_col: str = "partition_key",
    data_col: str = "data",
    order_col: str = "sequence_number",
    max_per_blob: int = 5,
) -> DataFrame:
    """Aggregate user records into KPL blobs, ``max_per_blob`` per record.

    Deterministic under any input partitioning: records are sorted by
    ``order_col`` inside each shard group before chunking, so blob ``i`` of
    a shard always contains the same members.
    """
    out_schema = StructType(
        [
            StructField(shard_col, StringType()),
            StructField("agg_index", LongType()),
            StructField("agg_partition_key", StringType()),
            StructField("agg_data", BinaryType()),
            StructField("n_user_records", LongType()),
        ]
    )

    def _pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pyworker.ready()
        pdf = pdf.sort_values(order_col, kind="mergesort")
        rows = []
        recs = list(zip(pdf[pk_col], pdf[data_col]))
        for i in range(0, len(recs), max_per_blob):
            chunk = [(pk, bytes(d)) for pk, d in recs[i : i + max_per_blob]]
            rows.append(
                (
                    key[0],
                    i // max_per_blob,
                    chunk[0][0],
                    encode_aggregated(chunk),
                    len(chunk),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                shard_col,
                "agg_index",
                "agg_partition_key",
                "agg_data",
                "n_user_records",
            ],
        )

    return (
        df.select(shard_col, order_col, pk_col, data_col)
        .groupBy(shard_col)
        .applyInPandas(_pack, schema=out_schema)
    )


def explode_kpl(
    df: DataFrame,
    pk_col: str = "partition_key",
    data_col: str = "data",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """De-aggregate each Kinesis record into its user records (KCL
    semantics: non-KPL payloads pass through as a single subsequence-0 row).

    Output: ``keep_cols`` + ``subsequence`` (0-based position inside the
    aggregate, the KCL's subSequenceNumber) + ``user_partition_key`` +
    ``user_data``.
    """
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in keep_cols]
        + [
            StructField("subsequence", LongType()),
            StructField("user_partition_key", StringType()),
            StructField("user_data", BinaryType()),
        ]
    )
    cols = list(keep_cols)

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                rec_d = rec._asdict()
                kept = tuple(rec_d[c] for c in cols)
                for sub, (upk, udata) in enumerate(
                    deaggregate(rec_d[pk_col], rec_d[data_col])
                ):
                    rows.append(kept + (sub, upk, udata))
            yield pd.DataFrame(
                rows, columns=cols + ["subsequence", "user_partition_key", "user_data"]
            )

    return df.select(*dict.fromkeys(cols + [pk_col, data_col])).mapInPandas(
        _explode, schema=out_schema
    )


def kpl_pack_unpack_roundtrip_audit(
    original: DataFrame,
    exploded: DataFrame,
    shard_col: str = "shard_id",
    pk_col: str = "partition_key",
    data_col: str = "data",
) -> DataFrame:
    """One-row audit: the de-aggregated user-record multiset must equal the
    original user-record multiset per shard (count + per-shard payload
    checksum). Raise-free — emits booleans callers can hash."""
    def _digest(df: DataFrame, pk: str, data: str) -> DataFrame:
        return df.groupBy(shard_col).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.conv(F.substring(F.md5(F.concat(F.encode(F.col(pk), "UTF-8"), F.col(data))), 1, 15), 16, 10).cast("long")
            )
            .cast("long")
            .alias("payload_sum"),
        )

    a = _digest(original, pk_col, data_col)
    b = _digest(exploded, "user_partition_key", "user_data")
    joined = a.alias("a").join(
        b.alias("b"), F.col(f"a.{shard_col}") == F.col(f"b.{shard_col}"), "full"
    )
    return joined.agg(
        F.coalesce(
            F.min(
                (
                    F.col("a.n").eqNullSafe(F.col("b.n"))
                    & F.col("a.payload_sum").eqNullSafe(F.col("b.payload_sum"))
                ).cast("int")
            ),
            F.lit(1),
        )
        .cast("boolean")
        .alias("roundtrip_exact")
    )
