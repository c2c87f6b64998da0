"""Parquet table loaders for the driver-generated testdata.

At 100 TB these reads are the dominant cost: loaders stay declarative
(``spark.read.parquet``) so Catalyst keeps predicate pushdown / column pruning
/ partition pruning on the scan; nothing here materializes or caches.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from amazon_kinesis_data_streams_health_check_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Columns stored as parquet TIMESTAMP(NANOS). Spark's reader rejects nanos;
#: with spark.sql.legacy.parquet.nanosAsLong they surface as LongType and are
#: restored to TimestampType here. Integer ``div`` (not /1000.0) — a double
#: can't hold a nanosecond epoch (~1.7e18 > 2^53) without precision loss.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


#: Logical-plan cache: (applicationId, sf_dir, name) -> DataFrame. A DataFrame
#: is an immutable plan handle, so reuse is safe; this skips the repeated
#: driver-side footer/schema read (~75 ms per table per query — the dominant
#: fixed cost of small queries). Keyed by applicationId so a stopped session's
#: plans are never resurrected.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def restore_timestamp(df: DataFrame, col: str) -> DataFrame:
    """Restore a driver timestamp column to session-zone TimestampType
    regardless of testdata vintage: TIMESTAMP(NANOS) read as nano-longs
    (``nanosAsLong``), plain TIMESTAMP_NTZ(MICROS), or already TIMESTAMP.
    Session tz is pinned UTC, so the NTZ cast changes type, not instant."""
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Give every timestamp column of table ``name`` session-zone
    TimestampType: the nano-long columns are restored, and any remaining NTZ
    column is cast too, so every downstream operator sees one timestamp type
    across testdata vintages."""
    for c in _NANOS_TS_COLS.get(name, ()):
        if c in df.columns:
            df = restore_timestamp(df, c)
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, TimestampNTZType):
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (TESTDATA.md: ``{sf_dir}/{name}.parquet``)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = _normalize_timestamps(df, name)
    _TABLE_CACHE[key] = df
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table as a bounded file stream (a backfill replay of the
    whole table), with ``load_table``'s timestamp normalisation.

    The file source wants a directory and the table is a single file, so it
    is exposed through a symlink in a fresh temp dir (zero-copy).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    src_dir = tempfile.mkdtemp(prefix=f"{name}_stream_")
    os.symlink(path, os.path.join(src_dir, f"{name}.parquet"))
    schema = spark.read.parquet(path).schema
    return _normalize_timestamps(spark.readStream.schema(schema).parquet(src_dir), name)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables; defaults to all of them."""
    use = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


#: Row-count memo: (sf_dir, name) -> n. Testdata is immutable, so counts are
#: process-lifetime stable; parquet count() is metadata-bounded (row-group
#: stats), and corpus-size-derived config (LSH ladder rungs, bounded eval
#: slices) needs one count per corpus, not one per query build.
_COUNT_CACHE: dict[tuple[str, str], int] = {}


def corpus_count(spark: SparkSession, sf_dir: str, name: str = "documents") -> int:
    """Memoized row count of one testdata table."""
    key = (sf_dir, name)
    n = _COUNT_CACHE.get(key)
    if n is None:
        n = _COUNT_CACHE.setdefault(key, load_table(spark, sf_dir, name).count())
    return n


def parallel_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + repartition when the scan under-parallelizes.

    A small parquet file with one row group scans as ONE task, so CPU-heavy
    per-row expression work (tokenize/shingle/hash over ``documents``, cosine
    over ``embeddings``) serializes onto a single core regardless of cluster
    size. At real scale (100 TB => thousands of splits) the scan already has
    more partitions than cores and this is a no-op; the round-robin exchange
    only fires for the unsplittable-small-file case, where shuffling the
    table is cheap by construction.

    Use for compute-bound per-row pipelines only — scan-bound relational
    queries should stay on ``load_table`` (an extra exchange there is pure
    loss).
    """
    key = (spark.sparkContext.applicationId, sf_dir, f"{name}#parallel")
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    _TABLE_CACHE[key] = df
    return df
