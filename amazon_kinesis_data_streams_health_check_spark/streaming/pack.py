"""Streaming sequence packing — the online form of the batch
``curation_pack_sequences`` window cumsum (operators/curation.py
``pack_sequences``).

The batch side packs docs into fixed-token training bins by a cumulative
sum over the deterministic md5-shuffle order, partitioned by source. The
layout service deploys that incrementally: docs arrive in shuffle order
and each is assigned a bin the moment it lands. The state store carries
exactly what the next assignment needs — ONE BIGINT (the source's running
token total) — so the emitted (cum_tokens, bin) pairs are byte-identical
to the batch window however the feed is sliced across micro-batches.

Rows must arrive in nondecreasing shuffle-key order per source ACROSS
micro-batches (the bounded drive cuts its feed files on shuffle-key
ranges); within a micro-batch the fold sorts on (ou, doc_id) — the batch
window's exact compound order key.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import (
    keyed_fold,
)

PACK_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_tokens", LongType()),
        StructField("cum_tokens", LongType()),
        StructField("bin", LongType()),
    ]
)

PACK_STATE_SCHEMA = StructType([StructField("cum", LongType())])


def pack_fold(
    source: str, state: tuple | None, rows: Iterable[tuple], *, budget: int
) -> tuple[tuple, list[tuple]]:
    """Fold (doc_id, n_tokens) rows, in (ou, doc_id) order, into running bin
    assignments, one output row per document."""
    source = str(source)
    cum = int(state[0]) if state is not None else 0
    out = []
    for doc_id, n_tokens in rows:
        cum += int(n_tokens)
        out.append((int(doc_id), source, int(n_tokens), cum, (cum - 1) // budget))
    return (cum,), out


def pack_stream(feed: DataFrame, budget: int) -> DataFrame:
    """Wire the packer onto a streaming (source, ou, doc_id, n_tokens)
    feed."""
    return keyed_fold(
        feed,
        "source",
        ["ou", "doc_id"],
        ["doc_id", "n_tokens"],
        partial(pack_fold, budget=budget),
        PACK_STATE_SCHEMA,
        PACK_OUTPUT_SCHEMA,
    )
