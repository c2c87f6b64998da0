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

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker

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


def make_pack_fn(budget: int):
    """applyInPandasWithState function: fold (ou, doc_id, n_tokens) rows
    into running bin assignments, one output row per document."""

    def pack_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        source = str(key[0])
        cum = int(state.get[0]) if state.exists else 0

        out: dict[str, list] = {f.name: [] for f in PACK_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ou", "doc_id"]
        )
        for doc_id, n_tokens in zip(pdf["doc_id"], pdf["n_tokens"]):
            cum += int(n_tokens)
            out["doc_id"].append(int(doc_id))
            out["source"].append(source)
            out["n_tokens"].append(int(n_tokens))
            out["cum_tokens"].append(cum)
            out["bin"].append((cum - 1) // budget)
        state.update((cum,))
        yield pd.DataFrame(out)

    return pack_fn


def pack_stream(feed: DataFrame, budget: int) -> DataFrame:
    """Wire the packer onto a streaming (source, ou, doc_id, n_tokens)
    feed."""
    return feed.groupBy("source").applyInPandasWithState(
        make_pack_fn(budget),
        outputStructType=PACK_OUTPUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
