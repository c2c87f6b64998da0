"""Streaming EWMA control chart — the online form of the batch
``ewma_control_chart`` query (plans/healthcheck_queries.py).

The batch side evaluates the alpha = 1/2, horizon-12 truncated EWMA with
twelve lag() terms in one window. The streaming state carries exactly what
those lags read — the last 12 per-minute arrival counts per stream — so
folding a new period in is one append + one trim, and the emitted
numerator/mass are byte-identical to the batch window computation however
the feed is sliced across micro-batches.

All weights are powers of two, so every emitted statistic is an exact
BIGINT; the spike tests are integer cross-multiplications against the
past-only prediction. State is O(streams * H); rows must arrive in
nondecreasing period order per key (the bounded drive orders its feed
files by modification time).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker

EWMA_H = 12
EWMA_MULT = 2
_FULL_MASS = (1 << EWMA_H) - 1

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("window_start_s", LongType()),
        StructField("n_arrivals", LongType()),
        StructField("ewma_num", LongType()),
        StructField("weight_sum", LongType()),
        StructField("warmup", BooleanType()),
        StructField("spike_high", BooleanType()),
        StructField("spike_low", BooleanType()),
    ]
)

#: The last H per-minute counts, oldest first — exactly what the batch
#: window's lag(x, 1..H) reads.
EWMA_STATE_SCHEMA = StructType(
    [StructField("hist", ArrayType(LongType()))]
)


def make_ewma_fn(h: int = EWMA_H, mult: int = EWMA_MULT):
    """applyInPandasWithState function: fold (ws, x) rows into the
    truncated-EWMA chart, emitting one row per period."""

    full = (1 << h) - 1

    def ewma_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        hist: list[int] = list(state.get[0]) if state.exists else []

        out: dict[str, list] = {f.name: [] for f in EWMA_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("ws")
        for ws, x in zip(pdf["ws"], pdf["x"]):
            ws, x = int(ws), int(x)
            # hist is oldest-first; lag k reads hist[-k]
            ewma_num = sum(
                hist[-k] << (h - k) for k in range(1, min(len(hist), h) + 1)
            )
            mass = sum(
                1 << (h - k) for k in range(1, min(len(hist), h) + 1)
            )
            warmup = mass < full
            out["stream_name"].append(stream_name)
            out["window_start_s"].append(ws)
            out["n_arrivals"].append(x)
            out["ewma_num"].append(ewma_num)
            out["weight_sum"].append(mass)
            out["warmup"].append(warmup)
            out["spike_high"].append(not warmup and x * mass > mult * ewma_num)
            out["spike_low"].append(not warmup and mult * x * mass < ewma_num)
            hist.append(x)
            if len(hist) > h:
                hist = hist[-h:]

        state.update((hist,))
        yield pd.DataFrame(out)

    return ewma_fn


def ewma_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x) metric stream -> one chart row per period, the
    last-H counts held in the state store."""
    return feed.groupBy("stream_name").applyInPandasWithState(
        make_ewma_fn(),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
