"""Streaming one-step forecast residuals — the online form of the batch
``forecast_backtest`` query (plans/mining_queries.py).

The batch side reads three lag() terms per day from the densified daily
series; the streaming state carries exactly those reads — the last 3 daily
counts per stream — so each new day folds in as one append + one trim and
the emitted forecasts (naive / ma3 / drift, milli fixed-point) are
byte-identical to the batch window computation regardless of how the feed
is sliced across micro-batches.

State is O(streams * 3); rows must arrive in nondecreasing day order per
key (the bounded drive orders its feed files by modification time).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker

FORECAST_H = 3

FORECAST_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("d_s", LongType()),
        StructField("y", LongType()),
        StructField("f_naive", LongType()),
        StructField("f_ma3", LongType()),
        StructField("f_drift", LongType()),
    ]
)

#: The last 3 daily counts, oldest first — exactly the batch lags y3,y2,y1.
FORECAST_STATE_SCHEMA = StructType([StructField("hist", ArrayType(LongType()))])


def make_forecast_fn(h: int = FORECAST_H):
    """applyInPandasWithState function: fold (d_s, y) rows into one-step
    forecasts, emitting a row per day once the history is full."""

    def forecast_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        hist: list[int] = list(state.get[0]) if state.exists else []

        out: dict[str, list] = {f.name: [] for f in FORECAST_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("d_s")
        for d_s, y in zip(pdf["d_s"], pdf["y"]):
            d_s, y = int(d_s), int(y)
            if len(hist) >= h:
                y1, y2, y3 = hist[-1], hist[-2], hist[-3]
                out["stream_name"].append(stream_name)
                out["d_s"].append(d_s)
                out["y"].append(y)
                out["f_naive"].append(1000 * y1)
                out["f_ma3"].append((1000 * (y1 + y2 + y3)) // 3)
                out["f_drift"].append(1000 * (2 * y1 - y2))
            hist.append(y)
            if len(hist) > h:
                hist = hist[-h:]

        state.update((hist,))
        yield pd.DataFrame(out)

    return forecast_fn


def forecast_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, d_s, y) daily series stream -> one forecast row per
    day past warmup, the 3-day history held in the state store."""
    return feed.groupBy("stream_name").applyInPandasWithState(
        make_forecast_fn(),
        outputStructType=FORECAST_OUTPUT_SCHEMA,
        stateStructType=FORECAST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
