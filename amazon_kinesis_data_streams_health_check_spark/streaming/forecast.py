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

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import (
    keyed_fold,
)

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


def forecast_fold(
    stream_name: str, state: tuple | None, rows: Iterable[tuple]
) -> tuple[tuple, list[tuple]]:
    """Fold (d_s, y) rows into one-step forecasts, emitting a row per day
    once the history is full."""
    hist: list[int] = list(state[0]) if state is not None else []
    out = []
    for d_s, y in rows:
        d_s, y = int(d_s), int(y)
        if len(hist) >= FORECAST_H:
            y1, y2, y3 = hist[-1], hist[-2], hist[-3]
            out.append(
                (
                    stream_name,
                    d_s,
                    y,
                    1000 * y1,
                    (1000 * (y1 + y2 + y3)) // 3,
                    1000 * (2 * y1 - y2),
                )
            )
        hist.append(y)
        if len(hist) > FORECAST_H:
            hist = hist[-FORECAST_H:]
    return (hist,), out


def forecast_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, d_s, y) daily series stream -> one forecast row per
    day past warmup, the 3-day history held in the state store."""
    return keyed_fold(
        feed,
        "stream_name",
        "d_s",
        ["d_s", "y"],
        forecast_fold,
        FORECAST_STATE_SCHEMA,
        FORECAST_OUTPUT_SCHEMA,
    )
