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

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import (
    keyed_fold,
)

EWMA_H = 12
EWMA_MULT = 2

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


def ewma_fold(
    stream_name: str, state: tuple | None, rows: Iterable[tuple]
) -> tuple[tuple, list[tuple]]:
    """Fold (ws, x) rows into the truncated-EWMA chart, emitting one row per
    period."""
    hist: list[int] = list(state[0]) if state is not None else []
    out = []
    for ws, x in rows:
        ws, x = int(ws), int(x)
        # hist is oldest-first; lag k reads hist[-k]
        ewma_num = sum(
            hist[-k] << (EWMA_H - k) for k in range(1, min(len(hist), EWMA_H) + 1)
        )
        mass = sum(1 << (EWMA_H - k) for k in range(1, min(len(hist), EWMA_H) + 1))
        warmup = mass < (1 << EWMA_H) - 1
        out.append(
            (
                stream_name,
                ws,
                x,
                ewma_num,
                mass,
                warmup,
                not warmup and x * mass > EWMA_MULT * ewma_num,
                not warmup and EWMA_MULT * x * mass < ewma_num,
            )
        )
        hist.append(x)
        if len(hist) > EWMA_H:
            hist = hist[-EWMA_H:]
    return (hist,), out


def ewma_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x) metric stream -> one chart row per period, the
    last-H counts held in the state store."""
    return keyed_fold(
        feed,
        "stream_name",
        "ws",
        ["ws", "x"],
        ewma_fold,
        EWMA_STATE_SCHEMA,
        EWMA_OUTPUT_SCHEMA,
    )
