"""Streaming control-chart ensemble — the online form of the batch
``control_chart_ensemble`` query (plans/healthcheck_queries.py).

One state object serves all three charts: the last 59 per-minute counts
(the Shewhart trailing-60 window including the current point needs 59
previous values, and the EWMA's 12 lags are its tail) plus the CUSUM
closed-form carry pair (prefix, running-min). Folding a period in is an
append + a trim + two adds, and every emitted statistic is byte-identical
to the batch window computation however the feed is sliced across
micro-batches.

The baseline (mu, slack) is LEARNED OFFLINE and attached to the feed rows,
as in the standalone streaming CUSUM. State is O(streams * 59); rows must
arrive in nondecreasing period order per key (the bounded drive orders its
feed files by modification time).
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

ENS_WIN = 60
ENS_MIN = 30
ENS_K2 = 9
ENS_H = 12
_EWMA_FULL = (1 << ENS_H) - 1

ENSEMBLE_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("window_start_s", LongType()),
        StructField("n_arrivals", LongType()),
        StructField("shewhart", BooleanType()),
        StructField("cusum_up", BooleanType()),
        StructField("ewma", BooleanType()),
        StructField("n_alarms", LongType()),
        StructField("consensus", BooleanType()),
    ]
)

ENSEMBLE_STATE_SCHEMA = StructType(
    [
        StructField("hist", ArrayType(LongType())),
        StructField("p_pos", LongType()),
        StructField("lo_pos", LongType()),
    ]
)


def ensemble_fold(
    stream_name: str, state: tuple | None, rows: Iterable[tuple]
) -> tuple[tuple, list[tuple]]:
    """Fold (ws, x, mu, slack) rows into the three-chart ensemble, emitting
    one voted row per period."""
    if state is not None:
        hist, p_pos, lo_pos = state
        hist = list(hist)
    else:
        hist, p_pos, lo_pos = [], 0, 0

    out = []
    for ws, x, mu, slack in rows:
        ws, x, mu, slack = int(ws), int(x), int(mu), int(slack)
        win = hist[-(ENS_WIN - 1):] + [x]
        n = len(win)
        s = sum(win)
        ss = sum(v * v for v in win)
        shew = (
            n >= ENS_MIN
            and (n - 1) * (x * n - s) * (x * n - s)
            > ENS_K2 * n * (n * ss - s * s)
        )
        p_pos += x - mu - slack
        lo_pos = min(lo_pos, p_pos)
        cus = (p_pos - min(0, lo_pos)) > 8 * slack
        enum_ = sum(
            hist[-k] << (ENS_H - k)
            for k in range(1, min(len(hist), ENS_H) + 1)
        )
        emass = sum(
            1 << (ENS_H - k) for k in range(1, min(len(hist), ENS_H) + 1)
        )
        ew = emass == _EWMA_FULL and x * emass > 2 * enum_
        total = int(shew) + int(cus) + int(ew)
        out.append((stream_name, ws, x, shew, cus, ew, total, total >= 2))
        hist.append(x)
        if len(hist) > ENS_WIN - 1:
            hist = hist[-(ENS_WIN - 1):]
    return (hist, p_pos, lo_pos), out


def ensemble_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x, mu_milli, slack_milli) metric stream -> one
    voted ensemble row per period; 59 counts + the CUSUM carry pair held
    in the state store per stream."""
    return keyed_fold(
        feed,
        "stream_name",
        "ws",
        ["ws", "x", "mu_milli", "slack_milli"],
        ensemble_fold,
        ENSEMBLE_STATE_SCHEMA,
        ENSEMBLE_OUTPUT_SCHEMA,
    )
