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


def make_ensemble_fn():
    """applyInPandasWithState function: fold (ws, x, mu, slack) rows into
    the three-chart ensemble, emitting one voted row per period."""

    def ens_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        if state.exists:
            hist, p_pos, lo_pos = state.get
            hist = list(hist)
        else:
            hist, p_pos, lo_pos = [], 0, 0

        out: dict[str, list] = {f.name: [] for f in ENSEMBLE_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("ws")
        for ws, x, mu, slack in zip(
            pdf["ws"], pdf["x"], pdf["mu_milli"], pdf["slack_milli"]
        ):
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
            out["stream_name"].append(stream_name)
            out["window_start_s"].append(ws)
            out["n_arrivals"].append(x)
            out["shewhart"].append(shew)
            out["cusum_up"].append(cus)
            out["ewma"].append(ew)
            out["n_alarms"].append(total)
            out["consensus"].append(total >= 2)
            hist.append(x)
            if len(hist) > ENS_WIN - 1:
                hist = hist[-(ENS_WIN - 1):]

        state.update((hist, p_pos, lo_pos))
        yield pd.DataFrame(out)

    return ens_fn


def ensemble_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x, mu_milli, slack_milli) metric stream -> one
    voted ensemble row per period; 59 counts + the CUSUM carry pair held
    in the state store per stream."""
    return feed.groupBy("stream_name").applyInPandasWithState(
        make_ensemble_fn(),
        outputStructType=ENSEMBLE_OUTPUT_SCHEMA,
        stateStructType=ENSEMBLE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
