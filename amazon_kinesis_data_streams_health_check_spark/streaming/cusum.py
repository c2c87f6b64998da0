"""Streaming CUSUM drift detection — the online form of the batch
``cusum_changepoint`` query (plans/healthcheck_queries.py).

The batch side evaluates the reset-at-zero recurrence in closed form
(prefix sum minus running minimum). The streaming state carries exactly the
closed form's carry pair per side — (prefix, running-min) — which is what
makes the statistic resumable across micro-batches: folding a new period in
is two additions and two mins, and the emitted value P - min(0, lo) is
byte-identical to the batch window computation however the feed is sliced.

The baseline (mu, slack) is LEARNED OFFLINE and attached to the feed rows —
the operationally correct split: a drift detector whose target drifts with
the data it monitors detects nothing. State is O(streams); rows must arrive
in nondecreasing period order per key (the bounded drive orders its feed
files by modification time).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("window_start_s", LongType()),
        StructField("value_milli", LongType()),
        StructField("cusum_pos", LongType()),
        StructField("cusum_neg", LongType()),
        StructField("drift_up", BooleanType()),
        StructField("drift_down", BooleanType()),
    ]
)

#: Carry pair per side: prefix sum and its running minimum.
CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("p_pos", LongType()),
        StructField("p_neg", LongType()),
        StructField("lo_pos", LongType()),
        StructField("lo_neg", LongType()),
    ]
)


def make_cusum_fn():
    """applyInPandasWithState function: fold (ws, x, mu, slack) rows into
    the two-sided CUSUM, emitting one row per period with the statistic and
    the h = mu decision flags."""

    def cusum_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        if state.exists:
            p_pos, p_neg, lo_pos, lo_neg = state.get
        else:
            p_pos = p_neg = 0
            lo_pos = lo_neg = 0

        out: dict[str, list] = {f.name: [] for f in CUSUM_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("ws")
        for ws, x, mu, slack in zip(
            pdf["ws"], pdf["x"], pdf["mu_milli"], pdf["slack_milli"]
        ):
            ws, x, mu, slack = int(ws), int(x), int(mu), int(slack)
            p_pos += x - mu - slack
            p_neg += mu - x - slack
            lo_pos = min(lo_pos, p_pos)
            lo_neg = min(lo_neg, p_neg)
            c_pos = p_pos - min(0, lo_pos)
            c_neg = p_neg - min(0, lo_neg)
            out["stream_name"].append(stream_name)
            out["window_start_s"].append(ws)
            out["value_milli"].append(x)
            out["cusum_pos"].append(c_pos)
            out["cusum_neg"].append(c_neg)
            out["drift_up"].append(c_pos > mu)
            out["drift_down"].append(c_neg > mu)

        state.update((p_pos, p_neg, lo_pos, lo_neg))
        yield pd.DataFrame(out)

    return cusum_fn


def cusum_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x, mu_milli, slack_milli) metric stream -> one
    CUSUM row per period, the carry pair held in the state store."""
    return feed.groupBy("stream_name").applyInPandasWithState(
        make_cusum_fn(),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming hysteresis (Schmitt-trigger) alarm — the online twin of the
# batch hysteresis_alarm query. State: the last forced transition per
# stream (one enum), the minimum any alarm state machine can carry.
# ---------------------------------------------------------------------------
HYST_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("window_start_s", LongType()),
        StructField("max_value_milli", LongType()),
        StructField("state", StringType()),
        StructField("transitioned", BooleanType()),
    ]
)

HYST_STATE_SCHEMA = StructType(
    [
        StructField("cur_state", StringType()),
    ]
)

_HYST_HI_MILLI = 400_000
_HYST_LO_MILLI = 250_000


def make_hysteresis_fn(hi_milli: int = _HYST_HI_MILLI, lo_milli: int = _HYST_LO_MILLI):
    def hyst_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        cur = state.get[0] if state.exists else "OK"
        seen_any = state.exists  # a prior period exists => lag() is defined
        out: dict[str, list] = {f.name: [] for f in HYST_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("ws")
        for ws, x in zip(pdf["ws"], pdf["x"]):
            ws, x = int(ws), int(x)
            if x > hi_milli:
                new = "ALARM"
            elif x < lo_milli:
                new = "OK"
            else:
                new = cur
            out["stream_name"].append(stream_name)
            out["window_start_s"].append(ws)
            out["max_value_milli"].append(x)
            out["state"].append(new)
            out["transitioned"].append(seen_any and new != cur)
            cur = new
            seen_any = True
        state.update((cur,))
        yield pd.DataFrame(out)

    return hyst_fn


def hysteresis_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x) metric stream -> one held-state row per period."""
    return feed.groupBy("stream_name").applyInPandasWithState(
        make_hysteresis_fn(),
        outputStructType=HYST_OUTPUT_SCHEMA,
        stateStructType=HYST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
