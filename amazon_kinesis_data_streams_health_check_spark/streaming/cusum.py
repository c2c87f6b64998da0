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

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import (
    keyed_fold,
)

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


def cusum_fold(
    stream_name: str, state: tuple | None, rows: Iterable[tuple]
) -> tuple[tuple, list[tuple]]:
    """Fold (ws, x, mu, slack) rows into the two-sided CUSUM, emitting one
    row per period with the statistic and the h = mu decision flags."""
    if state is not None:
        p_pos, p_neg, lo_pos, lo_neg = state
    else:
        p_pos = p_neg = 0
        lo_pos = lo_neg = 0

    out = []
    for ws, x, mu, slack in rows:
        ws, x, mu, slack = int(ws), int(x), int(mu), int(slack)
        p_pos += x - mu - slack
        p_neg += mu - x - slack
        lo_pos = min(lo_pos, p_pos)
        lo_neg = min(lo_neg, p_neg)
        c_pos = p_pos - min(0, lo_pos)
        c_neg = p_neg - min(0, lo_neg)
        out.append((stream_name, ws, x, c_pos, c_neg, c_pos > mu, c_neg > mu))
    return (p_pos, p_neg, lo_pos, lo_neg), out


def cusum_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x, mu_milli, slack_milli) metric stream -> one
    CUSUM row per period, the carry pair held in the state store."""
    return keyed_fold(
        feed,
        "stream_name",
        "ws",
        ["ws", "x", "mu_milli", "slack_milli"],
        cusum_fold,
        CUSUM_STATE_SCHEMA,
        CUSUM_OUTPUT_SCHEMA,
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


def hysteresis_fold(
    stream_name: str, state: tuple | None, rows: Iterable[tuple]
) -> tuple[tuple, list[tuple]]:
    """Fold (ws, x) rows into the Schmitt trigger, one held-state row per
    period."""
    cur = state[0] if state is not None else "OK"
    seen_any = state is not None  # a prior period exists => lag() is defined
    out = []
    for ws, x in rows:
        ws, x = int(ws), int(x)
        if x > _HYST_HI_MILLI:
            new = "ALARM"
        elif x < _HYST_LO_MILLI:
            new = "OK"
        else:
            new = cur
        out.append((stream_name, ws, x, new, seen_any and new != cur))
        cur = new
        seen_any = True
    return (cur,), out


def hysteresis_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, ws, x) metric stream -> one held-state row per period."""
    return keyed_fold(
        feed,
        "stream_name",
        "ws",
        ["ws", "x"],
        hysteresis_fold,
        HYST_STATE_SCHEMA,
        HYST_OUTPUT_SCHEMA,
    )
