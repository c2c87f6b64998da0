"""W4/W6: the stateful heartbeat-timeout alarm — the one genuinely stateful
piece of streaming engineering in the pipeline (SURVEY.md section 4).

CloudWatch's ``TreatMissingData.BREACHING`` (KinesisHealthCheckStack.java:179)
fires the alarm when metrics STOP ARRIVING — a negative condition no
per-record operator can produce. Streaming form: ``applyInPandasWithState``
keyed by stream_name with a processing-time timeout approximately equal to
the alarm period; when a key's timeout expires with no new data, a synthetic
breaching row is emitted and the alarm transitions to ALARM
(state machine per KinesisHealthCheckStack.java:172-183: OK/ALARM, actions on
transition only).

State is one tiny tuple per stream key — state-store pressure is O(streams),
independent of event volume, so this scales to any input rate.

The alarm itself takes a few milliseconds per key; a small micro-batch's cost
is the Arrow/Python boundary. Each stateful task starts two Python worker
invocations (new data, then the timeout pass), and on CPython < 3.13 each one
re-read ``pyspark.zip`` (0.1-0.3 s) before the UDF ran. Every alarm function
here calls ``pyworker.ready()``, which brings the engine's lazy zip-cache
invalidation onto the worker (``pyworker.py``).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker

#: Output row shape (mirrors the batch alert shape, FIXTURES.md section 5,
#: with processing-time semantics).
ALARM_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("reason", StringType()),  # 'data' | 'timeout'
        StructField("max_lag", DoubleType()),
        StructField("state", StringType()),
        StructField("prev_state", StringType()),
        StructField("transitioned", BooleanType()),
    ]
)

#: Persisted state: current alarm state + datapoints seen.
ALARM_STATE_SCHEMA = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("n_seen", LongType()),
    ]
)


def make_alarm_fn(threshold: float = 1.0, timeout_ms: int = 60_000):
    """Build the applyInPandasWithState function for a given threshold/period."""

    def alarm_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        prev_state, n_seen = state.get if state.exists else ("OK", 0)

        if state.hasTimedOut:
            # Heartbeat stopped: missing data => BREACHING => ALARM.
            new_state = "ALARM"
            out = pd.DataFrame(
                {
                    "stream_name": [stream_name],
                    "reason": ["timeout"],
                    "max_lag": [None],
                    "state": [new_state],
                    "prev_state": [prev_state],
                    "transitioned": [new_state != prev_state],
                }
            )
            state.update((new_state, n_seen))
            state.setTimeoutDuration(timeout_ms)
            yield out
            return

        max_lag = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf["value"].max()
                max_lag = m if max_lag is None else max(max_lag, m)
                n_seen += len(pdf)
        new_state = "ALARM" if (max_lag is not None and max_lag > threshold) else "OK"
        state.update((new_state, n_seen))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "stream_name": [stream_name],
                "reason": ["data"],
                "max_lag": [None if max_lag is None else float(max_lag)],
                "state": [new_state],
                "prev_state": [prev_state],
                "transitioned": [new_state != prev_state],
            }
        )

    return alarm_fn


def alarm_state_stream(
    metrics: DataFrame,
    threshold: float = 1.0,
    timeout_ms: int = 60_000,
) -> DataFrame:
    """metric rows (stream_name, value, ...) -> continuous alarm-state rows
    with heartbeat-timeout detection."""
    return metrics.groupBy("stream_name").applyInPandasWithState(
        make_alarm_fn(threshold=threshold, timeout_ms=timeout_ms),
        outputStructType=ALARM_OUTPUT_SCHEMA,
        stateStructType=ALARM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


#: Event-time variant state: alarm state + datapoints + max event time (ms).
ALARM_STATE_SCHEMA_ET = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("n_seen", LongType()),
        StructField("max_ts_ms", LongType()),
    ]
)


def make_event_time_alarm_fn(threshold: float = 1.0, gap_ms: int = 60_000):
    """applyInPandasWithState function using EVENT-time timeouts: a key goes
    BREACHING when the stream's watermark (not the wall clock) passes its last
    event time + ``gap_ms``."""

    def alarm_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        prev_state, n_seen, max_ts_ms = (
            state.get if state.exists else ("OK", 0, 0)
        )

        if state.hasTimedOut:
            new_state = "ALARM"
            out = pd.DataFrame(
                {
                    "stream_name": [stream_name],
                    "reason": ["gap"],
                    "max_lag": [None],
                    "state": [new_state],
                    "prev_state": [prev_state],
                    "transitioned": [new_state != prev_state],
                }
            )
            # No new data: leave the silence armed one gap further out so a
            # still-dead stream re-fires as the watermark keeps advancing.
            state.update((new_state, n_seen, max_ts_ms))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gap_ms)
            yield out
            return

        max_lag = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf["value"].max()
                max_lag = m if max_lag is None else max(max_lag, m)
                n_seen += len(pdf)
                batch_max_ms = int(pdf["ts"].max().value // 1_000_000)
                max_ts_ms = max(max_ts_ms, batch_max_ms)
        new_state = "ALARM" if (max_lag is not None and max_lag > threshold) else "OK"
        state.update((new_state, n_seen, max_ts_ms))
        # Deterministic on replay: the deadline is data-derived (last event
        # time + gap), clamped above the current watermark as the API requires.
        state.setTimeoutTimestamp(
            max(max_ts_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "stream_name": [stream_name],
                "reason": ["data"],
                "max_lag": [None if max_lag is None else float(max_lag)],
                "state": [new_state],
                "prev_state": [prev_state],
                "transitioned": [new_state != prev_state],
            }
        )

    return alarm_fn


#: Period-walk variant output: one row per (stream, period) — the streaming
#: twin of the batch alarm pipeline's alert shape (epoch seconds, not
#: timestamps, so the Arrow round trip carries no timezone semantics; the
#: caller projects ``timestamp_seconds`` after the sink).
PERIOD_ALARM_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("ws_s", LongType()),
        StructField("max_lag", DoubleType()),
        StructField("n_datapoints", LongType()),
        StructField("state", StringType()),
        StructField("prev_state", StringType()),
        StructField("transitioned", BooleanType()),
    ]
)

#: Period-walk state: last resolved alarm state + last evaluated period.
PERIOD_ALARM_STATE_SCHEMA = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("last_ws_s", LongType()),
    ]
)


def make_period_alarm_fn(
    threshold: float, lo_s: int, hi_s: int, period_s: int = 60
):
    """Build the applyInPandasWithState function that walks the period grid.

    The reference alarm evaluates EVERY period in order
    (KinesisHealthCheckStack.java:165-183: 1-min max -> ``> threshold`` ->
    ``TreatMissingData.BREACHING`` -> actions on transition only). The state
    machine here consumes per-(stream, period) max rows sorted by period and
    synthesizes the BREACHING evaluation for every period the feed skipped —
    so its output is one row per grid period, byte-identical to the batch
    ``alarm_pipeline`` whatever the micro-batch slicing was, as long as
    periods arrive in nondecreasing order per key (the bounded drive orders
    its feed files by modification time).

    A row with ``ws_s > hi_s`` is a flush sentinel: it walks the remaining
    missing periods out to ``hi_s`` and emits nothing for itself.

    State is one (state, last-period) pair per stream — O(streams),
    independent of event volume.
    """

    def alarm_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        if state.exists:
            cur_state, last_ws = state.get
        else:
            cur_state, last_ws = None, lo_s - period_s

        out: dict[str, list] = {
            "stream_name": [],
            "ws_s": [],
            "max_lag": [],
            "n_datapoints": [],
            "state": [],
            "prev_state": [],
            "transitioned": [],
        }

        def emit(ws: int, max_v, n: int) -> None:
            nonlocal cur_state, last_ws
            breaching = max_v is None or max_v > threshold
            new_state = "ALARM" if breaching else "OK"
            out["stream_name"].append(stream_name)
            out["ws_s"].append(ws)
            out["max_lag"].append(max_v)
            out["n_datapoints"].append(n)
            out["state"].append(new_state)
            out["prev_state"].append(cur_state)
            out["transitioned"].append(cur_state is not None and new_state != cur_state)
            cur_state = new_state
            last_ws = ws

        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("ws_s")
        for ws, max_v, n in zip(pdf["ws_s"], pdf["max_value"], pdf["n_datapoints"]):
            ws = int(ws)
            if ws > hi_s:
                # Flush sentinel: evaluate trailing missing periods to hi.
                for g in range(last_ws + period_s, hi_s + period_s, period_s):
                    emit(g, None, 0)
                continue
            for g in range(last_ws + period_s, ws, period_s):
                emit(g, None, 0)
            emit(ws, None if pd.isna(max_v) else float(max_v), int(n))

        state.update((cur_state, last_ws))
        yield pd.DataFrame(out)

    return alarm_fn


def period_alarm_stream(
    feed: DataFrame,
    threshold: float,
    lo_s: int,
    hi_s: int,
    period_s: int = 60,
) -> DataFrame:
    """(stream_name, ws_s, max_value, n_datapoints) metric stream -> one
    alarm-state row per grid period, with missing-period BREACHING synthesis
    and transition detection carried in the state store across batches."""
    return feed.groupBy("stream_name").applyInPandasWithState(
        make_period_alarm_fn(threshold=threshold, lo_s=lo_s, hi_s=hi_s, period_s=period_s),
        outputStructType=PERIOD_ALARM_OUTPUT_SCHEMA,
        stateStructType=PERIOD_ALARM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def alarm_state_stream_event_time(
    metrics: DataFrame,
    threshold: float = 1.0,
    gap_ms: int = 60_000,
    watermark: str = "0 seconds",
) -> DataFrame:
    """W4 with event-time semantics: absence is judged against the WATERMARK,
    so a replayed/backfilled run produces byte-identical alarms — the
    processing-time variant (``alarm_state_stream``) depends on wall-clock
    batch pacing instead. ``metrics`` needs (stream_name, ts, value)."""
    return (
        metrics.withWatermark("ts", watermark)
        .groupBy("stream_name")
        .applyInPandasWithState(
            make_event_time_alarm_fn(threshold=threshold, gap_ms=gap_ms),
            outputStructType=ALARM_OUTPUT_SCHEMA,
            stateStructType=ALARM_STATE_SCHEMA_ET,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
