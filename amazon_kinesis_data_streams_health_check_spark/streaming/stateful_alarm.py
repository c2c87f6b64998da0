"""W4/W6: the streaming forms of the CloudWatch alarm — the one genuinely
stateful piece of streaming engineering in the pipeline (SURVEY.md section 4).

CloudWatch's ``TreatMissingData.BREACHING`` (KinesisHealthCheckStack.java:179)
fires the alarm when metrics STOP ARRIVING — a negative condition no
per-record operator can produce. Each variant here turns silence into a
missing period with its own timer, and hands every period, present or
missing, to ``operators.alarm.step``: the one alarm state machine, the
batch ``evaluate_alarm``'s semantics one period at a time. The variants
differ only in timing:

- ``alarm_state_stream``: ``applyInPandasWithState`` with a processing-time
  timeout (heartbeat silence, wall-clock paced);
- ``alarm_state_stream_event_time``: an event-time timeout, so absence is
  judged against the watermark and a replay gives the same alarms;
- ``period_alarm_stream``: walks a per-period max feed in order and
  synthesizes every period the feed skipped (the oracle-checked form);
- ``alarm_tws_stream``: a ``transformWithStateInPandas`` processor with the
  full M-of-N and ``TreatMissingData`` config, a processing-time timer per
  key and typed state (``ValueState`` for the state, ``ListState`` for the
  evaluation window).

State is O(streams) (x N slots for the TWS window), independent of event
volume. The processing- and event-time variants seed the previous state with
OK; the period walk starts with none, as the batch does.

The TWS state-server protocol needs ``google.protobuf`` on the Python
workers; without it ``TWS_AVAILABLE`` is False and ``alarm_tws_stream``
raises. The processor itself is tested through fake state handles either way
(tests/test_tws_alarm.py, tests/test_alarm_step.py).

The alarm itself takes a few milliseconds per key; a small micro-batch's cost
is the Arrow/Python boundary. Every UDF body here calls ``pyworker.ready()``,
which brings the engine's lazy zip-cache invalidation onto the worker
(``pyworker.py``).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker
from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
    STATE_OK,
    AlarmConfig,
    step,
)

try:  # pragma: no cover - availability depends on the deployment image
    import google.protobuf  # noqa: F401

    TWS_AVAILABLE = True
except Exception:  # pragma: no cover
    TWS_AVAILABLE = False

#: Output row shape (mirrors the batch alert shape, FIXTURES.md section 5,
#: with processing-time semantics).
ALARM_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("reason", StringType()),  # 'data' | 'timeout' | 'gap'
        StructField("max_lag", DoubleType()),
        StructField("state", StringType()),
        StructField("prev_state", StringType()),
        StructField("transitioned", BooleanType()),
    ]
)

#: Persisted state: the current alarm state.
ALARM_STATE_SCHEMA = StructType([StructField("cur_state", StringType())])


def period_max(chunks: Iterable[pd.DataFrame], col: str = "value") -> float | None:
    """Max of ``col`` over one key's Arrow chunks, NULL/NaN skipped; None (a
    missing period) when no chunk holds a value. Python's ``max`` would make
    the result depend on chunk order: ``max(nan, 2.0)`` is nan."""
    present = [m for m in (c[col].max() for c in chunks) if pd.notna(m)]
    return float(max(present)) if present else None


def _row(schema: StructType, **cols: Any) -> pd.DataFrame:
    """One output row, in ``schema``'s column order."""
    return pd.DataFrame({f.name: [cols[f.name]] for f in schema.fields})


def make_alarm_fn(threshold: float = 1.0, timeout_ms: int = 60_000):
    """Build the applyInPandasWithState function for a given threshold/period.

    Each call evaluates one period: the key's new rows, or its timeout with
    none (a missing period). N = 1, so no evaluation window is kept."""
    cfg = AlarmConfig(threshold=threshold)

    def alarm_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        prev = state.get[0] if state.exists else STATE_OK
        if state.hasTimedOut:  # heartbeat stopped
            reason, max_lag = "timeout", None
        else:
            reason, max_lag = "data", period_max(pdfs)
        new, _, transitioned = step(prev, [], max_lag, cfg)
        state.update((new,))
        state.setTimeoutDuration(timeout_ms)
        yield _row(
            ALARM_OUTPUT_SCHEMA,
            stream_name=key[0],
            reason=reason,
            max_lag=max_lag,
            state=new,
            prev_state=prev,
            transitioned=transitioned,
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


#: Event-time variant state: alarm state + max event time (ms).
ALARM_STATE_SCHEMA_ET = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("max_ts_ms", LongType()),
    ]
)


def make_event_time_alarm_fn(threshold: float = 1.0, gap_ms: int = 60_000):
    """applyInPandasWithState function using EVENT-time timeouts: a key goes
    BREACHING when the stream's watermark (not the wall clock) passes its last
    event time + ``gap_ms``."""
    cfg = AlarmConfig(threshold=threshold)

    def alarm_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        prev, max_ts_ms = state.get if state.exists else (STATE_OK, 0)
        if state.hasTimedOut:
            reason, max_lag = "gap", None
            # No new data: leave the silence armed one gap further out so a
            # still-dead stream re-fires as the watermark keeps advancing.
            deadline = state.getCurrentWatermarkMs() + gap_ms
        else:
            chunks = [pdf for pdf in pdfs if len(pdf)]
            reason, max_lag = "data", period_max(chunks)
            for pdf in chunks:
                max_ts_ms = max(max_ts_ms, int(pdf["ts"].max().value // 1_000_000))
            # Deterministic on replay: the deadline is data-derived (last
            # event time + gap), clamped above the current watermark as the
            # API requires.
            deadline = max(max_ts_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
        new, _, transitioned = step(prev, [], max_lag, cfg)
        state.update((new, max_ts_ms))
        state.setTimeoutTimestamp(deadline)
        yield _row(
            ALARM_OUTPUT_SCHEMA,
            stream_name=key[0],
            reason=reason,
            max_lag=max_lag,
            state=new,
            prev_state=prev,
            transitioned=transitioned,
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
    (KinesisHealthCheckStack.java:165-183). The walk consumes per-(stream,
    period) max rows sorted by period and evaluates every period the feed
    skipped as missing — so its output is one row per grid period,
    byte-identical to the batch ``alarm_pipeline`` whatever the micro-batch
    slicing was, as long as periods arrive in nondecreasing order per key
    (the bounded drive orders its feed files by modification time).

    A row with ``ws_s > hi_s`` is a flush sentinel: it walks the remaining
    missing periods out to ``hi_s`` and emits nothing for itself.

    State is one (state, last-period) pair per stream — O(streams),
    independent of event volume.
    """
    cfg = AlarmConfig(threshold=threshold)

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

        out: dict[str, list] = {f.name: [] for f in PERIOD_ALARM_OUTPUT_SCHEMA.fields}

        def emit(ws: int, max_v, n: int) -> None:
            nonlocal cur_state, last_ws
            new_state, _, transitioned = step(cur_state, [], max_v, cfg)
            out["stream_name"].append(stream_name)
            out["ws_s"].append(ws)
            out["max_lag"].append(max_v)
            out["n_datapoints"].append(n)
            out["state"].append(new_state)
            out["prev_state"].append(cur_state)
            out["transitioned"].append(transitioned)
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


#: TWS output schema: one row per (key, period evaluation).
TWS_ALARM_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("reason", StringType()),  # 'data' | 'missing'
        StructField("max_lag", DoubleType()),
        StructField("n_breaching", LongType()),  # of the window's slots
        StructField("state", StringType()),
        StructField("prev_state", StringType()),
        StructField("transitioned", BooleanType()),
    ]
)


class CloudWatchAlarmProcessor(StatefulProcessor):
    """transformWithStateInPandas processor: one evaluation per micro-batch
    with data, plus a timer-driven evaluation for each silent period."""

    def __init__(self, cfg: AlarmConfig | None = None, period_ms: int = 60_000) -> None:
        self.cfg = cfg or AlarmConfig()
        self.period_ms = period_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        pyworker.ready()
        self.handle = handle
        self.machine = handle.getValueState("machine", "cur_state STRING")
        self.window = handle.getListState("flags", "breached INT")

    def close(self) -> None:  # pragma: no cover - nothing to release
        pass

    def _evaluate(
        self, key: tuple[Any, ...], reason: str, max_lag: float | None, timerValues: Any
    ) -> pd.DataFrame:
        prev = self.machine.get()[0] if self.machine.exists() else STATE_OK
        window = (  # a NULL (missing-period) slot may read back as NaN
            [None if pd.isna(v) else int(v) for (v,) in self.window.get()]
            if self.window.exists()
            else []
        )
        state, window, transitioned = step(prev, window, max_lag, self.cfg)
        self.machine.update((state,))
        if window:
            self.window.put([(v,) for v in window])
        else:
            self.window.clear()
        # One live timer per key: drop stale ones, arm the next period edge.
        for t in self.handle.listTimers():
            self.handle.deleteTimer(t)
        self.handle.registerTimer(
            timerValues.getCurrentProcessingTimeInMs() + self.period_ms
        )
        return _row(
            TWS_ALARM_OUTPUT_SCHEMA,
            stream_name=key[0],
            reason=reason,
            max_lag=max_lag,
            n_breaching=sum(v for v in window if v),
            state=state,
            prev_state=prev,
            transitioned=transitioned,
        )

    def handleInputRows(
        self, key: tuple[Any, ...], rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        yield self._evaluate(key, "data", period_max(rows), timerValues)

    def handleExpiredTimer(
        self, key: tuple[Any, ...], timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        yield self._evaluate(key, "missing", None, timerValues)


def alarm_tws_stream(metrics: DataFrame, cfg: AlarmConfig | None = None) -> DataFrame:
    """metric rows (stream_name, value, ...) -> alarm evaluations via
    transformWithStateInPandas, one period per 60 s timer (the processor's
    default ``period_ms``). Requires protobuf on workers (TWS_AVAILABLE)
    and the RocksDB state store provider (set it before starting the query):

        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    """
    if not TWS_AVAILABLE:  # pragma: no cover - exercised only without protobuf
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf on the Python "
            "workers, which is not installed. Use alarm_state_stream "
            "(applyInPandasWithState) here."
        )
    return metrics.groupBy("stream_name").transformWithStateInPandas(
        CloudWatchAlarmProcessor(cfg),
        outputStructType=TWS_ALARM_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
