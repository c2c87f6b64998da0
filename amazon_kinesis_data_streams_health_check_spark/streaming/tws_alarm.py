"""W4/W6 on the modern API: the CloudWatch alarm state machine as a
``transformWithStateInPandas`` StatefulProcessor (Spark 4 arbitrary stateful
processing v2).

This is the full-fidelity version of the alarm the reference configures in
KinesisHealthCheckStack.java:165-183 — richer than the legacy
``applyInPandasWithState`` twin (stateful_alarm.py):

- **M-of-N evaluation** (``datapointsToAlarm`` of ``evaluationPeriods``,
  KinesisHealthCheckStack.java:176,181): a sliding window of per-period
  breach flags held in a typed ``ListState``; ALARM iff >= M of the last N
  periods breached.
- **treatMissingData policies** (KinesisHealthCheckStack.java:179): a
  processing-time **timer** per key fires when a period elapses with no
  datapoints; the missing period contributes a flag according to the policy
  (``breaching`` | ``not_breaching`` | ``ignore``) — the reference deploys
  BREACHING so heartbeat silence alarms.
- Typed state: ``ValueState`` for the machine tuple, ``ListState`` for the
  flag window — each independently evictable, schema-evolvable, and tracked
  by the state store (RocksDB) instead of one opaque blob.

Scale: state is O(streams) x O(evaluation_periods) tiny ints; timers are one
per key. Input volume only affects the per-batch max() — this holds at any
event rate.

**Environment gate**: the TWS state-server protocol needs ``google.protobuf``
on the Python workers, which this container lacks; ``TWS_AVAILABLE`` is False
there and ``alarm_tws_stream`` raises with a clear message. The state-machine
core (``evaluate_period``) is pure and fully tested either way
(tests/test_streaming.py), and so is the processor via fake state handles.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
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

try:  # pragma: no cover - availability depends on the deployment image
    import google.protobuf  # noqa: F401

    TWS_AVAILABLE = True
except Exception:  # pragma: no cover
    TWS_AVAILABLE = False

#: Output schema: one row per (key, period evaluation).
TWS_ALARM_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("reason", StringType()),  # 'data' | 'missing'
        StructField("max_lag", DoubleType()),
        StructField("n_breaching", LongType()),  # of the last N periods
        StructField("state", StringType()),
        StructField("prev_state", StringType()),
        StructField("transitioned", BooleanType()),
    ]
)

MISSING_BREACHING = "breaching"
MISSING_NOT_BREACHING = "not_breaching"
MISSING_IGNORE = "ignore"


@dataclass(frozen=True)
class AlarmConfig:
    """Mirrors the CfnAlarm knobs (KinesisHealthCheckStack.java:165-183)."""

    threshold: float = 1.0  # breach if value > threshold (GREATER_THAN)
    evaluation_periods: int = 1  # N
    datapoints_to_alarm: int = 1  # M
    period_ms: int = 60_000
    missing_data: str = MISSING_BREACHING


def evaluate_period(
    flags: list[int],
    new_flag: int | None,
    cfg: AlarmConfig,
    prev_state: str,
) -> tuple[list[int], int, str]:
    """Pure M-of-N step: append the period's breach flag (None = ignore),
    trim to the last N, return (new_flags, n_breaching, new_state).

    CloudWatch keeps its current state when fewer than N datapoints exist and
    the missing ones are IGNOREd; we reproduce that by only transitioning on
    a full-window verdict in the ignore case.
    """
    flags = list(flags)
    if new_flag is not None:
        flags.append(int(new_flag))
    flags = flags[-cfg.evaluation_periods :]
    n_breaching = sum(flags)
    if len(flags) < cfg.evaluation_periods and cfg.missing_data == MISSING_IGNORE:
        return flags, n_breaching, prev_state  # insufficient data: hold state
    new_state = "ALARM" if n_breaching >= cfg.datapoints_to_alarm else "OK"
    return flags, n_breaching, new_state


class CloudWatchAlarmProcessor(StatefulProcessor):
    """transformWithStateInPandas processor: one evaluation per micro-batch
    with data, plus timer-driven evaluations for silent periods."""

    def __init__(self, cfg: AlarmConfig | None = None) -> None:
        self.cfg = cfg or AlarmConfig()

    # -- lifecycle ---------------------------------------------------------
    def init(self, handle: StatefulProcessorHandle) -> None:
        pyworker.ready()
        self.handle = handle
        self.machine = handle.getValueState("machine", "cur_state STRING")
        self.flags = handle.getListState("flags", "breached INT")

    def close(self) -> None:  # pragma: no cover - nothing to release
        pass

    # -- helpers -----------------------------------------------------------
    def _load(self) -> tuple[str, list[int]]:
        prev = self.machine.get()[0] if self.machine.exists() else "OK"
        flags = [int(r[0]) for r in self.flags.get()] if self.flags.exists() else []
        return prev, flags

    def _store(self, state: str, flags: list[int]) -> None:
        self.machine.update((state,))
        if flags:
            self.flags.put([(f,) for f in flags])
        else:
            self.flags.clear()

    def _rearm_timer(self, timerValues: Any) -> None:
        # One live timer per key: drop stale ones, arm the next period edge.
        for t in self.handle.listTimers():
            self.handle.deleteTimer(t)
        self.handle.registerTimer(
            timerValues.getCurrentProcessingTimeInMs() + self.cfg.period_ms
        )

    def _emit(
        self,
        key: tuple[Any, ...],
        reason: str,
        max_lag: float | None,
        n_breaching: int,
        state: str,
        prev: str,
    ) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "stream_name": [key[0]],
                "reason": [reason],
                "max_lag": [max_lag],
                "n_breaching": [n_breaching],
                "state": [state],
                "prev_state": [prev],
                "transitioned": [state != prev],
            }
        )

    # -- data path ---------------------------------------------------------
    def handleInputRows(
        self, key: tuple[Any, ...], rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        max_lag: float | None = None
        for pdf in rows:
            if len(pdf):
                m = float(pdf["value"].max())
                max_lag = m if max_lag is None else max(max_lag, m)
        prev, flags = self._load()
        flag = None if max_lag is None else int(max_lag > self.cfg.threshold)
        flags, n_breaching, state = evaluate_period(flags, flag, self.cfg, prev)
        self._store(state, flags)
        self._rearm_timer(timerValues)
        yield self._emit(key, "data", max_lag, n_breaching, state, prev)

    # -- silence path ------------------------------------------------------
    def handleExpiredTimer(
        self, key: tuple[Any, ...], timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        prev, flags = self._load()
        if self.cfg.missing_data == MISSING_IGNORE:
            flag = None
        else:
            flag = int(self.cfg.missing_data == MISSING_BREACHING)
        flags, n_breaching, state = evaluate_period(flags, flag, self.cfg, prev)
        self._store(state, flags)
        self._rearm_timer(timerValues)
        yield self._emit(key, "missing", None, n_breaching, state, prev)


def alarm_tws_stream(metrics: DataFrame, cfg: AlarmConfig | None = None) -> DataFrame:
    """metric rows (stream_name, value, ...) -> alarm evaluations via
    transformWithStateInPandas. Requires protobuf on workers (TWS_AVAILABLE)
    and the RocksDB state store provider (set it before starting the query):

        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    """
    if not TWS_AVAILABLE:  # pragma: no cover - exercised only without protobuf
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf on the Python "
            "workers; not present in this image. Use "
            "stateful_alarm.alarm_state_stream (applyInPandasWithState) here."
        )
    return metrics.groupBy("stream_name").transformWithStateInPandas(
        CloudWatchAlarmProcessor(cfg),
        outputStructType=TWS_ALARM_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
