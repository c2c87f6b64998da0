"""CloudWatch-fidelity alarm on transformWithStateInPandas (W4/W6).

The container lacks protobuf, so the real TWS drive is gated; the processor
is exercised end-to-end through fake typed-state handles (same call pattern
the TWS runtime uses: init -> handleInputRows / handleExpiredTimer), and the
M-of-N + missing-data state machine is pinned as a pure function.
"""

from __future__ import annotations

import pandas as pd
import pytest

from amazon_kinesis_data_streams_health_check_spark.streaming.tws_alarm import (
    MISSING_BREACHING,
    MISSING_IGNORE,
    MISSING_NOT_BREACHING,
    TWS_AVAILABLE,
    AlarmConfig,
    CloudWatchAlarmProcessor,
    evaluate_period,
)


# ---------------------------------------------------------------------------
# Pure state machine
# ---------------------------------------------------------------------------
def test_one_of_one_matches_reference_config():
    """The reference deploys N=1/M=1: every breaching period alarms, every
    clean period clears (KinesisHealthCheckStack.java:175-181)."""
    cfg = AlarmConfig(evaluation_periods=1, datapoints_to_alarm=1)
    flags, n, state = evaluate_period([], 1, cfg, "OK")
    assert (flags, n, state) == ([1], 1, "ALARM")
    flags, n, state = evaluate_period(flags, 0, cfg, state)
    assert (flags, n, state) == ([0], 0, "OK")


def test_m_of_n_requires_m_breaches():
    cfg = AlarmConfig(evaluation_periods=3, datapoints_to_alarm=2)
    flags, state = [], "OK"
    flags, n, state = evaluate_period(flags, 1, cfg, state)
    assert state == "OK"  # 1 of 3 < M
    flags, n, state = evaluate_period(flags, 0, cfg, state)
    assert state == "OK"
    flags, n, state = evaluate_period(flags, 1, cfg, state)
    assert (n, state) == (2, "ALARM")  # window [1,0,1]
    # Oldest breach slides out: [0,1,X]
    flags, n, state = evaluate_period(flags, 0, cfg, state)
    assert (n, state) == (1, "OK")


def test_missing_ignore_holds_state_until_full_window():
    cfg = AlarmConfig(
        evaluation_periods=3, datapoints_to_alarm=2, missing_data=MISSING_IGNORE
    )
    # Insufficient data (window shorter than N) -> hold previous state.
    flags, n, state = evaluate_period([1], None, cfg, "ALARM")
    assert (flags, state) == ([1], "ALARM")
    flags, n, state = evaluate_period([0, 0, 0], None, cfg, "ALARM")
    assert state == "OK"  # full window of clean periods clears


# ---------------------------------------------------------------------------
# Processor through fake typed-state handles
# ---------------------------------------------------------------------------
class FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class FakeListState(FakeValueState):
    def get(self):
        return iter(self._v)

    def put(self, rows):
        self._v = [tuple(r) for r in rows]


class FakeHandle:
    def __init__(self):
        self.states = {}
        self.timers = []

    def getValueState(self, name, schema, ttl=None):
        return self.states.setdefault(name, FakeValueState())

    def getListState(self, name, schema, ttl=None):
        return self.states.setdefault(name, FakeListState())

    def listTimers(self):
        return list(self.timers)

    def deleteTimer(self, t):
        self.timers.remove(t)

    def registerTimer(self, t):
        self.timers.append(t)


class FakeTimerValues:
    def __init__(self, now_ms=1_000_000):
        self.now_ms = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self.now_ms


def _drive(proc, key, values, tv):
    [out] = list(proc.handleInputRows(key, iter([pd.DataFrame({"value": values})]), tv))
    return out.iloc[0]


def test_processor_data_then_silence_breaches():
    """Healthy heartbeat -> OK; timer fires on silence -> BREACHING -> ALARM;
    recovery heartbeat -> OK again. One live timer per key throughout."""
    proc = CloudWatchAlarmProcessor(AlarmConfig(threshold=1.0, period_ms=60_000))
    h = FakeHandle()
    proc.init(h)
    tv = FakeTimerValues(1_000_000)

    row = _drive(proc, ("hb-stream",), [0.2, 0.5], tv)
    assert (row.state, row.prev_state, bool(row.transitioned)) == ("OK", "OK", False)
    assert row.max_lag == 0.5 and row.reason == "data"
    assert h.timers == [1_060_000]

    # Silence: the armed timer expires -> missing period, BREACHING policy.
    tv2 = FakeTimerValues(1_060_000)
    [out] = list(proc.handleExpiredTimer(("hb-stream",), tv2, None))
    row = out.iloc[0]
    assert (row.reason, row.state, bool(row.transitioned)) == ("missing", "ALARM", True)
    assert row.max_lag is None or pd.isna(row.max_lag)
    assert h.timers == [1_120_000]  # re-armed, old timer dropped

    row = _drive(proc, ("hb-stream",), [0.3], FakeTimerValues(1_090_000))
    assert (row.state, row.prev_state, bool(row.transitioned)) == ("OK", "ALARM", True)


def test_processor_not_breaching_policy_keeps_ok():
    proc = CloudWatchAlarmProcessor(
        AlarmConfig(threshold=1.0, missing_data=MISSING_NOT_BREACHING)
    )
    h = FakeHandle()
    proc.init(h)
    _drive(proc, ("s",), [0.1], FakeTimerValues())
    [out] = list(proc.handleExpiredTimer(("s",), FakeTimerValues(2_000_000), None))
    assert out.iloc[0].state == "OK"


def test_processor_threshold_breach_via_data():
    proc = CloudWatchAlarmProcessor(AlarmConfig(threshold=1.0))
    h = FakeHandle()
    proc.init(h)
    row = _drive(proc, ("s",), [0.4, 2.5], FakeTimerValues())
    assert (row.state, row.max_lag, bool(row.transitioned)) == ("ALARM", 2.5, True)
    assert row.n_breaching == 1


# ---------------------------------------------------------------------------
# Real TWS drive — runs only where protobuf exists (e.g. a real cluster).
# ---------------------------------------------------------------------------
@pytest.mark.slow
@pytest.mark.skipif(not TWS_AVAILABLE, reason="google.protobuf not in this image")
def test_tws_stream_end_to_end(spark, tmp_path):  # pragma: no cover
    import json

    from pyspark.sql import functions as F

    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from amazon_kinesis_data_streams_health_check_spark.streaming.tws_alarm import (
        alarm_tws_stream,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            json.dumps({"stream_name": "s", "value": v}) for v in [0.1, 2.0, 0.2]
        )
    )
    stream = spark.readStream.schema("stream_name string, value double").json(str(src))
    out = alarm_tws_stream(stream.select("stream_name", F.col("value")))
    rows = drain_to_memory(out, "tws_alarm", "update").collect()
    assert any(r.state == "ALARM" for r in rows)
