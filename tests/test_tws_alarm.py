"""CloudWatch-fidelity alarm on transformWithStateInPandas (W4/W6).

The container lacks protobuf, so the real TWS drive is gated; the processor
is exercised end-to-end through fake typed-state handles (same call pattern
the TWS runtime uses: init -> handleInputRows / handleExpiredTimer), and the
M-of-N + missing-data state machine it calls (``operators.alarm.step``) is
pinned as a pure function.
"""

from __future__ import annotations

import pandas as pd
import pytest

from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
    AlarmConfig,
    evaluate_alarm,
    step,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
    TWS_AVAILABLE,
    CloudWatchAlarmProcessor,
)


# ---------------------------------------------------------------------------
# Pure state machine
# ---------------------------------------------------------------------------
def test_one_of_one_matches_reference_config():
    """The reference deploys N=1/M=1: every breaching period alarms, every
    clean period clears (KinesisHealthCheckStack.java:175-181)."""
    cfg = AlarmConfig(evaluation_periods=1, datapoints_to_alarm=1)
    state, window, moved = step("OK", [], 2.0, cfg)
    assert (state, window, moved) == ("ALARM", [1], True)
    state, window, moved = step(state, window, 0.5, cfg)
    assert (state, window, moved) == ("OK", [0], True)


def test_m_of_n_requires_m_breaches():
    cfg = AlarmConfig(evaluation_periods=3, datapoints_to_alarm=2)
    state, window = "OK", []
    state, window, _ = step(state, window, 2.0, cfg)
    assert state == "OK"  # 1 of 3 < M
    state, window, _ = step(state, window, 0.5, cfg)
    assert state == "OK"
    state, window, moved = step(state, window, 2.0, cfg)
    assert (window, state, moved) == ([1, 0, 1], "ALARM", True)
    # Oldest breach slides out: [0,1,0]
    state, window, _ = step(state, window, 0.5, cfg)
    assert (window, state) == ([0, 1, 0], "OK")


def test_threshold_is_strict_and_nan_is_missing():
    cfg = AlarmConfig(threshold=1.0, missing_data="notBreaching")
    assert step("OK", [], 1.0, cfg)[0] == "OK"  # GREATER_THAN, not >=
    assert step("OK", [], float("nan"), cfg)[:2] == ("OK", [0])
    assert step("OK", [], float("nan"), AlarmConfig())[:2] == ("ALARM", [1])


def test_missing_ignore_first_breach_alarms_without_full_window():
    """Under ``ignore`` a missing period takes no slot and keeps the state,
    and a present period is judged on the slots it has: N=3, M=1 alarms on
    the first breach, as the batch ``evaluate_alarm`` does."""
    cfg = AlarmConfig(evaluation_periods=3, datapoints_to_alarm=1, missing_data="ignore")
    assert step("OK", [], None, cfg) == ("OK", [], False)
    assert step(None, [], None, cfg) == ("OK", [], False)
    assert step("OK", [], 2.0, cfg) == ("ALARM", [1], True)
    # A missing period holds ALARM and leaves the window untouched.
    assert step("ALARM", [1], None, cfg) == ("ALARM", [1], False)


def test_missing_policy_is_insufficient_only_without_present_slots():
    cfg = AlarmConfig(evaluation_periods=2, datapoints_to_alarm=1, missing_data="missing")
    assert step(None, [], None, cfg) == ("INSUFFICIENT_DATA", [None], False)
    assert step("OK", [0], None, cfg) == ("OK", [0, None], False)
    assert step("OK", [0, None], None, cfg) == ("INSUFFICIENT_DATA", [None, None], True)


def test_unknown_policy_raises_in_streaming_and_batch():
    """One vocabulary (CloudWatch's spellings), validated once by
    ``AlarmConfig``: the streaming config and the batch operator both raise
    instead of treating an unknown policy as not-breaching."""
    with pytest.raises(ValueError, match="not_breaching"):
        AlarmConfig(missing_data="not_breaching")
    with pytest.raises(ValueError, match="not_breaching"):
        evaluate_alarm(None, treat_missing="not_breaching")  # raises before any plan


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
    proc = CloudWatchAlarmProcessor(AlarmConfig(threshold=1.0), period_ms=60_000)
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
        AlarmConfig(threshold=1.0, missing_data="notBreaching")
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
    from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
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
