"""Differential test: every streaming alarm equals the batch alarm.

``operators.alarm.step`` is the one alarm state machine. Each streaming
variant drives it with its own timing; this file drives each one through
fake ``GroupState`` / TWS handles (no streaming query) over seeded feeds,
one call per period: the key's rows when the period has any, a timeout or
timer pass when it has none. The per-period (state, transitioned) table
must equal ``evaluate_alarm`` over the same rows, for every policy the
variant supports.

The processing-time, event-time and TWS variants seed the previous state
with OK while the batch has none, so their first row is compared on state
only. The period walk starts with none, so it is compared in full.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pytest

from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
    AlarmConfig,
    evaluate_alarm,
    tumbling_max,
    with_period_grid,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
    CloudWatchAlarmProcessor,
    make_alarm_fn,
    make_event_time_alarm_fn,
    make_period_alarm_fn,
)
from tests.test_tws_alarm import FakeHandle, FakeTimerValues

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
THRESHOLD = 1.0
N_PERIODS = 9
NAN = float("nan")

#: Config 0 is the reference alarm (1 of 1, breaching), the only one the
#: applyInPandasWithState variants take; the TWS processor is checked under
#: every config.
CONFIGS = [AlarmConfig(THRESHOLD)] + [
    AlarmConfig(THRESHOLD, n, m, policy)
    for policy in ("breaching", "notBreaching", "ignore", "missing")
    for n, m in ((3, 1), (3, 2))
]


def _feed(seed: int) -> dict[str, dict[int, list[pd.DataFrame]]]:
    """key -> period -> the period's rows as Arrow-like chunks.

    Two keys per seed. ``a`` spans the grid; ``b`` has leading and trailing
    missing periods and breaches on its first present period. The middle
    mixes gaps, all-NULL periods, values at/around the threshold, and rows
    split over several chunks (NaN-only and empty chunks included)."""
    rng = random.Random(seed)
    feed: dict[str, dict[int, list[pd.DataFrame]]] = {}
    for name in ("a", "b"):
        periods: dict[int, list[float]] = {}
        for p in range(N_PERIODS):
            kind = rng.choice(["gap", "null", "vals", "vals", "vals"])
            if kind == "null":
                periods[p] = [NAN] * rng.randint(1, 2)
            elif kind == "vals":
                periods[p] = [
                    rng.choice([0.5, 1.0, 1.5, 3.0, NAN]) for _ in range(rng.randint(1, 4))
                ]
        if name == "a":
            periods[0] = [0.5, NAN]
            periods[N_PERIODS - 1] = [0.2]
            periods[2] = [1.0, 0.5]  # max == threshold: not breaching
        else:
            periods.pop(0, None)
            periods.pop(N_PERIODS - 1, None)
            periods[1] = [3.0, NAN]
        chunks = {}
        for p, vals in periods.items():
            cuts = sorted(rng.sample(range(len(vals) + 1), k=min(2, len(vals) + 1)))
            parts = [vals[: cuts[0]], vals[cuts[0] : cuts[-1]], vals[cuts[-1] :]]
            ts = [T0 + dt.timedelta(minutes=p, seconds=5 + i) for i in range(len(vals))]
            ts_parts = [ts[: cuts[0]], ts[cuts[0] : cuts[-1]], ts[cuts[-1] :]]
            chunks[p] = [
                pd.DataFrame({"ts": pd.to_datetime(t, utc=True), "value": pd.Series(v, dtype="float64")})
                for v, t in zip(parts, ts_parts)
            ]
        feed[f"{name}{seed}"] = chunks
    return feed


FEED = {k: v for seed in range(3) for k, v in _feed(seed).items()}


@pytest.fixture(scope="module")
def batch(spark) -> dict:
    """(config index, key) -> [(state, transitioned)] over the grid."""
    rows = [
        (key, T0 + dt.timedelta(minutes=p, seconds=5 + i), None if v != v else v)
        for key, periods in FEED.items()
        for p, chunks in periods.items()
        for i, v in enumerate(x for c in chunks for x in c["value"])
    ]
    df = spark.createDataFrame(rows, "stream_name string, ts timestamp, value double")
    gridded = with_period_grid(tumbling_max(df)).localCheckpoint()
    out: dict = {}
    for i, c in enumerate(CONFIGS):
        evaluated = evaluate_alarm(
            gridded,
            threshold=c.threshold,
            treat_missing=c.missing_data,
            evaluation_periods=c.evaluation_periods,
            datapoints_to_alarm=c.datapoints_to_alarm,
        )
        for r in evaluated.orderBy("stream_name", "window_start").collect():
            out.setdefault((i, r.stream_name), []).append((r.state, r.transitioned))
    assert all(len(t) == N_PERIODS for t in out.values())
    return out


class FakeGroupState:
    """The slice of ``GroupState`` the applyInPandasWithState alarms use."""

    def __init__(self) -> None:
        self.value = None
        self.hasTimedOut = False
        self.watermark_ms = 0

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self) -> tuple:
        return self.value

    def update(self, value) -> None:
        self.value = tuple(value)

    def setTimeoutDuration(self, ms: int) -> None:
        pass

    def setTimeoutTimestamp(self, ms: int) -> None:
        assert ms > self.watermark_ms

    def getCurrentWatermarkMs(self) -> int:
        return self.watermark_ms


def _drive_timeout_variant(fn, key: str) -> list[tuple[str, bool]]:
    """One call per grid period: the rows, or a timeout pass with none."""
    gs, table = FakeGroupState(), []
    for p in range(N_PERIODS):
        chunks = FEED[key].get(p)
        gs.hasTimedOut = chunks is None
        gs.watermark_ms = int((T0 + dt.timedelta(minutes=p)).timestamp() * 1000)
        [out] = list(fn((key,), iter(chunks or []), gs))
        table.append((out.state[0], bool(out.transitioned[0])))
    return table


def _drive_tws(cfg: AlarmConfig, key: str) -> list[tuple[str, bool]]:
    proc, table = CloudWatchAlarmProcessor(cfg), []
    proc.init(FakeHandle())
    for p in range(N_PERIODS):
        chunks = FEED[key].get(p)
        tv = FakeTimerValues(p * 60_000)
        if chunks is None:
            [out] = list(proc.handleExpiredTimer((key,), tv, None))
        else:
            [out] = list(proc.handleInputRows((key,), iter(chunks), tv))
        table.append((out.state[0], bool(out.transitioned[0])))
    return table


def _assert_same(got: list, want: list) -> None:
    """First row on state only (the streaming side seeds OK), then exact."""
    assert got[0][0] == want[0][0] and got[1:] == want[1:], (got, want)


@pytest.mark.parametrize(
    "make_fn", [make_alarm_fn, make_event_time_alarm_fn], ids=["processing_time", "event_time"]
)
def test_timeout_variants_equal_batch(batch, make_fn):
    fn = make_fn(THRESHOLD)
    for key in FEED:
        _assert_same(_drive_timeout_variant(fn, key), batch[(0, key)])


def test_tws_processor_equals_batch_under_every_policy(batch):
    for i, cfg in enumerate(CONFIGS):
        for key in FEED:
            try:
                _assert_same(_drive_tws(cfg, key), batch[(i, key)])
            except AssertionError as e:
                raise AssertionError(f"{cfg} {key}: {e}") from None


def test_period_walk_equals_batch(batch):
    """The walk gets only the present periods (NULL maxima included), split
    over three micro-batches, and synthesizes every missing one."""
    lo_s = int(T0.timestamp())
    hi_s = lo_s + (N_PERIODS - 1) * 60
    fn = make_period_alarm_fn(THRESHOLD, lo_s, hi_s)
    for key, periods in FEED.items():
        feed = pd.DataFrame(
            [
                (lo_s + 60 * p, pd.concat(chunks)["value"].max(), sum(map(len, chunks)))
                for p, chunks in sorted(periods.items())
            ]
            + [(hi_s + 60, NAN, 0)],
            columns=["ws_s", "max_value", "n_datapoints"],
        )
        gs, rows = FakeGroupState(), []
        for part in (feed.iloc[:2], feed.iloc[2:4], feed.iloc[4:]):
            for df in fn((key,), iter([part]), gs):
                rows += df.to_dict("records")
        out = pd.DataFrame(rows)
        assert list(out.ws_s) == list(range(lo_s, hi_s + 1, 60))
        got = list(zip(out.state, map(bool, out.transitioned)))
        assert got == batch[(0, key)], (key, got)
        assert out.prev_state.iloc[0] is None


@pytest.mark.parametrize("variant", ["processing_time", "event_time", "tws"])
def test_period_max_skips_nan_whatever_the_chunk_order(variant):
    """A key's state must not depend on Arrow chunk order, and an all-NULL
    period is missing, so it breaches under the default ``breaching``."""

    def run(values_per_chunk):
        chunks = [
            pd.DataFrame(
                {
                    "ts": pd.to_datetime([T0] * len(v), utc=True),
                    "value": pd.Series(v, dtype="float64"),
                }
            )
            for v in values_per_chunk
        ]
        if variant == "tws":
            proc = CloudWatchAlarmProcessor(AlarmConfig(THRESHOLD))
            proc.init(FakeHandle())
            [out] = list(proc.handleInputRows(("k",), iter(chunks), FakeTimerValues()))
        else:
            make = make_alarm_fn if variant == "processing_time" else make_event_time_alarm_fn
            [out] = list(make(THRESHOLD)(("k",), iter(chunks), FakeGroupState()))
        return out.state[0], out.max_lag[0]

    assert run([[NAN, NAN], [2.0]]) == run([[2.0], [NAN, NAN]]) == ("ALARM", 2.0)
    state, max_lag = run([[NAN], [], [NAN, NAN]])
    assert state == "ALARM" and pd.isna(max_lag)
