"""Spark-free: every keyed fold gives the same rows however its feed is sliced.

The eleven order-dependent streaming operators are pure per-key folds run
by ``streaming.keyed_fold``. This file drives each through the harness's
per-key function (``fold_fn``) with a fake ``GroupState``: seeded rows for a
few keys, sorted and cut at random points into 1-4 micro-batches, each batch
shuffled and split over Arrow-like chunks so the harness's sort is what
restores the order. The rows must equal the one-batch fold; the rate limit
emits one cumulative row per batch, so its last row must equal the
one-batch row. Python models of the EWMA numerator, the journey bits and the
pack cumsum pin what the folds compute.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from functools import partial
from typing import Any, Callable

import pandas as pd
import pytest

from amazon_kinesis_data_streams_health_check_spark.streaming.cusum import (
    CUSUM_OUTPUT_SCHEMA,
    HYST_OUTPUT_SCHEMA,
    cusum_fold,
    hysteresis_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.ensemble import (
    ENSEMBLE_OUTPUT_SCHEMA,
    ensemble_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.ewma import (
    EWMA_H,
    EWMA_OUTPUT_SCHEMA,
    ewma_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.forecast import (
    FORECAST_OUTPUT_SCHEMA,
    forecast_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.journey import (
    JOURNEY_OUTPUT_SCHEMA,
    journey_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import fold_fn
from amazon_kinesis_data_streams_health_check_spark.streaming.pack import (
    PACK_OUTPUT_SCHEMA,
    pack_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.quality_gate import (
    GATE_OUTPUT_SCHEMA,
    quality_gate_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.rate_limit import (
    RL_OUTPUT_SCHEMA,
    rate_limit_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.sprt import (
    SPRT_OUTPUT_SCHEMA,
    sprt_fold,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
    PERIOD_ALARM_OUTPUT_SCHEMA,
    period_alarm_fold,
)
from tests.test_alarm_step import FakeGroupState

BASE = 1_700_000_000 - (1_700_000_000 % 86400)
COSTS = {(a, b): (3 * i + j) % 7 for i, a in enumerate("vcp") for j, b in enumerate("vcp")}
PERIODS = 30
ALARM_HI = BASE + (PERIODS - 1) * 60


def _periods(rng: random.Random, n: int, unit: int = 60) -> list[int]:
    """``n`` distinct ascending period starts, with gaps."""
    return [BASE + unit * p for p in sorted(rng.sample(range(2 * n), n))]


def _metric(
    rng: random.Random, n: int, lo: int, hi: int, t="ws", v="x", unit=60, **const
) -> pd.DataFrame:
    """``n`` periods ``t`` of one key, values ``v`` in [lo, hi]."""
    return pd.DataFrame(
        {t: _periods(rng, n, unit), v: [rng.randint(lo, hi) for _ in range(n)], **const}
    )


def _trials(rng: random.Random) -> pd.DataFrame:
    df = _metric(rng, rng.randint(1, 30), 1, 20, t="m_s", v="n")
    return df.assign(s=[rng.randint(0, n) for n in df.n])


def _journey(rng: random.Random) -> pd.DataFrame:
    n = rng.randint(1, 25)
    return pd.DataFrame(
        {  # same-microsecond events are ordered by event_id
            "ts_us": sorted(rng.randint(0, 40) for _ in range(n)),
            "event_id": rng.sample(range(1000), n),
            "event_type": [rng.choice("vcp") for _ in range(n)],
        }
    )


def _docs(rng: random.Random, **cols: Callable[[], Any]) -> pd.DataFrame:
    n = rng.randint(1, 30)
    return pd.DataFrame(
        {
            "ou": [rng.randint(0, 20) for _ in range(n)],  # shuffle-key ties
            "doc_id": rng.sample(range(10_000), n),
            **{c: [f() for _ in range(n)] for c, f in cols.items()},
        }
    )


def _alarm_feed(rng: random.Random) -> pd.DataFrame:
    """The present periods of the grid (NaN maxima included) plus the flush
    sentinel past ``ALARM_HI``."""
    present = sorted(rng.sample(range(PERIODS), rng.randint(1, PERIODS)))
    return pd.DataFrame(
        [
            (BASE + 60 * p, rng.choice([0.5, 1.0, 1.5, 3.0, float("nan")]), rng.randint(1, 4))
            for p in present
        ]
        + [(ALARM_HI + 60, float("nan"), 0)],
        columns=["ws_s", "max_value", "n_datapoints"],
    )


@dataclass(frozen=True)
class Case:
    fold: Callable
    order: str | list[str]
    cols: list[str]
    schema: Any
    feed: Callable[[random.Random], pd.DataFrame]
    keys: tuple = ("a", "b", "c")


CASES = {
    "ewma": Case(ewma_fold, "ws", ["ws", "x"], EWMA_OUTPUT_SCHEMA,
                 lambda r: _metric(r, r.randint(1, 30), 0, 60)),
    "sprt": Case(sprt_fold, "m_s", ["m_s", "n", "s"], SPRT_OUTPUT_SCHEMA, _trials),
    "cusum": Case(
        cusum_fold, "ws", ["ws", "x", "mu_milli", "slack_milli"], CUSUM_OUTPUT_SCHEMA,
        lambda r: _metric(r, r.randint(1, 30), 0, 2000, mu_milli=1000, slack_milli=50),
    ),
    "hysteresis": Case(hysteresis_fold, "ws", ["ws", "x"], HYST_OUTPUT_SCHEMA,
                       lambda r: _metric(r, r.randint(1, 30), 100_000, 550_000)),
    "forecast": Case(
        forecast_fold, "d_s", ["d_s", "y"], FORECAST_OUTPUT_SCHEMA,
        lambda r: _metric(r, r.randint(1, 12), 0, 50, t="d_s", v="y", unit=86400),
    ),
    "ensemble": Case(
        ensemble_fold, "ws", ["ws", "x", "mu_milli", "slack_milli"], ENSEMBLE_OUTPUT_SCHEMA,
        lambda r: _metric(r, r.randint(1, 80), 5, 40, mu_milli=12, slack_milli=3),
    ),
    "journey": Case(
        partial(journey_fold, costs=COSTS), ["ts_us", "event_id"], ["event_type"],
        JOURNEY_OUTPUT_SCHEMA, _journey, keys=(1, 2, 3),
    ),
    "pack": Case(
        partial(pack_fold, budget=64), ["ou", "doc_id"], ["doc_id", "n_tokens"],
        PACK_OUTPUT_SCHEMA, lambda r: _docs(r, n_tokens=lambda: r.randint(0, 40)),
    ),
    "quality_gate": Case(
        quality_gate_fold, ["ou", "doc_id"], ["doc_id", "passed"], GATE_OUTPUT_SCHEMA,
        lambda r: _docs(r, passed=lambda: r.random() < 0.7),
    ),
    "rate_limit": Case(
        partial(rate_limit_fold, cap=3, refill_s=2), "s", ["s"], RL_OUTPUT_SCHEMA,
        lambda r: pd.DataFrame(
            {"s": [(BASE + sec << 24) + i for i, sec in
                   enumerate(sorted(r.randint(0, 30) for _ in range(r.randint(1, 40))))]}
        ),
        keys=(1, 2, 3),
    ),
    "period_alarm": Case(
        partial(period_alarm_fold, threshold=1.0, lo_s=BASE, hi_s=ALARM_HI),
        "ws_s", ["ws_s", "max_value", "n_datapoints"], PERIOD_ALARM_OUTPUT_SCHEMA,
        _alarm_feed,
    ),
}


def _records(frames) -> list[tuple]:
    """Output rows as plain tuples, NaN as None."""
    return [
        tuple(None if v is None or v != v else v for v in row)
        for df in frames
        for row in df.astype(object).itertuples(index=False, name=None)
    ]


def _drive(case: Case, key, feed: pd.DataFrame, rng: random.Random, n_batches: int):
    """Fold one key's feed, cut into ``n_batches`` micro-batches in order;
    every batch's frames, one per harness call."""
    fn = fold_fn(case.order, case.cols, case.fold, case.schema)
    rows = feed.sort_values(case.order, ignore_index=True)
    n_batches = min(n_batches, len(rows))
    cuts = [0] + sorted(rng.sample(range(1, len(rows)), n_batches - 1)) + [len(rows)]
    state, out = FakeGroupState(), []
    for a, b in zip(cuts, cuts[1:]):
        batch = rows.iloc[a:b].sample(frac=1, random_state=rng.randrange(2**31))
        split = sorted(rng.sample(range(len(batch) + 1), 2))
        chunks = [batch.iloc[: split[0]], batch.iloc[split[0] : split[1]], batch.iloc[split[1] :]]
        out.append(list(fn((key,), iter(chunks), state)))
    return out


@pytest.mark.parametrize("name", CASES)
def test_fold_is_slicing_invariant(name):
    case = CASES[name]
    for seed in range(8):
        rng = random.Random(seed)
        for key in case.keys:
            feed = case.feed(rng)
            [one] = _drive(case, key, feed, rng, 1)
            many = _drive(case, key, feed, rng, rng.randint(2, 4))
            if name == "rate_limit":
                assert _records(many[-1]) == _records(one), (seed, key)
            else:
                assert _records(f for b in many for f in b) == _records(one), (seed, key)


def test_ewma_numerator_matches_python_recurrence():
    series = {
        "a": [3, 5, 2, 8, 1, 9, 4, 6, 2, 7, 5, 3, 40, 2, 1],
        "b": [10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 10, 1, 10],
    }
    for s, xs in series.items():
        _, out = ewma_fold(s, None, ((BASE + i * 60, x) for i, x in enumerate(xs)))
        for i, r in enumerate(out):
            past = xs[max(0, i - EWMA_H):i]
            expected = sum(v << (EWMA_H - k) for k, v in zip(range(len(past), 0, -1), past))
            assert r[3] == expected, (s, i, r)


def test_journey_bits_match_python_fold():
    costs = {
        ("v", "v"): 1, ("v", "c"): 2, ("v", "p"): 5,
        ("c", "v"): 2, ("c", "c"): 3, ("c", "p"): 1,
        ("p", "v"): 0, ("p", "c"): 4, ("p", "p"): 6,
    }
    journeys = {1: ["v", "v", "c", "p", "v"], 2: ["c", "c"], 3: ["p"]}
    for u, ets in journeys.items():
        _, got = journey_fold(u, None, ((et,) for et in ets), costs=costs)
        want, s = [], 0
        for i, (a, b) in enumerate(zip(ets, ets[1:]), start=1):
            s += costs[(a, b)]
            want.append((u, i, s, 10**6 * s // i))
        assert got == want  # a one-event journey emits nothing


def test_pack_cumsum_matches_python():
    rows = [  # (source, ou, doc_id, n_tokens)
        ("s0", 10, 1, 300), ("s0", 20, 2, 300), ("s0", 30, 3, 100),
        ("s0", 40, 4, 900), ("s1", 15, 5, 512), ("s1", 35, 6, 1),
    ]
    cum: dict[str, int] = {}
    for source in ("s0", "s1"):
        mine = sorted(r for r in rows if r[0] == source)
        _, got = pack_fold(source, None, ((d, n) for _, _, d, n in mine), budget=512)
        want = []
        for s, _, d, n in mine:
            cum[s] = cum.get(s, 0) + n
            want.append((d, s, n, cum[s], (cum[s] - 1) // 512))
        assert got == want
