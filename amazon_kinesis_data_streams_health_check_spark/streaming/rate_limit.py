"""Streaming token-bucket rate limiting — the online form of the batch
``rate_limit_audit`` query (plans/healthcheck_queries.py).

The batch side replays the bucket as one packed-BIGINT fold per user; the
streaming state carries the same fields unpacked — (last-event second,
tokens, throttled count, event count) — so folding a micro-batch in is the
identical integer recurrence and the cumulative counters after the last
batch are byte-identical to the batch fold however the feed is sliced.
Rows must arrive in nondecreasing time order per key across batches (the
bounded drive orders its feed files by modification time), exactly the
delivery order a per-shard Kinesis consumer sees for a partition key.

State is O(users); emission is one cumulative row per (user, batch) in
update mode — the dashboard read is "latest row per user".
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from amazon_kinesis_data_streams_health_check_spark import pyworker

RL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_throttled", LongType()),
        StructField("throttled_ppm", LongType()),
        StructField("tokens_left", LongType()),
    ]
)

RL_STATE_SCHEMA = StructType(
    [
        StructField("last_s", LongType()),
        StructField("tokens", LongType()),
        StructField("n_throttled", LongType()),
        StructField("n_events", LongType()),
    ]
)


def make_rate_limit_fn(cap: int, refill_s: int):
    """applyInPandasWithState function: fold (s,) packed event scalars into
    the per-user token bucket, emitting one cumulative row per batch."""

    def rl_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        user_id = int(key[0])
        if state.exists:
            last_s, tokens, n_thr, n_ev = state.get
        else:
            last_s, tokens, n_thr, n_ev = 0, cap, 0, 0

        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("s")
        for s in pdf["s"]:
            sec = int(s) >> 24  # event pack: second * 2^24 + event_id
            tokens = min(cap, tokens + (sec - last_s) // refill_s)
            if tokens >= 1:
                tokens -= 1
            else:
                n_thr += 1
            last_s = sec
            n_ev += 1
        state.update((last_s, tokens, n_thr, n_ev))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n_ev],
                "n_throttled": [n_thr],
                "throttled_ppm": [1_000_000 * n_thr // n_ev],
                "tokens_left": [tokens],
            }
        )

    return rl_fn


def rate_limit_stream(feed: DataFrame, cap: int, refill_s: int) -> DataFrame:
    """``feed`` columns: user_id long, s long (second * 2^24 + event_id)."""
    return feed.groupBy("user_id").applyInPandasWithState(
        make_rate_limit_fn(cap, refill_s),
        outputStructType=RL_OUTPUT_SCHEMA,
        stateStructType=RL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
