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

from collections.abc import Iterable
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import (
    keyed_fold,
)

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


def rate_limit_fold(
    user_id: int,
    state: tuple | None,
    rows: Iterable[tuple],
    *,
    cap: int,
    refill_s: int,
) -> tuple[tuple, list[tuple]]:
    """Fold (s,) packed event scalars into the per-user token bucket,
    emitting one cumulative row per batch."""
    if state is not None:
        last_s, tokens, n_thr, n_ev = state
    else:
        last_s, tokens, n_thr, n_ev = 0, cap, 0, 0

    for (s,) in rows:
        sec = int(s) >> 24  # event pack: second * 2^24 + event_id
        tokens = min(cap, tokens + (sec - last_s) // refill_s)
        if tokens >= 1:
            tokens -= 1
        else:
            n_thr += 1
        last_s = sec
        n_ev += 1
    return (last_s, tokens, n_thr, n_ev), [
        (int(user_id), n_ev, n_thr, 1_000_000 * n_thr // n_ev, tokens)
    ]


def rate_limit_stream(feed: DataFrame, cap: int, refill_s: int) -> DataFrame:
    """``feed`` columns: user_id long, s long (second * 2^24 + event_id)."""
    return keyed_fold(
        feed,
        "user_id",
        "s",
        ["s"],
        partial(rate_limit_fold, cap=cap, refill_s=refill_s),
        RL_STATE_SCHEMA,
        RL_OUTPUT_SCHEMA,
    )
