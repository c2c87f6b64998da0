"""Streaming journey-surprisal scorer — the online form of the batch
``journey_markov_surprisal`` query (plans/behavior_queries.py).

The batch side scores each user's transition path against the corpus-
fitted first-order Markov matrix in integer floor-log2 bits. Online, the
state store carries exactly what the next transition needs — the user's
last event type plus the running (n_transitions, sum_bits) pair — and the
edge-cost matrix (bounded by the squared type vocabulary, fit offline)
rides into the workers as a captured Python dict. Every transition emits
the running prefix row, so the sink holds the full per-user score
trajectory and is byte-identical to the batch window cumsum however the
feed is sliced across micro-batches.

Rows must arrive in nondecreasing time order per user ACROSS micro-batches
(the bounded drive orders its feed files by modification time); within a
micro-batch the fold sorts on (ts_us, event_id) — microsecond epoch, the
full precision of a Spark TIMESTAMP — so the fold's order matches the
batch window's ``ORDER BY ts, event_id`` exactly even when two events for
one user share the same wall-clock second.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import (
    keyed_fold,
)

JOURNEY_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_transitions", LongType()),
        StructField("sum_bits", LongType()),
        StructField("score_micro_bits", LongType()),
    ]
)

#: (last event type, transitions so far, bits so far).
JOURNEY_STATE_SCHEMA = StructType(
    [
        StructField("last_type", StringType()),
        StructField("n_trans", LongType()),
        StructField("sum_bits", LongType()),
    ]
)


def journey_fold(
    user_id: int,
    state: tuple | None,
    rows: Iterable[tuple],
    *,
    costs: dict[tuple[str, str], int],
) -> tuple[tuple, list[tuple]]:
    """Fold (event_type,) rows, in (ts_us, event_id) order, into running
    journey-surprisal prefixes, one output row per transition.

    Transition pairs absent from the offline-fit cost matrix fall back to
    one bit above the matrix's maximum cost (a worst-case surprisal) rather
    than raising — the registered drive fits the matrix on the same feed so
    the fallback never fires there, but an open-vocabulary feed must not
    kill the streaming query."""
    fallback_cost = max(costs.values(), default=0) + 1
    user_id = int(user_id)
    if state is not None:
        last_type, n_trans, sum_bits = state
    else:
        last_type, n_trans, sum_bits = None, 0, 0

    out = []
    for (et,) in rows:
        et = str(et)
        if last_type is not None:
            n_trans += 1
            sum_bits += costs.get((last_type, et), fallback_cost)
            out.append((user_id, n_trans, sum_bits, 10**6 * sum_bits // n_trans))
        last_type = et
    return (last_type, n_trans, sum_bits), out


def journey_stream(
    feed: DataFrame, costs: dict[tuple[str, str], int]
) -> DataFrame:
    """Wire the scorer onto a streaming (user_id, event_id, ts_us,
    event_type) feed."""
    return keyed_fold(
        feed,
        "user_id",
        ["ts_us", "event_id"],
        ["event_type"],
        partial(journey_fold, costs=costs),
        JOURNEY_STATE_SCHEMA,
        JOURNEY_OUTPUT_SCHEMA,
    )
