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

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker

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


def make_journey_fn(costs: dict[tuple[str, str], int]):
    """applyInPandasWithState function: fold (ts_us, event_id, event_type)
    rows into running journey-surprisal prefixes, one output row per
    transition.

    Transition pairs absent from the offline-fit cost matrix fall back to
    one bit above the matrix's maximum cost (a worst-case surprisal) rather
    than raising — the registered drive fits the matrix on the same feed so
    the fallback never fires there, but an open-vocabulary feed must not
    kill the streaming query."""
    fallback_cost = max(costs.values(), default=0) + 1

    def journey_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        user_id = int(key[0])
        if state.exists:
            last_type, n_trans, sum_bits = state.get
        else:
            last_type, n_trans, sum_bits = None, 0, 0

        out: dict[str, list] = {f.name: [] for f in JOURNEY_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        for et in pdf["event_type"]:
            et = str(et)
            if last_type is not None:
                n_trans += 1
                sum_bits += costs.get((last_type, et), fallback_cost)
                out["user_id"].append(user_id)
                out["n_transitions"].append(n_trans)
                out["sum_bits"].append(sum_bits)
                out["score_micro_bits"].append(10**6 * sum_bits // n_trans)
            last_type = et
        state.update((last_type, n_trans, sum_bits))
        yield pd.DataFrame(out)

    return journey_fn


def journey_stream(
    feed: DataFrame, costs: dict[tuple[str, str], int]
) -> DataFrame:
    """Wire the scorer onto a streaming (user_id, event_id, ts_us,
    event_type) feed."""
    return feed.groupBy("user_id").applyInPandasWithState(
        make_journey_fn(costs),
        outputStructType=JOURNEY_OUTPUT_SCHEMA,
        stateStructType=JOURNEY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
