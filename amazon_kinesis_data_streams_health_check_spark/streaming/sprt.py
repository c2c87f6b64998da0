"""Streaming Wald SPRT — the online form of the batch
``sprt_sequential_test`` query (plans/mining_queries.py).

The batch side computes the millibit log-likelihood walk with one
cumulative window over the per-minute trial rollup; the streaming state
carries exactly that prefix — the running (llr_mbits, cum_trials) pair per
stream — so folding a new minute in is two integer additions and the
emitted walk rows are byte-identical to the batch window under any
micro-batch slicing. This is the point of a SEQUENTIAL test: the decision
is available the moment the boundary is crossed, not at drain time.

State is O(streams); rows must arrive in nondecreasing minute order per
key (the bounded drive orders its feed files by modification time).
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

SPRT_STEP_MBITS = 290
SPRT_BOUND_MBITS = 4248

SPRT_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_name", StringType()),
        StructField("m_s", LongType()),
        StructField("llr_mbits", LongType()),
        StructField("cum_trials", LongType()),
    ]
)

SPRT_STATE_SCHEMA = StructType(
    [StructField("llr", LongType()), StructField("trials", LongType())]
)


def make_sprt_fn(step: int = SPRT_STEP_MBITS):
    """applyInPandasWithState function: fold (m_s, n, s) trial rollups into
    the running LLR walk, emitting one row per minute."""

    def sprt_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        stream_name = key[0]
        llr, trials = (state.get if state.exists else (0, 0))

        out: dict[str, list] = {f.name: [] for f in SPRT_OUTPUT_SCHEMA.fields}
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("m_s")
        for m_s, n, s in zip(pdf["m_s"], pdf["n"], pdf["s"]):
            m_s, n, s = int(m_s), int(n), int(s)
            llr += step * (2 * s - n)
            trials += n
            out["stream_name"].append(stream_name)
            out["m_s"].append(m_s)
            out["llr_mbits"].append(llr)
            out["cum_trials"].append(trials)

        state.update((llr, trials))
        yield pd.DataFrame(out)

    return sprt_fn


def sprt_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, m_s, n, s) trial stream -> one walk row per minute,
    the (llr, trials) prefix held in the state store."""
    return feed.groupBy("stream_name").applyInPandasWithState(
        make_sprt_fn(),
        outputStructType=SPRT_OUTPUT_SCHEMA,
        stateStructType=SPRT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
