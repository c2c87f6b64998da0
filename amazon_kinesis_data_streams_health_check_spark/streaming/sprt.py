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

from collections.abc import Iterable

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


def sprt_fold(
    stream_name: str, state: tuple | None, rows: Iterable[tuple]
) -> tuple[tuple, list[tuple]]:
    """Fold (m_s, n, s) trial rollups into the running LLR walk, emitting
    one row per minute."""
    llr, trials = state if state is not None else (0, 0)
    out = []
    for m_s, n, s in rows:
        m_s, n, s = int(m_s), int(n), int(s)
        llr += SPRT_STEP_MBITS * (2 * s - n)
        trials += n
        out.append((stream_name, m_s, llr, trials))
    return (llr, trials), out


def sprt_stream(feed: DataFrame) -> DataFrame:
    """(stream_name, m_s, n, s) trial stream -> one walk row per minute,
    the (llr, trials) prefix held in the state store."""
    return keyed_fold(
        feed,
        "stream_name",
        "m_s",
        ["m_s", "n", "s"],
        sprt_fold,
        SPRT_STATE_SCHEMA,
        SPRT_OUTPUT_SCHEMA,
    )
