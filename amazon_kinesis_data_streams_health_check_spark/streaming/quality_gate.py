"""Streaming quality gate — the online form of the batch Gopher rule
battery (plans/curation_queries.py ``gopher_quality_rules``).

The batch side flags every doc against the Rae et al. 2021 heuristic
filters. Online, an ingest gate additionally has to REPORT its own
behavior: per source, the running (seen, passed) totals and acceptance
rate, so a drifting upstream (a source suddenly failing the battery) is
visible the moment it happens. The rule evaluation itself is stateless
and rides the feed projection (same codegen'd expressions as the batch
query); the state store carries exactly TWO BIGINTs per source. Every doc
emits its running prefix row, so the sink holds the full acceptance
trajectory and is byte-identical to the batch window cumsum however the
feed is sliced across micro-batches.

Rows must arrive in nondecreasing shuffle-key order per source ACROSS
micro-batches (the bounded drive cuts feed files on shuffle-key ranges);
within a micro-batch the fold sorts on (ou, doc_id) — the batch window's
exact compound order key.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark import pyworker

GATE_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("passed", BooleanType()),
        StructField("n_seen", LongType()),
        StructField("n_passed", LongType()),
        StructField("accept_ppm", LongType()),
    ]
)

#: (docs seen so far, docs passed so far).
GATE_STATE_SCHEMA = StructType(
    [
        StructField("n_seen", LongType()),
        StructField("n_passed", LongType()),
    ]
)


def gate_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    pyworker.ready()
    source = str(key[0])
    if state.exists:
        n_seen, n_passed = (int(x) for x in state.get)
    else:
        n_seen, n_passed = 0, 0

    out: dict[str, list] = {f.name: [] for f in GATE_OUTPUT_SCHEMA.fields}
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ou", "doc_id"])
    for doc_id, passed in zip(pdf["doc_id"], pdf["passed"]):
        n_seen += 1
        n_passed += int(bool(passed))
        out["doc_id"].append(int(doc_id))
        out["source"].append(source)
        out["passed"].append(bool(passed))
        out["n_seen"].append(n_seen)
        out["n_passed"].append(n_passed)
        out["accept_ppm"].append(10**6 * n_passed // n_seen)
    state.update((n_seen, n_passed))
    yield pd.DataFrame(out)


def quality_gate_stream(feed: DataFrame) -> DataFrame:
    """Wire the gate onto a streaming (source, ou, doc_id, passed) feed."""
    return feed.groupBy("source").applyInPandasWithState(
        gate_fn,
        outputStructType=GATE_OUTPUT_SCHEMA,
        stateStructType=GATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
