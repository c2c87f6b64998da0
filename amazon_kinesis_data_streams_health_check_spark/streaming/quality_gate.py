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

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from amazon_kinesis_data_streams_health_check_spark.streaming.keyed_fold import (
    keyed_fold,
)

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


def quality_gate_fold(
    source: str, state: tuple | None, rows: Iterable[tuple]
) -> tuple[tuple, list[tuple]]:
    """Fold (doc_id, passed) rows, in (ou, doc_id) order, into the running
    acceptance trajectory, one output row per document."""
    source = str(source)
    if state is not None:
        n_seen, n_passed = (int(x) for x in state)
    else:
        n_seen, n_passed = 0, 0
    out = []
    for doc_id, passed in rows:
        n_seen += 1
        n_passed += int(bool(passed))
        out.append(
            (int(doc_id), source, bool(passed), n_seen, n_passed, 10**6 * n_passed // n_seen)
        )
    return (n_seen, n_passed), out


def quality_gate_stream(feed: DataFrame) -> DataFrame:
    """Wire the gate onto a streaming (source, ou, doc_id, passed) feed."""
    return keyed_fold(
        feed,
        "source",
        ["ou", "doc_id"],
        ["doc_id", "passed"],
        quality_gate_fold,
        GATE_STATE_SCHEMA,
        GATE_OUTPUT_SCHEMA,
    )
