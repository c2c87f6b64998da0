"""Named query registry — the engine's public query surface.

Each :class:`Query` pairs a Spark DataFrame builder with (where expressible)
an equivalent DuckDB SQL string over the same parquet tables; the driver's
correctness gate runs both at sf0.01 and hash-compares results
(``__spark_entry__.py`` contract). Column names/aliases are kept identical on
both sides; float aggregates are rounded identically so value hashes are
stable across engines.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from amazon_kinesis_data_streams_health_check_spark.session import configure_session


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}

#: Explicit surfacing order for the registry. The driver's correctness gate
#: checks the FIRST 50 entries of ``queries()``; registration order is a
#: byproduct of module import order, so the window is pinned here.
#:
#: Rotation policy (round 7 onward, per the round-6 verdict item 1): only
#: the reference-parity healthcheck core plus the two bench flagships stay
#: pinned every round (PINNED, 10 slots) — the old 24-query LLM block had
#: been driver-green 5-6 consecutive rounds and re-checking it bought
#: nothing. The remaining 40 slots (ROTATION) cycle through queries that
#: have never had a driver CORRECTNESS row, so cumulative driver coverage
#: grows ~40/round against the 201-query backlog. Everything rotated OUT
#: keeps its green row from an earlier round and remains covered by the
#: sf0.001/sf0.01 oracle-parity suites (tests/test_oracle_parity.py).
#: Names not listed follow in registration order; a listed-but-unregistered
#: name — and a ROTATION slot burned on an already-green query while
#: never-checked ones remain — are errors caught by tests/test_registry.py
#: against the CORRECTNESS_r*.json history.
PINNED: tuple[str, ...] = (
    # healthcheck core (reference parity) — pinned permanently
    "health_lag_alarm",
    "tracer_produce",
    "consumer_metrics",
    "first_record_parity",
    "arn_parse",
    "alarm_nofm",
    "missing_periods",
    "alarm_transitions",
    # bench flagships — pinned so the driver always re-checks the two
    # queries the per-round benchmark leans on hardest
    "text_quality",
    "dedup_minhash_lsh",
)

#: Round-10 rotation — 40 never-driver-checked slots (standing policy:
#: burn down the backlog; 94 never-checked remained after round 9). Picks
#: span the biggest untouched clusters — the healthcheck/timeseries tail,
#: the relational block, curation/pack economics, the similarity/ANN
#: family (touched by this optimization round, so driver rows are
#:  highest-value), textpipe, corpus quality, behavior, and mining —
#: and deliberately include the three queries the round-9 plan-hygiene
#: commit (5e24df3) touched (`decayed_activity_rank`, `ts_motif_search`,
#: `benford_audit`) so their restructures get first-ever driver rows.
ROTATION: tuple[str, ...] = (
    # healthcheck / core timeseries (5)
    "holt_forecast_daily",  # Holt double-exponential forecast
    "rate_limit_audit",  # throttle/rate-limit breach audit
    "stream_correlation_matrix",  # cross-stream metric correlation
    "control_chart_ensemble",  # combined control-chart flags
    "shadow_pipeline_diff",  # shadow-vs-primary output diff
    # relational (10)
    "revenue_moving_window",  # sliding-window revenue
    "json_shred_roundtrip",  # JSON shred/rebuild roundtrip
    "lineitem_measures_unpivot",  # measure unpivot (stack)
    "event_time_histogram",  # event-time bucket histogram
    "user_first_last_events",  # per-user first/last event
    "sql_surface_revenue",  # SQL-surface revenue rollup
    "order_reconciliation",  # order-vs-lineitem reconciliation
    "sketch_set_intersection",  # theta-sketch set intersection
    "incremental_join_maintenance",  # incremental join-view delta
    "weighted_median_price",  # weighted median by part
    # curation / pack economics (5)
    "padded_batch_waste",  # padding waste per batch policy
    "prefix_cache_hit_estimate",  # prefix-cache hit estimator
    "context_truncation_loss",  # context-window truncation loss
    "mixture_temperature_reweight",  # mixture temperature reweight
    "pack_efficiency_audit",  # sequence-packing efficiency
    # similarity / ANN (5)
    "ann_ivf",  # IVF cell assignment + probe
    "embedding_centroids",  # k-means centroid summary
    "ann_quantized_recall",  # scalar-quantized recall audit
    "ann_pq_codes",  # product-quantizer code assignment
    "retrieval_ndcg",  # retrieval NDCG eval
    # textpipe (3)
    "denylist_scrub",  # denylist scrub pass
    "length_quartiles",  # doc-length quartiles
    "doc_length_rankings",  # doc-length rank table
    # corpus quality (5)
    "table_profile",  # column-profile audit
    "skipgram_pairs",  # skip-gram pair extraction
    "source_overlap_jaccard",  # per-source doc-hash overlap
    "adaptive_quality_filter",  # per-source adaptive quality gate
    "doc_surprisal_score",  # unigram surprisal per doc
    # behavior (4)
    "rolling_active_users",  # rolling active-user counts
    "event_transition_matrix",  # event-type transition matrix
    "funnel_attribution",  # funnel conversion attribution
    "decayed_activity_rank",  # r09-touched: TakeOrdered rank shape
    # mining (3)
    "market_basket_lift",  # basket lift matrix
    "benford_audit",  # r09-touched: broadcast-hint fix
    "ts_motif_search",  # r09-touched: TakeOrdered rank shape
)

_PRIORITY: tuple[str, ...] = PINNED + ROTATION


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder.

    ``Query.builder`` applies the session contract (``configure_session``)
    before the plan function runs, so every registry entry point — the
    driver contract, the CLI, the bench and the parity tests — builds on a
    UTC, ANSI-off session even when the caller owns the session. The
    decorator returns ``fn`` unchanged for direct module-level calls.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_session(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = Query(name=name, builder=build, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    # Import side-effect modules that populate the registry.
    from amazon_kinesis_data_streams_health_check_spark.plans import (  # noqa: F401
        healthcheck_queries,
        relational_queries,
        tpch_queries,
        curation_queries,
        ext_queries,
        textpipe_queries,
        corpus_queries,
        behavior_queries,
        lake_queries,
        mining_queries,
        streaming_queries,
    )

    ordered: dict[str, Query] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


def get(name: str) -> Query:
    return all_queries()[name]
