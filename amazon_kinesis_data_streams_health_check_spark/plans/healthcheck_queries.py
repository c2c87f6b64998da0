"""Health-check query surface — the reference pipeline re-expressed batch-first.

The flagship ``health_lag_alarm`` composes the whole alarm path (SURVEY.md
section 7.2): event-time choice (F5) -> P9-truncated lag (P11) -> 1-minute
tumbling MAX per stream dimension (A1/A2) -> dense period grid with
missing=>breaching (F3) -> strict threshold (F2) -> transition detection
(WF2/W6). Deterministic: "now" for each period is the period's own close —
CloudWatch evaluates a period at its end, so no ``current_timestamp()``
appears anywhere (SURVEY.md section 7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
    evaluate_alarm,
    with_period_grid,
)
from amazon_kinesis_data_streams_health_check_spark.operators.consumer import (
    decoded_records,
    metric_rows,
)
from amazon_kinesis_data_streams_health_check_spark.operators.lag import (
    event_time,
    staleness_at_window_close,
)
from amazon_kinesis_data_streams_health_check_spark.operators.producer import (
    tracer_records,
)
from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_events import (
    ARN_PREFIX,
    explode_records,
    synthesize_from_events,
)
from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.session import configure_session
from amazon_kinesis_data_streams_health_check_spark.sources.tables import load_table, parallel_scan
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
    drain,
    replay_feed,
)

#: Alarm threshold for the flagship on the driver's ``events`` table. The
#: reference uses 1s against sub-second Kinesis lag (KinesisHealthCheckStack.java:175);
#: against 60s-period staleness the equivalent mid-scale cut is 30s (median of
#: the observed metric), which exercises both states and real transitions.
FLAGSHIP_THRESHOLD = 30.0

_FLAGSHIP_SQL = """
WITH base AS (
  SELECT event_type AS stream_name,
         COALESCE(TRY_CAST(json_extract_string(props, '$.currentInstant') AS TIMESTAMP), ts) AS ev
  FROM events
),
lagged AS (
  SELECT stream_name,
         date_trunc('minute', ev) AS window_start,
         CAST(epoch(date_trunc('minute', ev) + INTERVAL 1 MINUTE) AS BIGINT)
           - CAST(epoch(date_trunc('second', ev)) AS BIGINT) AS lag_seconds
  FROM base
),
metrics AS (
  SELECT stream_name, window_start,
         max(lag_seconds) AS max_value,
         count(*) AS n_datapoints
  FROM lagged GROUP BY 1, 2
),
bounds AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM metrics),
grid AS (
  SELECT k.stream_name, g.window_start
  FROM (SELECT DISTINCT stream_name FROM metrics) k
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS window_start FROM bounds) g
),
joined AS (
  SELECT g.stream_name, g.window_start,
         g.window_start + INTERVAL 1 MINUTE AS window_end,
         m.max_value,
         COALESCE(m.n_datapoints, 0) AS n_datapoints
  FROM grid g
  LEFT JOIN metrics m
    ON m.stream_name = g.stream_name AND m.window_start = g.window_start
),
states AS (
  SELECT *,
         CASE WHEN max_value IS NULL OR max_value > 30.0 THEN 'ALARM' ELSE 'OK' END AS state
  FROM joined
)
SELECT stream_name, window_start, window_end,
       CAST(max_value AS DOUBLE) AS max_lag,
       n_datapoints,
       state,
       lag(state) OVER w AS prev_state,
       (lag(state) OVER w) IS NOT NULL AND state <> (lag(state) OVER w) AS transitioned
FROM states
WINDOW w AS (PARTITION BY stream_name ORDER BY window_start)
"""


@register(
    "health_lag_alarm",
    oracle=_FLAGSHIP_SQL,
    doc="Flagship: lag metric -> tumbling max -> period grid -> alarm states/transitions",
    tags=("core", "flagship", "bench"),
)
def health_lag_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    lagged = staleness_at_window_close(events, ts_col="ts", payload_col="props", key_col="event_type")
    metrics = lagged.groupBy("stream_name", "window_start", "window_end").agg(
        F.max("lag_seconds").alias("max_value"),
        F.count(F.lit(1)).alias("n_datapoints"),
    )
    gridded = with_period_grid(metrics)
    alerts = evaluate_alarm(gridded, threshold=FLAGSHIP_THRESHOLD, treat_missing="breaching")
    return alerts.select(
        "stream_name",
        "window_start",
        "window_end",
        F.col("max_value").cast("double").alias("max_lag"),
        "n_datapoints",
        "state",
        "prev_state",
        "transitioned",
    )


# ---------------------------------------------------------------------------
# Producer leg: tracer record generation (P1-P4, X1; SURVEY.md section 3.1)
# ---------------------------------------------------------------------------
_TRACER_SQL = """
SELECT event_type AS stream_name,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS partition_key,
       '{"currentInstant":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') || '"}' AS data_json,
       to_base64(encode('{"currentInstant":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') || '"}')) AS data_b64
FROM events
"""


@register(
    "tracer_produce",
    oracle=_TRACER_SQL,
    doc="Producer leg: ISO instant -> tracer JSON -> UTF-8 -> base64; partition key = instant",
    tags=("core",),
)
def tracer_produce(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    return tracer_records(events, F.col("ts"), F.col("event_type"))


# ---------------------------------------------------------------------------
# Consumer leg: wire-faithful round trip (S2-as-synthesized -> explode ->
# P5-P14 -> metric rows; SURVEY.md section 3.2). Deterministic "now" = max
# event time in the table.
# ---------------------------------------------------------------------------
_CONSUMER_SQL = """
WITH now_t AS (SELECT max(ts) AS now_ts FROM events),
syn AS (
  SELECT 'arn:aws:kinesis:us-east-1:123456789012:stream/' || event_type AS arn,
         to_base64(encode('{"currentInstant":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') || '"}')) AS data,
         ts AS arrival
  FROM events
),
dec AS (
  SELECT arn, arrival,
         COALESCE(
           TRY_CAST(json_extract_string(decode(from_base64(data)), '$.currentInstant') AS TIMESTAMP),
           arrival
         ) AS ev
  FROM syn
)
SELECT date_trunc('second', ev) AS ts,
       'KinesisServiceHealthCheck' AS namespace,
       'HealthCheckSinceSeconds' AS metric_name,
       split_part(split_part(arn, ':', 6), '/', 2) AS stream_name,
       CAST(CAST(epoch(date_trunc('second', now_ts)) AS BIGINT)
            - CAST(epoch(date_trunc('second', ev)) AS BIGINT) AS DOUBLE) AS value
FROM dec, now_t
WHERE ev IS NOT NULL
"""


@register(
    "consumer_metrics",
    oracle=_CONSUMER_SQL,
    doc="Consumer leg: base64/UTF-8 decode -> payload instant parse -> ARN parse -> lag metric rows",
    tags=("core", "bench"),
)
def consumer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    records = explode_records(synthesize_from_events(events))
    decoded = decoded_records(records)
    now_df = events.agg(F.max("ts").alias("now_ts"))
    decoded = decoded.crossJoin(F.broadcast(now_df))
    return metric_rows(decoded, F.col("now_ts"), event_time_source="coalesce")


# ---------------------------------------------------------------------------
# F1 parity: first-record-per-group selection (the consumer loop returns after
# record 0; HealthCheckConsumerHandler.java:61,64-86).
# ---------------------------------------------------------------------------
_FIRST_RECORD_SQL = """
SELECT event_type AS stream_name,
       date_trunc('minute', ts) AS window_start,
       event_id, value
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY event_type, date_trunc('minute', ts) ORDER BY event_id
         ) AS rn
  FROM events
) WHERE rn = 1
"""


@register(
    "first_record_parity",
    oracle=_FIRST_RECORD_SQL,
    doc="F1: only the first record of each (stream, period) group is processed",
    tags=("core",),
)
def first_record_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 minute")
    df = events.withColumn("window_start", w["start"])
    rn = F.row_number().over(
        Window.partitionBy("event_type", "window_start").orderBy("event_id")
    )
    return (
        df.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("stream_name"),
            "window_start",
            "event_id",
            "value",
        )
    )


# ---------------------------------------------------------------------------
# P13: ARN parsing incl. the extra-'/'-segments variant (FIXTURES.md edge 7).
# ---------------------------------------------------------------------------
# List indexing (not split_part): out-of-range yields NULL in both engines,
# matching the reference's thrown-and-swallowed ArrayIndexOutOfBounds (F4).
_ARN_SQL = """
WITH t AS (SELECT DISTINCT event_type FROM events)
SELECT event_type,
       (string_split((string_split('arn:aws:kinesis:us-east-1:123456789012:stream/' || event_type, ':'))[6], '/'))[2] AS stream_std,
       (string_split((string_split('arn:aws:kinesis:us-east-1:123456789012:stream/' || event_type || '/consumer/extra', ':'))[6], '/'))[2] AS stream_deep,
       COALESCE((string_split((string_split('arn:aws:kinesis:short', ':'))[6], '/'))[2], '<invalid>') AS stream_short
FROM t
"""


@register(
    "arn_parse",
    oracle=_ARN_SQL,
    doc="P13: stream name out of eventSourceARN; extra-segment and short-ARN variants",
    tags=("core",),
)
def arn_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.functions import scalar

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    t = events.select("event_type").distinct()
    std = F.concat(F.lit(ARN_PREFIX), F.col("event_type"))
    deep = F.concat(std, F.lit("/consumer/extra"))
    return t.select(
        "event_type",
        scalar.stream_name_from_arn(std).alias("stream_std"),
        scalar.stream_name_from_arn(deep).alias("stream_deep"),
        # Coalesced to a sentinel: an all-NULL column round-trips through
        # pandas as float64 NaN on the DuckDB side — a false schema mismatch.
        F.coalesce(
            scalar.stream_name_from_arn(F.lit("arn:aws:kinesis:short")), F.lit("<invalid>")
        ).alias("stream_short"),
    )


# ---------------------------------------------------------------------------
# Generalized alarm: N-of-M evaluation on an arbitrary metric (A3 general
# form; the reference pins 1-of-1 at KinesisHealthCheckStack.java:176,181).
# Metric here: events.value, threshold 150, ALARM when >=3 of trailing 5
# periods breach, missing periods don't vote (notBreaching).
# ---------------------------------------------------------------------------
_NOFM_SQL = """
WITH metrics AS (
  SELECT event_type AS stream_name, date_trunc('minute', ts) AS window_start,
         max(value) AS max_value, count(*) AS n_datapoints
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM metrics),
grid AS (
  SELECT k.stream_name, g.window_start
  FROM (SELECT DISTINCT stream_name FROM metrics) k
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS window_start FROM bounds) g
),
joined AS (
  SELECT g.stream_name, g.window_start,
         g.window_start + INTERVAL 1 MINUTE AS window_end,
         m.max_value, COALESCE(m.n_datapoints, 0) AS n_datapoints
  FROM grid g
  LEFT JOIN metrics m ON m.stream_name = g.stream_name AND m.window_start = g.window_start
),
ev AS (
  SELECT *,
         sum(CASE WHEN max_value > 150.0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY stream_name ORDER BY window_start
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
         ) AS breach_count
  FROM joined
),
states AS (
  SELECT stream_name, window_start, window_end,
         CAST(max_value AS DOUBLE) AS max_lag, n_datapoints,
         CASE WHEN breach_count >= 3 THEN 'ALARM' ELSE 'OK' END AS state
  FROM ev
)
SELECT *,
       lag(state) OVER w AS prev_state,
       (lag(state) OVER w) IS NOT NULL AND state <> (lag(state) OVER w) AS transitioned
FROM states
WINDOW w AS (PARTITION BY stream_name ORDER BY window_start)
"""


@register(
    "alarm_nofm",
    oracle=_NOFM_SQL,
    doc="A3/WF1 general N-of-M: ALARM when >=3 of trailing 5 periods breach threshold 150",
    tags=("core",),
)
def alarm_nofm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
        alarm_pipeline,
    )

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    renamed = events.select(
        F.col("ts"), F.col("event_type").alias("stream_name"), F.col("value")
    )
    return alarm_pipeline(
        renamed,
        threshold=150.0,
        treat_missing="notBreaching",
        evaluation_periods=5,
        datapoints_to_alarm=3,
    )


# ---------------------------------------------------------------------------
# F3 isolated: the missing-period anti-join — emit only the gaps.
# ---------------------------------------------------------------------------
_MISSING_SQL = """
WITH metrics AS (
  SELECT event_type AS stream_name, date_trunc('minute', ts) AS window_start
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM metrics),
grid AS (
  SELECT k.stream_name, g.window_start
  FROM (SELECT DISTINCT stream_name FROM metrics) k
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS window_start FROM bounds) g
)
SELECT g.stream_name, g.window_start,
       g.window_start + INTERVAL 1 MINUTE AS window_end
FROM grid g
ANTI JOIN metrics m
  ON m.stream_name = g.stream_name AND m.window_start = g.window_start
"""


@register(
    "missing_periods",
    oracle=_MISSING_SQL,
    doc="F3: period-grid anti-join; periods with no datapoint (heartbeat gaps)",
    tags=("core",),
)
def missing_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    metrics = (
        events.groupBy(
            F.col("event_type").alias("stream_name"),
            F.window("ts", "1 minute")["start"].alias("window_start"),
        )
        .count()
        .drop("count")
    )
    bounds = metrics.agg(F.min("window_start").alias("lo"), F.max("window_start").alias("hi"))
    iv = F.expr("interval 1 minute")
    periods = bounds.select(F.explode(F.sequence("lo", "hi", iv)).alias("window_start"))
    keys = metrics.select("stream_name").distinct()
    grid = periods.crossJoin(F.broadcast(keys))
    gaps = grid.join(metrics, ["stream_name", "window_start"], "left_anti")
    return gaps.select(
        "stream_name", "window_start", (F.col("window_start") + iv).alias("window_end")
    )


# ---------------------------------------------------------------------------
# K3: transition-only rows — the SNS action leg of the flagship.
# ---------------------------------------------------------------------------
_TRANSITIONS_SQL = f"SELECT * FROM ({_FLAGSHIP_SQL}) WHERE transitioned"


@register(
    "alarm_transitions",
    oracle=_TRANSITIONS_SQL,
    doc="WF2/K3: flagship alerts filtered to state transitions (SNS publish rows)",
    tags=("core",),
)
def alarm_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
        transitions_only,
    )

    return transitions_only(health_lag_alarm(spark, sf_dir))


# ---------------------------------------------------------------------------
# Time-series gap fill: linear interpolation across missing periods.
# ---------------------------------------------------------------------------
_INTERP_SQL = """
WITH metrics AS (
  SELECT event_type AS stream_name, date_trunc('minute', ts) AS window_start,
         max(value) AS max_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM metrics),
grid AS (
  SELECT k.stream_name, g.window_start
  FROM (SELECT DISTINCT stream_name FROM metrics) k
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS window_start FROM bounds) g
),
dense AS (
  SELECT g.stream_name, g.window_start, m.max_value,
         CAST(floor(epoch(g.window_start)) AS BIGINT) AS t
  FROM grid g LEFT JOIN metrics m
    ON m.stream_name = g.stream_name AND m.window_start = g.window_start
),
ctx AS (
  SELECT stream_name, window_start, max_value, t,
         last_value(max_value IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN max_value IS NOT NULL THEN t END IGNORE NULLS) OVER wb AS pt,
         first_value(max_value IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN max_value IS NOT NULL THEN t END IGNORE NULLS) OVER wf AS nt
  FROM dense
  WINDOW wb AS (PARTITION BY stream_name ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY stream_name ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT stream_name, window_start,
       max_value IS NULL AS is_interpolated,
       CAST(floor((CASE
         WHEN max_value IS NOT NULL THEN max_value
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
       END) * 1000000) AS BIGINT) AS value_filled_micros
FROM ctx
"""


@register(
    "metric_gap_interpolation",
    oracle=_INTERP_SQL,
    doc="Time-series gap fill: the 1-min max-lag series densified to the "
    "full period grid with missing periods linearly interpolated between "
    "their nearest real neighbors (edge gaps fill from the one real side) — "
    "the telemetry-repair step before charting/anomaly scoring",
    tags=("core", "timeseries"),
)
def metric_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: reuses the alarm pipeline's grid densify (tumbling max ->
    broadcast grid left-join); the neighbor search is two frames over the
    per-stream window (bounded key cardinality — the corpus-catalog stance
    shared with ``length_quartiles``), never a self-join on time ranges. The
    interpolation expression tree is written identically in both engines, so
    the IEEE doubles hash-match."""
    from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
        tumbling_max,
        with_period_grid,
    )
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    metrics = tumbling_max(
        events.select(
            "ts", F.col("event_type").alias("stream_name"), "value"
        )
    )
    dense = with_period_grid(metrics).select(
        "stream_name",
        "window_start",
        "max_value",
        F.floor(F.unix_timestamp("window_start")).cast("long").alias("t"),
    )
    # Both neighbor searches are GROWING frames (unbounded-preceding ->
    # current row; the forward one over a DESC order): Spark evaluates
    # growing frames incrementally in O(n), while a shrinking frame
    # (current -> unbounded following) re-scans per row — O(n^2) per
    # partition, measured 100x slower on the month-long grid.
    wb = (
        Window.partitionBy("stream_name")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("stream_name")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t_real = F.when(F.col("max_value").isNotNull(), F.col("t"))
    ctx = dense.select(
        "stream_name",
        "window_start",
        "max_value",
        "t",
        F.last("max_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(t_real, ignorenulls=True).over(wb).alias("pt"),
        F.last("max_value", ignorenulls=True).over(wf).alias("nv"),
        F.last(t_real, ignorenulls=True).over(wf).alias("nt"),
    )
    interp = (
        F.when(F.col("max_value").isNotNull(), F.col("max_value"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("t") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
    )
    # floor(x * 1e6) -> BIGINT instead of round(x, 6): both engines hold
    # bit-identical doubles, but their round() tie-breaks at the 6th decimal
    # differ (HALF_UP vs half-even); floor on identical doubles cannot tie.
    return ctx.select(
        "stream_name",
        "window_start",
        F.col("max_value").isNull().alias("is_interpolated"),
        F.floor(interp * 1_000_000).cast("long").alias("value_filled_micros"),
    )


# ---------------------------------------------------------------------------
# Anomaly flags: trailing z-score test in exact integer arithmetic.
# ---------------------------------------------------------------------------
_ANOM_WIN = 60   # trailing periods
_ANOM_MIN = 30   # minimum datapoints before flagging
_ANOM_K2 = 9     # flag when (x - mean)^2 > K2 * var  (3-sigma)

# Exact-arithmetic precondition: the BIGINT 3-sigma test peaks at
# ~2e6 * x^2, so |x| (milli-units) must stay <= ~2.1e6 to fit in int64.
# Both engines guard it with a lazy error branch — overflow fails LOUDLY
# and identically instead of Spark wrapping silently where DuckDB raises.
_ANOM_X_MAX = 2_000_000

_ANOMALY_SQL = f"""
WITH metrics AS (
  SELECT event_type AS stream_name, date_trunc('minute', ts) AS window_start,
         CASE WHEN abs(floor(max(value) * 1000)) > {_ANOM_X_MAX}
              THEN CAST(error('metric_anomaly_flags: |value_milli| exceeds exact-arithmetic bound') AS BIGINT)
              ELSE CAST(floor(max(value) * 1000) AS BIGINT) END AS x
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT stream_name, window_start, x,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS s,
         CAST(sum(x * x) OVER w AS BIGINT) AS ss
  FROM metrics
  WINDOW w AS (PARTITION BY stream_name ORDER BY window_start
               ROWS BETWEEN {_ANOM_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT stream_name, window_start, x AS value_milli,
       n >= {_ANOM_MIN}
         AND (n - 1) * (x * n - s) * (x * n - s)
             > {_ANOM_K2} * n * (n * ss - s * s) AS is_anomaly
FROM win
"""


@register(
    "metric_anomaly_flags",
    oracle=_ANOMALY_SQL,
    doc="Anomaly detection on the 1-min metric series: trailing-60-period "
    "3-sigma test evaluated ENTIRELY in BIGINT milli-units — "
    "(n-1)(xn-s)^2 > 9n(n*ss - s^2) is the z-score test cleared of "
    "division/sqrt, so it is order-free and engine-exact",
    tags=("core", "timeseries"),
)
def metric_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation to the 1-min series, then one
    sliding window per stream (bounded key cardinality; constant 60-row
    frame => O(n) sliding evaluation). Exact integers sidestep the float
    pitfall of windowed variance: incremental float sums accumulate in
    frame order, which no cross-engine (or cross-partitioning) contract
    guarantees — BIGINT sums cannot drift."""
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    x_raw = F.floor(F.max("value") * 1000).cast("long")
    metrics = (
        events.groupBy(
            F.col("event_type").alias("stream_name"),
            F.window("ts", "1 minute")["start"].alias("window_start"),
        )
        .agg(
            F.when(
                F.abs(x_raw) > _ANOM_X_MAX,
                F.raise_error(
                    F.lit(
                        "metric_anomaly_flags: |value_milli| exceeds "
                        "exact-arithmetic bound"
                    )
                ).cast("long"),
            )
            .otherwise(x_raw)
            .alias("x")
        )
    )
    w = (
        Window.partitionBy("stream_name")
        .orderBy("window_start")
        .rowsBetween(-(_ANOM_WIN - 1), 0)
    )
    win = metrics.select(
        "stream_name",
        "window_start",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("ss"),
    )
    lhs = (F.col("n") - 1) * (F.col("x") * F.col("n") - F.col("s")) * (
        F.col("x") * F.col("n") - F.col("s")
    )
    rhs = F.lit(_ANOM_K2) * F.col("n") * (
        F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    )
    return win.select(
        "stream_name",
        "window_start",
        F.col("x").alias("value_milli"),
        ((F.col("n") >= _ANOM_MIN) & (lhs > rhs)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# P6 strict-mode parity: the reference's raw UTF-8 decoder REPORTs on
# malformed input (UTF_8.newDecoder(), HealthCheckConsumerHandler.java:41,65)
# and the handler's catch drops the record (:87-93). This query pins the
# drop-vs-keep accounting of both decode modes against injection ground truth.
# ---------------------------------------------------------------------------
_UTF8_STRICT_SQL = """
WITH t AS (
  SELECT event_type,
         '{"currentInstant":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') || '"}' AS js,
         (event_id % 7 = 0) AS corrupt
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_strict_match,
       CAST(sum(CASE WHEN corrupt THEN 0 ELSE length(js) END) AS BIGINT) AS payload_chars
FROM t GROUP BY event_type
"""


@register(
    "utf8_strict_parity",
    oracle=_UTF8_STRICT_SQL,
    doc="P6: permissive vs strict UTF-8 decode over a feed with injected "
    "malformed payloads — permissive drops (NULL) exactly the records the "
    "strict reference decoder would throw on; strict equals permissive on "
    "every valid record",
    tags=("core",),
)
def utf8_strict_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 7th record's payload bytes get an invalid UTF-8 byte appended
    (deterministic injection). The engine's validity classification
    (``is_valid_utf8`` inside codegen) must agree with the injection ground
    truth the oracle states: misclassifying even one row shifts
    n_dropped/n_kept/payload_chars and fails the hash. The strict decoder
    (``utf8_decode(strict=True)`` — raise_error branch) runs on the valid
    rows only, proving it is byte-identical to the permissive path wherever
    it does not throw; its throw leg is pinned in tests/test_scalar_ops.py.
    Scale shape: narrow per-row expressions + one keyed aggregation."""
    from amazon_kinesis_data_streams_health_check_spark.functions import scalar

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    js = scalar.tracer_json(scalar.instant_iso(F.col("ts")))
    corrupt = F.col("event_id") % 7 == 0
    b = F.when(
        corrupt, F.concat(scalar.utf8_encode(js), F.unhex(F.lit("FF")))
    ).otherwise(scalar.utf8_encode(js))
    dec = scalar.utf8_decode(b)
    strict = F.when(dec.isNotNull(), scalar.utf8_decode(b, strict=True))
    return (
        events.select(F.col("event_type"), dec.alias("dec"), strict.alias("strict"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.sum(F.when(F.col("dec").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("dec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("strict") == F.col("dec"), 1).otherwise(0))
            .cast("long")
            .alias("n_strict_match"),
            F.sum(F.coalesce(F.length("dec"), F.lit(0)))
            .cast("long")
            .alias("payload_chars"),
        )
    )


# ---------------------------------------------------------------------------
# F4 driver parity: error-row suppression. The reference wraps the whole
# record handler in catch-and-continue (HealthCheckConsumerHandler.java:87-93)
# — malformed base64, invalid UTF-8, and unparseable payloads each drop ONLY
# the offending record. Three corruption classes are injected deterministically
# and the engine's null-gate chain must classify exactly them.
# ---------------------------------------------------------------------------
_ERROR_SUPPRESSION_SQL = """
WITH now_t AS (SELECT max(ts) AS now_ts FROM events),
c AS (SELECT event_type, ts, event_id % 11 AS cls FROM events)
SELECT event_type AS stream_name,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(CASE WHEN cls >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN cls < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN cls >= 3 THEN
           CAST(epoch(date_trunc('second', now_ts)) AS BIGINT)
           - CAST(epoch(date_trunc('second', ts)) AS BIGINT) ELSE 0 END) AS BIGINT)
         AS sum_lag_s
FROM c, now_t GROUP BY event_type
"""


@register(
    "consumer_error_suppression",
    oracle=_ERROR_SUPPRESSION_SQL,
    doc="F4: per-record error suppression — malformed base64, invalid UTF-8, "
    "and non-JSON payloads (injected by event_id class) each null out and "
    "drop exactly their own record; kept-record lag sums must match the "
    "injection ground truth",
    tags=("core",),
)
def consumer_error_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event_id%11 in {0,1,2} gets one corruption class: 0 => base64
    alphabet violation (the regex gate nulls it before unbase64 can throw),
    1 => structurally valid base64 of invalid UTF-8 bytes (is_valid_utf8
    gate), 2 => valid UTF-8 that is not the tracer JSON (payload-instant
    parse gate). Strict event-time mode ('payload') then drops exactly those
    three classes — any gate misfiring shifts n_kept/n_dropped/sum_lag_s and
    fails the hash. Scale shape: narrow per-row decode + one keyed agg."""
    from amazon_kinesis_data_streams_health_check_spark.functions import scalar

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    records = explode_records(synthesize_from_events(events))
    cls = F.pmod(F.col("sequenceNumber").cast("long"), F.lit(11))
    corrupted = records.withColumn(
        "data",
        F.when(cls == 0, F.concat(F.lit("!!!"), F.col("data")))
        .when(cls == 1, F.base64(F.unhex(F.lit("FF88"))))
        .when(cls == 2, F.base64(scalar.utf8_encode(F.lit("oops not json"))))
        .otherwise(F.col("data")),
    )
    decoded = decoded_records(corrupted)
    now_df = events.agg(F.max("ts").alias("now_ts"))
    decoded = decoded.crossJoin(F.broadcast(now_df))
    lag_s = F.unix_timestamp(
        scalar.truncate_to_second(F.col("now_ts"))
    ) - F.unix_timestamp(scalar.truncate_to_second(F.col("payload_ts")))
    return decoded.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.count("payload_ts").cast("long").alias("n_kept"),
        F.sum(F.when(F.col("payload_ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.coalesce(lag_s, F.lit(0))).cast("long").alias("sum_lag_s"),
    )


# ---------------------------------------------------------------------------
# Dead-letter-queue routing + replay: the operational consumer pattern the
# ESM world runs on (failed records land in a DLQ for repair and replay —
# the reference's catch-and-continue, HealthCheckConsumerHandler.java:87-93,
# is the degenerate "no DLQ" version). First pass CLASSIFIES each failure
# (base64 alphabet / invalid UTF-8 / non-tracer payload — the same gate
# chain as consumer_error_suppression, in gate order), routes failures to a
# DLQ relation with their error class and raw bytes, REPAIRS what is
# repairable (the base64-prefix corruption is reversible; the byte-destroyed
# classes are not), and replays the repaired DLQ through the SAME decode.
# Conservation (first-pass-ok + recovered + dead == total) rides in the hash.
# ---------------------------------------------------------------------------
_DLQ_SQL = """
WITH c AS (SELECT event_type, event_id % 11 AS cls FROM events)
SELECT event_type AS stream_name,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN cls >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_pass_ok,
       CAST(sum(CASE WHEN cls < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
       CAST(sum(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_base64,
       CAST(sum(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_utf8,
       CAST(sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_payload,
       CAST(sum(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
       CAST(sum(CASE WHEN cls IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
       TRUE AS conservation_ok
FROM c GROUP BY event_type
"""


@register(
    "consumer_dlq_replay",
    oracle=_DLQ_SQL,
    doc="F4 operational: dead-letter-queue routing — failed records "
    "classified per gate (bad base64 / bad UTF-8 / bad payload), routed to "
    "a DLQ with raw bytes, repaired where reversible, and replayed through "
    "the SAME decode; recovery and conservation counts hash against the "
    "injection ground truth",
    tags=("core", "kinesis"),
)
def consumer_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: classification is the same narrow null-gate chain as the
    hot decode path (no second parse for healthy records — the DLQ filter
    is payload_ts IS NULL); the DLQ relation is failure-sized, not
    stream-sized, so repair + replay cost scales with the error rate. The
    replay re-enters decoded_records itself — one decode implementation,
    no duplicated parsing logic to drift."""
    from amazon_kinesis_data_streams_health_check_spark.functions import scalar
    from amazon_kinesis_data_streams_health_check_spark.operators.consumer import (
        decoded_records,
    )

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    records = explode_records(synthesize_from_events(events))
    cls = F.pmod(F.col("sequenceNumber").cast("long"), F.lit(11))
    corrupted = records.withColumn(
        "data",
        F.when(cls == 0, F.concat(F.lit("!!!"), F.col("data")))
        .when(cls == 1, F.base64(F.unhex(F.lit("FF88"))))
        .when(cls == 2, F.base64(scalar.utf8_encode(F.lit("oops not json"))))
        .otherwise(F.col("data")),
    )
    decoded = decoded_records(corrupted).localCheckpoint(
        eager=False
    )  # feeds the ok-count AND the DLQ legs
    # Gate-ordered failure classification (first failing gate names the class).
    b64 = scalar.b64_decode(F.col("data"))
    utf8 = scalar.utf8_decode(b64)
    err_class = (
        F.when(b64.isNull(), F.lit("bad_base64"))
        .when(utf8.isNull(), F.lit("bad_utf8"))
        .otherwise(F.lit("bad_payload"))
    )
    dlq = decoded.filter(F.col("payload_ts").isNull()).select(
        "stream_name",
        "sequenceNumber",
        "approximateArrivalTimestamp",
        "eventSourceARN",
        F.col("data").alias("raw_data"),
        err_class.alias("err_class"),
    )
    dlq = dlq.localCheckpoint(eager=False)  # feeds class counts AND replay
    # Repair what is reversible, replay through the SAME decode path.
    repaired = dlq.withColumn(
        "data",
        F.when(
            F.col("err_class") == "bad_base64",
            F.regexp_replace(F.col("raw_data"), r"^!!!", ""),
        ).otherwise(F.col("raw_data")),
    )
    replayed = decoded_records(repaired.drop("stream_name"))
    replay_counts = replayed.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_replayed"),
        F.count("payload_ts").cast("long").alias("n_recovered"),
    )
    first_pass = decoded.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.count("payload_ts").cast("long").alias("n_first_pass_ok"),
    )
    dlq_counts = dlq.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_dlq"),
        F.sum((F.col("err_class") == "bad_base64").cast("int"))
        .cast("long")
        .alias("n_bad_base64"),
        F.sum((F.col("err_class") == "bad_utf8").cast("int"))
        .cast("long")
        .alias("n_bad_utf8"),
        F.sum((F.col("err_class") == "bad_payload").cast("int"))
        .cast("long")
        .alias("n_bad_payload"),
    )
    out = (
        first_pass.join(dlq_counts, "stream_name")
        .join(replay_counts, "stream_name")
        .select(
            "stream_name",
            "n_total",
            "n_first_pass_ok",
            "n_dlq",
            "n_bad_base64",
            "n_bad_utf8",
            "n_bad_payload",
            "n_recovered",
            (F.col("n_dlq") - F.col("n_recovered")).alias("n_dead"),
            (
                (F.col("n_first_pass_ok") + F.col("n_dlq") == F.col("n_total"))
                & (F.col("n_replayed") == F.col("n_dlq"))
            ).alias("conservation_ok"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly flags: the CloudWatch anomaly-detection analog —
# instead of a trailing-window z-score (metric_anomaly_flags), the baseline
# is LEARNED per (stream, hour-of-day) and each minute is compared against
# its own season's median.
# ---------------------------------------------------------------------------
_SEAS_MULT = 1.5

_SEASONAL_SQL = f"""
WITH m AS (
  SELECT event_type AS stream_name,
         60 * CAST(floor(epoch(ts) / 60) AS BIGINT) AS ws,
         CAST(floor(max(value) * 1000) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
h AS (
  SELECT stream_name, ws, x,
         CAST(floor(ws / 3600) % 24 AS BIGINT) AS hod
  FROM m
),
base AS (
  SELECT stream_name, hod, quantile_cont(x, 0.5) AS med
  FROM h GROUP BY stream_name, hod
)
SELECT h.stream_name, h.ws AS window_start_s, h.x AS value_milli, h.hod,
       round(b.med, 6) AS median_milli,
       CAST(h.x AS DOUBLE) > {_SEAS_MULT} * b.med AS is_spike
FROM h JOIN base b ON b.stream_name = h.stream_name AND b.hod = h.hod
"""


@register(
    "seasonal_baseline_flags",
    oracle=_SEASONAL_SQL,
    doc=f"Anomaly detection with a LEARNED seasonal baseline: per-minute "
    f"stream maxima vs their own (stream, hour-of-day) median, spike = "
    f"value > {_SEAS_MULT}x seasonal median — the CloudWatch anomaly-"
    "detection analog of the fixed-threshold alarm",
    tags=("core", "timeseries"),
)
def seasonal_baseline_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: profile pass = one keyed exact median over
    (stream, hour) — 24 x |streams| groups, swapped for approx_percentile
    at 100 TB; the baseline table broadcasts back onto the minute series
    (narrow second pass, no re-shuffle of the data plane). Hour-of-day
    derives from integer epoch division, so both engines season
    identically. The spike compare runs on exact milli integers against
    1.5 x an exactly-representable median."""
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("stream_name"),
        (
            F.lit(60) * F.floor(F.unix_timestamp("ts") / 60)
        ).cast("long").alias("ws"),
    ).agg(F.floor(F.max("value") * 1000).cast("long").alias("x"))
    h = m.withColumn("hod", (F.floor(F.col("ws") / 3600) % 24).cast("long"))
    base = h.groupBy("stream_name", "hod").agg(
        F.expr("percentile(x, 0.5)").alias("med")
    )
    return (
        h.join(F.broadcast(base), ["stream_name", "hod"])
        .select(
            "stream_name",
            F.col("ws").alias("window_start_s"),
            F.col("x").alias("value_milli"),
            "hod",
            F.round("med", 6).alias("median_milli"),
            (F.col("x").cast("double") > F.lit(_SEAS_MULT) * F.col("med")).alias(
                "is_spike"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Composite alarm: CloudWatch composite-alarm semantics — two child alarms
# with DIFFERENT missing-data policies (lag breach with notBreaching,
# insufficient-data detector) OR-combined into one state series whose
# transitions are what pages. The flagship folds missing into one child;
# the composite keeps the causes separable, which is how operators actually
# configure "alarm if lag is high OR the canary stopped reporting".
# ---------------------------------------------------------------------------
_COMPOSITE_SQL = """
WITH lagged AS (
  SELECT event_type AS stream_name,
         time_bucket(INTERVAL 1 MINUTE, ts) AS window_start,
         value AS lag_seconds
  FROM events
),
metrics AS (
  SELECT stream_name, window_start,
         max(lag_seconds) AS max_value,
         count(*) AS n_datapoints
  FROM lagged GROUP BY 1, 2
),
bounds AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM metrics),
grid AS (
  SELECT k.stream_name, g.window_start
  FROM (SELECT DISTINCT stream_name FROM metrics) k
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS window_start FROM bounds) g
),
joined AS (
  SELECT g.stream_name, g.window_start,
         m.max_value,
         COALESCE(m.n_datapoints, 0) AS n_datapoints
  FROM grid g
  LEFT JOIN metrics m
    ON m.stream_name = g.stream_name AND m.window_start = g.window_start
),
states AS (
  SELECT stream_name, window_start,
         CAST(max_value AS DOUBLE) AS max_lag,
         n_datapoints,
         CASE WHEN max_value IS NOT NULL AND max_value > 30.0
              THEN 'ALARM' ELSE 'OK' END AS lag_state,
         CASE WHEN n_datapoints = 0 THEN 'ALARM' ELSE 'OK' END AS data_state
  FROM joined
),
comp AS (
  SELECT *,
         CASE WHEN lag_state = 'ALARM' OR data_state = 'ALARM'
              THEN 'ALARM' ELSE 'OK' END AS state
  FROM states
)
SELECT stream_name, window_start, max_lag, n_datapoints,
       lag_state, data_state, state,
       (lag(state) OVER w) IS NOT NULL AND state <> (lag(state) OVER w)
         AS transitioned
FROM comp
WINDOW w AS (PARTITION BY stream_name ORDER BY window_start)
"""


@register(
    "composite_alarm",
    oracle=_COMPOSITE_SQL,
    doc="Composite alarm: lag-breach child (missing=notBreaching) OR "
    "insufficient-data child, combined CloudWatch-composite style with "
    "transition detection on the composite state",
    tags=("core",),
)
def composite_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed window aggregation to the metric series, the
    broadcast period grid, and ONE pass computing both child states (they
    read the same gridded row — no second scan, no join between children);
    the transition window partitions on the bounded stream key."""
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    metrics = (
        events.select(
            F.col("event_type").alias("stream_name"),
            F.window("ts", "1 minute")["start"].alias("window_start"),
            F.col("value").alias("lag_seconds"),
        )
        .groupBy("stream_name", "window_start")
        .agg(
            F.max("lag_seconds").alias("max_value"),
            F.count(F.lit(1)).alias("n_datapoints"),
        )
    )
    gridded = with_period_grid(metrics)
    lag_state = F.when(
        F.col("max_value").isNotNull() & (F.col("max_value") > FLAGSHIP_THRESHOLD),
        F.lit("ALARM"),
    ).otherwise(F.lit("OK"))
    data_state = F.when(F.col("n_datapoints") == 0, F.lit("ALARM")).otherwise(
        F.lit("OK")
    )
    comp = gridded.select(
        "stream_name",
        "window_start",
        F.col("max_value").cast("double").alias("max_lag"),
        "n_datapoints",
        lag_state.alias("lag_state"),
        data_state.alias("data_state"),
    ).withColumn(
        "state",
        F.when(
            (F.col("lag_state") == "ALARM") | (F.col("data_state") == "ALARM"),
            F.lit("ALARM"),
        ).otherwise(F.lit("OK")),
    )
    w = Window.partitionBy("stream_name").orderBy("window_start")
    prev = F.lag("state").over(w)
    return comp.withColumn(
        "transitioned", prev.isNotNull() & (F.col("state") != prev)
    )


# ---------------------------------------------------------------------------
# Multi-window SLO burn-rate alarm (the SRE alerting pattern): page only
# when BOTH the fast window (5 min) and the slow window (60 min) burn the
# error budget — fast-only = blips page, slow-only = pages long after
# recovery; the AND is the point. Entirely integer arithmetic: the budget
# compare 4*err > total avoids rate floats altogether.
# ---------------------------------------------------------------------------
_SLO_FAST = 5
_SLO_SLOW = 60
_SLO_SHARDS = 4

_SLO_SQL = f"""
WITH m AS (
  SELECT CAST(user_id % {_SLO_SHARDS} AS BIGINT) AS shard,
         60 * CAST(floor(epoch(ts) / 60) AS BIGINT) AS ws,
         CAST(count(*) AS BIGINT) AS tot,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(ws) AS lo, max(ws) AS hi FROM m),
grid AS (
  SELECT s.shard, g.ws
  FROM (SELECT DISTINCT shard FROM m) s
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, 60)) AS ws FROM bounds) g
),
j AS (
  SELECT g.shard, g.ws,
         COALESCE(m.tot, 0) AS tot, COALESCE(m.err, 0) AS err
  FROM grid g LEFT JOIN m ON m.shard = g.shard AND m.ws = g.ws
),
w AS (
  SELECT shard, ws, tot, err,
         CAST(sum(tot) OVER f AS BIGINT) AS tot_fast,
         CAST(sum(err) OVER f AS BIGINT) AS err_fast,
         CAST(sum(tot) OVER s AS BIGINT) AS tot_slow,
         CAST(sum(err) OVER s AS BIGINT) AS err_slow
  FROM j
  WINDOW f AS (PARTITION BY shard ORDER BY ws
               ROWS BETWEEN {_SLO_FAST - 1} PRECEDING AND CURRENT ROW),
         s AS (PARTITION BY shard ORDER BY ws
               ROWS BETWEEN {_SLO_SLOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT shard, ws AS window_start_s,
       tot_fast, err_fast, tot_slow, err_slow,
       tot_fast > 0 AND tot_slow > 0
         AND 4 * err_fast > tot_fast
         AND 4 * err_slow > tot_slow AS burn_alarm
FROM w
"""


@register(
    "slo_burn_rate_alarm",
    oracle=_SLO_SQL,
    doc=f"Multi-window SLO burn-rate alarm: page when BOTH the {_SLO_FAST}-min "
    f"and {_SLO_SLOW}-min error rates burn the 25% budget (integer compare "
    "4*err > total — no rate floats), per user shard over the densified "
    "minute grid",
    tags=("core", "timeseries"),
)
def slo_burn_rate_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed minute aggregation, the broadcast period grid
    (shards x minutes — bounded), then two ROWS frames over the same
    ordered pass (Spark evaluates both in one Window node — O(n) sliding
    sums, no rescan). Integer sums make the frames order-free; the budget
    compare never leaves BIGINT."""
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        (F.col("user_id") % _SLO_SHARDS).cast("long").alias("shard"),
        (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60)).cast("long").alias("ws"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("tot"),
        F.sum((F.col("event_type") == "error").cast("int")).cast("long").alias("err"),
    )
    bounds = m.agg(F.min("ws").alias("lo"), F.max("ws").alias("hi"))
    grid = (
        m.select("shard")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "shard", F.explode(F.expr("sequence(lo, hi, 60)")).alias("ws")
        )
    )
    j = (
        grid.join(m, ["shard", "ws"], "left")
        .withColumn("tot", F.coalesce("tot", F.lit(0)))
        .withColumn("err", F.coalesce("err", F.lit(0)))
    )
    order = Window.partitionBy("shard").orderBy("ws")
    fast = order.rowsBetween(-(_SLO_FAST - 1), 0)
    slow = order.rowsBetween(-(_SLO_SLOW - 1), 0)
    w = j.select(
        "shard",
        F.col("ws").alias("window_start_s"),
        F.sum("tot").over(fast).cast("long").alias("tot_fast"),
        F.sum("err").over(fast).cast("long").alias("err_fast"),
        F.sum("tot").over(slow).cast("long").alias("tot_slow"),
        F.sum("err").over(slow).cast("long").alias("err_slow"),
    )
    return w.withColumn(
        "burn_alarm",
        (F.col("tot_fast") > 0)
        & (F.col("tot_slow") > 0)
        & (4 * F.col("err_fast") > F.col("tot_fast"))
        & (4 * F.col("err_slow") > F.col("tot_slow")),
    )


# ---------------------------------------------------------------------------
# Shard lineage routing across a reshard history (split + merge).
# ---------------------------------------------------------------------------
#: Kinesis resharding (UpdateShardCount / SplitShard / MergeShards) retires
#: parent shards and opens children over sub/super hash-key ranges; every
#: record still routes to EXACTLY ONE open shard — the shard whose
#: [starting_hash_key, ending_hash_key) contains md5(partition_key) at the
#: record's time. This query replays that routing over a 3-epoch lineage
#: (epoch 1: shard 2 splits into 4+5; epoch 2: shards 0+1 merge into 6,
#: mirroring the SplitShard/MergeShards API shapes) and audits the
#: exactly-once coverage invariant the consumer leg depends on.
_Q30 = 1 << 30  # quarter of the 2^32 hash-key space
#: (shard, parent, adjacent_parent, lo, hi) per epoch it is OPEN in.
_SHARD_LINEAGE: list[tuple[int, int, str, str, int, int]] = [
    # epoch 0: four equal-width shards
    (0, 0, "", "", 0 * _Q30, 1 * _Q30),
    (0, 1, "", "", 1 * _Q30, 2 * _Q30),
    (0, 2, "", "", 2 * _Q30, 3 * _Q30),
    (0, 3, "", "", 3 * _Q30, 4 * _Q30),
    # epoch 1: shard 2 split into 4 and 5
    (1, 0, "", "", 0 * _Q30, 1 * _Q30),
    (1, 1, "", "", 1 * _Q30, 2 * _Q30),
    (1, 4, "shardId-000000000002", "", 2 * _Q30, 2 * _Q30 + _Q30 // 2),
    (1, 5, "shardId-000000000002", "", 2 * _Q30 + _Q30 // 2, 3 * _Q30),
    (1, 3, "", "", 3 * _Q30, 4 * _Q30),
    # epoch 2: shards 0 and 1 merged into 6
    (2, 6, "shardId-000000000000", "shardId-000000000001", 0, 2 * _Q30),
    (2, 4, "shardId-000000000002", "", 2 * _Q30, 2 * _Q30 + _Q30 // 2),
    (2, 5, "shardId-000000000002", "", 2 * _Q30 + _Q30 // 2, 3 * _Q30),
    (2, 3, "", "", 3 * _Q30, 4 * _Q30),
]

_RESHARD_VALUES = ",\n  ".join(
    f"({e}, 'shardId-{s:012d}', '{p}', '{a}', {lo}, {hi})"
    for e, s, p, a, lo, hi in _SHARD_LINEAGE
)

_RESHARD_SQL = f"""
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS d0 FROM events
),
lineage(epoch, shard_id, parent, adjacent_parent, lo, hi) AS (
  VALUES
  {_RESHARD_VALUES}
),
routed AS (
  SELECT e.user_id, e.value,
         CASE WHEN e.ts < b.d0 + INTERVAL 10 DAY THEN 0
              WHEN e.ts < b.d0 + INTERVAL 20 DAY THEN 1
              ELSE 2 END AS epoch,
         CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events e, bounds b
)
SELECT l.epoch, l.shard_id, l.parent, l.adjacent_parent,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT r.user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(round(r.value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM routed r JOIN lineage l
  ON r.epoch = l.epoch AND r.h >= l.lo AND r.h < l.hi
GROUP BY l.epoch, l.shard_id, l.parent, l.adjacent_parent
"""


@register(
    "shard_reshard_routing",
    oracle=_RESHARD_SQL,
    doc="Kinesis reshard lineage routing: events hash-routed to the shard "
    "owning md5(partition_key) in each of three epochs (a SplitShard and a "
    "MergeShards cutover); the builder raises unless every record routes to "
    "exactly one open shard — the coverage invariant consumers rely on",
    tags=("healthcheck", "kinesis"),
)
def shard_reshard_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the lineage is epoch-exploded so shard ownership becomes
    a broadcast EQUI-join on epoch with a residual hash-range filter — no
    nested-loop interval join, no shuffle of the event side beyond the final
    keyed aggregation. The reshard instants derive from the data's own
    min-day (exact timestamp arithmetic, engine-identical), and routing is
    md5-deterministic, so the audit is reproducible under any layout.
    Lineage semantics follow the Kinesis SplitShard/MergeShards API
    (parent / adjacent-parent retirement)."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    lineage = spark.createDataFrame(
        [
            (e, f"shardId-{s:012d}", p, a, lo, hi)
            for e, s, p, a, lo, hi in _SHARD_LINEAGE
        ],
        "epoch int, shard_id string, parent string, adjacent_parent string, "
        "lo long, hi long",
    )
    bounds = events.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    routed = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            "value",
            F.when(F.expr("ts < d0 + INTERVAL 10 DAY"), 0)
            .when(F.expr("ts < d0 + INTERVAL 20 DAY"), 1)
            .otherwise(2)
            .alias("epoch"),
            hash_uniform("user_id").alias("h"),
        )
    )
    joined = routed.join(
        F.broadcast(lineage),
        on=[
            routed["epoch"] == lineage["epoch"],
            routed["h"] >= lineage["lo"],
            routed["h"] < lineage["hi"],
        ],
    )
    # Exactly-once coverage audit: a lineage bug (gap or overlap in the hash
    # ranges of an epoch) would drop or duplicate records silently.
    n_routed, n_events = joined.count(), events.count()
    if n_routed != n_events:
        raise RuntimeError(
            f"reshard routing not exactly-once: {n_routed} routed rows "
            f"for {n_events} events"
        )
    return joined.groupBy(
        lineage["epoch"], "shard_id", "parent", "adjacent_parent"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(
            F.sum(F.round(F.col("value") * 1e6).cast("long")).cast("double") / 1e6,
            6,
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Shard autoscale planning: the decision step between observing load
# (shard_throughput_audit) and executing a reshard (shard_reshard_routing).
# A legacy layout of unequal hash-range widths (the residue of past
# resharding) is audited against the stream's actual key distribution, and
# the plan emits the Kinesis SplitShard / MergeShards operations that
# rebalance it: hot shards split at their hash midpoint, adjacent cold
# shards merge pairwise (MergeShards requires adjacency), and every
# resulting child is re-audited against the real key distribution so the
# plan reports the utilization it would actually achieve, not the naive
# half-of-parent estimate.
# ---------------------------------------------------------------------------
_ASP_W16 = 1 << 28  # 1/16 of the 2^32 md5-uniform hash-key space
#: Legacy shard widths in 1/16ths of the key space (sum = 16): the wide
#: shards are hot by construction under a uniform key hash, the narrow
#: ones cold — the imbalance real streams accumulate after ad-hoc splits.
_ASP_WIDTHS = (6, 1, 1, 2, 1, 1, 3, 1)
_ASP_SPLIT_PPM = 250_000  # split when share > 2x the fair 1/8 = 125000 ppm
_ASP_COLD_PPM = 93_750  # merge-eligible when share < 0.75x fair

_ASP_LAYOUT: list[tuple[int, int, int]] = []
_asp_lo = 0
for _asp_i, _asp_w in enumerate(_ASP_WIDTHS):
    _ASP_LAYOUT.append((_asp_i, _asp_lo, _asp_lo + _asp_w * _ASP_W16))
    _asp_lo += _asp_w * _ASP_W16

_ASP_VALUES = ",\n  ".join(f"({s}, {lo}, {hi})" for s, lo, hi in _ASP_LAYOUT)

_ASP_FMT_DUCK = "'shardId-' || lpad(CAST({0} AS VARCHAR), 12, '0')"

_AUTOSCALE_SQL = f"""
WITH layout(shard, lo, hi) AS (
  VALUES
  {_ASP_VALUES}
),
routed AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM routed),
cnts AS (
  SELECT l.shard, l.lo, l.hi, CAST(count(r.h) AS BIGINT) AS n
  FROM layout l LEFT JOIN routed r ON r.h >= l.lo AND r.h < l.hi
  GROUP BY l.shard, l.lo, l.hi
),
shares AS (
  SELECT shard, lo, hi, CAST(1000000 * n // total AS BIGINT) AS share_ppm
  FROM cnts, tot
),
flagged AS (
  SELECT *,
         share_ppm > {_ASP_SPLIT_PPM} AS is_split,
         share_ppm < {_ASP_COLD_PPM} AS is_cold,
         row_number() OVER (ORDER BY lo) AS pos
  FROM shares
),
isl AS (
  SELECT *, pos - row_number() OVER (PARTITION BY is_cold ORDER BY pos) AS island
  FROM flagged
),
pairs AS (
  SELECT *,
         row_number() OVER (PARTITION BY is_cold, island ORDER BY pos) AS pair_idx,
         lead(shard) OVER (PARTITION BY is_cold, island ORDER BY pos) AS succ_shard,
         lead(hi) OVER (PARTITION BY is_cold, island ORDER BY pos) AS succ_hi,
         lead(share_ppm) OVER (PARTITION BY is_cold, island ORDER BY pos) AS succ_share
  FROM isl
),
children AS (
  SELECT 'split-child' AS action, {_ASP_FMT_DUCK.format('shard')} AS parent,
         '' AS adjacent_parent, lo AS c_lo, (lo + hi) // 2 AS c_hi,
         share_ppm AS parent_share_ppm, CAST(NULL AS BIGINT) AS keep
  FROM pairs WHERE is_split
  UNION ALL
  SELECT 'split-child', {_ASP_FMT_DUCK.format('shard')}, '',
         (lo + hi) // 2, hi, share_ppm, NULL
  FROM pairs WHERE is_split
  UNION ALL
  SELECT 'merged', {_ASP_FMT_DUCK.format('shard')},
         {_ASP_FMT_DUCK.format('succ_shard')}, lo, succ_hi,
         share_ppm + succ_share, NULL
  FROM pairs
  WHERE is_cold AND pair_idx % 2 = 1 AND succ_shard IS NOT NULL
  UNION ALL
  SELECT 'retain-cold', '', '', lo, hi, share_ppm, shard
  FROM pairs WHERE is_cold AND pair_idx % 2 = 1 AND succ_shard IS NULL
  UNION ALL
  SELECT 'retain', '', '', lo, hi, share_ppm, shard
  FROM pairs WHERE NOT is_cold AND NOT is_split
),
ids AS (
  SELECT *,
         CASE WHEN keep IS NULL
              THEN {len(_ASP_WIDTHS)} - 1
                   + row_number() OVER (PARTITION BY (keep IS NULL) ORDER BY c_lo)
              ELSE keep END AS new_shard
  FROM children
),
proj AS (
  SELECT i.c_lo, CAST(count(r.h) AS BIGINT) AS c_n
  FROM ids i LEFT JOIN routed r ON r.h >= i.c_lo AND r.h < i.c_hi
  GROUP BY i.c_lo
)
SELECT {_ASP_FMT_DUCK.format('i.new_shard')} AS shard_id,
       i.action, i.parent, i.adjacent_parent,
       i.c_lo AS lo, i.c_hi AS hi, i.parent_share_ppm,
       CAST(1000000 * p.c_n // t.total AS BIGINT) AS projected_share_ppm
FROM ids i JOIN proj p ON i.c_lo = p.c_lo, tot t
"""


@register(
    "shard_autoscale_plan",
    oracle=_AUTOSCALE_SQL,
    doc="Kinesis autoscale planning: a legacy unequal-width shard layout is "
    "audited against the stream's real key distribution; hot shards (>2x "
    "fair share) split at their hash midpoint, adjacent cold shards (<0.75x) "
    "merge pairwise per the MergeShards adjacency rule, and each planned "
    "child is re-audited against the actual keys — the decision step between "
    "shard_throughput_audit (observe) and shard_reshard_routing (act)",
    tags=("healthcheck", "kinesis"),
)
def shard_autoscale_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the event side is touched exactly twice, each time as a
    narrow hash projection joined against a broadcast layout of at most 16
    rows (BroadcastNestedLoopJoin on the range predicate — the stream side
    never shuffles) feeding a map-side-partial count. All planning logic
    (run-of-cold-shards islands, pairwise merge parity, child numbering)
    runs on the shard-count-bounded relation under constant-partition
    windows — no global sort, no per-row Python.

    Reference parity: SplitShard/MergeShards semantics (new shard ids
    continue the sequence; merge requires adjacent hash ranges) follow the
    public Kinesis resharding API the reference's stream would be resized
    with; the reference itself pins shardCount=1
    (KinesisHealthCheckStack.java:149)."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    configure_session(spark)
    n_shards = len(_ASP_WIDTHS)
    layout = spark.createDataFrame(_ASP_LAYOUT, "shard int, lo long, hi long")
    routed = (
        load_table(spark, sf_dir, "events")
        .select(hash_uniform("user_id").alias("h"))
        .localCheckpoint(eager=False)  # feeds the audit AND the re-audit
    )
    tot = routed.agg(F.count(F.lit(1)).cast("long").alias("total"))
    cnts = (
        routed.join(
            F.broadcast(layout),
            on=[F.col("h") >= F.col("lo"), F.col("h") < F.col("hi")],
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    shares = (
        layout.join(F.broadcast(cnts), "shard", "left")
        .na.fill({"n": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "lo",
            "hi",
            F.expr("CAST(1000000 * n div total AS BIGINT)").alias("share_ppm"),
        )
    )
    # pos needs no window: the layout constant has ascending lo, so the
    # rank-by-lo of shard i is i + 1 by construction.
    flagged = shares.select(
        "*",
        (F.col("share_ppm") > _ASP_SPLIT_PPM).alias("is_split"),
        (F.col("share_ppm") < _ASP_COLD_PPM).alias("is_cold"),
        (F.col("shard") + 1).alias("pos"),
    )
    w_cold = Window.partitionBy("is_cold").orderBy("pos")
    isl = flagged.withColumn(
        "island", F.col("pos") - F.row_number().over(w_cold)
    )
    w_isl = Window.partitionBy("is_cold", "island").orderBy("pos")
    pairs = isl.select(
        "*",
        F.row_number().over(w_isl).alias("pair_idx"),
        F.lead("shard").over(w_isl).alias("succ_shard"),
        F.lead("hi").over(w_isl).alias("succ_hi"),
        F.lead("share_ppm").over(w_isl).alias("succ_share"),
    )
    sid = F.format_string("shardId-%012d", F.col("shard"))
    succ_sid = F.format_string("shardId-%012d", F.col("succ_shard"))
    child = lambda action, parent, adj, lo, hi, share, keep: F.struct(  # noqa: E731
        F.lit(action).alias("action"),
        parent.alias("parent"),
        adj.alias("adjacent_parent"),
        lo.cast("long").alias("c_lo"),
        hi.cast("long").alias("c_hi"),
        share.cast("long").alias("parent_share_ppm"),
        keep.cast("long").alias("keep"),
    )
    empty = F.lit("")
    nul = F.lit(None)
    mid = F.expr("(lo + hi) div 2")
    children = pairs.select(
        F.explode(
            F.when(
                F.col("is_split"),
                F.array(
                    child("split-child", sid, empty, F.col("lo"), mid, F.col("share_ppm"), nul),
                    child("split-child", sid, empty, mid, F.col("hi"), F.col("share_ppm"), nul),
                ),
            )
            .when(
                F.col("is_cold")
                & (F.col("pair_idx") % 2 == 1)
                & F.col("succ_shard").isNotNull(),
                F.array(
                    child(
                        "merged",
                        sid,
                        succ_sid,
                        F.col("lo"),
                        F.col("succ_hi"),
                        F.col("share_ppm") + F.col("succ_share"),
                        nul,
                    )
                ),
            )
            .when(
                F.col("is_cold") & (F.col("pair_idx") % 2 == 0),
                F.array().cast(
                    "array<struct<action:string,parent:string,"
                    "adjacent_parent:string,c_lo:bigint,c_hi:bigint,"
                    "parent_share_ppm:bigint,keep:bigint>>"
                ),
            )
            .when(
                F.col("is_cold"),
                F.array(
                    child(
                        "retain-cold", empty, empty, F.col("lo"), F.col("hi"), F.col("share_ppm"), F.col("shard")
                    )
                ),
            )
            .otherwise(
                F.array(
                    child(
                        "retain", empty, empty, F.col("lo"), F.col("hi"), F.col("share_ppm"), F.col("shard")
                    )
                )
            )
        ).alias("c")
    ).select("c.*")
    w_new = Window.partitionBy(F.col("keep").isNull()).orderBy("c_lo")
    ids = children.withColumn(
        "new_shard",
        F.when(
            F.col("keep").isNull(),
            F.lit(n_shards - 1) + F.row_number().over(w_new),
        ).otherwise(F.col("keep")),
    ).localCheckpoint(eager=False)  # feeds the output AND the re-audit join
    proj = (
        routed.join(
            F.broadcast(ids.select("c_lo", "c_hi")),
            on=[F.col("h") >= F.col("c_lo"), F.col("h") < F.col("c_hi")],
        )
        .groupBy("c_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("c_n"))
    )
    return (
        ids.join(F.broadcast(proj), "c_lo", "left")
        .na.fill({"c_n": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            F.format_string("shardId-%012d", F.col("new_shard")).alias("shard_id"),
            "action",
            "parent",
            "adjacent_parent",
            F.col("c_lo").alias("lo"),
            F.col("c_hi").alias("hi"),
            "parent_share_ppm",
            F.expr("CAST(1000000 * c_n div total AS BIGINT)").alias(
                "projected_share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Double-exponential (Holt) forecast, exact-integer and engine-identical.
# ---------------------------------------------------------------------------
#: Holt state (level, trend) packed into ONE BIGINT — (l+L0)*M + (b+B0) —
#: because a struct accumulator is not portable across fold implementations
#: (DuckDB's list_reduce evaluates later struct fields against already-
#: updated earlier fields; verified empirically). A scalar accumulator has
#: one unambiguous value per step in every engine. alpha = beta = 1/4 via
#: sign-aware integer division; milli-unit series with a loud-fail guard
#: keeps every intermediate exact in BIGINT.
_HOLT_M = 1 << 29
_HOLT_L0 = 1 << 28
_HOLT_B0 = 1 << 28
_HOLT_COUNT_MAX = 100_000  # daily count guard: y_milli <= 1e8 < L0


def _holt_lambda(div_op: str) -> str:
    """The fold step in Spark (`div`) or DuckDB (`//`) dialect."""
    def sdiv(x: str, d: int) -> str:
        return f"(CASE WHEN {x} >= 0 THEN 1 ELSE -1 END) * (abs({x}) {div_op} {d})"

    l = f"(acc {div_op} {_HOLT_M} - {_HOLT_L0})"
    b = f"(acc % {_HOLT_M} - {_HOLT_B0})"
    y = f"(s {div_op} {_HOLT_M} - {_HOLT_L0})"
    err = f"({y} - {l} - {b})"
    e4 = f"({sdiv(err, 4)})"
    l2 = f"({l} + {b} + {e4})"
    b2 = f"({b} + {sdiv(e4, 4)})"
    return f"(acc, s) -> ({l2} + {_HOLT_L0}) * {_HOLT_M} + ({b2} + {_HOLT_B0})"


_HOLT_SQL = f"""
WITH bounds AS (
  SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
         date_diff('day', CAST(date_trunc('day', min(ts)) AS DATE),
                   CAST(date_trunc('day', max(ts)) AS DATE)) AS dmax
  FROM events
),
counts AS (
  SELECT event_type,
         date_diff('day', b.d0, CAST(date_trunc('day', ts) AS DATE)) AS idx,
         CASE WHEN count(*) > {_HOLT_COUNT_MAX}
              THEN CAST(error('holt_forecast_daily: daily count exceeds exact-arithmetic bound') AS BIGINT)
              ELSE CAST(count(*) AS BIGINT) END AS n
  FROM events, bounds b GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, g.idx
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(range(0, dmax + 1)) AS idx FROM bounds) g
),
series AS (
  SELECT g.event_type, g.idx, coalesce(c.n, 0) * 1000 AS y
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.idx = c.idx
),
folded AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         list_reduce(
           list_transform(array_agg(y ORDER BY idx),
                          v -> (v + {_HOLT_L0}) * {_HOLT_M} + {_HOLT_B0}),
           {_holt_lambda('//')}) AS st
  FROM series GROUP BY event_type
)
SELECT event_type, n_days,
       CAST(st // {_HOLT_M} - {_HOLT_L0} AS BIGINT) AS level_milli,
       CAST(st % {_HOLT_M} - {_HOLT_B0} AS BIGINT) AS trend_milli,
       CAST((st // {_HOLT_M} - {_HOLT_L0}) + 1 * (st % {_HOLT_M} - {_HOLT_B0}) AS BIGINT) AS forecast_1,
       CAST((st // {_HOLT_M} - {_HOLT_L0}) + 2 * (st % {_HOLT_M} - {_HOLT_B0}) AS BIGINT) AS forecast_2,
       CAST((st // {_HOLT_M} - {_HOLT_L0}) + 3 * (st % {_HOLT_M} - {_HOLT_B0}) AS BIGINT) AS forecast_3
FROM folded
"""


@register(
    "holt_forecast_daily",
    oracle=_HOLT_SQL,
    doc="Holt double-exponential forecast of daily event volume per type "
    "(alpha=beta=1/4): the recurrence folds over the densified day grid "
    "with the (level, trend) state packed into one BIGINT, so every step "
    "is exact integer arithmetic — identical smoothing in both engines, "
    "1/2/3-day-ahead forecasts in milli-units",
    tags=("healthcheck", "timeseries"),
)
def holt_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation to the (type, day) series, a
    broadcast day grid densifies gaps to true zeros, and the smoothing fold
    is a NARROW ``aggregate`` over each type's day array (bounded by
    calendar length, not data volume) — the iterative recurrence costs no
    extra shuffle. Integer state packing sidesteps both float accumulation
    order and cross-engine fold-semantics differences; the count guard
    fails loudly past the exact-arithmetic bound in both engines."""
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    bounds = events.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("d0"),
        F.datediff(
            F.to_date(F.date_trunc("day", F.max("ts"))),
            F.to_date(F.date_trunc("day", F.min("ts"))),
        ).alias("dmax"),
    )
    n_raw = F.count("*").cast("long")
    counts = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            F.datediff(F.to_date(F.date_trunc("day", "ts")), F.col("d0")).alias(
                "idx"
            ),
        )
        .agg(
            F.when(
                n_raw > _HOLT_COUNT_MAX,
                F.raise_error(
                    F.lit(
                        "holt_forecast_daily: daily count exceeds "
                        "exact-arithmetic bound"
                    )
                ).cast("long"),
            )
            .otherwise(n_raw)
            .alias("n")
        )
    )
    grid = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.expr("sequence(0, dmax)")).alias("idx"))
    )
    series = grid.join(counts, ["event_type", "idx"], "left").select(
        "event_type",
        "idx",
        (F.coalesce("n", F.lit(0)) * 1000).cast("long").alias("y"),
    )
    # The sorted observation-state array, built narrowly per group.
    folded = (
        series.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr(
                "transform(array_sort(collect_list(struct(idx, y))),"
                f" x -> (x.y + {_HOLT_L0}) * CAST({_HOLT_M} AS BIGINT) + {_HOLT_B0})"
            ).alias("s_arr"),
        )
        .select(
            "event_type",
            "n_days",
            F.expr(
                "aggregate("
                " slice(s_arr, 2, size(s_arr) - 1),"
                " element_at(s_arr, 1),"
                f" {_holt_lambda('div')})"
            ).alias("st"),
        )
    )
    l = F.expr(f"st div {_HOLT_M} - {_HOLT_L0}").cast("long")
    b = F.expr(f"st % {_HOLT_M} - {_HOLT_B0}").cast("long")
    return folded.select(
        "event_type",
        "n_days",
        l.alias("level_milli"),
        b.alias("trend_milli"),
        (l + 1 * b).cast("long").alias("forecast_1"),
        (l + 2 * b).cast("long").alias("forecast_2"),
        (l + 3 * b).cast("long").alias("forecast_3"),
    )


# ---------------------------------------------------------------------------
# K1 as a real connector: the put-records sink's commit protocol, round-trip.
# ---------------------------------------------------------------------------
_PUT_SHARDS = 4
_PUT_PK = "strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')"
_PUT_B64 = (
    "to_base64(encode('{\"currentInstant\":\"' || "
    + _PUT_PK
    + " || '\"}'))"
)

_PUT_SINK_SQL = f"""
WITH reqs AS (
  SELECT {_PUT_PK} AS pk, {_PUT_B64} AS b64 FROM events
),
routed AS (
  SELECT 'shardId-' || lpad(CAST(CAST(('0x' || substr(md5(pk), 1, 8)) AS BIGINT)
                                 % {_PUT_SHARDS} AS VARCHAR), 12, '0') AS shard_id,
         pk, b64,
         CAST(('0x' || substr(md5(pk), 1, 8)) AS BIGINT) AS pk_h,
         CAST(('0x' || substr(md5(b64), 1, 8)) AS BIGINT) AS data_h
  FROM reqs
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(count(DISTINCT pk) AS BIGINT) AS n_keys,
       CAST(sum(pk_h) AS BIGINT) AS key_checksum,
       CAST(sum(data_h) AS BIGINT) AS data_checksum
FROM routed GROUP BY shard_id
"""


@register(
    "kinesis_put_sink_roundtrip",
    oracle=_PUT_SINK_SQL,
    doc="K1 put-records sink as a Python DataSource WRITER: tracer requests "
    "routed by Kinesis' md5 hash-range rule, written through the task-"
    "commit protocol (pending -> driver commit -> manifest), read back from "
    "ONLY the manifest-committed files, and checksummed per shard against "
    "the oracle's replay of the same routing",
    tags=("core", "kinesis"),
)
def kinesis_put_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: routing is a narrow per-record md5; the writer is
    embarrassingly parallel (one pending file per task, no shuffle beyond
    the producer's key repartition); commit is O(tasks) driver renames —
    the same publish-on-commit contract as the snapshot lake, here
    exercised through Spark's DataSource writer API (task commit messages,
    driver commit, abort cleanup). Order-free BIGINT checksums make the
    round-trip value-verifiable without sorting the payload."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.operators.producer import (
        to_kinesis_put_requests,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_put import (
        read_committed,
        register_kinesis_put,
    )

    configure_session(spark)
    register_kinesis_put(spark)
    events = parallel_scan(spark, sf_dir, "events")
    reqs = to_kinesis_put_requests(
        tracer_records(events, F.col("ts"), F.col("event_type")), _PUT_SHARDS
    )
    dest = _tf.mkdtemp(prefix="kinesis_put_")
    reqs.write.format("kinesis_put").option("path", dest).option(
        "numshards", _PUT_SHARDS
    ).mode("append").save()
    got = read_committed(spark, dest)
    h = lambda c: F.expr(  # noqa: E731
        f"CAST(conv(substr(md5({c}), 1, 8), 16, 10) AS BIGINT)"
    )
    return got.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.countDistinct("partition_key").cast("long").alias("n_keys"),
        F.sum(h("partition_key")).cast("long").alias("key_checksum"),
        F.sum(h("data_b64")).cast("long").alias("data_checksum"),
    )


@register(
    "streaming_put_sink",
    oracle=_PUT_SINK_SQL,
    doc="K1 streaming sink: the same tracer requests driven through "
    "writeStream into the DataSourceStreamWriter (one atomically-published "
    "manifest per micro-batch; replayed batchIds drop their duplicates), "
    "then read back from the per-batch manifests and checksummed against "
    "the batch oracle",
    tags=("core", "kinesis", "streaming"),
)
def streaming_put_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-least-once -> exactly-once seam on the SINK side of Spark's
    native streaming-writer protocol (commit(messages, batchId)): a 3-file
    availableNow drain commits three manifests; a replayed batchId finds
    its manifest already published and discards the re-written pending
    files instead of double-committing. Output equality with the batch
    sink's oracle proves the drain lost and duplicated nothing."""
    import glob as _glob
    import os as _os
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.operators.producer import (
        to_kinesis_put_requests,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_put import (
        read_stream_committed,
        register_kinesis_put,
    )

    configure_session(spark)
    register_kinesis_put(spark)
    events = parallel_scan(spark, sf_dir, "events")
    reqs = to_kinesis_put_requests(
        tracer_records(events, F.col("ts"), F.col("event_type")), _PUT_SHARDS
    ).withColumn("slice", F.pmod(F.expr("CAST(conv(substr(md5(partitionKey), 1, 8), 16, 10) AS BIGINT)"), F.lit(3)))
    stream, _ = replay_feed(
        spark,
        [reqs.filter(F.col("slice") == i).drop("slice") for i in range(3)],
        "put_stream_src_",
    )
    dest = _tf.mkdtemp(prefix="put_stream_sink_")
    drain(
        stream.writeStream.format("kinesis_put")
        .option("path", dest)
        .option("numshards", _PUT_SHARDS),
        "put_sink",
    )
    n_manifests = len(_glob.glob(_os.path.join(dest, "_manifest-*.json")))
    if n_manifests != 3:
        raise RuntimeError(f"expected 3 per-batch manifests, got {n_manifests}")
    got = read_stream_committed(spark, dest)
    h = lambda c: F.expr(  # noqa: E731
        f"CAST(conv(substr(md5({c}), 1, 8), 16, 10) AS BIGINT)"
    )
    return got.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.countDistinct("partition_key").cast("long").alias("n_keys"),
        F.sum(h("partition_key")).cast("long").alias("key_checksum"),
        F.sum(h("data_b64")).cast("long").alias("data_checksum"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection: the sequential change-point test that catches SLOW
# mean shifts a fixed threshold misses (a lag creeping up 2% per minute never
# crosses the alarm line until far too late; its cumulative sum does).
# The textbook recurrence S+_i = max(0, S+_{i-1} + (x_i - mu - k)) is
# non-linear, but it has an exact closed form over prefix sums:
#     S+_i = P_i - min(0, min_{j<=i} P_j),   P_i = sum_{1..i}(x_j - mu - k)
# so both engines compute it with two plain window functions (cumulative sum
# + cumulative min) — no fold, no UDF, bit-identical BIGINT milli-units.
# ---------------------------------------------------------------------------
_CUSUM_SQL = """
WITH m AS (
  SELECT event_type AS stream_name,
         60 * CAST(floor(epoch(ts) / 60) AS BIGINT) AS ws,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
mu AS (
  SELECT stream_name,
         CAST(sum(x) // count(*) AS BIGINT) AS mu_milli,
         CAST((sum(x) // count(*)) // 20 AS BIGINT) AS slack_milli
  FROM m GROUP BY stream_name
),
d AS (
  SELECT m.stream_name, m.ws, m.x, mu.mu_milli, mu.slack_milli,
         m.x - mu.mu_milli - mu.slack_milli AS d_pos,
         mu.mu_milli - m.x - mu.slack_milli AS d_neg
  FROM m JOIN mu ON m.stream_name = mu.stream_name
),
p0 AS (
  SELECT stream_name, ws, x, mu_milli,
         sum(d_pos) OVER w AS p_pos,
         sum(d_neg) OVER w AS p_neg
  FROM d
  WINDOW w AS (PARTITION BY stream_name ORDER BY ws
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT *, min(p_pos) OVER w AS lo_pos, min(p_neg) OVER w AS lo_neg
  FROM p0
  WINDOW w AS (PARTITION BY stream_name ORDER BY ws
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT stream_name, ws AS window_start_s, x AS value_milli,
       CAST(p_pos - least(0, lo_pos) AS BIGINT) AS cusum_pos,
       CAST(p_neg - least(0, lo_neg) AS BIGINT) AS cusum_neg,
       (p_pos - least(0, lo_pos)) > mu_milli AS drift_up,
       (p_neg - least(0, lo_neg)) > mu_milli AS drift_down
FROM p
"""


@register(
    "cusum_changepoint",
    oracle=_CUSUM_SQL,
    doc="Sequential change-point detection: two-sided CUSUM over per-minute "
    "stream volume in exact BIGINT milli-units — the reset-at-zero "
    "recurrence evaluated in closed form as prefix-sum minus running "
    "minimum (two window functions, no fold), allowance = mu/20, "
    "decision interval h = mu",
    tags=("core", "timeseries", "alerting"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the minute rollup is one keyed aggregation (map-side
    partial); per-stream mean/allowance is a |streams|-row table that
    BROADCASTS back; the CUSUM itself is two cumulative windows partitioned
    by stream — sequential per key by definition of the statistic, which at
    100 TB is handled exactly like ``holt_forecast_daily``: range-partition
    the timeline and carry per-stream prefix offsets between ranges (the
    closed form makes the carry a (sum, min) pair — mergeable), or run the
    streaming stateful twin. Nothing here shuffles document-sized data; the
    series is |streams| x |minutes|.

    Closed form: with P_i the prefix sum of d_j = x_j - mu - k and
    M_i = min(P_1..P_i), the CUSUM S+_i = max(0, S+_{i-1} + d_i) equals
    P_i - min(0, M_i) (induction: subtracting the lowest prefix valley
    is exactly the "reset at zero" rule). Mirrored for the downward test."""
    configure_session(spark)
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("stream_name"),
        (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60)).cast("long").alias("ws"),
    ).agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("x"))
    m = m.localCheckpoint(eager=False)  # feeds the baseline AND the join
    mu = m.groupBy("stream_name").agg(
        F.expr("sum(x) div count(1)").cast("long").alias("mu_milli"),
        F.expr("(sum(x) div count(1)) div 20").cast("long").alias("slack_milli"),
    )
    d = m.join(F.broadcast(mu), "stream_name").select(
        "stream_name",
        "ws",
        "x",
        "mu_milli",
        (F.col("x") - F.col("mu_milli") - F.col("slack_milli")).alias("d_pos"),
        (F.col("mu_milli") - F.col("x") - F.col("slack_milli")).alias("d_neg"),
    )
    w = (
        Window.partitionBy("stream_name")
        .orderBy("ws")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = d.select(
        "stream_name",
        "ws",
        "x",
        "mu_milli",
        F.sum("d_pos").over(w).alias("p_pos"),
        F.sum("d_neg").over(w).alias("p_neg"),
    ).select(
        "*",
        F.min("p_pos").over(w).alias("lo_pos"),
        F.min("p_neg").over(w).alias("lo_neg"),
    )
    cpos = F.col("p_pos") - F.least(F.lit(0), F.col("lo_pos"))
    cneg = F.col("p_neg") - F.least(F.lit(0), F.col("lo_neg"))
    return p.select(
        "stream_name",
        F.col("ws").alias("window_start_s"),
        F.col("x").alias("value_milli"),
        cpos.cast("long").alias("cusum_pos"),
        cneg.cast("long").alias("cusum_neg"),
        (cpos > F.col("mu_milli")).alias("drift_up"),
        (cneg > F.col("mu_milli")).alias("drift_down"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function: per-stream ACF at lags 1..5 minutes — the
# periodicity probe that tells an alerting pipeline whether its metric is
# self-similar (and a forecaster which lags carry signal). Pearson r per lag
# from EXACT DECIMAL(38) moment sums over (x_t, x_{t+lag}) pairs — the
# lineitem_corr_exact device — so both engines produce identical doubles.
# ---------------------------------------------------------------------------
_ACF_MAX_LAG = 5

_ACF_SQL = f"""
WITH m AS (
  SELECT event_type AS stream_name,
         60 * CAST(floor(epoch(ts) / 60) AS BIGINT) AS ws,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag_min),
pairs AS (
  SELECT a.stream_name, l.lag_min, a.x AS x0, b.x AS x1
  FROM m a
  CROSS JOIN lags l
  JOIN m b ON b.stream_name = a.stream_name
          AND b.ws = a.ws + 60 * l.lag_min
),
s AS (
  SELECT stream_name, CAST(lag_min AS BIGINT) AS lag_min,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(CAST(x0 AS DECIMAL(38,0))) AS sx,
         sum(CAST(x1 AS DECIMAL(38,0))) AS sy,
         sum(CAST(x0 AS DECIMAL(19,0)) * CAST(x0 AS DECIMAL(19,0))) AS sxx,
         sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0))) AS syy,
         sum(CAST(x0 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0))) AS sxy
  FROM pairs GROUP BY stream_name, lag_min
)
SELECT stream_name, lag_min,
       CAST(n AS BIGINT) AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(n * syy - sy * sy AS DOUBLE)), 0),
             6) AS acf
FROM s
"""


@register(
    "acf_by_lag",
    oracle=_ACF_SQL,
    doc=f"Per-stream autocorrelation at lags 1..{_ACF_MAX_LAG} minutes: "
    "Pearson r over (x_t, x_t+lag) pairs from exact DECIMAL(38) moment "
    "sums — reduction-order-free, engine-identical doubles",
    tags=("core", "timeseries", "stats"),
)
def acf_by_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the minute series shuffles ONCE on the uniform
    (stream, minute) key for the lag self-join (the 5-lag fan-out is a
    narrow constant explode on the probe side); moments aggregate with
    map-side partials onto |streams| x 5 groups. At 100 TB the series is
    rollup-sized, not event-sized — the join input is already the
    aggregated minute table. The sqrt/division runs once per group on
    exact integers, so the doubles match DuckDB bit-for-bit."""
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("stream_name"),
        (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60)).cast("long").alias("ws"),
    ).agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("x"))
    m = m.localCheckpoint(eager=False)  # probe AND build side of the lag join
    a = m.select(
        "stream_name",
        "ws",
        F.col("x").alias("x0"),
        F.explode(F.expr(f"sequence(1, {_ACF_MAX_LAG})")).alias("lag_min"),
    ).withColumn("ws1", F.col("ws") + 60 * F.col("lag_min"))
    b = m.select(
        F.col("stream_name").alias("sn1"),
        F.col("ws").alias("wsb"),
        F.col("x").alias("x1"),
    )
    pairs = a.join(
        b, (F.col("stream_name") == F.col("sn1")) & (F.col("ws1") == F.col("wsb"))
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    # Operands cast to DECIMAL(19,0) BEFORE squaring: DECIMAL(19,0) holds
    # any BIGINT losslessly and the (19,0)x(19,0) product fits 38 digits
    # exactly, so neither engine can wrap/NULL where the old x0*x0-in-BIGINT
    # pre-cast silently wrapped on Spark while DuckDB raised.
    dec19 = "CAST({} AS DECIMAL(19,0))"
    s = pairs.groupBy("stream_name", F.col("lag_min").cast("long").alias("lag_min")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.expr(dec.format("x0"))).alias("sx"),
        F.sum(F.expr(dec.format("x1"))).alias("sy"),
        F.sum(F.expr(f"{dec19.format('x0')} * {dec19.format('x0')}")).alias("sxx"),
        F.sum(F.expr(f"{dec19.format('x1')} * {dec19.format('x1')}")).alias("syy"),
        F.sum(F.expr(f"{dec19.format('x0')} * {dec19.format('x1')}")).alias("sxy"),
    )
    return s.select(
        "stream_name",
        "lag_min",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(
            F.expr(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
                " * CAST(n * syy - sy * sy AS DOUBLE)), 0)"
            ),
            6,
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Hysteresis (Schmitt-trigger) alarm: the flap-resistant variant of the
# flagship threshold — raise at x > HI, clear only at x < LO, HOLD the
# previous state in between. The hold recurrence needs no fold: forced
# transitions are a sparse event column (ALARM above HI, OK below LO, NULL
# in the dead band) and the held state is last_value IGNORE NULLS over the
# per-stream timeline — one window function in both engines.
# ---------------------------------------------------------------------------
_HYST_HI = 400.0
_HYST_LO = 250.0

_HYST_SQL = f"""
WITH m AS (
  SELECT event_type AS stream_name,
         60 * CAST(floor(epoch(ts) / 60) AS BIGINT) AS ws,
         CAST(max(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
forced AS (
  SELECT stream_name, ws, x,
         CASE WHEN x > {int(_HYST_HI * 1000)} THEN 'ALARM'
              WHEN x < {int(_HYST_LO * 1000)} THEN 'OK' END AS f
  FROM m
),
held AS (
  SELECT stream_name, ws, x,
         COALESCE(last_value(f IGNORE NULLS) OVER w, 'OK') AS state
  FROM forced
  WINDOW w AS (PARTITION BY stream_name ORDER BY ws
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT stream_name, ws AS window_start_s, x AS max_value_milli, state,
       lag(state) OVER (PARTITION BY stream_name ORDER BY ws) IS NOT NULL
         AND state <> lag(state) OVER (PARTITION BY stream_name ORDER BY ws)
         AS transitioned
FROM held
"""


@register(
    "hysteresis_alarm",
    oracle=_HYST_SQL,
    doc=f"Flap-resistant alerting: Schmitt-trigger alarm (raise above "
    f"{_HYST_HI}, clear below {_HYST_LO}, hold in the dead band) — the "
    "hold recurrence is last_value IGNORE NULLS over sparse forced "
    "transitions, one window function instead of a stateful fold",
    tags=("core", "alerting", "timeseries"),
)
def hysteresis_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: minute rollup (keyed agg, per-row integer milli before
    the max so the rollup is order-free), then two window functions over
    the per-stream timeline. The last-non-null device turns an apparently
    stateful hold into plain window algebra, so the streaming twin's only
    job would be carrying (last forced state) — one enum per stream.
    Dead-band width is the flap-suppression knob: transitions here require
    crossing BOTH thresholds, which is what de-flaps a noisy metric."""
    configure_session(spark)
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("stream_name"),
        (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60)).cast("long").alias("ws"),
    ).agg(F.max(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("x"))
    forced = m.withColumn(
        "f",
        F.when(F.col("x") > int(_HYST_HI * 1000), "ALARM").when(
            F.col("x") < int(_HYST_LO * 1000), "OK"
        ),
    )
    w = (
        Window.partitionBy("stream_name")
        .orderBy("ws")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy("stream_name").orderBy("ws")
    held = forced.select(
        "stream_name",
        "ws",
        "x",
        F.coalesce(F.last("f", ignorenulls=True).over(w), F.lit("OK")).alias("state"),
    )
    return held.select(
        "stream_name",
        F.col("ws").alias("window_start_s"),
        F.col("x").alias("max_value_milli"),
        "state",
        (
            F.lag("state").over(w_lag).isNotNull()
            & (F.col("state") != F.lag("state").over(w_lag))
        ).alias("transitioned"),
    )


# ---------------------------------------------------------------------------
# Alarm flappiness: how often does each stream's alarm flip per day — the
# fatigue metric that tells an operator which alarms need hysteresis or a
# longer N-of-M. Builds on the flagship single-threshold state series and
# counts transitions per (stream, day); flappy = more than FLAP_MAX flips.
# ---------------------------------------------------------------------------
_FLAP_THRESHOLD = 300.0
_FLAP_MAX = 10

_FLAP_SQL = f"""
WITH m AS (
  SELECT event_type AS stream_name,
         60 * CAST(floor(epoch(ts) / 60) AS BIGINT) AS ws,
         CAST(max(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT stream_name, ws,
         CASE WHEN x > {int(_FLAP_THRESHOLD * 1000)} THEN 'ALARM' ELSE 'OK' END
           AS state
  FROM m
),
tr AS (
  SELECT stream_name, ws, state,
         lag(state) OVER (PARTITION BY stream_name ORDER BY ws) AS prev
  FROM st
)
SELECT stream_name,
       CAST(floor(ws / 86400) AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n_periods,
       CAST(sum(CASE WHEN prev IS NOT NULL AND state <> prev THEN 1 ELSE 0 END)
            AS BIGINT) AS n_transitions,
       sum(CASE WHEN prev IS NOT NULL AND state <> prev THEN 1 ELSE 0 END)
         > {_FLAP_MAX} AS flappy
FROM tr
GROUP BY stream_name, day
"""


@register(
    "alarm_flappiness",
    oracle=_FLAP_SQL,
    doc=f"Alarm-fatigue audit: state transitions per (stream, day) under "
    f"the single-threshold alarm; > {_FLAP_MAX} flips/day flags the alarm "
    "as needing hysteresis or a longer N-of-M window",
    tags=("core", "alerting", "ops"),
)
def alarm_flappiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: minute rollup -> per-stream lag window -> (stream, day)
    counting aggregation; all keys uniform, the lag window is the same
    per-stream timeline every alarm query walks. Day attribution uses the
    period start (transitions at midnight belong to the new day)."""
    configure_session(spark)
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("stream_name"),
        (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60)).cast("long").alias("ws"),
    ).agg(F.max(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("x"))
    st = m.select(
        "stream_name",
        "ws",
        F.when(F.col("x") > int(_FLAP_THRESHOLD * 1000), "ALARM")
        .otherwise("OK")
        .alias("state"),
    )
    w = Window.partitionBy("stream_name").orderBy("ws")
    tr = st.select(
        "stream_name", "ws", "state", F.lag("state").over(w).alias("prev")
    )
    flips = F.sum(
        (F.col("prev").isNotNull() & (F.col("state") != F.col("prev"))).cast("int")
    )
    return tr.groupBy(
        "stream_name", F.floor(F.col("ws") / 86400).cast("long").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_periods"),
        flips.cast("long").alias("n_transitions"),
        (flips > _FLAP_MAX).alias("flappy"),
    )


# ---------------------------------------------------------------------------
# Approximate-percentile accuracy contract: at 100 TB the exact keyed
# percentile is replaced by approx_percentile (mergeable, map-side partial)
# — this query PINS that swap's safety the way sketch_rollup_merge pins the
# HLL/KLL contract. The Spark side computes exact and approximate p50/p99,
# re-ranks the approximate answers against the data, and emits BOOLEAN
# rank-error verdicts; the oracle emits the exact values and literal TRUE,
# so any contract violation hash-fails the query. (The approximate values
# themselves are engine-specific and are deliberately NOT in the output.)
# ---------------------------------------------------------------------------
_APPROX_ACC = 10_000  # approx_percentile accuracy parameter

_APPROX_Q_SQL = """
WITH v AS (
  SELECT event_type AS stream_name, CAST(floor(value * 1000) AS BIGINT) AS x
  FROM events
)
SELECT stream_name,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(x, 0.50), 6) AS exact_p50_milli,
       round(quantile_cont(x, 0.99), 6) AS exact_p99_milli,
       TRUE AS p50_within_contract,
       TRUE AS p99_within_contract
FROM v GROUP BY stream_name
"""


@register(
    "approx_quantile_contract",
    oracle=_APPROX_Q_SQL,
    doc="Accuracy contract: approx_percentile(p50/p99) re-ranked against "
    "the data must sit within the rank-error tolerance — the verdict "
    "booleans are part of the value hash (oracle asserts TRUE), exactly "
    "the sketch_rollup_merge pattern for the percentile family",
    tags=("core", "timeseries", "sketch"),
)
def approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the approximate path is the one that survives 100 TB —
    approx_percentile is a mergeable KLL-family sketch with map-side
    partials, no per-key sort. The exact twin and the re-rank join exist
    HERE to measure it (rank tolerance = max(1, n div 1000), looser than
    the sketch's n/accuracy guarantee so the contract is stable across
    sketch implementations); production keeps only the sketch leg.

    Tie-awareness: a returned value v occupies the whole rank band
    [count(x < v), count(x <= v)] — with heavily repeated values the
    upper edge can sit far from the target rank even for a PERFECT
    sketch, so the verdict tests the target rank against the band
    (count(x < a) - tol .. count(x <= a) + tol), not against a single
    count."""
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    v = events.select(
        F.col("event_type").alias("stream_name"),
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
    )
    v = v.localCheckpoint(eager=False)  # feeds the agg AND the re-rank
    agg = v.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.expr("percentile(x, 0.50)"), 6).alias("exact_p50_milli"),
        F.round(F.expr("percentile(x, 0.99)"), 6).alias("exact_p99_milli"),
        F.expr(f"approx_percentile(x, 0.50, {_APPROX_ACC})").alias("a50"),
        F.expr(f"approx_percentile(x, 0.99, {_APPROX_ACC})").alias("a99"),
    )
    ranks = (
        v.join(F.broadcast(agg.select("stream_name", "a50", "a99")), "stream_name")
        .groupBy("stream_name")
        .agg(
            F.sum((F.col("x") < F.col("a50")).cast("int")).cast("long").alias("r50_lt"),
            F.sum((F.col("x") <= F.col("a50")).cast("int")).cast("long").alias("r50_le"),
            F.sum((F.col("x") < F.col("a99")).cast("int")).cast("long").alias("r99_lt"),
            F.sum((F.col("x") <= F.col("a99")).cast("int")).cast("long").alias("r99_le"),
        )
    )
    tol = F.greatest(F.lit(1), F.expr("n div 1000"))
    t50 = F.expr("CAST(n div 2 AS BIGINT)")
    t99 = F.expr("CAST(99 * n div 100 AS BIGINT)")
    return agg.join(ranks, "stream_name").select(
        "stream_name",
        "n",
        "exact_p50_milli",
        "exact_p99_milli",
        (
            (t50 >= F.col("r50_lt") - tol) & (t50 <= F.col("r50_le") + tol)
        ).alias("p50_within_contract"),
        (
            (t99 >= F.col("r99_lt") - tol) & (t99 <= F.col("r99_le") + tol)
        ).alias("p99_within_contract"),
    )


# ---------------------------------------------------------------------------
# PUT payload-unit accounting: Kinesis meters producers in 25 KB "PUT
# payload units" — every PutRecord consumes ceil(payload/25KB) units, so
# small records pay for 25 KB whether they use it or not. Packing records
# with KPL aggregation amortizes that rounding across members, which is
# the whole economic argument for KPL. Both sides of that argument are
# computed here from the same synthetic record sizes: plain per-record
# units vs 5-member-blob units, with the rounding waste and the savings.
# ---------------------------------------------------------------------------
_PUT_UNIT_BYTES = 25_600  # 25 KB PUT payload unit
_COST_KPL_MEMBERS = 5  # members per aggregated blob (matches the KPL legs)

_COST_UNITS_SQL = f"""
WITH rec AS (
  SELECT event_type,
         event_id // {_COST_KPL_MEMBERS} AS blob_id,
         CAST(octet_length(encode(props))
              + octet_length(encode(CAST(user_id AS VARCHAR)))
              + (event_id % 4) * 20000 AS BIGINT) AS bytes
  FROM events
),
plain AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_puts,
         CAST(sum(bytes) AS BIGINT) AS total_bytes,
         CAST(sum((bytes + {_PUT_UNIT_BYTES - 1}) // {_PUT_UNIT_BYTES})
              AS BIGINT) AS put_units
  FROM rec GROUP BY event_type
),
blobs AS (
  SELECT event_type, blob_id, CAST(sum(bytes) AS BIGINT) AS blob_bytes
  FROM rec GROUP BY event_type, blob_id
),
kpl AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_blobs,
         CAST(sum((blob_bytes + {_PUT_UNIT_BYTES - 1}) // {_PUT_UNIT_BYTES})
              AS BIGINT) AS kpl_units
  FROM blobs GROUP BY event_type
)
SELECT p.event_type AS stream_name, p.n_puts, p.total_bytes, p.put_units,
       CAST(1000000 * (p.put_units * {_PUT_UNIT_BYTES} - p.total_bytes)
            // (p.put_units * {_PUT_UNIT_BYTES}) AS BIGINT) AS waste_ppm,
       k.n_blobs, k.kpl_units,
       CAST(1000000 * (p.put_units - k.kpl_units) // p.put_units AS BIGINT)
         AS kpl_savings_ppm
FROM plain p JOIN kpl k ON p.event_type = k.event_type
"""


@register(
    "kinesis_cost_units",
    oracle=_COST_UNITS_SQL,
    doc="Kinesis cost accounting: 25KB PUT payload units per stream — "
    "per-record rounding (ceil(bytes/25KB)) vs 5-member KPL-aggregated "
    "blobs over the same bytes, with rounding-waste and aggregation-savings "
    "ppm; the metering arithmetic behind the KPL economic argument",
    tags=("healthcheck", "kinesis"),
)
def kinesis_cost_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow byte-accounting projection over the event
    scan feeds two keyed aggregations (per-stream, and per-blob rolled up
    per-stream) joined on the bounded stream dimension — map-side partials
    everywhere, no wide row ever carries payload bytes.

    The unit size is the published Kinesis metering constant (25 KB PUT
    payload units); the aggregation factor matches the repo's KPL pack
    legs (operators/kpl_agg.py) so the savings number corresponds to what
    kinesis_kpl_produce_roundtrip actually ships."""
    configure_session(spark)
    rec = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"event_id div {_COST_KPL_MEMBERS}").alias("blob_id"),
        (
            F.octet_length(F.encode("props", "UTF-8"))
            + F.octet_length(F.encode(F.col("user_id").cast("string"), "UTF-8"))
            + (F.col("event_id") % 4) * 20000
        )
        .cast("long")
        .alias("bytes"),
    )
    rec = rec.localCheckpoint(eager=False)  # feeds the plain AND blob legs
    units = lambda c: F.expr(  # noqa: E731
        f"CAST(({c} + {_PUT_UNIT_BYTES - 1}) div {_PUT_UNIT_BYTES} AS BIGINT)"
    )
    plain = rec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_puts"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.sum(units("bytes")).cast("long").alias("put_units"),
    )
    kpl = (
        rec.groupBy("event_type", "blob_id")
        .agg(F.sum("bytes").cast("long").alias("blob_bytes"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blobs"),
            F.sum(units("blob_bytes")).cast("long").alias("kpl_units"),
        )
    )
    return plain.join(kpl, "event_type").select(
        F.col("event_type").alias("stream_name"),
        "n_puts",
        "total_bytes",
        "put_units",
        F.expr(
            f"CAST(1000000 * (put_units * {_PUT_UNIT_BYTES} - total_bytes)"
            f" div (put_units * {_PUT_UNIT_BYTES}) AS BIGINT)"
        ).alias("waste_ppm"),
        "n_blobs",
        "kpl_units",
        F.expr(
            "CAST(1000000 * (put_units - kpl_units) div put_units AS BIGINT)"
        ).alias("kpl_savings_ppm"),
    )


# ---------------------------------------------------------------------------
# Wire-payload schema drift: producers evolve their JSON payloads without
# telling anyone — keys appear, keys vanish, optional keys change emission
# rate — and consumers discover it in production. The monitor needs no
# registered schema: it splits the stream at its time midpoint, measures
# each (stream, key) presence rate in both halves from the payload bytes
# themselves, and classifies added / dropped / rate-shift / stable. The
# wire here is a versioned synthetic payload (v1 until day 15, v2 after —
# one key dropped, two added — plus a value-conditional optional key) so
# every drift class actually occurs; the operator itself reads only the
# JSON text and works on any stream.
# ---------------------------------------------------------------------------
_DRIFT_CUT_DAYS = 15  # v1 -> v2 producer cutover, days after stream start
_DRIFT_STABLE_TOL_PPM = 20_000  # |early - late| <= 2% presence => stable

_SCHEMA_DRIFT_SQL = f"""
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS d0 FROM events
),
wire AS (
  SELECT e.event_type,
         e.ts < b.d0 + INTERVAL {_DRIFT_CUT_DAYS} DAY AS early,
         '{{"schemaVersion": ' ||
         CASE WHEN e.ts < b.d0 + INTERVAL {_DRIFT_CUT_DAYS} DAY
              THEN '1' ELSE '2' END ||
         ', "k": ' || CAST(CAST(round(e.value * 100) AS BIGINT) AS VARCHAR) ||
         CASE WHEN e.ts < b.d0 + INTERVAL {_DRIFT_CUT_DAYS} DAY
              THEN ', "u": ' || CAST(e.user_id AS VARCHAR)
              ELSE ', "lat": 1, "sessionId": ' || CAST(e.event_id AS VARCHAR)
         END ||
         CASE WHEN CAST(round(e.value * 100) AS BIGINT)
                   % (CASE WHEN e.ts < b.d0 + INTERVAL {_DRIFT_CUT_DAYS} DAY
                           THEN 7 ELSE 5 END) = 0
              THEN ', "err": true' ELSE '' END ||
         '}}' AS payload
  FROM events e, bounds b
),
totals AS (
  SELECT event_type, early, CAST(count(*) AS BIGINT) AS n
  FROM wire GROUP BY event_type, early
),
keyed AS (
  SELECT event_type, early, unnest(json_keys(payload)) AS key FROM wire
),
counts AS (
  SELECT event_type, key, early, CAST(count(*) AS BIGINT) AS n_key
  FROM keyed GROUP BY event_type, key, early
),
grid AS (
  SELECT DISTINCT c.event_type, c.key, w.early
  FROM counts c, (SELECT TRUE AS early UNION ALL SELECT FALSE) w
),
filled AS (
  SELECT g.event_type, g.key, g.early,
         coalesce(c.n_key, 0) AS n_key, t.n
  FROM grid g
  JOIN totals t ON t.event_type = g.event_type AND t.early = g.early
  LEFT JOIN counts c ON c.event_type = g.event_type AND c.key = g.key
                    AND c.early = g.early
),
rates AS (
  SELECT event_type, key,
         CAST(max(CASE WHEN early THEN 1000000 * n_key // n END) AS BIGINT)
           AS early_ppm,
         CAST(max(CASE WHEN NOT early THEN 1000000 * n_key // n END) AS BIGINT)
           AS late_ppm,
         CAST(max(CASE WHEN early THEN n_key END) AS BIGINT) AS n_early,
         CAST(max(CASE WHEN NOT early THEN n_key END) AS BIGINT) AS n_late
  FROM filled GROUP BY event_type, key
)
SELECT event_type AS stream_name, key, early_ppm, late_ppm, n_early, n_late,
       CASE WHEN early_ppm = 0 AND late_ppm > 0 THEN 'added'
            WHEN early_ppm > 0 AND late_ppm = 0 THEN 'dropped'
            WHEN abs(early_ppm - late_ppm) <= {_DRIFT_STABLE_TOL_PPM}
              THEN 'stable'
            ELSE 'rate-shift' END AS drift
FROM rates
"""


def drift_wire_payload(early: F.Column) -> F.Column:
    """The versioned synthetic JSON payload (shared by the batch monitor and
    its streaming drive): v1 while ``early``, v2 after — one key dropped,
    two added — plus a value-conditional optional key whose emission
    modulus shifts across the cutover. Expects ``value``/``user_id``/
    ``event_id`` columns in scope."""
    kval = F.round(F.col("value") * 100).cast("long")
    return F.concat(
        F.lit('{"schemaVersion": '),
        F.when(early, F.lit("1")).otherwise(F.lit("2")),
        F.lit(', "k": '),
        kval.cast("string"),
        F.when(
            early, F.concat(F.lit(', "u": '), F.col("user_id").cast("string"))
        ).otherwise(
            F.concat(
                F.lit(', "lat": 1, "sessionId": '),
                F.col("event_id").cast("string"),
            )
        ),
        F.when(
            kval % F.when(early, 7).otherwise(5) == 0,
            F.lit(', "err": true'),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )



@register(
    "json_schema_drift",
    oracle=_SCHEMA_DRIFT_SQL,
    doc="Wire-payload schema-drift monitor: per-(stream, key) JSON key "
    "presence rates in the stream's early vs late half, classified added / "
    "dropped / rate-shift / stable with a 2% tolerance — schemaless "
    "payload-evolution detection from the bytes themselves, driven over a "
    "versioned synthetic wire (v1->v2 cutover plus a value-conditional "
    "key whose emission modulus shifts) so every drift class occurs",
    tags=("healthcheck", "kinesis", "dq"),
)
def json_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: payload synthesis and ``json_object_keys`` are narrow
    codegen'd expressions over the scan; the key explode feeds one
    map-side-combined count keyed on (stream, key, half) — cardinality
    bounded by streams x distinct keys, not rows. The dense
    (stream, key) x half grid, totals, and rate classification all run on
    that bounded relation with broadcast joins.

    Reference parity: the reference consumer hard-codes one payload key
    (HealthCheckProducerHandler.java's currentInstant JSON); this is the
    governance view a multi-producer stream needs when payloads evolve."""
    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "user_id", "event_id"
    )
    bounds = events.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    early = F.expr(f"ts < d0 + INTERVAL {_DRIFT_CUT_DAYS} DAY")
    wire = events.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        early.alias("early"),
        drift_wire_payload(early).alias("payload"),
    )
    wire = wire.localCheckpoint(eager=False)  # feeds totals AND key counts
    totals = wire.groupBy("event_type", "early").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    counts = (
        wire.select(
            "event_type",
            "early",
            F.explode(F.json_object_keys("payload")).alias("key"),
        )
        .groupBy("event_type", "key", "early")
        .agg(F.count(F.lit(1)).cast("long").alias("n_key"))
    )
    return drift_classify(spark, counts, totals)


def drift_classify(spark: SparkSession, counts: DataFrame, totals: DataFrame) -> DataFrame:
    """Dense-grid presence rates + drift classification over the bounded
    (stream, key, half) count relation — shared by the batch monitor and
    the streaming drive (which maintains ``counts`` live and derives
    ``totals`` from the always-present schemaVersion key)."""
    counts = counts.localCheckpoint(eager=False)  # feeds the grid AND fill
    halves = spark.createDataFrame([(True,), (False,)], "early boolean")
    grid = (
        counts.select("event_type", "key")
        .distinct()
        .crossJoin(F.broadcast(halves))
    )
    filled = (
        grid.join(F.broadcast(totals), ["event_type", "early"])
        .join(F.broadcast(counts), ["event_type", "key", "early"], "left")
        .na.fill({"n_key": 0})
    )
    rates = filled.groupBy("event_type", "key").agg(
        F.max(F.when(F.col("early"), F.expr("1000000 * n_key div n")))
        .cast("long")
        .alias("early_ppm"),
        F.max(F.when(~F.col("early"), F.expr("1000000 * n_key div n")))
        .cast("long")
        .alias("late_ppm"),
        F.max(F.when(F.col("early"), F.col("n_key"))).cast("long").alias("n_early"),
        F.max(F.when(~F.col("early"), F.col("n_key"))).cast("long").alias("n_late"),
    )
    return rates.select(
        F.col("event_type").alias("stream_name"),
        "key",
        "early_ppm",
        "late_ppm",
        "n_early",
        "n_late",
        F.when((F.col("early_ppm") == 0) & (F.col("late_ppm") > 0), "added")
        .when((F.col("early_ppm") > 0) & (F.col("late_ppm") == 0), "dropped")
        .when(
            F.abs(F.col("early_ppm") - F.col("late_ppm"))
            <= _DRIFT_STABLE_TOL_PPM,
            "stable",
        )
        .otherwise("rate-shift")
        .alias("drift"),
    )


# ---------------------------------------------------------------------------
# Token-bucket rate-limit replay: Kinesis throttles PutRecords per shard
# and AWS APIs throttle per caller with token buckets (burst capacity +
# steady refill) — and capacity planning needs to know what a proposed
# limit WOULD have throttled on real traffic. The bucket is replayed
# per user over the event history as an exact integer fold: capacity 5,
# one token per 60s (lazy floor refill), accept iff a token is available.
# State (last-event second, tokens, throttled count) packs into ONE BIGINT
# — the Holt device: scalar accumulators are the only fold state portable
# across engines (healthcheck_queries.py:1660).
# ---------------------------------------------------------------------------
_RL_CAP = 3  # burst capacity (tokens)
_RL_REFILL_S = 21_600  # one token per 6 hours (sized to this traffic's rate)
_RL_M = 1 << 20  # throttled-count field width (loud-guarded)
_RL_T = 1 << 24  # event pack: sec * T + event_id (id loud-guarded < T)


def _rl_lambda(div_op: str) -> str:
    """The bucket step in Spark (`div`) or DuckDB (`//`) dialect."""
    sec = f"(s {div_op} {_RL_T})"
    rest = f"(acc {div_op} {_RL_M})"
    tokens = (
        f"least({_RL_CAP}, ({rest} % 8)"
        f" + (({sec} - ({rest} {div_op} 8)) {div_op} {_RL_REFILL_S}))"
    )
    ok = f"(CASE WHEN {tokens} >= 1 THEN 1 ELSE 0 END)"
    return (
        f"(acc, s) -> (({sec} * 8 + ({tokens} - {ok})) * {_RL_M}"
        f" + (acc % {_RL_M}) + (1 - {ok}))"
    )


_RL_SQL = f"""
WITH ev AS (
  SELECT user_id,
         CASE WHEN event_id >= {_RL_T}
              THEN CAST(error('rate_limit_audit: event_id exceeds pack width')
                        AS BIGINT)
              ELSE CAST(epoch(date_trunc('second', ts)) AS BIGINT) * {_RL_T}
                   + event_id END AS s
  FROM events
),
folded AS (
  SELECT user_id,
         CASE WHEN count(*) >= {_RL_M}
              THEN CAST(error('rate_limit_audit: count exceeds pack width')
                        AS BIGINT)
              ELSE CAST(count(*) AS BIGINT) END AS n_events,
         list_reduce([CAST({_RL_CAP * _RL_M} AS BIGINT)] || list_sort(array_agg(s)),
                     {_rl_lambda('//')}) AS st
  FROM ev GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(st % {_RL_M} AS BIGINT) AS n_throttled,
       CAST(1000000 * (st % {_RL_M}) // n_events AS BIGINT) AS throttled_ppm,
       CAST((st // {_RL_M}) % 8 AS BIGINT) AS tokens_left
FROM folded
"""


@register(
    "rate_limit_audit",
    oracle=_RL_SQL,
    doc=f"Ops capacity planning: per-user token-bucket replay over the real "
    f"event history (capacity {_RL_CAP}, one token per {_RL_REFILL_S}s, "
    "lazy floor refill) — what a proposed rate limit WOULD have throttled; "
    "exact integer fold with (last-second, tokens, throttled) packed into "
    "one BIGINT, loud-guarded pack widths",
    tags=("ext", "healthcheck", "ops"),
)
def rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one shuffle on user_id into per-user sorted folds —
    partition size is bounded by per-user event volume (the same bound
    every sessionizer in the repo relies on), state is one BIGINT, and the
    fold is a codegen'd higher-order ``aggregate``, no Python. The packed
    event scalar (second * 2^24 + event_id) makes the replay order total
    and engine-identical; both pack widths fail loud rather than wrap
    (metric_anomaly_flags stance)."""
    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            f"CASE WHEN event_id >= {_RL_T}"
            " THEN raise_error('rate_limit_audit: event_id exceeds pack width')"
            f" ELSE CAST(ts AS LONG) * {_RL_T} + event_id END"
        ).alias("s"),
    )
    folded = events.groupBy("user_id").agg(
        F.expr(
            f"CASE WHEN count(1) >= {_RL_M}"
            " THEN raise_error('rate_limit_audit: count exceeds pack width')"
            " ELSE CAST(count(1) AS BIGINT) END"
        ).alias("n_events"),
        F.expr(
            f"aggregate(array_sort(collect_list(s)),"
            f" CAST({_RL_CAP * _RL_M} AS BIGINT), {_rl_lambda('div')})"
        ).alias("st"),
    )
    return folded.select(
        "user_id",
        "n_events",
        F.expr(f"CAST(st % {_RL_M} AS BIGINT)").alias("n_throttled"),
        F.expr(
            f"CAST(1000000 * (st % {_RL_M}) div n_events AS BIGINT)"
        ).alias("throttled_ppm"),
        F.expr(f"CAST((st div {_RL_M}) % 8 AS BIGINT)").alias("tokens_left"),
    )


# ---------------------------------------------------------------------------
# Cross-stream load correlation: capacity planning treats streams as
# independent until two of them spike together and the shared consumer
# falls behind — the input that decision needs is the pairwise correlation
# of per-minute volumes. Series are densified over the common minute grid
# (a missing minute is a real 0, not an absent row — skipping it biases r
# toward +1), and Pearson r comes from exact DECIMAL(38) integer moment
# sums, the lineitem_corr_exact device, so both engines produce identical
# doubles.
# ---------------------------------------------------------------------------
_SCORR_SQL = """
WITH bounds AS (
  SELECT CAST(epoch(date_trunc('minute', min(ts))) AS BIGINT) // 60 AS lo,
         CAST(epoch(date_trunc('minute', max(ts))) AS BIGINT) // 60 AS hi
  FROM events
),
counts AS (
  SELECT event_type,
         CAST(epoch(date_trunc('minute', ts)) AS BIGINT) // 60 AS minute,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, minute
),
grid AS (
  SELECT t.event_type, g.range AS minute
  FROM (SELECT DISTINCT event_type FROM events) t,
       bounds b, range(0, 100000000) g
  WHERE g.range >= b.lo AND g.range <= b.hi
),
series AS (
  SELECT g.event_type, g.minute, COALESCE(c.y, 0) AS y
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.minute = g.minute
),
pairs AS (
  SELECT a.event_type AS stream_a, b.event_type AS stream_b,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(CAST(a.y AS DECIMAL(38,0))) AS sx,
         sum(CAST(b.y AS DECIMAL(38,0))) AS sy,
         sum(CAST(a.y * a.y AS DECIMAL(38,0))) AS sxx,
         sum(CAST(b.y * b.y AS DECIMAL(38,0))) AS syy,
         sum(CAST(a.y * b.y AS DECIMAL(38,0))) AS sxy
  FROM series a JOIN series b
    ON a.minute = b.minute AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT stream_a, stream_b, CAST(n AS BIGINT) AS n_minutes,
       CAST(sx AS BIGINT) AS n_events_a, CAST(sy AS BIGINT) AS n_events_b,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
FROM pairs
"""


@register(
    "stream_correlation_matrix",
    oracle=_SCORR_SQL,
    doc="Capacity planning: pairwise Pearson correlation of per-minute "
    "volumes across streams over the DENSIFIED common minute grid (a "
    "missing minute is a real zero — skipping it biases r upward), exact "
    "DECIMAL(38) moment sums so both engines emit identical doubles; the "
    "co-spike signal shared-consumer sizing needs",
    tags=("ext", "healthcheck", "ops"),
)
def stream_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed count on (stream, minute), densified by a
    per-stream ``sequence()`` explode against broadcast bounds, then a
    self-join keyed on the uniform minute with the bounded stream
    dimension fanning out |streams|^2 / 2 pairs per minute — shuffle
    volume is grid-sized, never row-sized, and every moment sum is an
    exactly-mergeable integer."""
    configure_session(spark)
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy(
        "event_type",
        F.expr("CAST(unix_timestamp(date_trunc('minute', ts)) AS BIGINT) div 60").alias(
            "minute"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    counts = counts.localCheckpoint(eager=False)  # feeds bounds AND series
    bounds = counts.agg(
        F.min("minute").alias("lo"), F.max("minute").alias("hi")
    )
    grid = (
        counts.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type", F.explode(F.expr("sequence(lo, hi)")).alias("minute")
        )
    )
    series = (
        grid.join(counts, ["event_type", "minute"], "left")
        .na.fill({"y": 0})
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    a = series.select(
        F.col("event_type").alias("stream_a"), "minute", F.col("y").alias("ya")
    )
    b = series.select(
        F.col("event_type").alias("stream_b"), "minute", F.col("y").alias("yb")
    )
    dec = lambda c: F.expr(f"CAST({c} AS DECIMAL(38,0))")  # noqa: E731
    pairs = (
        a.join(b, "minute")
        .filter(F.col("stream_a") < F.col("stream_b"))
        .groupBy("stream_a", "stream_b")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(dec("ya")).alias("sx"),
            F.sum(dec("yb")).alias("sy"),
            F.sum(dec("ya * ya")).alias("sxx"),
            F.sum(dec("yb * yb")).alias("syy"),
            F.sum(dec("ya * yb")).alias("sxy"),
        )
    )
    return pairs.select(
        "stream_a",
        "stream_b",
        F.col("n").cast("long").alias("n_minutes"),
        F.col("sx").cast("long").alias("n_events_a"),
        F.col("sy").cast("long").alias("n_events_b"),
        F.round(
            F.expr(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
                " * CAST(n * syy - sy * sy AS DOUBLE))"
            ),
            6,
        ).alias("corr"),
    )


# ---------------------------------------------------------------------------
# Event-time disorder profile: the statistic that SIZES a watermark. Arrival
# order is the event_id ingestion sequence; event time is the payload ts.
# For each offset d in 1..16, the share of (i, i+d) arrival pairs whose
# event times invert measures how disordered the feed is at that distance
# (lead windows — one partition-local pass, never a pair join); the
# companion per-stream max-lateness (running-max event time minus the
# current event's) is the exact delay a watermark would have needed to
# avoid dropping ANY event. Both are what streaming_late_data_audit's
# withWatermark threshold should be derived from.
# ---------------------------------------------------------------------------
_DISORDER_MAX_OFFSET = 16

_DISORDER_SQL = f"""
WITH ordered AS (
  SELECT event_type,
         CAST(epoch(ts) AS BIGINT) AS t,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS p
  FROM events
),
lat AS (
  SELECT event_type,
         CAST(max(greatest(runmax_prev - t, 0)) AS BIGINT) AS max_lateness_s
  FROM (
    SELECT event_type, t,
           max(t) OVER (PARTITION BY event_type ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS runmax_prev
    FROM ordered
  )
  GROUP BY event_type
),
offs AS (
  SELECT o.event_type, d.range AS off, o.t,
         lead(o.t, CAST(d.range AS INTEGER)) OVER (
           PARTITION BY o.event_type, d.range ORDER BY o.p) AS t_ahead
  FROM ordered o, range(1, {_DISORDER_MAX_OFFSET} + 1) d
)
SELECT f.event_type, CAST(f.off AS BIGINT) AS off,
       CAST(count(f.t_ahead) AS BIGINT) AS n_pairs,
       CAST(count(*) FILTER (WHERE f.t > f.t_ahead) AS BIGINT) AS n_inversions,
       CAST(1000000 * count(*) FILTER (WHERE f.t > f.t_ahead)
            // count(f.t_ahead) AS BIGINT) AS inversion_ppm,
       l.max_lateness_s
FROM offs f JOIN lat l ON l.event_type = f.event_type
GROUP BY f.event_type, f.off, l.max_lateness_s
"""


@register(
    "event_disorder_profile",
    oracle=_DISORDER_SQL,
    doc="Watermark sizing from data: per-stream event-time inversion rate "
    "at arrival offsets 1..16 (lead windows, one partition-local pass — "
    "never a pair join) plus the exact max lateness (running-max event "
    "time minus current) a watermark needed to drop nothing; the input to "
    "every withWatermark threshold in the streaming suite",
    tags=("ext", "healthcheck", "ops", "streaming"),
)
def event_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both statistics are windows PARTITIONED BY the bounded
    stream dimension over a narrow (type, second, position) projection —
    the offset fan-out multiplies the projection by 16 BEFORE its window
    (position is already assigned), so nothing ever pairs rows by join and
    no global order exists anywhere."""
    from pyspark.sql import Window

    configure_session(spark)
    events = load_table(spark, sf_dir, "events")
    w_pos = Window.partitionBy("event_type").orderBy("event_id")
    ordered = events.select(
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("t"),
        F.row_number().over(w_pos).alias("p"),
    )
    ordered = ordered.localCheckpoint(eager=False)  # feeds lateness + offsets
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = (
        ordered.withColumn("runmax_prev", F.max("t").over(w_run))
        .groupBy("event_type")
        .agg(
            F.max(F.greatest(F.col("runmax_prev") - F.col("t"), F.lit(0)))
            .cast("long")
            .alias("max_lateness_s")
        )
    )
    # lead() needs a literal offset: compute all 16 leads in ONE window pass,
    # then melt them with stack() — a narrow Generate, not a 16-way union.
    w_type = Window.partitionBy("event_type").orderBy("p")
    base = ordered.withColumns(
        {
            f"t_{d}": F.lead("t", d).over(w_type)
            for d in range(1, _DISORDER_MAX_OFFSET + 1)
        }
    )
    stack_args = ", ".join(
        f"CAST({d} AS BIGINT), t_{d}" for d in range(1, _DISORDER_MAX_OFFSET + 1)
    )
    legs = base.select(
        "event_type",
        "t",
        F.expr(
            f"stack({_DISORDER_MAX_OFFSET}, {stack_args}) AS (off, t_ahead)"
        ),
    )
    agg = legs.groupBy("event_type", "off").agg(
        F.count("t_ahead").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("t") > F.col("t_ahead"), 1).otherwise(0))
        .cast("long")
        .alias("n_inversions"),
    )
    return (
        agg.join(F.broadcast(lat), "event_type")
        .select(
            "event_type",
            "off",
            "n_pairs",
            "n_inversions",
            F.expr("CAST(1000000 * n_inversions div n_pairs AS BIGINT)").alias(
                "inversion_ppm"
            ),
            "max_lateness_s",
        )
    )


# ---------------------------------------------------------------------------
# Watermark policy trade-off: event_disorder_profile measures the feed; this
# prices the POLICY. For each candidate delay W, Structured Streaming's rule
# (an event drops iff the running-max event time before it exceeds its own
# by more than W) is replayed exactly over the arrival sequence, giving the
# loss side; the cost side is deterministic — result staleness = W, and
# open tumbling-window state per key = W div window + 1. One lateness pass,
# one bounded stack over the candidate delays: the complete decision sheet
# for choosing every withWatermark threshold.
# ---------------------------------------------------------------------------
_WMT_WINDOW_S = 300
_WMT_DELAYS = (0, 60, 300, 900, 3600)

_WMT_SQL = f"""
WITH ordered AS (
  SELECT event_type,
         CAST(epoch(ts) AS BIGINT) AS t,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS p
  FROM events
),
late AS (
  SELECT event_type,
         greatest(COALESCE(max(t) OVER (
           PARTITION BY event_type ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), t) - t, 0)
           AS lateness_s
  FROM ordered
),
sweep AS (
  SELECT l.event_type, d.w_s, l.lateness_s
  FROM late l, (VALUES {", ".join(f"({w})" for w in _WMT_DELAYS)}) d(w_s)
)
SELECT event_type, CAST(w_s AS BIGINT) AS w_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (WHERE lateness_s > w_s) AS BIGINT) AS n_dropped,
       CAST(1000000 * count(*) FILTER (WHERE lateness_s > w_s) // count(*)
            AS BIGINT) AS drop_ppm,
       CAST(w_s AS BIGINT) AS staleness_s,
       CAST(w_s // {_WMT_WINDOW_S} + 1 AS BIGINT) AS open_windows_per_key
FROM sweep GROUP BY event_type, w_s
"""


@register(
    "watermark_policy_tradeoff",
    oracle=_WMT_SQL,
    doc="Watermark policy pricing: Structured Streaming's drop rule "
    "(running-max event time minus own exceeds W) replayed exactly per "
    "candidate delay W in {0,60,300,900,3600}s — drop ppm vs staleness vs "
    "open tumbling-window state per key; the decision sheet behind every "
    "withWatermark threshold",
    tags=("ext", "healthcheck", "ops", "streaming"),
)
def watermark_policy_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE lateness pass (a running-max window partitioned by
    the bounded stream dimension over a narrow projection), then a 5-way
    stack of the candidate delays BEFORE the bounded (type, W) aggregation
    — the sweep never rescans or re-sorts the events."""
    from pyspark.sql import Window

    configure_session(spark)
    events = load_table(spark, sf_dir, "events")
    w_pos = Window.partitionBy("event_type").orderBy("event_id")
    ordered = events.select(
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("t"),
        F.row_number().over(w_pos).alias("p"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = ordered.select(
        "event_type",
        F.greatest(
            F.coalesce(F.max("t").over(w_run), F.col("t")) - F.col("t"), F.lit(0)
        ).alias("lateness_s"),
    )
    sweep = late.select(
        "event_type",
        "lateness_s",
        F.explode(F.array(*[F.lit(w).cast("long") for w in _WMT_DELAYS])).alias(
            "w_s"
        ),
    )
    return sweep.groupBy("event_type", "w_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("lateness_s") > F.col("w_s"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN lateness_s > w_s THEN 1 ELSE 0 END)"
            " div count(1) AS BIGINT)"
        ).alias("drop_ppm"),
        F.max("w_s").cast("long").alias("staleness_s"),
        F.expr(f"CAST(max(w_s) div {_WMT_WINDOW_S} + 1 AS BIGINT)").alias(
            "open_windows_per_key"
        ),
    )


# ---------------------------------------------------------------------------
# KCL lease rebalance: the coordination layer every multi-worker consumer
# fleet runs on. One lease per shard lives in the lease table; workers renew
# their own leases and steal from the fleet until everyone holds
# floor(S/W)..ceil(S/W). Here the fleet loses a worker (its leases expire ->
# orphans), and the rebalance is planned exactly like KCL 2.x does it:
# sticky (surviving owners keep up to their target), orphans plus shed
# leases pool up, and deficit workers take from the pool in deterministic
# order. Reference parity: the reference's consumer is the 1-worker
# degenerate case of this table (ESM on a 1-shard stream,
# KinesisHealthCheckStack.java:149-162).
# ---------------------------------------------------------------------------
_LEASE_SHARD_WIDTH = 268_435_456  # 2^32 / 16 equal hash ranges
_LEASE_WORKERS = 4
_LEASE_LIVE = 3  # w3 dies; w0..w2 survive

def _lease_sql(n_live: int) -> str:
    """The rebalance oracle parameterized by fleet size: owners outside
    w0..w(n_live-1) are expired (orphans); with every initial owner live
    the same plan is a pure scale-out steal."""
    return f"""
WITH ev AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events
),
leases AS (
  SELECT CAST(h // {_LEASE_SHARD_WIDTH} AS BIGINT) AS shard,
         CAST(count(*) AS BIGINT) AS n_records
  FROM ev GROUP BY 1
),
named AS (
  SELECT 'shardId-' || lpad(CAST(shard AS VARCHAR), 12, '0') AS shard_id,
         shard, n_records,
         'w' || CAST(CAST(('0x' || substr(md5('shardId-' ||
               lpad(CAST(shard AS VARCHAR), 12, '0')), 1, 8)) AS BIGINT)
               % {_LEASE_WORKERS} AS VARCHAR) AS old_owner
  FROM leases
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS s FROM named),
live AS (SELECT 'w' || CAST(r.range AS VARCHAR) AS worker
         FROM range(0, {n_live}) r),
cnt AS (
  SELECT worker, CAST(count(n.shard) AS BIGINT) AS cnt0
  FROM live LEFT JOIN named n ON n.old_owner = live.worker
  GROUP BY worker
),
tgt AS (
  SELECT worker, cnt0,
         CAST(s // {n_live}
              + CASE WHEN row_number() OVER (ORDER BY cnt0 DESC, worker)
                          <= s % {n_live} THEN 1 ELSE 0 END AS BIGINT) AS tgt
  FROM cnt, tot
),
plan0 AS (
  SELECT worker, cnt0, tgt,
         least(cnt0, tgt) AS keep, tgt - least(cnt0, tgt) AS deficit
  FROM tgt
),
offs AS (
  SELECT worker, keep, deficit, tgt,
         COALESCE(SUM(deficit) OVER (ORDER BY worker
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS off
  FROM plan0
),
ranked AS (
  SELECT n.*, row_number() OVER (PARTITION BY old_owner ORDER BY shard) AS rn_w
  FROM named n
),
kept AS (
  SELECT r.shard_id, r.n_records, r.old_owner, r.old_owner AS new_owner,
         FALSE AS was_orphan
  FROM ranked r JOIN offs o ON o.worker = r.old_owner AND r.rn_w <= o.keep
),
pool AS (
  SELECT r.shard_id, r.shard, r.n_records, r.old_owner,
         (r.old_owner = 'w{n_live}') AS was_orphan,
         row_number() OVER (ORDER BY r.shard) AS prn
  FROM ranked r LEFT JOIN offs o ON o.worker = r.old_owner
  WHERE o.worker IS NULL OR r.rn_w > o.keep
),
stolen AS (
  SELECT p.shard_id, p.n_records, p.old_owner, o.worker AS new_owner,
         p.was_orphan
  FROM pool p JOIN offs o ON p.prn > o.off AND p.prn <= o.off + o.deficit
),
uni AS (SELECT * FROM kept UNION ALL SELECT * FROM stolen)
SELECT u.shard_id, u.n_records, u.old_owner, u.new_owner, u.was_orphan,
       (u.new_owner <> u.old_owner) AS moved,
       o.tgt AS new_owner_leases
FROM uni u JOIN offs o ON o.worker = u.new_owner
"""


_LEASE_SQL = _lease_sql(_LEASE_LIVE)


def _lease_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lease table: one lease per observed shard of the md5-range
    layout, with record counts as metadata and the initial md5-assigned
    owner across the 4-worker fleet."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    return (
        load_table(spark, sf_dir, "events")
        .select(
            # width is 2^28, so the range split is an exact shift
            F.shiftright(hash_uniform("user_id"), 28).alias("shard")
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_records"))
        .select(
            F.format_string("shardId-%012d", F.col("shard")).alias("shard_id"),
            "shard",
            "n_records",
        )
        .withColumn(
            "old_owner",
            F.concat(
                F.lit("w"),
                (hash_uniform("shard_id") % _LEASE_WORKERS).cast("string"),
            ),
        )
    )


def plan_lease_rebalance(
    named: DataFrame, live: DataFrame, n_live: int
) -> DataFrame:
    """The sticky KCL 2.x rebalance plan over a lease table.

    ``named``: (shard_id, shard, n_records, old_owner) — current leases.
    ``live``: (worker,) — the workers still heartbeating. Owners not in
    ``live`` are expired; their leases orphan. Survivors keep up to their
    floor/ceil target (ceil slots to the heaviest first), the pool
    (orphans + shed) is taken by deficit workers via cumulative-offset
    alignment, so every new owner lands exactly on target.
    """
    from pyspark.sql import Window

    named = named.localCheckpoint(eager=False)  # feeds counts, ranks, total
    tot = named.agg(F.count(F.lit(1)).cast("long").alias("s"))
    cnt = (
        live.join(F.broadcast(named), named.old_owner == live.worker, "left")
        .groupBy("worker")
        .agg(F.count("shard").cast("long").alias("cnt0"))
    )
    tgt = cnt.crossJoin(F.broadcast(tot)).select(
        "worker",
        "cnt0",
        F.expr(
            f"CAST(s div {n_live} + CASE WHEN"
            f" row_number() OVER (ORDER BY cnt0 DESC, worker)"
            f" <= s % {n_live} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("tgt"),
    )
    offs = tgt.select(
        "worker",
        F.least("cnt0", "tgt").alias("keep"),
        (F.col("tgt") - F.least("cnt0", "tgt")).alias("deficit"),
        "tgt",
    ).withColumn(
        "off",
        F.coalesce(
            F.sum("deficit").over(
                Window.orderBy("worker").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    offs = offs.localCheckpoint(eager=False)  # n_live rows; feeds 4 consumers
    ranked = named.withColumn(
        "rn_w",
        F.row_number().over(Window.partitionBy("old_owner").orderBy("shard")),
    )
    kept = ranked.join(
        F.broadcast(offs),
        (F.col("worker") == F.col("old_owner")) & (F.col("rn_w") <= F.col("keep")),
    ).select(
        "shard_id",
        "shard",
        "n_records",
        "old_owner",
        F.col("old_owner").alias("new_owner"),
        F.lit(False).alias("was_orphan"),
    )
    pool = (
        ranked.join(F.broadcast(offs), F.col("worker") == F.col("old_owner"), "left")
        .filter(F.col("worker").isNull() | (F.col("rn_w") > F.col("keep")))
        .select(
            "shard_id",
            "shard",
            "n_records",
            "old_owner",
            F.col("worker").isNull().alias("was_orphan"),
        )
        .withColumn("prn", F.row_number().over(Window.orderBy("shard")))
    )
    stolen = pool.join(
        F.broadcast(offs),
        (F.col("prn") > F.col("off")) & (F.col("prn") <= F.col("off") + F.col("deficit")),
    ).select(
        "shard_id",
        "shard",
        "n_records",
        "old_owner",
        F.col("worker").alias("new_owner"),
        "was_orphan",
    )
    uni = kept.unionByName(stolen)
    return uni.join(
        F.broadcast(offs.select("worker", "tgt")),
        uni.new_owner == F.col("worker"),
    ).select(
        "shard_id",
        "shard",
        "n_records",
        "old_owner",
        "new_owner",
        "was_orphan",
        (F.col("new_owner") != F.col("old_owner")).alias("moved"),
        F.col("tgt").alias("new_owner_leases"),
    )


@register(
    "kcl_lease_rebalance",
    oracle=_LEASE_SQL,
    doc="KCL lease rebalance after a worker failure: one lease per shard "
    "(md5-assigned across 4 workers), worker w3 expires, and the plan is "
    "the sticky KCL 2.x rebalance — survivors keep up to floor/ceil "
    "targets (ceil slots to the heaviest), orphaned + shed leases pool in "
    "shard order and deficit workers take via cumulative-offset alignment; "
    "every new owner lands exactly on target by construction",
    tags=("healthcheck", "kinesis", "ops"),
)
def kcl_lease_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the event stream is touched once as a narrow hash
    projection into a shard-keyed count (map-side partials); everything
    after runs on the lease table, which is bounded by shard count — small
    by nature (that is why DynamoDB can host the real one). The worker
    relation (3 rows) broadcasts everywhere; the pool rank's global window
    orders a lease-table-sized relation, never records. At 100 TB only the
    first aggregation grows.

    Reference parity: the reference consumer is the 1-worker degenerate
    case (event-source-mapping on shardCount=1,
    KinesisHealthCheckStack.java:149-162); this is the fleet version every
    multi-shard deployment of the same health check needs."""
    configure_session(spark)
    named = _lease_universe(spark, sf_dir)
    live = spark.range(0, _LEASE_LIVE).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("worker")
    )
    return plan_lease_rebalance(named, live, _LEASE_LIVE).drop("shard")


# ---------------------------------------------------------------------------
# EWMA control chart: the third classic chart next to the Shewhart 3-sigma
# test (metric_anomaly_flags) and CUSUM (cusum_changepoint) — geometric
# memory that reacts faster than a trailing mean and smoother than a
# point test. With alpha = 1/2 the weights are powers of two, so the
# H-step-truncated EWMA numerator E = sum_{k=1..H} 2^(H-k) * x_{t-k} and
# its weight mass W are exact BIGINTs; charted over per-minute arrival
# counts (Poisson-ish), the chart tests the CURRENT point
# against the PAST-only prediction by integer cross-multiplication
# (x * W vs MULT * E), no division, no floats — a soft, self-calibrating
# version of the missing-data alarm (F3): a rate collapse trips spike_low
# before the hard zero does. Peak magnitude 2^H * count stays far inside
# int64 for any realistic per-minute rate.
# ---------------------------------------------------------------------------
_EWMA_H = 12
_EWMA_MULT = 2  # spike when x > 2 * ewma-mean (and drop when x < mean / 2)

_EWMA_TERMS_SQL = " + ".join(
    f"coalesce(lag(x, {k}) OVER w * {1 << (_EWMA_H - k)}, 0)"
    for k in range(1, _EWMA_H + 1)
)
_EWMA_MASS_SQL = " + ".join(
    f"CASE WHEN lag(x, {k}) OVER w IS NOT NULL THEN {1 << (_EWMA_H - k)} ELSE 0 END"
    for k in range(1, _EWMA_H + 1)
)

_EWMA_SQL = f"""
WITH metrics AS (
  SELECT event_type AS stream_name, date_trunc('minute', ts) AS window_start,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
ew AS (
  SELECT stream_name, window_start, x,
         CAST({_EWMA_TERMS_SQL} AS BIGINT) AS ewma_num,
         CAST({_EWMA_MASS_SQL} AS BIGINT) AS weight_sum
  FROM metrics
  WINDOW w AS (PARTITION BY stream_name ORDER BY window_start)
)
SELECT stream_name, window_start, x AS n_arrivals, ewma_num, weight_sum,
       weight_sum < {(1 << _EWMA_H) - 1} AS warmup,
       weight_sum = {(1 << _EWMA_H) - 1}
         AND x * weight_sum > {_EWMA_MULT} * ewma_num AS spike_high,
       weight_sum = {(1 << _EWMA_H) - 1}
         AND {_EWMA_MULT} * x * weight_sum < ewma_num AS spike_low
FROM ew
"""


@register(
    "ewma_control_chart",
    oracle=_EWMA_SQL,
    doc="EWMA control chart on the 1-min arrival-rate series (alpha = 1/2, "
    "horizon 12): power-of-two weights make the truncated EWMA numerator "
    "and weight mass exact BIGINTs; spikes/drops test the current point "
    "against the past-only geometric mean by integer cross-multiplication "
    "— completing the Shewhart / CUSUM / EWMA chart trio",
    tags=("core", "timeseries"),
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation to the 1-min series, then ONE
    ordered window per stream evaluating all 12 lags (bounded stream
    cardinality => partition-local sorts); the chart is O(H) per point
    with H constant. Exact integers sidestep float accumulation-order
    drift exactly as in metric_anomaly_flags."""
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    metrics = events.groupBy(
        F.col("event_type").alias("stream_name"),
        F.window("ts", "1 minute")["start"].alias("window_start"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.partitionBy("stream_name").orderBy("window_start")
    terms = sum(
        (
            F.coalesce(F.lag("x", k).over(w) * (1 << (_EWMA_H - k)), F.lit(0))
            for k in range(1, _EWMA_H + 1)
        ),
        F.lit(0),
    )
    mass = sum(
        (
            F.when(
                F.lag("x", k).over(w).isNotNull(), F.lit(1 << (_EWMA_H - k))
            ).otherwise(0)
            for k in range(1, _EWMA_H + 1)
        ),
        F.lit(0),
    )
    full = (1 << _EWMA_H) - 1
    ew = metrics.select(
        "stream_name",
        "window_start",
        F.col("x").alias("n_arrivals"),
        terms.cast("long").alias("ewma_num"),
        mass.cast("long").alias("weight_sum"),
    )
    return ew.select(
        "*",
        (F.col("weight_sum") < full).alias("warmup"),
        (
            (F.col("weight_sum") == full)
            & (F.col("n_arrivals") * F.col("weight_sum") > _EWMA_MULT * F.col("ewma_num"))
        ).alias("spike_high"),
        (
            (F.col("weight_sum") == full)
            & (F.lit(_EWMA_MULT) * F.col("n_arrivals") * F.col("weight_sum") < F.col("ewma_num"))
        ).alias("spike_low"),
    )


# ---------------------------------------------------------------------------
# Lease scale-OUT: the other direction of the KCL control plane — a fifth
# worker joins with zero leases. No orphans exist, so the plan is a pure
# sticky steal: survivors shed down to the new floor/ceil targets and the
# empty worker takes from the pool. Same planner, same oracle family
# (_lease_sql parameterized by fleet size) — failure handling and elastic
# scaling are provably one algorithm.
# ---------------------------------------------------------------------------
_LEASE_SCALE_OUT = _LEASE_WORKERS + 1  # w0..w3 own leases; w4 is new


@register(
    "kcl_lease_scale_out",
    oracle=_lease_sql(_LEASE_SCALE_OUT),
    doc="KCL lease scale-out: a fifth worker joins the fleet with zero "
    "leases — no orphans, so the sticky rebalance is a pure steal down to "
    "the new floor/ceil targets; the same planner and parameterized "
    "oracle as the failover case prove elastic scaling and failure "
    "handling are one algorithm",
    tags=("healthcheck", "kinesis", "ops"),
)
def kcl_lease_scale_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to kcl_lease_rebalance — one narrow hash
    count over events, then lease-table-bounded planning with broadcast
    worker relations; only the live set differs."""
    configure_session(spark)
    named = _lease_universe(spark, sf_dir)
    live = spark.range(0, _LEASE_SCALE_OUT).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("worker")
    )
    return plan_lease_rebalance(named, live, _LEASE_SCALE_OUT).drop("shard")


# ---------------------------------------------------------------------------
# Checkpoint-interval trade-off: how often should a consumer checkpoint?
# Checkpointing every record costs a lease-table write per record;
# checkpointing rarely means a crash replays everything since the last
# mark. For each candidate interval T the sheet reports the write budget
# (marks per stream over the observed span) against the replay exposure
# (worst and mean records inside an aligned T-bucket — exactly what a
# restart re-reads). One bucket aggregation per T via a bounded explode;
# the policy twin of session_gap_sweep / watermark_policy_tradeoff.
# ---------------------------------------------------------------------------
_CKPT_INTERVALS = (60, 300, 900, 3600)

_CKPT_SQL = f"""
WITH ev AS (
  SELECT event_type AS stream_name,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
sweep AS (
  SELECT stream_name, es, t.t, es // t.t AS bucket
  FROM ev, (VALUES {", ".join(f"({t})" for t in _CKPT_INTERVALS)}) t(t)
),
per_bucket AS (
  SELECT stream_name, t, bucket, CAST(count(*) AS BIGINT) AS n
  FROM sweep GROUP BY stream_name, t, bucket
)
SELECT stream_name, CAST(t AS BIGINT) AS interval_s,
       CAST(count(*) AS BIGINT) AS n_checkpoints,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(max(n) AS BIGINT) AS worst_replay,
       CAST(sum(n) // count(*) AS BIGINT) AS mean_replay,
       CAST(1000000 * max(n) // sum(n) AS BIGINT) AS worst_replay_ppm
FROM per_bucket GROUP BY stream_name, t
"""


@register(
    "checkpoint_interval_tradeoff",
    oracle=_CKPT_SQL,
    doc="KCL checkpoint-cadence policy sheet: per candidate interval in "
    "{1,5,15,60} min — checkpoint write budget vs replay exposure (worst "
    "and mean records per aligned bucket = what a crash re-reads); one "
    "keyed bucket aggregation per interval via a bounded explode",
    tags=("healthcheck", "kinesis", "ops"),
)
def checkpoint_interval_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow epoch projection, a 4-way bounded explode,
    one (stream, interval, bucket) keyed aggregation with map-side
    partials, one bounded fold per (stream, interval). No join, no
    window, no global sort."""
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    ev = events.select(
        F.col("event_type").alias("stream_name"),
        F.col("ts").cast("long").alias("es"),
    )
    sweep = ev.select(
        "stream_name",
        "es",
        F.explode(
            F.array(*[F.lit(t).cast("long") for t in _CKPT_INTERVALS])
        ).alias("t"),
    ).withColumn("bucket", F.expr("es div t"))
    per_bucket = sweep.groupBy("stream_name", "t", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return per_bucket.groupBy(
        "stream_name", F.col("t").alias("interval_s")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_checkpoints"),
        F.sum("n").cast("long").alias("n_events"),
        F.max("n").cast("long").alias("worst_replay"),
        F.expr("CAST(sum(n) div count(1) AS BIGINT)").alias("mean_replay"),
        F.expr("CAST(1000000 * max(n) div sum(n) AS BIGINT)").alias(
            "worst_replay_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Control-chart ensemble: the three charts the repo implements separately
# (Shewhart trailing 3-sigma, two-sided CUSUM, truncated EWMA) evaluated
# on ONE per-minute arrival series and combined into a per-period vote —
# the production pattern for paging: a single chart alarms too eagerly
# (Shewhart on spikes, CUSUM on slow drift, EWMA in between), while
# 2-of-3 consensus pages on changes at least two mechanisms agree on.
# Every statistic is the exact-integer form already proven by its
# standalone query; this derives all three from one scan in one plan.
# ---------------------------------------------------------------------------
_ENS_WIN = 60
_ENS_MIN = 30
_ENS_K2 = 9
_ENS_H = 12

_ENS_EWMA_TERMS = " + ".join(
    f"coalesce(lag(x, {k}) OVER wo * {1 << (_ENS_H - k)}, 0)"
    for k in range(1, _ENS_H + 1)
)
_ENS_EWMA_MASS = " + ".join(
    f"CASE WHEN lag(x, {k}) OVER wo IS NOT NULL THEN {1 << (_ENS_H - k)} ELSE 0 END"
    for k in range(1, _ENS_H + 1)
)

_ENSEMBLE_SQL = f"""
WITH m AS (
  SELECT event_type AS stream_name,
         60 * CAST(floor(epoch(ts) / 60) AS BIGINT) AS ws,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
mu AS (
  -- Poisson scaling: slack ~ 1 sigma = sqrt(mu) (identical double sqrt of
  -- the same integer in both engines), decision threshold 8 * slack.
  SELECT stream_name, CAST(sum(x) // count(*) AS BIGINT) AS mu,
         greatest(1, CAST(floor(sqrt(CAST(sum(x) // count(*) AS DOUBLE)))
                          AS BIGINT)) AS slack
  FROM m GROUP BY stream_name
),
stat0 AS (
  SELECT m.stream_name, m.ws, m.x, mu.mu, mu.slack,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS s,
         CAST(sum(x * x) OVER w AS BIGINT) AS ss,
         CAST(sum(x - mu.mu - mu.slack) OVER wo AS BIGINT) AS p_pos,
         CAST({_ENS_EWMA_TERMS} AS BIGINT) AS enum_,
         CAST({_ENS_EWMA_MASS} AS BIGINT) AS emass
  FROM m JOIN mu ON mu.stream_name = m.stream_name
  WINDOW w AS (PARTITION BY m.stream_name ORDER BY m.ws
               ROWS BETWEEN {_ENS_WIN - 1} PRECEDING AND CURRENT ROW),
         wo AS (PARTITION BY m.stream_name ORDER BY m.ws
                ROWS UNBOUNDED PRECEDING)
),
stat AS (
  SELECT *, CAST(min(p_pos) OVER (PARTITION BY stream_name ORDER BY ws
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lo_pos
  FROM stat0
),
flags AS (
  SELECT stream_name, ws, x,
         n >= {_ENS_MIN}
           AND (n - 1) * (x * n - s) * (x * n - s)
               > {_ENS_K2} * n * (n * ss - s * s) AS shewhart,
         (p_pos - least(0, lo_pos)) > 8 * slack AS cusum_up,
         emass = {(1 << _ENS_H) - 1} AND x * emass > 2 * enum_ AS ewma
  FROM stat
)
SELECT stream_name, ws AS window_start_s, x AS n_arrivals,
       shewhart, cusum_up, ewma,
       CAST(CAST(shewhart AS INT) + CAST(cusum_up AS INT)
            + CAST(ewma AS INT) AS BIGINT) AS n_alarms,
       CAST(shewhart AS INT) + CAST(cusum_up AS INT) + CAST(ewma AS INT) >= 2
         AS consensus
FROM flags
"""


@register(
    "control_chart_ensemble",
    oracle=_ENSEMBLE_SQL,
    doc="Control-chart ensemble: Shewhart trailing 3-sigma, one-sided "
    "closed-form CUSUM, and truncated EWMA evaluated on ONE per-minute "
    "arrival series (each the exact-integer form of its standalone query) "
    "with a 2-of-3 consensus vote — the paging rule that needs two "
    "mechanisms to agree; one scan, one join, two window frames",
    tags=("core", "timeseries"),
)
def control_chart_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed rollup to the 1-min series, the per-stream
    baseline broadcast back, then every chart statistic comes from TWO
    window frames over the bounded-key series (a sliding 60-row frame and
    an unbounded-preceding frame — the 12 EWMA lags ride the ordered
    frame); flags and the vote are narrow arithmetic. Three charts cost
    one window pass more than one chart."""
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("stream_name"),
        (F.lit(60) * F.floor(F.unix_timestamp("ts") / 60))
        .cast("long")
        .alias("ws"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    mu = m.groupBy("stream_name").agg(
        F.expr("CAST(sum(x) div count(1) AS BIGINT)").alias("mu"),
        F.expr(
            "greatest(1, CAST(floor(sqrt(CAST(sum(x) div count(1) AS DOUBLE)))"
            " AS BIGINT))"
        ).alias("slack"),
    )
    j = m.join(F.broadcast(mu), "stream_name")
    w = (
        Window.partitionBy("stream_name")
        .orderBy("ws")
        .rowsBetween(-(_ENS_WIN - 1), 0)
    )
    wo = (
        Window.partitionBy("stream_name")
        .orderBy("ws")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = F.sum(F.col("x") - F.col("mu") - F.col("slack")).over(wo)
    wl = Window.partitionBy("stream_name").orderBy("ws")
    ewma_terms = sum(
        (
            F.coalesce(F.lag("x", k).over(wl) * (1 << (_ENS_H - k)), F.lit(0))
            for k in range(1, _ENS_H + 1)
        ),
        F.lit(0),
    )
    ewma_mass = sum(
        (
            F.when(
                F.lag("x", k).over(wl).isNotNull(),
                F.lit(1 << (_ENS_H - k)),
            ).otherwise(0)
            for k in range(1, _ENS_H + 1)
        ),
        F.lit(0),
    )
    stat = j.select(
        "stream_name",
        "ws",
        "x",
        "mu",
        "slack",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("ss"),
        prefix.cast("long").alias("p_pos"),
        F.min(prefix).over(wo).cast("long").alias("lo_pos"),
        ewma_terms.cast("long").alias("enum_"),
        ewma_mass.cast("long").alias("emass"),
    )
    full = (1 << _ENS_H) - 1
    flags = stat.select(
        "stream_name",
        F.col("ws").alias("window_start_s"),
        F.col("x").alias("n_arrivals"),
        (
            (F.col("n") >= _ENS_MIN)
            & (
                (F.col("n") - 1)
                * (F.col("x") * F.col("n") - F.col("s"))
                * (F.col("x") * F.col("n") - F.col("s"))
                > _ENS_K2
                * F.col("n")
                * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
            )
        ).alias("shewhart"),
        (
            (F.col("p_pos") - F.least(F.lit(0), F.col("lo_pos")))
            > 8 * F.col("slack")
        ).alias("cusum_up"),
        (
            (F.col("emass") == full)
            & (F.col("x") * F.col("emass") > 2 * F.col("enum_"))
        ).alias("ewma"),
    )
    return flags.select(
        "*",
        (
            F.col("shewhart").cast("int")
            + F.col("cusum_up").cast("int")
            + F.col("ewma").cast("int")
        )
        .cast("long")
        .alias("n_alarms"),
        (
            F.col("shewhart").cast("int")
            + F.col("cusum_up").cast("int")
            + F.col("ewma").cast("int")
            >= 2
        ).alias("consensus"),
    )


# ---------------------------------------------------------------------------
# Split-conformal lag bound: a distribution-free upper bound on the flagship
# staleness metric. Calibration half (md5-even event_id) yields the exact
# order-statistic threshold k = ceil((n+1)(1-alpha)); the held-out half's
# empirical coverage is reported in ppm against the 1-alpha target. Every
# number is an exact integer (the lag domain is bounded seconds, so the
# order statistic comes from value-domain counts — no global sort).
# ---------------------------------------------------------------------------
_CONFORMAL_SQL = """
WITH base AS (
  SELECT event_type AS stream_name,
         COALESCE(TRY_CAST(json_extract_string(props, '$.currentInstant') AS TIMESTAMP), ts) AS ev,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 = 0 AS is_cal
  FROM events
),
scored AS (
  SELECT stream_name, is_cal,
         CAST(epoch(date_trunc('minute', ev) + INTERVAL 1 MINUTE) AS BIGINT)
           - CAST(epoch(date_trunc('second', ev)) AS BIGINT) AS lag_s
  FROM base
),
cal_counts AS (
  SELECT stream_name, lag_s, CAST(count(*) AS BIGINT) AS c
  FROM scored WHERE is_cal GROUP BY 1, 2
),
cal_cum AS (
  SELECT stream_name, lag_s,
         sum(c) OVER (PARTITION BY stream_name ORDER BY lag_s) AS cum
  FROM cal_counts
),
cal_tot AS (
  SELECT stream_name, CAST(sum(c) AS BIGINT) AS n_cal FROM cal_counts GROUP BY 1
),
alphas(alpha_ppm) AS (VALUES (CAST(100000 AS BIGINT)), (CAST(50000 AS BIGINT))),
ranks AS (
  SELECT stream_name, alpha_ppm, n_cal,
         CASE WHEN ((n_cal + 1) * (1000000 - alpha_ppm) + 999999) // 1000000 > n_cal
              THEN CAST(error('conformal_lag_bound: rank beyond calibration size') AS BIGINT)
              ELSE ((n_cal + 1) * (1000000 - alpha_ppm) + 999999) // 1000000
         END AS k_rank
  FROM cal_tot, alphas
),
thresholds AS (
  SELECT r.stream_name, r.alpha_ppm, r.n_cal, r.k_rank,
         CAST(min(c.lag_s) AS BIGINT) AS q_lag_threshold
  FROM ranks r JOIN cal_cum c
    ON c.stream_name = r.stream_name AND c.cum >= r.k_rank
  GROUP BY 1, 2, 3, 4
),
test_counts AS (
  SELECT stream_name, lag_s, CAST(count(*) AS BIGINT) AS c
  FROM scored WHERE NOT is_cal GROUP BY 1, 2
)
SELECT t.stream_name, t.alpha_ppm, t.n_cal, t.k_rank, t.q_lag_threshold,
       CAST(sum(tc.c) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN tc.lag_s <= t.q_lag_threshold THEN tc.c ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST(1000000 * sum(CASE WHEN tc.lag_s <= t.q_lag_threshold THEN tc.c
                               ELSE 0 END) // sum(tc.c) AS BIGINT) AS covered_ppm,
       CAST(1000000 - t.alpha_ppm AS BIGINT) AS target_ppm,
       1000000 * sum(CASE WHEN tc.lag_s <= t.q_lag_threshold THEN tc.c ELSE 0 END)
         // sum(tc.c) >= 1000000 - t.alpha_ppm AS met_target
FROM thresholds t JOIN test_counts tc ON tc.stream_name = t.stream_name
GROUP BY 1, 2, 3, 4, 5
"""


@register(
    "conformal_lag_bound",
    oracle=_CONFORMAL_SQL,
    doc="Distribution-free staleness SLO: split-conformal calibration of the "
    "flagship lag metric — exact order-statistic threshold "
    "k = ceil((n+1)(1-alpha)) on the md5-even calibration half, held-out "
    "coverage in exact ppm vs the 1-alpha target for alpha in {10%, 5%}. "
    "Loud failure if the rank exceeds the calibration size (tiny-stream "
    "guard); the uncertainty-quantification layer an alarm threshold like "
    "the reference's fixed 30 s (KinesisHealthCheckStack.java alarm) lacks",
    tags=("core", "stats", "alerting"),
)
def conformal_lag_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan -> per-(stream, lag-value) counts (bounded by
    streams x 60 values) -> cumulative window ON THE COUNTS TABLE, tiny
    rank/threshold tables broadcast back onto the counts. The raw stream
    is never sorted or windowed."""
    from pyspark.sql import Window

    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    ev = event_time(F.col("ts"), F.col("props"))
    scored = events.select(
        F.col("event_type").alias("stream_name"),
        (
            F.unix_timestamp(F.date_trunc("minute", ev)) + 60
            - F.unix_timestamp(F.date_trunc("second", ev))
        ).alias("lag_s"),
        (
            F.expr(
                "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
                " AS BIGINT) % 2"
            )
            == 0
        ).alias("is_cal"),
    ).localCheckpoint(eager=False)  # feeds both the calibration and test legs
    cal_counts = (
        scored.filter("is_cal")
        .groupBy("stream_name", "lag_s")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds cumsum AND totals
    )
    w_cum = (
        Window.partitionBy("stream_name")
        .orderBy("lag_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cal_cum = cal_counts.select(
        "stream_name", "lag_s", F.sum("c").over(w_cum).alias("cum")
    )
    cal_tot = cal_counts.groupBy("stream_name").agg(
        F.sum("c").cast("long").alias("n_cal")
    )
    alphas = scored.sparkSession.range(1).select(
        F.explode(F.array(F.lit(100000), F.lit(50000))).alias("alpha_ppm")
    ).select(F.col("alpha_ppm").cast("long").alias("alpha_ppm"))
    k_expr = "((n_cal + 1) * (1000000 - alpha_ppm) + 999999) div 1000000"
    ranks = cal_tot.crossJoin(F.broadcast(alphas)).select(
        "stream_name",
        "alpha_ppm",
        "n_cal",
        F.expr(
            f"CASE WHEN {k_expr} > n_cal THEN"
            " raise_error('conformal_lag_bound: rank beyond calibration size')"
            f" ELSE {k_expr} END"
        )
        .cast("long")
        .alias("k_rank"),
    )
    thresholds = (
        cal_cum.join(F.broadcast(ranks), "stream_name")
        .filter(F.col("cum") >= F.col("k_rank"))
        .groupBy("stream_name", "alpha_ppm", "n_cal", "k_rank")
        .agg(F.min("lag_s").cast("long").alias("q_lag_threshold"))
    )
    test_counts = (
        scored.filter(~F.col("is_cal"))
        .groupBy("stream_name", "lag_s")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        test_counts.join(F.broadcast(thresholds), "stream_name")
        .groupBy("stream_name", "alpha_ppm", "n_cal", "k_rank", "q_lag_threshold")
        .agg(
            F.sum("c").cast("long").alias("n_test"),
            F.sum(F.expr("CASE WHEN lag_s <= q_lag_threshold THEN c ELSE 0 END"))
            .cast("long")
            .alias("n_covered"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN lag_s <= q_lag_threshold THEN c"
                " ELSE 0 END) div sum(c) AS BIGINT)"
            ).alias("covered_ppm"),
            (F.lit(1000000) - F.col("alpha_ppm")).cast("long").alias("target_ppm"),
            (
                F.expr(
                    "1000000 * sum(CASE WHEN lag_s <= q_lag_threshold THEN c"
                    " ELSE 0 END) div sum(c)"
                )
                >= F.expr("1000000 - alpha_ppm")
            ).alias("met_target"),
        )
    )


# ---------------------------------------------------------------------------
# Shadow-pipeline diff: before cutting the metric pipeline over from
# arrival-time to payload-event-time (the F5 choice, operators/lag.py
# event_time vs arrival), run both variants on the same feed and diff the
# per-period aggregates and alarm verdicts — the migration audit that says
# whether the cutover changes pages. A deterministic 1/7 of records carry a
# 45 s-older payload instant (the delayed-relay class the payload rule
# exists for); the rest have payload == arrival, so every difference is
# attributable.
# ---------------------------------------------------------------------------
_SHADOW_SKEW_S = 45
_SHADOW_THRESHOLD = 30

_SHADOW_SQL = f"""
WITH base AS (
  SELECT event_type AS stream_name, ts AS arrival,
         CASE WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 7 = 0
              THEN ts - INTERVAL {_SHADOW_SKEW_S} SECOND ELSE ts END AS ev
  FROM events
),
va AS (
  SELECT stream_name, date_trunc('minute', ev) AS ws,
         max(CAST(epoch(date_trunc('minute', ev) + INTERVAL 1 MINUTE) AS BIGINT)
             - CAST(epoch(date_trunc('second', ev)) AS BIGINT)) AS max_lag
  FROM base GROUP BY 1, 2
),
vb AS (
  SELECT stream_name, date_trunc('minute', arrival) AS ws,
         max(CAST(epoch(date_trunc('minute', arrival) + INTERVAL 1 MINUTE) AS BIGINT)
             - CAST(epoch(date_trunc('second', arrival)) AS BIGINT)) AS max_lag
  FROM base GROUP BY 1, 2
),
diff AS (
  SELECT COALESCE(va.stream_name, vb.stream_name) AS stream_name,
         va.ws IS NOT NULL AS in_a, vb.ws IS NOT NULL AS in_b,
         va.max_lag AS la, vb.max_lag AS lb,
         (va.max_lag > {_SHADOW_THRESHOLD}) AS alarm_a,
         (vb.max_lag > {_SHADOW_THRESHOLD}) AS alarm_b
  FROM va FULL OUTER JOIN vb
    ON vb.stream_name = va.stream_name AND vb.ws = va.ws
)
SELECT stream_name,
       CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_periods_new,
       CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_periods_old,
       CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(sum(CASE WHEN in_a AND in_b AND la <> lb THEN 1 ELSE 0 END)
            AS BIGINT) AS n_value_diffs,
       CAST(max(CASE WHEN in_a AND in_b THEN abs(la - lb) END) AS BIGINT)
         AS max_abs_delta_s,
       CAST(sum(CASE WHEN in_a AND in_b AND alarm_a <> alarm_b THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarm_flips,
       CAST(sum(CASE WHEN in_a <> in_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_presence_diffs
FROM diff GROUP BY 1
"""


@register(
    "shadow_pipeline_diff",
    oracle=_SHADOW_SQL,
    doc="Pipeline-migration audit: the arrival-time and payload-event-time "
    "variants of the flagship per-period max-lag metric run side by side "
    "on one feed (1/7 of records carry a 45 s-older payload instant); the "
    "full-outer period diff counts value differences, alarm-verdict flips "
    "at the 30 s threshold, and period-presence changes — the shadow-"
    "deployment evidence a cutover decision needs (F5, operators/lag.py)",
    tags=("core", "healthcheck", "dq"),
)
def shadow_pipeline_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE scan feeds both variants (checkpoint-pinned base),
    each variant is a keyed aggregation to its bounded period grid, and
    the diff is a full-outer join of two grid-sized tables on the
    (stream, period) key."""
    configure_session(spark)
    events = parallel_scan(spark, sf_dir, "events")
    base = events.select(
        F.col("event_type").alias("stream_name"),
        F.col("ts").alias("arrival"),
        F.expr(
            "CASE WHEN CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 7 = 0"
            f" THEN ts - INTERVAL {_SHADOW_SKEW_S} SECOND ELSE ts END"
        ).alias("ev"),
    ).localCheckpoint(eager=False)  # both variants read the same decode

    def variant(col: str) -> DataFrame:
        return base.groupBy(
            "stream_name", F.date_trunc("minute", F.col(col)).alias("ws")
        ).agg(
            F.max(
                F.unix_timestamp(F.date_trunc("minute", F.col(col)))
                + 60
                - F.unix_timestamp(F.date_trunc("second", F.col(col)))
            ).alias("max_lag")
        )

    va = variant("ev").withColumnsRenamed({"max_lag": "la"})
    vb = variant("arrival").select(
        F.col("stream_name").alias("sb"), F.col("ws").alias("wsb"),
        F.col("max_lag").alias("lb"),
    )
    diff = va.join(
        vb,
        (F.col("sb") == F.col("stream_name")) & (F.col("wsb") == F.col("ws")),
        "full_outer",
    ).select(
        F.coalesce(F.col("stream_name"), F.col("sb")).alias("stream_name"),
        F.col("ws").isNotNull().alias("in_a"),
        F.col("wsb").isNotNull().alias("in_b"),
        "la",
        "lb",
        (F.col("la") > _SHADOW_THRESHOLD).alias("alarm_a"),
        (F.col("lb") > _SHADOW_THRESHOLD).alias("alarm_b"),
    )
    return diff.groupBy("stream_name").agg(
        F.sum(F.col("in_a").cast("int")).cast("long").alias("n_periods_new"),
        F.sum(F.col("in_b").cast("int")).cast("long").alias("n_periods_old"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("int"))
        .cast("long")
        .alias("n_shared"),
        F.sum(
            (F.col("in_a") & F.col("in_b") & (F.col("la") != F.col("lb"))).cast(
                "int"
            )
        )
        .cast("long")
        .alias("n_value_diffs"),
        F.max(
            F.expr("CASE WHEN in_a AND in_b THEN abs(la - lb) END")
        )
        .cast("long")
        .alias("max_abs_delta_s"),
        F.sum(
            F.expr(
                "CAST(in_a AND in_b AND alarm_a <> alarm_b AS INT)"
            )
        )
        .cast("long")
        .alias("n_alarm_flips"),
        F.sum((F.col("in_a") != F.col("in_b")).cast("int"))
        .cast("long")
        .alias("n_presence_diffs"),
    )
