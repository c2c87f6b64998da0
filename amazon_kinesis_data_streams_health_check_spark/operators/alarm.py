"""CloudWatch-alarm semantics as reusable DataFrame operators.

The reference's only declarative "query" is its alarm
(KinesisHealthCheckStack.java:165-183): 1-minute tumbling ``max`` over the
lag metric grouped by the StreamName dimension, breach when ``> threshold``
(``:175,177``), missing datapoints treated as BREACHING (``:179``),
N-of-M datapoint evaluation (``:176,181`` — degenerate 1-of-1 there, general
here), and actions that fire only on state *transition* (``:178,183``).

The batch operators are pure DataFrame->DataFrame compositions of built-in
functions — no UDFs, no collect. Scale notes:

- the tumbling aggregation is the only wide stage over raw data; it partial-
  aggregates map-side before the shuffle (Catalyst does this for max/count),
- everything after it operates on ``keys x periods`` rows (tiny relative to
  input at any scale), so the grid join and the window functions are cheap;
  AQE broadcasts the aggregated side at runtime.

The streaming alarms (``streaming/stateful_alarm.py``) evaluate one period at
a time: each calls ``step``, the per-period form of ``evaluate_alarm``, and
keeps only its own timing (timeouts, watermark gaps, period walks, timers).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Alarm threshold (KinesisHealthCheckStack.java:175) and comparison
#: GREATER_THAN_THRESHOLD (:177) — breach iff value > threshold, strictly.
DEFAULT_THRESHOLD = 1.0

STATE_OK = "OK"
STATE_ALARM = "ALARM"
STATE_INSUFFICIENT = "INSUFFICIENT_DATA"

#: CloudWatch ``TreatMissingData`` spellings -> the vote a missing period
#: casts into its evaluation slot (None: occupies a slot without voting).
#: ``ignore`` is absent on purpose: its missing periods take no slot at all.
_MISSING_VOTE = {"breaching": 1, "notBreaching": 0, "missing": None}


@dataclass(frozen=True)
class AlarmConfig:
    """The CfnAlarm knobs (KinesisHealthCheckStack.java:165-183)."""

    threshold: float = DEFAULT_THRESHOLD  # breach iff value > threshold
    evaluation_periods: int = 1  # N
    datapoints_to_alarm: int = 1  # M
    missing_data: str = "breaching"  # breaching|notBreaching|ignore|missing

    def __post_init__(self) -> None:
        if self.missing_data not in (*_MISSING_VOTE, "ignore"):
            raise ValueError(f"unknown treat_missing: {self.missing_data}")
        if self.evaluation_periods < 1:
            raise ValueError(f"evaluation_periods < 1: {self.evaluation_periods}")


def step(
    prev_state: str | None,
    window: list[int | None],
    max_value: float | None,
    cfg: AlarmConfig,
) -> tuple[str, list[int | None], bool]:
    """Evaluate one period: ``evaluate_alarm``'s semantics for a single row.

    ``window`` holds the slots of the last N evaluated periods (1 breaching,
    0 not, None a missing period that votes nothing); ``max_value`` None or
    NaN is a missing period. Returns ``(state, window, transitioned)``:

    - ``breaching``/``notBreaching``: a missing period votes 1/0 in a slot,
    - ``missing``: it occupies a slot without voting; INSUFFICIENT_DATA when
      none of the last N slots is present,
    - ``ignore``: it neither votes nor takes a slot and keeps the previous
      state (OK when there is none),
    - ALARM iff >= M slots breach, breach being strict ``> threshold``,
    - ``transitioned`` only against a previous state (actions on transition).
    """
    missing = max_value is None or max_value != max_value  # None or NaN
    if missing and cfg.missing_data == "ignore":
        state = prev_state or STATE_OK
    else:
        vote = _MISSING_VOTE[cfg.missing_data] if missing else int(max_value > cfg.threshold)
        window = [*window, vote][-cfg.evaluation_periods :]
        if cfg.missing_data == "missing" and all(v is None for v in window):
            state = STATE_INSUFFICIENT
        elif sum(v for v in window if v) >= cfg.datapoints_to_alarm:
            state = STATE_ALARM
        else:
            state = STATE_OK
    return state, list(window), prev_state is not None and state != prev_state


def tumbling_max(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "stream_name",
    value_col: str = "value",
    period: str = "1 minute",
) -> DataFrame:
    """A1/A2: tumbling-window MAX per dimension key.

    Reference: ``Metric.period(1 min), statistic("max")``, dimension map
    ``{StreamName}`` (KinesisHealthCheckStack.java:165-171).

    Output: ``key_col, window_start, window_end, max_value, n_datapoints``.
    """
    w = F.window(F.col(ts_col), period)
    return (
        df.groupBy(F.col(key_col), w.alias("w"))
        .agg(
            F.max(value_col).alias("max_value"),
            F.count(F.lit(1)).alias("n_datapoints"),
        )
        .select(
            key_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "max_value",
            "n_datapoints",
        )
    )


def with_period_grid(
    metrics: DataFrame,
    key_col: str = "stream_name",
    period: str = "1 minute",
) -> DataFrame:
    """F3: densify to the full period grid so absent datapoints surface.

    CloudWatch evaluates *every* period; a period with no datapoint is what
    ``TreatMissingData`` governs (KinesisHealthCheckStack.java:179). Batch
    analogue of the streaming state-timeout (SURVEY.md W4): generate
    ``sequence(min_window, max_window, period)`` x distinct keys and left-join
    observed metrics onto it; unmatched rows carry NULL ``max_value``.

    The grid is ``periods x keys`` rows — small at any data scale; the join
    keys are the aggregated metric keys, so AQE broadcast-joins it.

    ``metrics`` is consumed twice (the bounds/keys header, the grid join).
    Without materialization Catalyst's RemoveRedundantAggregates rewrites the
    min/max/distinct-over-aggregate branches into aggregates over the RAW
    input, tripling the scan of the big table. A lazy ``localCheckpoint``
    pins the tiny aggregated relation to one scan like ``persist`` would,
    but WITHOUT the CacheManager leak: checkpoint storage is released by the
    ContextCleaner when the plan is garbage-collected, so repeated pipeline
    invocations (bench loops, the 73-query verify run) don't accumulate
    cached relations for the session lifetime.
    """
    metrics = metrics.localCheckpoint(eager=False)
    iv = F.expr(f"interval {period}")
    # Bounds AND the key list in ONE aggregate over the pinned metrics
    # (round-9: the separate bounds-agg + distinct-keys pair cost two jobs
    # and two broadcast builds where one of each suffices; the key set is
    # bounded by the same keys-x-periods contract that makes the grid small,
    # so collect_set stays a scalar-sized single row, never a data-scale
    # structure). Both explodes unnest from that single row.
    #
    # Keys ride inside a struct because collect_set silently drops NULL
    # scalars (round-9 ADVICE): the pre-round-9 ``distinct()`` kept a
    # NULL-key grid row (all-missing periods for records with a NULL
    # dimension -> ALARM under treat_missing='breaching'), and
    # ``struct(isnull, key)`` is never NULL itself, so that row survives
    # the single-aggregate form too.
    hdr = metrics.agg(
        F.min("window_start").alias("lo"),
        F.max("window_start").alias("hi"),
        F.collect_set(
            F.struct(
                F.col(key_col).isNull().alias("n"), F.col(key_col).alias("k")
            )
        ).alias("_ks"),
    )
    # The sequence-explode starts from a single row, so the raw grid is one
    # partition; repartition by key so the downstream per-key window-function
    # tail distributes (AQE re-coalesces when the grid really is tiny). The
    # broadcast grid-metrics join preserves this partitioning.
    grid = (
        hdr.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"), iv)).alias(
                "window_start"
            ),
            "_ks",
        )
        .select("window_start", F.explode("_ks").alias("_kk"))
        .select("window_start", F.col("_kk.k").alias(key_col))
        .repartition(F.col(key_col))
        .select(
            key_col,
            "window_start",
            (F.col("window_start") + iv).alias("window_end"),
        )
    )
    return grid.join(
        F.broadcast(metrics.select(key_col, "window_start", "max_value", "n_datapoints")),
        [key_col, "window_start"],
        "left",
    ).withColumn("n_datapoints", F.coalesce("n_datapoints", F.lit(0)))


def evaluate_alarm(
    gridded: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    key_col: str = "stream_name",
    treat_missing: str = "breaching",
    evaluation_periods: int = 1,
    datapoints_to_alarm: int = 1,
) -> DataFrame:
    """F2 + A3 + WF1/WF2 + W6: threshold -> N-of-M -> state -> transitions.

    - breach iff ``max_value > threshold`` (strict; KinesisHealthCheckStack.java:175,177)
      or missing-and-``treat_missing='breaching'`` (:179),
    - ALARM when >= ``datapoints_to_alarm`` of the trailing
      ``evaluation_periods`` periods breach (:176,181),
    - ``treat_missing``: 'breaching' | 'notBreaching' | 'ignore' (missing
      periods inherit the previous resolved state, and present periods
      evaluate M-of-N over the most recent N PRESENT datapoints — missing
      periods neither vote nor occupy evaluation slots, as in CloudWatch)
      | 'missing' (INSUFFICIENT_DATA when every period in the eval window
      is absent),
    - ``transitioned`` true when state differs from the previous period's
      state (actions fire only on transition, :178,183).

    ``step`` is the same machine one period at a time; the streaming alarms
    call it, and tests/test_alarm_step.py holds every variant equal to this.
    """
    AlarmConfig(threshold, evaluation_periods, datapoints_to_alarm, treat_missing)  # validates

    missing = F.col("max_value").isNull()
    over_threshold = F.col("max_value") > F.lit(threshold)
    if treat_missing == "breaching":
        breaching = F.when(missing, F.lit(True)).otherwise(over_threshold)
    elif treat_missing == "notBreaching":
        breaching = F.when(missing, F.lit(False)).otherwise(over_threshold)
    else:  # ignore / missing: absent periods don't vote
        breaching = over_threshold

    order = Window.partitionBy(key_col).orderBy("window_start")
    trailing = order.rowsBetween(-(evaluation_periods - 1), 0)

    df = gridded.withColumn("breaching", breaching)
    df = df.withColumn(
        "breach_count",
        F.sum(F.coalesce(F.col("breaching").cast("int"), F.lit(0))).over(trailing),
    ).withColumn(
        "present_count",
        F.sum((~missing).cast("int")).over(trailing),
    )

    raw_state = F.when(
        F.col("breach_count") >= F.lit(datapoints_to_alarm), F.lit(STATE_ALARM)
    ).otherwise(F.lit(STATE_OK))

    if treat_missing == "missing":
        raw_state = F.when(F.col("present_count") == 0, F.lit(STATE_INSUFFICIENT)).otherwise(
            raw_state
        )
        df = df.withColumn("state", raw_state)
    elif treat_missing == "ignore":
        # Missing periods inherit the last resolved state (CloudWatch "keep
        # current state"); leading missing periods resolve to OK. Present
        # periods evaluate over the last N PRESENT datapoints — a trailing
        # window on the grid would let empty slots dilute the breach count.
        # Numbering the present periods, the range window over that number
        # spans exactly the last N of them; the missing rows it also spans
        # add 0 breaches.
        df = df.withColumn(
            "present_seq",
            F.sum((~missing).cast("int")).over(
                order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        last_n_present = (
            Window.partitionBy(key_col)
            .orderBy("present_seq")
            .rangeBetween(-(evaluation_periods - 1), 0)
        )
        breach_present = F.sum(
            F.coalesce(F.col("breaching").cast("int"), F.lit(0))
        ).over(last_n_present)
        df = df.withColumn(
            "state_pt",
            F.when(
                ~missing,
                F.when(
                    breach_present >= F.lit(datapoints_to_alarm), F.lit(STATE_ALARM)
                ).otherwise(F.lit(STATE_OK)),
            ),
        )
        df = df.withColumn(
            "state",
            F.coalesce(
                F.last("state_pt", ignorenulls=True).over(
                    order.rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(STATE_OK),
            ),
        ).drop("present_seq", "state_pt")
    else:
        df = df.withColumn("state", raw_state)

    df = df.withColumn("prev_state", F.lag("state").over(order))
    # Actions fire only on a real transition; the first evaluated period has
    # no previous state and does NOT count (FIXTURES.md edge case 6: an
    # OK->ALARM->ALARM->OK flap yields exactly two transitions).
    df = df.withColumn(
        "transitioned",
        F.col("prev_state").isNotNull() & (F.col("state") != F.col("prev_state")),
    )
    return df.drop("breaching", "breach_count", "present_count")


def alarm_pipeline(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "stream_name",
    value_col: str = "value",
    period: str = "1 minute",
    threshold: float = DEFAULT_THRESHOLD,
    treat_missing: str = "breaching",
    evaluation_periods: int = 1,
    datapoints_to_alarm: int = 1,
) -> DataFrame:
    """metric rows -> alert rows (FIXTURES.md section 5 shape)."""
    metrics = tumbling_max(df, ts_col, key_col, value_col, period)
    gridded = with_period_grid(metrics, key_col, period)
    evaluated = evaluate_alarm(
        gridded,
        threshold=threshold,
        key_col=key_col,
        treat_missing=treat_missing,
        evaluation_periods=evaluation_periods,
        datapoints_to_alarm=datapoints_to_alarm,
    )
    return evaluated.select(
        "window_start",
        "window_end",
        key_col,
        F.col("max_value").cast("double").alias("max_lag"),
        F.col("n_datapoints"),
        "state",
        "prev_state",
        "transitioned",
    )


def transitions_only(alerts: DataFrame) -> DataFrame:
    """K3: the SNS leg — emit only state-transition rows
    (SnsAction on the alarm, KinesisHealthCheckStack.java:183)."""
    return alerts.filter(F.col("transitioned"))
