"""[EXT] Behavioral-analytics queries over the ``events`` table: cohort
retention, strict-order funnel conversion, and SCD2-style state history.
These are the warehouse shapes a stream-health/product team runs on the same
event stream the healthcheck pipeline feeds (SURVEY.md section 2.9 notes the
reference has no analytics surface; these extend the engine's §2.10 scope).

Cross-engine determinism: week truncation is ISO-Monday in both engines
(``date_trunc('week', ...)``), offsets/fractions are exact-integer ratios,
emitted timestamps are epoch seconds (BIGINT) so no engine-specific timestamp
formatting is compared.

Scale stance (100 TB):

- cohort retention: two keyed aggregations on ``user_id`` / distinct
  ``(user, week)`` pairs (uniform keys), then a join back on the bounded
  cohort key — never a distinct-count window.
- funnel stages: each stage is a keyed min-aggregation joined user-to-user
  (uniform key); stage order composes joins, not windows, so no per-user
  event list ever sits in one buffer.
- SCD2 history: windows partition by ``user_id`` ordered by the unique
  ``(ts, event_id)`` — per-user partitions are bounded by user activity, the
  standard assumption of every sessionization; the change detection is one
  lag + one running sum over that window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
    load_table,
    parallel_scan,
)

# ---------------------------------------------------------------------------
# Weekly cohort retention.
# ---------------------------------------------------------------------------
_COHORT_SQL = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
),
cohort_size AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
  FROM first_seen GROUP BY cohort_week
),
cells AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS BIGINT)
           AS week_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM first_seen f JOIN active a ON f.user_id = a.user_id
  GROUP BY 1, 2
)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       c.week_offset, c.n_active, s.n_cohort,
       round(CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 6)
         AS retention
FROM cells c JOIN cohort_size s ON c.cohort_week = s.cohort_week
"""


@register(
    "cohort_retention",
    oracle=_COHORT_SQL,
    doc="Weekly cohort retention: users grouped by first-seen week, "
    "fraction still active N weeks later — the standard retention triangle",
    tags=("ext", "behavior"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: first-seen is one keyed min-agg on ``user_id``; activity
    is a distinct over ``(user_id, week)`` (both uniform); the cells join is
    user-keyed and the final fold groups on the bounded (cohort, offset)
    key. Exact distinct users per cell comes from the pair-distinct, never
    a countDistinct window."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = events.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("n_cohort")
    )
    cells = (
        first_seen.join(active, "user_id")
        .select(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
    )
    return cells.join(F.broadcast(cohort_size), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        "n_cohort",
        F.round(
            F.col("n_active").cast("double") / F.col("n_cohort").cast("double"), 6
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Strict-order funnel conversion.
# ---------------------------------------------------------------------------
_FUNNEL_WINDOW_DAYS = 7
_FUNNEL_STAGES = ("signup", "view", "purchase")

_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = '{_FUNNEL_STAGES[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{_FUNNEL_STAGES[1]}'
    AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{_FUNNEL_STAGES[2]}'
    AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id
),
counts AS (
  SELECT 1 AS stage_no, '{_FUNNEL_STAGES[0]}' AS stage,
         CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, '{_FUNNEL_STAGES[1]}', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, '{_FUNNEL_STAGES[2]}', CAST(count(*) AS BIGINT) FROM s3
),
base AS (SELECT n_users AS n0 FROM counts WHERE stage_no = 1)
SELECT counts.stage_no, counts.stage, counts.n_users,
       round(CAST(counts.n_users AS DOUBLE) / CAST(base.n0 AS DOUBLE), 6)
         AS conversion
FROM counts CROSS JOIN base
"""


@register(
    "funnel_stages",
    oracle=_FUNNEL_SQL,
    doc="Strict-order funnel: signup -> view -> purchase, each stage within "
    "7 days of the previous stage's first completion; per-stage user counts "
    "and conversion vs stage 1",
    tags=("ext", "behavior"),
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each stage is a filtered keyed min-agg (predicate on the
    bounded ``event_type`` column pushes to the scan) joined on the uniform
    ``user_id`` key — sequence matching by join composition, not by
    collecting per-user event lists. The final conversion fold is 3 rows
    joined to a 1-row broadcast."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )

    def first_event(kind: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == kind)
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    def next_stage(prev: DataFrame, kind: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == kind)
            .join(prev.select("user_id", F.col("t").alias("pt")), "user_id")
            .filter(
                (F.col("ts") > F.col("pt"))
                & (
                    F.col("ts")
                    <= F.col("pt") + F.expr(f"interval {_FUNNEL_WINDOW_DAYS} days")
                )
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    s1 = first_event(_FUNNEL_STAGES[0])
    s2 = next_stage(s1, _FUNNEL_STAGES[1])
    s3 = next_stage(s2, _FUNNEL_STAGES[2])
    counts = None
    for i, (name, df) in enumerate(
        zip(_FUNNEL_STAGES, (s1, s2, s3)), start=1
    ):
        c = df.agg(F.count("*").alias("n_users")).select(
            F.lit(i).alias("stage_no"), F.lit(name).alias("stage"), "n_users"
        )
        counts = c if counts is None else counts.unionAll(c)
    base = counts.filter(F.col("stage_no") == 1).select(
        F.col("n_users").alias("n0")
    )
    return counts.join(F.broadcast(base)).select(
        "stage_no",
        "stage",
        "n_users",
        F.round(F.col("n_users").cast("double") / F.col("n0").cast("double"), 6)
        .alias("conversion"),
    )


# ---------------------------------------------------------------------------
# SCD2-style state history (gaps-and-islands over state changes).
# ---------------------------------------------------------------------------
_SCD2_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts, event_id, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM o
),
collapsed AS (
  SELECT user_id, run_id, event_type,
         min(ts) AS valid_from, max(ts) AS last_event,
         CAST(count(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, run_id, event_type
)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type AS state,
       CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_s,
       CAST(floor(epoch(coalesce(
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id),
         last_event))) AS BIGINT) AS valid_to_s,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
         AS is_current,
       n_events
FROM collapsed
"""


@register(
    "scd2_state_history",
    oracle=_SCD2_SQL,
    doc="SCD2-style state history: consecutive same-type event runs per user "
    "collapsed to validity intervals (valid_from/valid_to, is_current) — "
    "the dimension-history build every warehouse maintains",
    tags=("ext", "behavior"),
)
def scd2_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: change detection is lag + running sum over the per-user
    window ordered by the unique ``(ts, event_id)`` key (bounded per-user
    partitions — the standard sessionization assumption); runs collapse via
    one keyed agg; interval close-out is a lead over the already-collapsed
    (small) run set."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("long")
    runs = events.withColumn("chg", chg).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    collapsed = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("last_event"),
        F.count("*").alias("n_events"),
    )
    wr = Window.partitionBy("user_id").orderBy("run_id")
    nxt = F.lead("valid_from").over(wr)
    return collapsed.select(
        "user_id",
        F.col("run_id").cast("long").alias("run_id"),
        F.col("event_type").alias("state"),
        F.floor(F.unix_timestamp("valid_from")).cast("long").alias("valid_from_s"),
        F.floor(F.unix_timestamp(F.coalesce(nxt, F.col("last_event"))))
        .cast("long")
        .alias("valid_to_s"),
        nxt.isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Rolling active users (1-day and trailing-7-day distinct counts).
# ---------------------------------------------------------------------------
_ROLLING_DAYS = 7

_ROLLING_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM pairs),
grid AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
covered AS (
  SELECT DISTINCT user_id,
         CAST(unnest(generate_series(d, d + INTERVAL {_ROLLING_DAYS - 1} DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM pairs
),
rolling AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n FROM covered GROUP BY day
),
daily AS (
  SELECT d AS day, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY d
)
SELECT strftime(g.day, '%Y-%m-%d') AS day,
       coalesce(daily.n, 0) AS n_active_1d,
       coalesce(rolling.n, 0) AS n_active_7d
FROM grid g
LEFT JOIN daily ON daily.day = g.day
LEFT JOIN rolling ON rolling.day = g.day
"""


@register(
    "rolling_active_users",
    oracle=_ROLLING_SQL,
    doc="DAU + trailing-7-day active users per calendar day — the rolling "
    "distinct-count series computed by pair explosion, not a range join",
    tags=("ext", "behavior"),
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: activity collapses to distinct ``(user, day)`` pairs
    first (one uniform-key shuffle does all the dedup); each pair then
    explodes NARROWLY to the exactly-7 rolling days it covers — no
    day-range join, whose comparison cost grows with the calendar span —
    and a second pair-distinct + keyed count finishes. The calendar grid is
    a broadcast left-join so silent drop-out days appear as zeros."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    pairs = events.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    bounds = pairs.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day")
    )
    covered = pairs.select(
        "user_id",
        F.explode(
            F.sequence(
                "d",
                F.date_add("d", _ROLLING_DAYS - 1),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    ).distinct()
    rolling = covered.groupBy("day").agg(F.count("*").alias("rn"))
    daily = pairs.groupBy(F.col("d").alias("day")).agg(
        F.count("*").alias("dn")
    )
    return (
        grid.join(daily, "day", "left")
        .join(rolling, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("dn", F.lit(0)).cast("long").alias("n_active_1d"),
            F.coalesce("rn", F.lit(0)).cast("long").alias("n_active_7d"),
        )
    )


# ---------------------------------------------------------------------------
# MapType surface: per-user event-type count maps, deterministically
# serialized.
# ---------------------------------------------------------------------------
_TYPE_MAP_SQL = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       '{' || string_agg('"' || event_type || '":' || n, ',' ORDER BY event_type)
           || '}' AS type_counts,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0)
            AS BIGINT) AS clicks
FROM c GROUP BY user_id
"""


@register(
    "user_event_type_map",
    oracle=_TYPE_MAP_SQL,
    doc="MapType surface: per-user event_type -> count as a first-class map "
    "column (map_from_entries over key-sorted entries => deterministic "
    "to_json), cardinality via map size, lookup via element_at",
    tags=("ext", "behavior"),
)
def user_event_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed count on the uniform (user, type) pair, then a
    per-user fold whose collect_list is bounded by the event-type vocabulary
    (5 here; a map column is only the right shape when the key domain is
    bounded). Entries sort by key BEFORE map_from_entries, so to_json is
    byte-deterministic — unsorted map serialization is engine- and
    partitioning-dependent and would never hash-match."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    entries = F.array_sort(
        F.collect_list(F.struct(F.col("event_type").alias("k"), F.col("n").alias("v")))
    )
    m = F.map_from_entries(entries)
    return counts.groupBy("user_id").agg(
        F.to_json(m).alias("type_counts"),
        F.size(m).cast("long").alias("n_types"),
        F.coalesce(F.element_at(m, F.lit("click")), F.lit(0))
        .cast("long")
        .alias("clicks"),
    )


# ---------------------------------------------------------------------------
# Concurrency curve: sessions simultaneously open per minute.
# ---------------------------------------------------------------------------
_CONC_GAP_MIN = 30

_CONCURRENCY_SQL = f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL {_CONC_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
sess AS (
  SELECT user_id, sid,
         date_trunc('minute', min(ts)) AS start_min,
         date_trunc('minute', max(ts)) AS end_min
  FROM s GROUP BY user_id, sid
),
deltas AS (
  SELECT start_min AS m, 1 AS d FROM sess
  UNION ALL
  SELECT end_min + INTERVAL 1 MINUTE, -1 FROM sess
),
by_min AS (
  SELECT m, CAST(sum(d) AS BIGINT) AS delta FROM deltas GROUP BY m
)
SELECT m AS minute,
       CAST(sum(delta) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_concurrent
FROM by_min
"""


@register(
    "session_concurrency",
    oracle=_CONCURRENCY_SQL,
    doc="Concurrency curve: sessions (30-min gap) simultaneously open per "
    "minute — interval-overlap counting via +1/-1 boundary deltas and a "
    "running sum, never an interval self-join",
    tags=("ext", "behavior"),
)
def session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: sessionization and boundary deltas are per-user keyed
    work; deltas collapse to ONE row per distinct boundary minute (keyed
    agg) BEFORE the global running sum, whose input is therefore bounded by
    the time range (a month = 43k minutes), not by the data volume — the
    single ordered partition is a bounded-grid stance, same as the alarm
    period grid, and categorically cheaper than the O(sessions x minutes)
    interval join it replaces."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    # unix_micros keeps the gap test microsecond-exact (the oracle's interval
    # comparison and session_window's semantics) — a seconds-truncating cast
    # can flip a session boundary when the gap sits within 1s of 30min.
    new_s = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                >= _CONC_GAP_MIN * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s")
    )
    s = events.select("user_id", "ts", new_s).withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.date_trunc("minute", F.min("ts")).alias("start_min"),
        F.date_trunc("minute", F.max("ts")).alias("end_min"),
    )
    deltas = sess.select(
        F.col("start_min").alias("m"), F.lit(1).alias("d")
    ).unionAll(
        sess.select(
            (F.col("end_min") + F.expr("interval 1 minute")).alias("m"),
            F.lit(-1).alias("d"),
        )
    )
    by_min = deltas.groupBy("m").agg(F.sum("d").alias("delta"))
    wg = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return by_min.select(
        F.col("m").alias("minute"),
        F.sum("delta").over(wg).cast("long").alias("n_concurrent"),
    )


# ---------------------------------------------------------------------------
# Event-transition matrix: first-order Markov counts over each user's
# time-ordered event stream — the "what happens after a signup" path
# analysis that feeds next-action models and funnel design.
# ---------------------------------------------------------------------------
_TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@register(
    "event_transition_matrix",
    oracle=_TRANSITION_SQL,
    doc="Behavioral path analysis: first-order Markov transition counts "
    "(from_type -> to_type) over each user's time-ordered events, with the "
    "distinct-user reach of every edge",
    tags=("ext", "behavior"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user-keyed window (uniform key, per-user frames are
    session-sized) and one 25-cell keyed aggregation. The (ts, event_id)
    compound order key makes the sequence — and therefore every count —
    deterministic under ties."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution: linear + last-touch credit per channel.
# ---------------------------------------------------------------------------
_ATTR_WINDOW_DAYS = 7
_ATTR_TOUCH_TYPES = ("view", "click", "signup")

_ATTRIBUTION_SQL = f"""
WITH purchases AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts,
         CAST(round(value * 1000000) AS BIGINT) AS val_micros
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT event_id AS t_id, user_id, event_type AS channel, ts AS t_ts
  FROM events WHERE event_type IN ('view', 'click', 'signup')
),
paired AS (
  SELECT p.p_id, p.val_micros, t.t_id, t.channel, t.t_ts
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.t_ts < p.p_ts
   AND t.t_ts >= p.p_ts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
),
credited AS (
  SELECT p_id, val_micros, t_id, channel,
         CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_touches,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY t_ts DESC, t_id DESC) AS recency_rank
  FROM paired
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches_credited,
       CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions_touched,
       CAST(sum(val_micros // n_touches) AS BIGINT) AS linear_credit_micros,
       CAST(sum(val_micros % n_touches) AS BIGINT) AS linear_credit_rem,
       CAST(sum(CASE WHEN recency_rank = 1 THEN val_micros ELSE 0 END)
            AS BIGINT) AS last_touch_micros
FROM credited GROUP BY channel
"""


@register(
    "funnel_attribution",
    oracle=_ATTRIBUTION_SQL,
    doc="Multi-touch attribution: every purchase's value credited to the "
    "user's view/click/signup touches in the prior 7 days — linear credit "
    "as exact integer quotient+remainder (no float split) and last-touch "
    "credit via recency rank, rolled up per channel",
    tags=("behavior",),
)
def funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the touch<->purchase pairing is an equi-join on user_id
    with a residual time-range predicate — per-user groups are bounded, so
    the join never degenerates toward an interval cross-product; both
    windows partition by purchase id (bounded by touches-per-window). Credit
    math stays in BIGINT: integer quotient + remainder columns preserve
    exactness instead of summing float shares in engine-dependent order.
    Ties in recency break on the globally unique event id."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    touches = events.filter(
        F.col("event_type").isin(*_ATTR_TOUCH_TYPES)
    ).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    paired = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.expr(f"p_ts - INTERVAL {_ATTR_WINDOW_DAYS} DAY"))
    )
    w_cnt = Window.partitionBy("p_id")
    w_rank = Window.partitionBy("p_id").orderBy(
        F.desc("t_ts"), F.desc("t_id")
    )
    credited = paired.select(
        "p_id",
        "val_micros",
        "t_id",
        "channel",
        F.count("*").over(w_cnt).cast("long").alias("n_touches"),
        F.row_number().over(w_rank).alias("recency_rank"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches_credited"),
        F.countDistinct("p_id").cast("long").alias("n_conversions_touched"),
        F.sum(F.expr("val_micros div n_touches")).cast("long").alias(
            "linear_credit_micros"
        ),
        F.sum(F.expr("val_micros % n_touches")).cast("long").alias(
            "linear_credit_rem"
        ),
        F.sum(
            F.when(F.col("recency_rank") == 1, F.col("val_micros")).otherwise(0)
        )
        .cast("long")
        .alias("last_touch_micros"),
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching over per-user event journeys.
# ---------------------------------------------------------------------------
#: Event-type initials are distinct (view/click/purchase/signup/error), so a
#: user's ordered history compresses losslessly to a journey string and
#: sequence patterns become regular expressions — the poor man's
#: MATCH_RECOGNIZE, with identical leftmost-greedy semantics in Java regex
#: and RE2 for these patterns.
_JOURNEY_FUNNEL_RE = "v[vc]*p"   # view, browse touches, then purchase
_JOURNEY_ERROR_RE = "e+"          # maximal error bursts

_JOURNEY_SQL = f"""
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(journey) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(journey, '{_JOURNEY_FUNNEL_RE}')) AS BIGINT)
         AS n_funnel_matches,
       CAST(len(regexp_extract_all(journey, '{_JOURNEY_ERROR_RE}')) AS BIGINT)
         AS n_error_bursts,
       contains(journey, 'p') AS converted
FROM j
"""


@register(
    "event_journey_patterns",
    oracle=_JOURNEY_SQL,
    doc="MATCH_RECOGNIZE-style sequence patterns: each user's ordered "
    "history compressed to a journey string (distinct type initials), then "
    "regex counting of view->browse->purchase funnels and maximal error "
    "bursts — sequence analytics without a dedicated pattern operator",
    tags=("behavior",),
)
def event_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation builds each user's journey (groups
    bounded by per-user history; the sort is a narrow ``array_sort`` inside
    the row, not a shuffle sort), and the pattern counts are narrow regex
    evaluations over the compressed string — the heavy lifting of sequence
    matching costs one shuffle total. Ordering ties break on the globally
    unique event id, so journeys are layout-stable."""
    events = parallel_scan(spark, sf_dir, "events")
    j = events.groupBy("user_id").agg(
        F.expr(
            "concat_ws('', transform("
            " array_sort(collect_list(struct(ts, event_id,"
            "   substring(event_type, 1, 1) AS i))),"
            " x -> x.i))"
        ).alias("journey")
    )
    return j.select(
        "user_id",
        F.length("journey").cast("long").alias("n_events"),
        F.expr(
            f"CAST(size(regexp_extract_all(journey, '{_JOURNEY_FUNNEL_RE}', 0)) AS BIGINT)"
        ).alias("n_funnel_matches"),
        F.expr(
            f"CAST(size(regexp_extract_all(journey, '{_JOURNEY_ERROR_RE}', 0)) AS BIGINT)"
        ).alias("n_error_bursts"),
        F.col("journey").contains("p").alias("converted"),
    )


# ---------------------------------------------------------------------------
# Temporal normalization: coalesce overlapping activity intervals.
# ---------------------------------------------------------------------------
_ACT_SPAN_US = 30 * 60 * 1_000_000  # each event opens a 30-min activity span

_INTERVAL_COALESCE_SQL = f"""
WITH spans AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_ACT_SPAN_US} AS e,
         event_id
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   >= s
              THEN 0 ELSE 1 END AS new_island
  FROM spans
),
ids AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
merged AS (
  SELECT user_id, island, min(s) AS lo, max(e) AS hi
  FROM ids GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(hi - lo) AS BIGINT) AS active_micros,
       CAST(max(hi - lo) AS BIGINT) AS longest_micros
FROM merged GROUP BY user_id
"""


@register(
    "interval_coalesce_activity",
    oracle=_INTERVAL_COALESCE_SQL,
    doc="Temporal interval coalescing: each event opens a 30-min activity "
    "span; overlapping/touching spans per user merge into maximal "
    "intervals (running-max gaps-and-islands) — exact total and longest "
    "activity per user in epoch microseconds",
    tags=("behavior", "timeseries"),
)
def interval_coalesce_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval-algebra normalization sessions/contracts/leases all
    need: merge when a span starts at or before the running max end of its
    predecessors (plain lag misses spans swallowed by an earlier long
    interval, so the flag compares against ``max(e)`` over the preceding
    frame). Scale shape: windows partition by user (bounded history),
    arithmetic is exact BIGINT epoch-micros — no timestamp diffing in
    floats, no engine-ordered accumulation."""
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    spans = events.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_ACT_SPAN_US)).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.select(
        "user_id",
        "s",
        "e",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0)
        .otherwise(1)
        .alias("new_island"),
    )
    w_sum = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ids = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_sum).alias("island")
    )
    merged = ids.groupBy("user_id", "island").agg(
        F.min("s").alias("lo"), F.max("e").alias("hi")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("hi") - F.col("lo")).cast("long").alias("active_micros"),
        F.max(F.col("hi") - F.col("lo")).cast("long").alias("longest_micros"),
    )


# ---------------------------------------------------------------------------
# Time-to-convert distribution (exact percentiles over the delay domain).
# ---------------------------------------------------------------------------
_TTC_SQL = """
WITH s AS (
  SELECT user_id, min(ts) AS st FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS pt
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.st
  GROUP BY e.user_id
),
d AS (
  SELECT CAST(floor(epoch(p.pt)) - floor(epoch(s.st)) AS BIGINT) AS delay_s
  FROM p JOIN s ON p.user_id = s.user_id
),
hist AS (
  SELECT delay_s, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY delay_s
),
cum AS (
  SELECT delay_s, n,
         sum(n) OVER (ORDER BY delay_s ROWS UNBOUNDED PRECEDING) AS cn,
         sum(n) OVER () AS tot
  FROM hist
)
SELECT CAST(max(tot) AS BIGINT) AS n_converters,
       CAST(min(CASE WHEN 2 * cn >= tot THEN delay_s END) AS BIGINT) AS p50_s,
       CAST(min(CASE WHEN 10 * cn >= 9 * tot THEN delay_s END) AS BIGINT) AS p90_s
FROM cum
"""


@register(
    "funnel_time_to_convert",
    oracle=_TTC_SQL,
    doc="Time-to-convert distribution: per-user first-signup -> first "
    "subsequent purchase delay, with EXACT discrete p50/p90 picked from the "
    "cumulative delay-seconds histogram (no interpolation, no per-group "
    "row window)",
    tags=("behavior",),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the stage joins are user-keyed min-aggs (same contract
    as funnel_stages); percentiles use the aggregate-then-window recipe —
    the window runs over the DISTINCT delay-seconds histogram (bounded by
    the delay domain, not converter count), so a billion converters still
    window over at most a few hundred thousand rows. All-BIGINT epoch
    arithmetic keeps the picks exact."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    s = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("st"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    d = p.join(s, "user_id").select(
        (
            F.floor(F.unix_timestamp("pt")) - F.floor(F.unix_timestamp("st"))
        )
        .cast("long")
        .alias("delay_s")
    )
    hist = d.groupBy("delay_s").agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("delay_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = hist.select(
        "delay_s",
        F.sum("n").over(w_cum).alias("cn"),
        F.sum("n").over(w_all).alias("tot"),
    )
    return cum.agg(
        F.max("tot").cast("long").alias("n_converters"),
        F.min(F.when(2 * F.col("cn") >= F.col("tot"), F.col("delay_s")))
        .cast("long")
        .alias("p50_s"),
        F.min(F.when(10 * F.col("cn") >= 9 * F.col("tot"), F.col("delay_s")))
        .cast("long")
        .alias("p90_s"),
    )


# ---------------------------------------------------------------------------
# Exponentially decayed activity scoring: recency-weighted ranking (the
# "trending" primitive) made EXACT — the decay factor is a power of two per
# age week, so the decayed contribution is integer right-shift arithmetic
# (c div 2^age) instead of a float pow() that drifts across engines. The
# decayed score is a sum of per-day integers, order-free and mergeable —
# at scale it maintains incrementally exactly like the sketch rollups
# (yesterday's score halves, today's counts add).
# ---------------------------------------------------------------------------
_DECAY_TOP_K = 20

_DECAY_SQL = f"""
WITH d AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, day
),
mx AS (SELECT CAST(max(day) AS BIGINT) AS max_day FROM d),
scored AS (
  SELECT user_id,
         CAST(sum(c) AS BIGINT) AS raw_count,
         CAST(sum(c // power(2, CAST((mx.max_day - day) // 7 AS BIGINT))::BIGINT)
              AS BIGINT) AS decayed_score
  FROM d CROSS JOIN mx
  GROUP BY user_id
)
SELECT user_id, raw_count, decayed_score,
       CAST(row_number() OVER (ORDER BY decayed_score DESC, user_id)
            AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {_DECAY_TOP_K}
"""


@register(
    "decayed_activity_rank",
    oracle=_DECAY_SQL,
    doc=f"Recency-weighted trending: per-user activity decayed by integer "
    "right-shift per age week (c div 2^age — exact, engine-identical, "
    f"mergeable), global top-{_DECAY_TOP_K} by decayed score",
    tags=("behavior", "timeseries"),
)
def decayed_activity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the (user, day) rollup is one keyed aggregation; the
    decay weight is a narrow per-row shift against the broadcast max-day
    scalar; scoring re-aggregates on the uniform user key with map-side
    partials. Because 2^-age decay distributes over addition, the score is
    incrementally maintainable: next week's refresh halves the stored
    score and adds the new week — no history rescan. Top-k is a
    TakeOrdered, never a full sort."""
    events = load_table(spark, sf_dir, "events")
    d = events.groupBy(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    mx = d.agg(F.max("day").cast("long").alias("max_day"))
    scored = (
        d.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("raw_count"),
            F.sum(
                F.expr("c div CAST(pow(2, (max_day - day) div 7) AS BIGINT)")
            )
            .cast("long")
            .alias("decayed_score"),
        )
    )
    from pyspark.sql import Window

    # Two-phase top-K: orderBy + limit plans as TakeOrderedAndProject
    # (per-partition top-K, driver merge) instead of shuffling EVERY user
    # into one partition to be row_number'ed — the ordering is total
    # (user_id tiebreak), so ranking the K winners is bit-identical.
    w = Window.orderBy(F.desc("decayed_score"), "user_id")
    return (
        scored.orderBy(F.desc("decayed_score"), "user_id")
        .limit(_DECAY_TOP_K)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


# ---------------------------------------------------------------------------
# Churn-label construction: the temporal-leakage-safe training-set builder.
# A cutoff splits the timeline: features come ONLY from before it (two
# trailing activity windows + tenure), the label ONLY from after it
# (no activity in the holdout week = churned). Leakage safety is by
# construction — the feature and label windows cannot overlap because both
# derive from the same broadcast cutoff — and the audit column proving the
# windows are disjoint is part of the hash.
# ---------------------------------------------------------------------------
_CHURN_SQL = """
WITH bounds AS (
  SELECT CAST(max(epoch(ts)) AS BIGINT) AS hi FROM events
),
cut AS (
  SELECT hi - 7 * 86400 AS cutoff, hi FROM bounds
),
feat AS (
  SELECT e.user_id,
         CAST(sum(CASE WHEN epoch(ts) >= c.cutoff - 7 * 86400
                        AND epoch(ts) < c.cutoff THEN 1 ELSE 0 END) AS BIGINT)
           AS n_events_w1,
         CAST(sum(CASE WHEN epoch(ts) >= c.cutoff - 14 * 86400
                        AND epoch(ts) < c.cutoff - 7 * 86400 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_events_w2,
         CAST(count(DISTINCT CASE WHEN epoch(ts) < c.cutoff
                                  THEN CAST(floor(epoch(ts) / 86400) AS BIGINT)
                             END) AS BIGINT) AS n_active_days,
         CAST(sum(CASE WHEN epoch(ts) >= c.cutoff THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after
  FROM events e CROSS JOIN cut c
  GROUP BY e.user_id
)
SELECT user_id, n_events_w1, n_events_w2, n_active_days,
       n_after = 0 AS churned,
       TRUE AS feature_window_disjoint
FROM feat
WHERE n_events_w1 + n_events_w2 + n_active_days > 0
"""


@register(
    "churn_label_builder",
    oracle=_CHURN_SQL,
    doc="Training-set construction: temporal-leakage-safe churn labels — "
    "features strictly before the cutoff (two trailing activity windows + "
    "active days), label strictly after (no events in the holdout week), "
    "disjointness audited in the value hash",
    tags=("behavior", "ml", "curation"),
)
def churn_label_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation over events with the cutoff
    scalar broadcast; every feature and the label are conditional counters
    inside the same map-side-combined pass, so building labels for any
    number of users costs one scan. The disjointness audit is structural
    (both windows derive from one cutoff) but emitting it keeps the
    contract in the hash — the leakage_safe_split stance applied to time."""
    events = load_table(spark, sf_dir, "events")
    hi = events.agg(F.max(F.unix_timestamp("ts")).cast("long").alias("hi"))
    cut = hi.select((F.col("hi") - 7 * 86400).alias("cutoff"))
    e = events.crossJoin(F.broadcast(cut)).select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("es"), "cutoff"
    )
    feat = e.groupBy("user_id").agg(
        F.sum(
            (
                (F.col("es") >= F.col("cutoff") - 7 * 86400)
                & (F.col("es") < F.col("cutoff"))
            ).cast("int")
        )
        .cast("long")
        .alias("n_events_w1"),
        F.sum(
            (
                (F.col("es") >= F.col("cutoff") - 14 * 86400)
                & (F.col("es") < F.col("cutoff") - 7 * 86400)
            ).cast("int")
        )
        .cast("long")
        .alias("n_events_w2"),
        F.countDistinct(
            F.when(
                F.col("es") < F.col("cutoff"),
                F.floor(F.col("es") / 86400).cast("long"),
            )
        )
        .cast("long")
        .alias("n_active_days"),
        F.sum((F.col("es") >= F.col("cutoff")).cast("int"))
        .cast("long")
        .alias("n_after"),
    )
    return feat.filter(
        F.col("n_events_w1") + F.col("n_events_w2") + F.col("n_active_days") > 0
    ).select(
        "user_id",
        "n_events_w1",
        "n_events_w2",
        "n_active_days",
        (F.col("n_after") == 0).alias("churned"),
        F.lit(True).alias("feature_window_disjoint"),
    )


# ---------------------------------------------------------------------------
# Subject-access export (GDPR Art. 15): the read twin of lake_user_erasure —
# everything the platform holds about a deterministic user cohort, per
# table, as counts + order-free content checksums (the md5-uint32 sum
# device). The checksum makes the export VERIFIABLE: a re-run, another
# engine, or the post-erasure world produces a provably different value.
# ---------------------------------------------------------------------------
_SAR_USER_MOD = 97  # user_id % 97 == 0 => in the request cohort

_SAR_SQL = f"""
WITH cohort AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % {_SAR_USER_MOD} = 0
),
ev AS (
  SELECT 'events' AS table_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_subjects,
         CAST(sum(CAST(('0x' || substr(md5(
               CAST(e.event_id AS VARCHAR) || '/' || e.event_type), 1, 8))
               AS BIGINT)) AS BIGINT) AS content_checksum
  FROM events e JOIN cohort c ON c.user_id = e.user_id
),
cust AS (
  SELECT 'customer' AS table_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT cu.c_custkey) AS BIGINT) AS n_subjects,
         CAST(sum(CAST(('0x' || substr(md5(
               CAST(cu.c_custkey AS VARCHAR) || '/' || cu.c_name), 1, 8))
               AS BIGINT)) AS BIGINT) AS content_checksum
  FROM customer cu JOIN cohort c ON c.user_id = cu.c_custkey
),
ord AS (
  SELECT 'orders' AS table_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_subjects,
         CAST(sum(CAST(('0x' || substr(md5(
               CAST(o.o_orderkey AS VARCHAR) || '/' || o.o_orderstatus), 1, 8))
               AS BIGINT)) AS BIGINT) AS content_checksum
  FROM orders o JOIN cohort c ON c.user_id = o.o_custkey
)
SELECT * FROM ev UNION ALL SELECT * FROM cust UNION ALL SELECT * FROM ord
"""


@register(
    "user_data_export",
    oracle=_SAR_SQL,
    doc="Subject-access export: per-table row counts, subject counts, and "
    "order-free md5 content checksums for a deterministic user cohort "
    "across events/customer/orders — the verifiable read twin of "
    "lake_user_erasure",
    tags=("behavior", "lake", "privacy"),
)
def user_data_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the cohort table is tiny and BROADCASTS into each
    per-table semi-join-shaped extract; each leg is one scan + one keyed
    join + one summary row. Order-free checksums (sum of md5-uint32 of the
    row key) mean the export verifies across engines and layouts — and
    running it after an erasure proves the erasure by checksum change."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cohort = (
        events.filter(F.col("user_id") % _SAR_USER_MOD == 0)
        .select("user_id")
        .distinct()
    )
    cohort = cohort.localCheckpoint(eager=False)  # three consumer legs

    def h(expr: str) -> F.Column:
        return F.expr(
            f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
        )

    ev = (
        events.join(F.broadcast(cohort), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_subjects"),
            F.sum(h("concat(CAST(event_id AS STRING), '/', event_type)"))
            .cast("long")
            .alias("content_checksum"),
        )
        .select(F.lit("events").alias("table_name"), "*")
    )
    cust = (
        customer.join(
            F.broadcast(cohort.withColumnRenamed("user_id", "c_custkey")),
            "c_custkey",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("c_custkey").cast("long").alias("n_subjects"),
            F.sum(h("concat(CAST(c_custkey AS STRING), '/', c_name)"))
            .cast("long")
            .alias("content_checksum"),
        )
        .select(F.lit("customer").alias("table_name"), "*")
    )
    orr = (
        orders.join(
            F.broadcast(cohort.withColumnRenamed("user_id", "o_custkey")),
            "o_custkey",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("o_custkey").cast("long").alias("n_subjects"),
            F.sum(h("concat(CAST(o_orderkey AS STRING), '/', o_orderstatus)"))
            .cast("long")
            .alias("content_checksum"),
        )
        .select(F.lit("orders").alias("table_name"), "*")
    )
    return ev.unionByName(cust).unionByName(orr)


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit: before an event extract is shared, the
# release-governance question is whether quasi-identifier combinations
# isolate individuals — a (event_type, week, value-decile) cell seen for
# only one user re-identifies that user no matter how the id column is
# masked. The audit computes, per equivalence class of the quasi-identifier
# tuple, its size and its sensitive-attribute diversity (distinct users),
# and rolls up the release-readiness numbers: cells below k, rows at risk,
# minimum cell size, minimum l-diversity. The companions are
# dp_geometric_release (noise instead of suppression) and lake_user_erasure
# (deletion after the fact).
# ---------------------------------------------------------------------------
_KANON_K = 5
_KANON_L = 3

_KANON_SQL = f"""
WITH cells AS (
  SELECT event_type,
         date_trunc('week', ts) AS week,
         CAST(least(9, CAST(floor(value) AS BIGINT) // 10) AS BIGINT) AS value_decile,
         CAST(count(*) AS BIGINT) AS cell_rows,
         CAST(count(DISTINCT user_id) AS BIGINT) AS l_div
  FROM events
  GROUP BY event_type, date_trunc('week', ts),
           CAST(least(9, CAST(floor(value) AS BIGINT) // 10) AS BIGINT)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN cell_rows < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cells_below_k,
       CAST(sum(CASE WHEN cell_rows < {_KANON_K} THEN cell_rows ELSE 0 END)
            AS BIGINT) AS rows_at_risk,
       CAST(min(cell_rows) AS BIGINT) AS min_cell_rows,
       CAST(min(l_div) AS BIGINT) AS min_l_diversity,
       CAST(sum(CASE WHEN l_div < {_KANON_L} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cells_below_l,
       min(cell_rows) >= {_KANON_K} AND min(l_div) >= {_KANON_L}
         AS release_ready
FROM cells GROUP BY event_type
"""


@register(
    "k_anonymity_audit",
    oracle=_KANON_SQL,
    doc=f"Release governance: k-anonymity (k={_KANON_K}) and l-diversity "
    f"(l={_KANON_L}) over the (type, week, value-decile) quasi-identifier "
    "— equivalence-class sizes and distinct-user diversity per cell, "
    "rolled up to cells-below-k, rows at risk, minima, and a "
    "release-ready verdict per stream",
    tags=("ext", "behavior", "privacy"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation on the quasi-identifier tuple
    (map-side partials; the distinct-user count is the only wide part and
    keys on the same tuple), then a rollup on the bounded stream
    dimension. Nothing row-sized leaves the first aggregation."""
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.least(F.lit(9), F.expr("CAST(floor(value) AS BIGINT) div 10"))
        .cast("long")
        .alias("value_decile"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cell_rows"),
        F.countDistinct("user_id").cast("long").alias("l_div"),
    )
    return cells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum((F.col("cell_rows") < _KANON_K).cast("int"))
        .cast("long")
        .alias("n_cells_below_k"),
        F.sum(F.when(F.col("cell_rows") < _KANON_K, F.col("cell_rows")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("cell_rows").cast("long").alias("min_cell_rows"),
        F.min("l_div").cast("long").alias("min_l_diversity"),
        F.sum((F.col("l_div") < _KANON_L).cast("int"))
        .cast("long")
        .alias("n_cells_below_l"),
        (
            (F.min("cell_rows") >= _KANON_K) & (F.min("l_div") >= _KANON_L)
        ).alias("release_ready"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival: the censoring-correct lifetime estimator — naive
# "retention at week t" treats still-active users as churned and biases
# every cohort downward; KM removes them from the risk set instead. A user's
# lifetime is last-week minus first-week; users whose last week IS the
# dataset's final week are CENSORED (still alive at observation end), not
# events. Hazard is exact integer ppm; the survival curve is the left-fold
# product of (n_risk - d)/n_risk over ascending offsets, computed in BOTH
# engines as the identical sequential fold over the identical ordered
# factor list (window-collected prefix array -> fold), so the doubles match
# bit-for-bit before the shared 6dp round.
# ---------------------------------------------------------------------------
_KM_SQL = """
WITH weeks AS (
  SELECT user_id,
         CAST(epoch(date_trunc('week', ts)) AS BIGINT) // 604800 AS w
  FROM events
),
users AS (
  SELECT user_id, min(w) AS first_w, max(w) AS last_w FROM weeks GROUP BY user_id
),
mx AS (SELECT max(w) AS max_w FROM weeks),
lives AS (
  SELECT first_w AS cohort_w, last_w - first_w AS t,
         last_w < mx.max_w AS churned
  FROM users, mx
),
ev AS (
  SELECT cohort_w, t,
         CAST(count(*) FILTER (WHERE churned) AS BIGINT) AS d,
         CAST(count(*) FILTER (WHERE NOT churned) AS BIGINT) AS c
  FROM lives GROUP BY cohort_w, t
),
tot AS (SELECT cohort_w, CAST(count(*) AS BIGINT) AS n_users FROM lives GROUP BY cohort_w),
risk AS (
  SELECT e.cohort_w, e.t, e.d, e.c,
         t2.n_users - CAST(COALESCE(sum(e.d + e.c) OVER (
           PARTITION BY e.cohort_w ORDER BY e.t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM ev e JOIN tot t2 ON t2.cohort_w = e.cohort_w
),
folded AS (
  SELECT cohort_w, t, d, c, n_risk,
         list(CAST(n_risk - d AS DOUBLE) / n_risk) OVER (
           PARTITION BY cohort_w ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS facs
  FROM risk
)
SELECT cohort_w, CAST(t AS BIGINT) AS t, n_risk,
       d AS n_churned, c AS n_censored,
       CAST(1000000 * d // n_risk AS BIGINT) AS hazard_ppm,
       round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), facs),
                         (a, b) -> a * b), 6) AS survival
FROM folded
"""


@register(
    "kaplan_meier_survival",
    oracle=_KM_SQL,
    doc="Kaplan-Meier cohort survival over user lifetimes — users whose "
    "last week is the dataset's final week are CENSORED (removed from the "
    "risk set), not churned; exact integer hazard ppm and a survival curve "
    "folded left over the identical ordered factor list in both engines "
    "(bit-identical doubles before the shared 6dp round)",
    tags=("ext", "behavior", "mining"),
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user-keyed min/max aggregation (uniform key), a
    bounded (cohort, offset) event table, and windows partitioned by the
    bounded cohort key — the fold consumes the window-collected prefix
    array of that TINY table, never user rows. Censoring adds no pass: it
    is a comparison against the broadcast 1-row max week."""
    events = load_table(spark, sf_dir, "events")
    weeks = events.select(
        "user_id",
        F.expr(
            "CAST(unix_timestamp(date_trunc('week', ts)) AS BIGINT) div 604800"
        ).alias("w"),
    )
    users = weeks.groupBy("user_id").agg(
        F.min("w").alias("first_w"), F.max("w").alias("last_w")
    )
    mx = weeks.agg(F.max("w").alias("max_w"))
    lives = users.crossJoin(F.broadcast(mx)).select(
        F.col("first_w").alias("cohort_w"),
        (F.col("last_w") - F.col("first_w")).alias("t"),
        (F.col("last_w") < F.col("max_w")).alias("churned"),
    )
    ev = lives.groupBy("cohort_w", "t").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(~F.col("churned"), 1).otherwise(0)).cast("long").alias("c"),
    )
    tot = lives.groupBy("cohort_w").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    w_prev = (
        Window.partitionBy("cohort_w")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        ev.join(tot, "cohort_w")
        .withColumn(
            "n_risk",
            (
                F.col("n_users")
                - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
            ).cast("long"),
        )
    )
    w_pre = (
        Window.partitionBy("cohort_w")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    folded = risk.withColumn(
        "facs",
        F.collect_list(
            (F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")
        ).over(w_pre),
    )
    return folded.select(
        "cohort_w",
        F.col("t").cast("long").alias("t"),
        "n_risk",
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.expr("CAST(1000000 * d div n_risk AS BIGINT)").alias("hazard_ppm"),
        F.round(
            F.aggregate(
                "facs", F.lit(1.0), lambda acc, x: acc * x
            ),
            6,
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Log-rank test: the significance half of the survival family — IS the
# purchaser cohort's lifetime curve different from the non-purchasers', or
# is the gap noise? At every pooled churn week: observed group-1 deaths vs
# the hypergeometric expectation d * n1/n, with variance
# d*(n1/n)*(n2/n)*(n-d)/(n-1); chi2 = (O1-E1)^2/V on 1 df. Counts are exact
# integers; the E and V accumulations are doubles summed by the SAME
# ordered left-fold in both engines (window/ordered-list + reduce), so the
# statistic matches bit-for-bit before the shared 6dp round.
# ---------------------------------------------------------------------------
_LOGRANK_SQL = """
WITH weeks AS (
  SELECT user_id,
         CAST(epoch(date_trunc('week', ts)) AS BIGINT) // 604800 AS w,
         event_type
  FROM events
),
users AS (
  SELECT user_id, min(w) AS first_w, max(w) AS last_w,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS grp1
  FROM weeks GROUP BY user_id
),
mx AS (SELECT max(w) AS max_w FROM weeks),
lives AS (
  SELECT last_w - first_w AS t, grp1,
         last_w < mx.max_w AS churned
  FROM users, mx
),
ev AS (
  SELECT t,
         CAST(count(*) FILTER (WHERE churned AND grp1 = 1) AS BIGINT) AS d1,
         CAST(count(*) FILTER (WHERE churned) AS BIGINT) AS d,
         CAST(count(*) FILTER (WHERE grp1 = 1) AS BIGINT) AS leave1,
         CAST(count(*) AS BIGINT) AS leave_all
  FROM lives GROUP BY t
),
tot AS (
  SELECT CAST(sum(grp1) AS BIGINT) AS n1_0, CAST(count(*) AS BIGINT) AS n_0
  FROM lives
),
risk AS (
  SELECT t, d1, d,
         tot.n1_0 - CAST(COALESCE(sum(leave1) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
         tot.n_0 - CAST(COALESCE(sum(leave_all) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
  FROM ev, tot
),
terms AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         list(CAST(d AS DOUBLE) * n1 / n ORDER BY t) AS e_terms,
         list(CASE WHEN n > 1 THEN
                CAST(d AS DOUBLE) * n1 / n * (n - n1) / n * (n - d) / (n - 1)
              ELSE CAST(0.0 AS DOUBLE) END ORDER BY t) AS v_terms
  FROM risk WHERE d > 0
),
tot2 AS (SELECT n1_0, n_0 FROM tot)
SELECT tot2.n1_0 AS n_group1, tot2.n_0 - tot2.n1_0 AS n_group2,
       terms.o1 AS observed1,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), e_terms),
                         (a, b) -> a + b), 6) AS expected1,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v_terms),
                         (a, b) -> a + b), 6) AS variance,
       round(
         (terms.o1 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), e_terms),
                                 (a, b) -> a + b))
         * (terms.o1 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), e_terms),
                                   (a, b) -> a + b))
         / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v_terms),
                       (a, b) -> a + b), 6) AS chi2
FROM terms, tot2
"""


@register(
    "log_rank_test",
    oracle=_LOGRANK_SQL,
    doc="Log-rank survival test (purchasers vs non-purchasers): observed "
    "group-1 churn vs the hypergeometric expectation at every pooled churn "
    "week, chi2 = (O-E)^2/V on 1 df; exact integer counts, E/V summed by "
    "the identical ordered left-fold in both engines — the significance "
    "half of the Kaplan-Meier family",
    tags=("ext", "behavior", "mining"),
)
def log_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user-keyed aggregation, then everything runs on the
    BOUNDED pooled event-week table (one row per distinct lifetime) — the
    risk-set windows and the ordered fold never see user rows. The output
    is one row."""
    events = load_table(spark, sf_dir, "events")
    weeks = events.select(
        "user_id",
        F.expr(
            "CAST(unix_timestamp(date_trunc('week', ts)) AS BIGINT) div 604800"
        ).alias("w"),
        "event_type",
    )
    users = weeks.groupBy("user_id").agg(
        F.min("w").alias("first_w"),
        F.max("w").alias("last_w"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("grp1"),
    )
    mx = weeks.agg(F.max("w").alias("max_w"))
    lives = users.crossJoin(F.broadcast(mx)).select(
        (F.col("last_w") - F.col("first_w")).alias("t"),
        "grp1",
        (F.col("last_w") < F.col("max_w")).alias("churned"),
    )
    lives = lives.localCheckpoint(eager=False)  # feeds ev AND tot
    ev = lives.groupBy("t").agg(
        F.sum(F.when(F.col("churned") & (F.col("grp1") == 1), 1).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum("grp1").cast("long").alias("leave1"),
        F.count(F.lit(1)).cast("long").alias("leave_all"),
    )
    tot = lives.agg(
        F.sum("grp1").cast("long").alias("n1_0"),
        F.count(F.lit(1)).cast("long").alias("n_0"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = ev.crossJoin(F.broadcast(tot)).select(
        "t",
        "d1",
        "d",
        (
            F.col("n1_0") - F.coalesce(F.sum("leave1").over(w_prev), F.lit(0))
        ).cast("long").alias("n1"),
        (
            F.col("n_0") - F.coalesce(F.sum("leave_all").over(w_prev), F.lit(0))
        ).cast("long").alias("n"),
    )
    terms = (
        risk.filter(F.col("d") > 0)
        .agg(
            F.sum("d1").cast("long").alias("o1"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("t").alias("t"),
                        (F.col("d").cast("double") * F.col("n1") / F.col("n")).alias(
                            "v"
                        ),
                    )
                )
            ).alias("e_structs"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("t").alias("t"),
                        F.when(
                            F.col("n") > 1,
                            F.col("d").cast("double")
                            * F.col("n1")
                            / F.col("n")
                            * (F.col("n") - F.col("n1"))
                            / F.col("n")
                            * (F.col("n") - F.col("d"))
                            / (F.col("n") - 1),
                        )
                        .otherwise(F.lit(0.0))
                        .alias("v"),
                    )
                )
            ).alias("v_structs"),
        )
    )
    fold = lambda col: F.aggregate(  # noqa: E731
        F.expr(f"transform({col}, s -> s.v)"), F.lit(0.0), lambda a, b: a + b
    )
    e1, v1 = fold("e_structs"), fold("v_structs")
    return terms.crossJoin(F.broadcast(tot)).select(
        F.col("n1_0").alias("n_group1"),
        (F.col("n_0") - F.col("n1_0")).cast("long").alias("n_group2"),
        F.col("o1").alias("observed1"),
        F.round(e1, 6).alias("expected1"),
        F.round(v1, 6).alias("variance"),
        F.round((F.col("o1") - e1) * (F.col("o1") - e1) / v1, 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Session-gap policy sweep: every sessionization (user_sessions pins 30
# minutes) hangs on one constant — the inactivity gap. This is the sheet
# that chooses it: for each candidate gap T the session count is
# 1 + #(gaps > T) per user and intra-session time is sum(gap | gap <= T),
# both derivable from ONE lag pass over per-user event times; no
# per-threshold re-sessionization, no join. The same device as
# watermark_policy_tradeoff, aimed at product analytics instead of state.
# ---------------------------------------------------------------------------
_SGS_GAPS = (300, 900, 1800, 3600)

_SGS_SQL = f"""
WITH ordered AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
),
sweep AS (
  SELECT user_id, gap_s, g.g
  FROM ordered, (VALUES {", ".join(f"({g})" for g in _SGS_GAPS)}) g(g)
),
per_user AS (
  SELECT user_id, g,
         CAST(1 + count(*) FILTER (WHERE gap_s > g) AS BIGINT) AS n_sessions,
         CAST(coalesce(sum(gap_s) FILTER (WHERE gap_s <= g), 0) AS BIGINT)
           AS intra_s,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sweep GROUP BY user_id, g
)
SELECT CAST(g AS BIGINT) AS gap_s,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(n_sessions) AS BIGINT) AS n_sessions,
       CAST(1000 * sum(n_sessions) // count(*) AS BIGINT)
         AS sessions_per_user_milli,
       CAST(sum(intra_s) AS BIGINT) AS intra_total_s,
       CAST(sum(intra_s) // sum(n_sessions) AS BIGINT) AS mean_session_s
FROM per_user GROUP BY g
"""


@register(
    "session_gap_sweep",
    oracle=_SGS_SQL,
    doc="Session-gap policy sweep: per candidate inactivity gap in "
    "{5,15,30,60} min — users, sessions (1 + gaps above T per user), "
    "sessions-per-user milli, intra-session time and mean session length, "
    "all from ONE per-user lag pass with a bounded threshold explode; the "
    "sheet that picks user_sessions' 30-minute constant",
    tags=("ext", "behavior"),
)
def session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one lag window partitioned by the uniform user key
    (partition-local sorts, no global order), a 4-way bounded explode, a
    user-keyed aggregation with map-side partials, and a bounded final
    fold per threshold. Events are scanned once; text of the sweep never
    re-sessionizes."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        (
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_s"),
    )
    sweep = ordered.select(
        "user_id",
        "gap_s",
        F.explode(
            F.array(*[F.lit(g).cast("long") for g in _SGS_GAPS])
        ).alias("g"),
    )
    per_user = sweep.groupBy("user_id", "g").agg(
        F.expr("CAST(1 + count_if(gap_s > g) AS BIGINT)").alias("n_sessions"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN gap_s <= g THEN gap_s END), 0) AS BIGINT)"
        ).alias("intra_s"),
        F.expr("CAST(count(1) AS BIGINT)").alias("n_events"),
    )
    return per_user.groupBy(F.col("g").alias("gap_s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("n_sessions").cast("long").alias("n_sessions"),
        F.expr("CAST(1000 * sum(n_sessions) div count(1) AS BIGINT)").alias(
            "sessions_per_user_milli"
        ),
        F.sum("intra_s").cast("long").alias("intra_total_s"),
        F.expr("CAST(sum(intra_s) div sum(n_sessions) AS BIGINT)").alias(
            "mean_session_s"
        ),
    )


# ---------------------------------------------------------------------------
# Preference aggregation (Copeland): the pairwise-preference analytics an
# RLHF/eval pipeline runs over comparison data. Here the "matches" are
# per-user event-type duels — for every user and every pair of event types
# the user performed, the type with the larger exact per-user value total
# wins the duel (per-row milli quantization, so the totals are
# reduction-order-free BIGINTs). Matchups aggregate duels across users;
# the Copeland score (2 per majority win, 1 per tie) ranks the types.
# ---------------------------------------------------------------------------
_COPELAND_SQL = """
WITH totals AS (
  SELECT user_id, event_type,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
  FROM events GROUP BY 1, 2
),
duels AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b,
         CASE WHEN a.v_milli > b.v_milli THEN 1 ELSE 0 END AS a_wins,
         CASE WHEN b.v_milli > a.v_milli THEN 1 ELSE 0 END AS b_wins
  FROM totals a JOIN totals b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
),
matchups AS (
  SELECT et_a, et_b,
         CAST(count(*) AS BIGINT) AS n_duels,
         CAST(sum(a_wins) AS BIGINT) AS wins_a,
         CAST(sum(b_wins) AS BIGINT) AS wins_b
  FROM duels GROUP BY 1, 2
),
sides AS (
  SELECT et_a AS event_type,
         CASE WHEN wins_a * 2 > n_duels THEN 1 ELSE 0 END AS beaten,
         CASE WHEN wins_a * 2 <= n_duels AND wins_b * 2 <= n_duels THEN 1
              ELSE 0 END AS tied
  FROM matchups
  UNION ALL
  SELECT et_b,
         CASE WHEN wins_b * 2 > n_duels THEN 1 ELSE 0 END,
         CASE WHEN wins_a * 2 <= n_duels AND wins_b * 2 <= n_duels THEN 1
              ELSE 0 END
  FROM matchups
),
scores AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_matchups,
         CAST(sum(beaten) AS BIGINT) AS n_beaten,
         CAST(sum(tied) AS BIGINT) AS n_tied,
         CAST(2 * sum(beaten) + sum(tied) AS BIGINT) AS copeland_2x
  FROM sides GROUP BY 1
)
SELECT event_type, n_matchups, n_beaten, n_tied, copeland_2x,
       CAST(rank() OVER (ORDER BY copeland_2x DESC, event_type) AS BIGINT)
         AS pref_rank
FROM scores
"""


@register(
    "preference_copeland_rank",
    oracle=_COPELAND_SQL,
    doc="Pairwise-preference aggregation: per-user event-type duels decided "
    "by exact milli-quantized value totals, rolled into cross-user matchups; "
    "Copeland scoring (2 per majority win, 1 per tie) ranks the types — the "
    "preference-data analytics layer (win matrices, tournament ranks) an "
    "RLHF comparison pipeline needs, in exact integers end to end",
    tags=("ext", "behavior", "ml"),
)
def preference_copeland_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-(user, type) totals shuffle once on the uniform
    user key; the duel self-join is per-user and bounded by the squared
    type-cardinality (a constant), never |events|^2; matchups and scores
    are bounded by the type vocabulary, so the final rank window runs on
    a handful of rows."""
    events = parallel_scan(spark, sf_dir, "events")
    totals = events.groupBy("user_id", "event_type").agg(
        F.sum(F.expr("CAST(floor(value * 1000) AS BIGINT)"))
        .cast("long")
        .alias("v_milli")
    )
    a = totals.select(
        F.col("user_id"),
        F.col("event_type").alias("et_a"),
        F.col("v_milli").alias("v_a"),
    )
    b = totals.select(
        F.col("user_id"),
        F.col("event_type").alias("et_b"),
        F.col("v_milli").alias("v_b"),
    )
    duels = a.join(b, "user_id").filter(F.col("et_a") < F.col("et_b"))
    matchups = duels.groupBy("et_a", "et_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_duels"),
        F.sum((F.col("v_a") > F.col("v_b")).cast("int")).cast("long").alias("wins_a"),
        F.sum((F.col("v_b") > F.col("v_a")).cast("int")).cast("long").alias("wins_b"),
    )
    sides = matchups.select(
        F.col("et_a").alias("event_type"),
        (F.col("wins_a") * 2 > F.col("n_duels")).cast("int").alias("beaten"),
        (
            (F.col("wins_a") * 2 <= F.col("n_duels"))
            & (F.col("wins_b") * 2 <= F.col("n_duels"))
        )
        .cast("int")
        .alias("tied"),
    ).unionAll(
        matchups.select(
            F.col("et_b").alias("event_type"),
            (F.col("wins_b") * 2 > F.col("n_duels")).cast("int").alias("beaten"),
            (
                (F.col("wins_a") * 2 <= F.col("n_duels"))
                & (F.col("wins_b") * 2 <= F.col("n_duels"))
            )
            .cast("int")
            .alias("tied"),
        )
    )
    scores = sides.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_matchups"),
        F.sum("beaten").cast("long").alias("n_beaten"),
        F.sum("tied").cast("long").alias("n_tied"),
        (F.lit(2) * F.sum("beaten") + F.sum("tied")).cast("long").alias("copeland_2x"),
    )
    w = Window.orderBy(F.col("copeland_2x").desc(), "event_type")
    return scores.select(
        "event_type",
        "n_matchups",
        "n_beaten",
        "n_tied",
        "copeland_2x",
        F.rank().over(w).cast("long").alias("pref_rank"),
    )


# ---------------------------------------------------------------------------
# Off-policy evaluation (IPS): estimate what a DIFFERENT action policy would
# have earned from logged interaction data — the counterfactual question
# every recommendation / routing experiment asks before an A/B test.
# Logged policy = the empirical per-segment action distribution; target
# policy = uniform over the segment's observed actions. With these, the
# importance-weighted estimator collapses to an exact rational:
# V_IPS = (1/k) * sum_a R_a / n_sa  (k actions, per-action reward totals),
# computed in micro fixed-point. The max importance weight per segment is
# the support/overlap diagnostic that tells you when IPS is trustworthy.
# ---------------------------------------------------------------------------
_IPS_SQL = """
WITH logged AS (
  SELECT CAST(user_id % 4 AS BIGINT) AS segment, event_type AS action,
         CAST(floor(value * 1000) AS BIGINT) AS reward_milli
  FROM events
),
sa AS (
  SELECT segment, action, CAST(count(*) AS BIGINT) AS n_sa,
         CAST(sum(reward_milli) AS BIGINT) AS r_sa
  FROM logged GROUP BY 1, 2
),
seg AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n_actions,
         CAST(sum(n_sa) AS BIGINT) AS n_logged,
         CAST(sum(r_sa) AS BIGINT) AS r_logged
  FROM sa GROUP BY 1
)
SELECT s.segment,
       CAST(max(g.n_logged) AS BIGINT) AS n_logged,
       CAST(max(g.n_actions) AS BIGINT) AS n_actions,
       CAST(1000 * max(g.r_logged) // max(g.n_logged) AS BIGINT)
         AS v_logged_micro,
       CAST(sum(1000 * s.r_sa // (g.n_actions * s.n_sa)) AS BIGINT)
         AS v_ips_micro,
       CAST(sum(1000 * s.r_sa // (g.n_actions * s.n_sa))
            - 1000 * max(g.r_logged) // max(g.n_logged) AS BIGINT)
         AS lift_micro,
       CAST(max(1000 * g.n_logged // (g.n_actions * s.n_sa)) AS BIGINT)
         AS max_weight_milli
FROM sa s JOIN seg g ON g.segment = s.segment
GROUP BY s.segment
"""


@register(
    "ips_offpolicy_eval",
    oracle=_IPS_SQL,
    doc="Off-policy evaluation: inverse-propensity-scored value of a uniform "
    "target policy from logged interactions, per user segment — behavior "
    "propensities are the empirical per-segment action rates, so the IPS "
    "estimator collapses to an exact rational computed in micro fixed-point; "
    "reports the logged-policy baseline, the counterfactual estimate, the "
    "lift, and the max importance weight (the support diagnostic that says "
    "when the estimate is trustworthy)",
    tags=("ext", "behavior", "ml", "stats"),
)
def ips_offpolicy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation on the uniform (segment, action)
    key, a bounded per-segment rollup, and a broadcast join back — the raw
    log is scanned once and never re-shuffled; every estimator term is an
    integer division over per-action totals."""
    events = parallel_scan(spark, sf_dir, "events")
    logged = events.select(
        (F.col("user_id") % 4).cast("long").alias("segment"),
        F.col("event_type").alias("action"),
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("reward_milli"),
    )
    sa = logged.groupBy("segment", "action").agg(
        F.count(F.lit(1)).cast("long").alias("n_sa"),
        F.sum("reward_milli").cast("long").alias("r_sa"),
    )
    seg = sa.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_actions"),
        F.sum("n_sa").cast("long").alias("n_logged"),
        F.sum("r_sa").cast("long").alias("r_logged"),
    )
    joined = sa.join(F.broadcast(seg), "segment")
    return joined.groupBy("segment").agg(
        F.max("n_logged").cast("long").alias("n_logged"),
        F.max("n_actions").cast("long").alias("n_actions"),
        F.expr("CAST(1000 * max(r_logged) div max(n_logged) AS BIGINT)").alias(
            "v_logged_micro"
        ),
        F.expr(
            "CAST(sum(1000 * r_sa div (n_actions * n_sa)) AS BIGINT)"
        ).alias("v_ips_micro"),
        F.expr(
            "CAST(sum(1000 * r_sa div (n_actions * n_sa))"
            " - 1000 * max(r_logged) div max(n_logged) AS BIGINT)"
        ).alias("lift_micro"),
        F.expr(
            "CAST(max(1000 * n_logged div (n_actions * n_sa)) AS BIGINT)"
        ).alias("max_weight_milli"),
    )


# ---------------------------------------------------------------------------
# Anonymization generalization ladder: k_anonymity_audit says WHETHER a
# release fails; this sweep says WHICH generalization fixes it. Three QI
# granularity levels — (day, value-decile) -> (week, value-quintile) ->
# (month, any-value) — are audited in one pass (the melt device: each row
# contributes one cell key per level), and the finest level that satisfies
# both k and l is flagged per stream, with the utility cost (cell count
# collapse) visible across rows. The lattice walk every privacy-release
# pipeline does by hand, as a query.
# ---------------------------------------------------------------------------
_LADDER_SQL = f"""
WITH melted AS (
  SELECT 1 AS level, event_type, user_id,
         date_trunc('day', ts) AS qi_t,
         CAST(least(9, CAST(floor(value) AS BIGINT) // 10) AS BIGINT) AS qi_v
  FROM events
  UNION ALL
  SELECT 2, event_type, user_id, date_trunc('week', ts),
         CAST(least(4, CAST(floor(value) AS BIGINT) // 20) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 3, event_type, user_id, date_trunc('month', ts), CAST(0 AS BIGINT)
  FROM events
),
cells AS (
  SELECT level, event_type, qi_t, qi_v,
         CAST(count(*) AS BIGINT) AS cell_rows,
         CAST(count(DISTINCT user_id) AS BIGINT) AS l_div
  FROM melted GROUP BY 1, 2, 3, 4
),
levels AS (
  SELECT level, event_type,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(min(cell_rows) AS BIGINT) AS min_cell_rows,
         CAST(min(l_div) AS BIGINT) AS min_l_diversity,
         CAST(sum(CASE WHEN cell_rows < {_KANON_K} THEN cell_rows ELSE 0 END)
              AS BIGINT) AS rows_at_risk,
         min(cell_rows) >= {_KANON_K} AND min(l_div) >= {_KANON_L} AS passes
  FROM cells GROUP BY 1, 2
)
SELECT CAST(level AS BIGINT) AS level, event_type, n_cells, min_cell_rows,
       min_l_diversity, rows_at_risk, passes,
       level = min(CASE WHEN passes THEN level END)
                 OVER (PARTITION BY event_type) AS chosen
FROM levels
"""


@register(
    "anonymization_ladder",
    oracle=_LADDER_SQL,
    doc="Privacy generalization lattice: the (day, decile) -> (week, "
    "quintile) -> (month, any) quasi-identifier coarsening ladder audited "
    "in one melted pass against the k/l thresholds of k_anonymity_audit; "
    "per (stream, level) the cell minima, rows at risk, pass verdict, and "
    "the finest passing level flagged — the release decision, not just "
    "the failure report",
    tags=("ext", "behavior", "privacy"),
)
def anonymization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the 3-way melt happens narrowly per row (stack — one
    scan, not three), the cell aggregation keys on the uniform (level,
    stream, qi) tuple, and the chosen-level window runs on the bounded
    (streams x 3) rollup only."""
    events = parallel_scan(spark, sf_dir, "events")
    melted = events.select(
        "event_type",
        "user_id",
        F.expr(
            "stack(3,"
            " 1, date_trunc('day', ts),"
            "    CAST(least(9, CAST(floor(value) AS BIGINT) div 10) AS BIGINT),"
            " 2, date_trunc('week', ts),"
            "    CAST(least(4, CAST(floor(value) AS BIGINT) div 20) AS BIGINT),"
            " 3, date_trunc('month', ts), CAST(0 AS BIGINT)"
            ") AS (level, qi_t, qi_v)"
        ),
    )
    cells = melted.groupBy("level", "event_type", "qi_t", "qi_v").agg(
        F.count(F.lit(1)).cast("long").alias("cell_rows"),
        F.countDistinct("user_id").cast("long").alias("l_div"),
    )
    levels = cells.groupBy("level", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("cell_rows").cast("long").alias("min_cell_rows"),
        F.min("l_div").cast("long").alias("min_l_diversity"),
        F.sum(
            F.when(F.col("cell_rows") < _KANON_K, F.col("cell_rows")).otherwise(0)
        )
        .cast("long")
        .alias("rows_at_risk"),
        (
            (F.min("cell_rows") >= _KANON_K) & (F.min("l_div") >= _KANON_L)
        ).alias("passes"),
    )
    w = Window.partitionBy("event_type")
    return levels.select(
        F.col("level").cast("long").alias("level"),
        "event_type",
        "n_cells",
        "min_cell_rows",
        "min_l_diversity",
        "rows_at_risk",
        "passes",
        (
            F.col("level")
            == F.min(F.when(F.col("passes"), F.col("level"))).over(w)
        ).alias("chosen"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference-strength MLE (Zermelo 1929; the MM iteration of
# Hunter 2004) over the same per-user event-type duels the Copeland rank
# uses — where Copeland counts majority wins, BT fits a latent strength
# p_i such that P(i beats j) = p_i / (p_i + p_j): the model a reward-model
# / eval pipeline fits over pairwise comparison data.
#
# Cross-engine exactness: the MM update is run in FIXED-POINT integers
# (strengths in 1e-6 units, per-pair terms floored at 1e-12 scale) for a
# fixed 12 iterations, so every engine computes the identical integer
# sequence — no float summation order anywhere. Matchups get Laplace
# smoothing (+1 win each side, +2 duels) so the comparison graph is
# connected and every strength is positive.
# ---------------------------------------------------------------------------
_BT_SCALE = 10**6
_BT_BIG = 10**12
_BT_ITERS = 12

_BT_MATCHUP_CTES = """
WITH totals AS (
  SELECT user_id, event_type,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
  FROM events GROUP BY 1, 2
),
duels AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b,
         CASE WHEN a.v_milli > b.v_milli THEN 1 ELSE 0 END AS a_wins,
         CASE WHEN b.v_milli > a.v_milli THEN 1 ELSE 0 END AS b_wins
  FROM totals a JOIN totals b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
),
matchups AS MATERIALIZED (
  SELECT et_a, et_b,
         CAST(count(*) AS BIGINT) AS n_duels,
         CAST(sum(a_wins) AS BIGINT) AS wins_a,
         CAST(sum(b_wins) AS BIGINT) AS wins_b
  FROM duels GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT et_a AS i, et_b AS j, wins_a AS w_raw,
         CAST(wins_a + 1 AS BIGINT) AS w, CAST(n_duels + 2 AS BIGINT) AS n,
         n_duels
  FROM matchups
  UNION ALL
  SELECT et_b, et_a, wins_b,
         CAST(wins_b + 1 AS BIGINT), CAST(n_duels + 2 AS BIGINT), n_duels
  FROM matchups
),
nitems AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n FROM pairs),
p0 AS MATERIALIZED (
  SELECT DISTINCT i AS item, CAST({scale} AS BIGINT) AS p FROM pairs
)"""


def _bt_oracle_sql() -> str:
    """Unrolled fixed-point MM iterations as MATERIALIZED CTEs (each state
    is referenced twice per step — materialization keeps the plan linear
    in the iteration count instead of exponential)."""
    ctes = [_BT_MATCHUP_CTES.format(scale=_BT_SCALE)]
    for k in range(_BT_ITERS):
        ctes.append(
            f""",
r{k} AS MATERIALIZED (
  SELECT pr.i AS item,
         CAST(CAST(sum(pr.w) AS HUGEINT) * {_BT_BIG}
              // sum(CAST(pr.n AS HUGEINT) * {_BT_BIG} // (pi.p + pj.p))
              AS BIGINT) AS praw
  FROM pairs pr
  JOIN p{k} pi ON pi.item = pr.i
  JOIN p{k} pj ON pj.item = pr.j
  GROUP BY pr.i
),
p{k + 1} AS MATERIALIZED (
  SELECT r.item,
         CAST(greatest(1, CAST(r.praw AS HUGEINT) * n.n * {_BT_SCALE}
                          // (SELECT sum(praw) FROM r{k})) AS BIGINT) AS p
  FROM r{k} r CROSS JOIN nitems n
)"""
        )
    ctes.append(
        f"""
SELECT s.item AS event_type,
       CAST(s.n_opponents AS BIGINT) AS n_opponents,
       CAST(s.n_duels AS BIGINT) AS n_duels,
       CAST(s.n_wins AS BIGINT) AS n_wins,
       p.p AS bt_strength_ppm,
       CAST(rank() OVER (ORDER BY p.p DESC, s.item) AS BIGINT) AS bt_rank
FROM (
  SELECT i AS item, count(*) AS n_opponents, sum(n_duels) AS n_duels,
         sum(w_raw) AS n_wins
  FROM pairs GROUP BY i
) s JOIN p{_BT_ITERS} p ON p.item = s.item
"""
    )
    return "".join(ctes)


def _bt_fixed_point(
    matchups: list, iters: int = _BT_ITERS
) -> dict[str, int]:
    """The identical integer MM sequence the oracle runs, on the collected
    BOUNDED matchup table (<= C(|type vocab|, 2) rows). Integer adds
    commute exactly, so collect order is irrelevant."""
    pairs = []
    for a, b, n, wa, wb in matchups:
        pairs.append((a, b, wa + 1, n + 2))
        pairs.append((b, a, wb + 1, n + 2))
    items = sorted({i for i, _, _, _ in pairs})
    p = {i: _BT_SCALE for i in items}
    for _ in range(iters):
        denom = {i: 0 for i in items}
        wins = {i: 0 for i in items}
        for i, j, w, n in pairs:
            denom[i] += (n * _BT_BIG) // (p[i] + p[j])
            wins[i] += w
        praw = {i: (wins[i] * _BT_BIG) // denom[i] for i in items}
        s = sum(praw.values())
        p = {
            i: max(1, (praw[i] * len(items) * _BT_SCALE) // s) for i in items
        }
    return p


@register(
    "bradley_terry_rank",
    oracle=_bt_oracle_sql(),
    doc="Bradley-Terry strength MLE over per-user event-type duels: 12 "
    "fixed-point integer MM iterations (Hunter 2004) on the Laplace-"
    "smoothed matchup table; per type its raw duel record, the fitted "
    "strength in 1e-6 units (P(i beats j) = p_i/(p_i+p_j)), and the "
    "strength rank — the preference-model fit an RLHF comparison pipeline "
    "runs where Copeland only counts majority wins",
    tags=("ext", "behavior", "ml"),
)
def bradley_terry_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-(user, type) totals shuffle once on the uniform
    user key; the duel self-join is per-user and bounded by the squared
    type vocabulary — identical to `preference_copeland_rank` up to the
    matchup table. That table is BOUNDED METADATA (<= C(|V|, 2) rows, |V|
    = event-type vocabulary), so the MM iterations run driver-side on the
    collected aggregate — the k-means/PCA bounded-iteration pattern — and
    the fitted strengths broadcast back onto the per-item aggregate. No
    iteration ever touches raw events."""
    events = parallel_scan(spark, sf_dir, "events")
    totals = events.groupBy("user_id", "event_type").agg(
        F.sum(F.expr("CAST(floor(value * 1000) AS BIGINT)"))
        .cast("long")
        .alias("v_milli")
    )
    a = totals.select(
        "user_id",
        F.col("event_type").alias("et_a"),
        F.col("v_milli").alias("v_a"),
    )
    b = totals.select(
        "user_id",
        F.col("event_type").alias("et_b"),
        F.col("v_milli").alias("v_b"),
    )
    duels = a.join(b, "user_id").filter(F.col("et_a") < F.col("et_b"))
    matchups = duels.groupBy("et_a", "et_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_duels"),
        F.sum((F.col("v_a") > F.col("v_b")).cast("int"))
        .cast("long")
        .alias("wins_a"),
        F.sum((F.col("v_b") > F.col("v_a")).cast("int"))
        .cast("long")
        .alias("wins_b"),
    )
    matchups = matchups.localCheckpoint(eager=False)  # collect + sides legs

    rows = [
        (r.et_a, r.et_b, r.n_duels, r.wins_a, r.wins_b)
        for r in matchups.collect()  # bounded: <= C(|type vocab|, 2) rows
    ]
    if not rows:
        return spark.createDataFrame(
            [],
            "event_type string, n_opponents long, n_duels long, "
            "n_wins long, bt_strength_ppm long, bt_rank long",
        )
    fitted = _bt_fixed_point(rows)
    strengths = spark.createDataFrame(
        [(k, v) for k, v in sorted(fitted.items())],
        "item string, bt_strength_ppm long",
    )

    sides = matchups.select(
        F.col("et_a").alias("item"),
        F.col("n_duels"),
        F.col("wins_a").alias("n_wins"),
    ).unionAll(
        matchups.select(
            F.col("et_b").alias("item"),
            F.col("n_duels"),
            F.col("wins_b").alias("n_wins"),
        )
    )
    per_item = sides.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_opponents"),
        F.sum("n_duels").cast("long").alias("n_duels"),
        F.sum("n_wins").cast("long").alias("n_wins"),
    )
    w = Window.orderBy(F.col("bt_strength_ppm").desc(), "item")
    return per_item.join(F.broadcast(strengths), "item").select(
        F.col("item").alias("event_type"),
        "n_opponents",
        "n_duels",
        "n_wins",
        "bt_strength_ppm",
        F.rank().over(w).cast("long").alias("bt_rank"),
    )


# ---------------------------------------------------------------------------
# Journey surprisal under the fitted first-order Markov chain: score each
# user's event path by how improbable its transitions are under the
# corpus-wide transition matrix — the behavioral analogue of the CCNet
# unigram quality gate (doc_surprisal_score), and the standard anomalous-
# session screen. Integer-exact: per-edge cost is
# floor(log2(row_total / edge_count)) bits via the shared
# ``length(bin(a // b)) - 1`` device.
# ---------------------------------------------------------------------------
_JOURNEY_SURPRISAL_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
),
edges AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
rows_ AS (
  SELECT from_type, CAST(sum(c) AS BIGINT) AS row_total
  FROM edges GROUP BY from_type
),
costs AS (
  SELECT e.from_type, e.to_type,
         CAST(length(bin(r.row_total // e.c)) - 1 AS BIGINT) AS bits
  FROM edges e JOIN rows_ r ON r.from_type = e.from_type
)
SELECT s.user_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(sum(c.bits) AS BIGINT) AS sum_bits,
       CAST(1000000 * sum(c.bits) // count(*) AS BIGINT) AS score_micro_bits
FROM seq s JOIN costs c
  ON c.from_type = s.from_type AND c.to_type = s.to_type
WHERE s.to_type IS NOT NULL
GROUP BY s.user_id
"""


@register(
    "journey_markov_surprisal",
    oracle=_JOURNEY_SURPRISAL_SQL,
    doc="Anomalous-session screen: per-user journey surprisal under the "
    "corpus-fitted first-order Markov chain — integer floor-log2 bits per "
    "transition (conditional on the from-state row total), summed and "
    "averaged per user in micro-units; the behavioral twin of the unigram "
    "doc-quality gate",
    tags=("ext", "behavior"),
)
def journey_markov_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user-keyed window builds the transition stream
    (uniform key); the transition matrix is bounded by the squared type
    vocabulary and BROADCASTS into the scoring pass, so the hot edges
    ('view -> view' at corpus scale) never concentrate on a reducer; the
    final aggregation shuffles on the uniform user key."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .localCheckpoint(eager=False)  # feeds the edge fit AND the scoring
    )
    edges = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows_ = edges.groupBy("from_type").agg(
        F.sum("c").cast("long").alias("row_total")
    )
    costs = edges.join(rows_, "from_type").select(
        "from_type",
        "to_type",
        (F.length(F.expr("bin(row_total div c)")) - 1)
        .cast("long")
        .alias("bits"),
    )
    return (
        seq.join(F.broadcast(costs), ["from_type", "to_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum("bits").cast("long").alias("sum_bits"),
            F.expr("CAST(1000000 * sum(bits) div count(1) AS BIGINT)").alias(
                "score_micro_bits"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Absorbing-chain funnel analytics: treat 'purchase' as the absorbing
# state of the user-journey Markov chain and compute, per transient event
# type, the K-step-truncated absorption probability and expected
# steps-to-purchase — the fundamental-matrix quantities ((I-Q)^-1 columns)
# evaluated by K fixed-point sweeps t' = 1 + Q t / a' = R + Q a, which is
# exactly how they're computed at scale anyway (no matrix inversion). All
# arithmetic is integer ppm/micro fixed-point: each term is floored before
# the order-free BIGINT sum, so both engines produce the identical
# sequence. Transitions OUT of 'purchase' are discarded (the absorbing
# redefinition); truncation at K makes the quantities well-defined even
# for users who never convert.
# ---------------------------------------------------------------------------
_ABSORB_STATE = "purchase"
_ABSORB_ITERS = 16
_ABSORB_SCALE = 10**6

_ABSORB_MATRIX_CTES = f"""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
),
edges AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM seq
  WHERE to_type IS NOT NULL AND from_type <> '{_ABSORB_STATE}'
  GROUP BY from_type, to_type
),
rows_ AS (
  SELECT from_type, CAST(sum(c) AS BIGINT) AS row_total
  FROM edges GROUP BY from_type
),
q AS MATERIALIZED (
  SELECT e.from_type AS src, e.to_type AS dst,
         CAST({_ABSORB_SCALE} * e.c // r.row_total AS BIGINT) AS p_ppm
  FROM edges e JOIN rows_ r ON r.from_type = e.from_type
),
states AS MATERIALIZED (SELECT DISTINCT src AS state FROM q),
it0 AS (
  SELECT state, CAST(0 AS BIGINT) AS t_micro, CAST(0 AS BIGINT) AS a_ppm
  FROM states
)"""


def _absorb_iter_sql(k: int) -> str:
    return f""",
it{k + 1} AS MATERIALIZED (
  SELECT s.state,
         CAST({_ABSORB_SCALE} + coalesce(sum(
           CASE WHEN q.dst <> '{_ABSORB_STATE}'
                THEN q.p_ppm * p.t_micro // {_ABSORB_SCALE} END), 0)
           AS BIGINT) AS t_micro,
         CAST(coalesce(sum(
           CASE WHEN q.dst = '{_ABSORB_STATE}' THEN q.p_ppm
                ELSE q.p_ppm * p.a_ppm // {_ABSORB_SCALE} END), 0)
           AS BIGINT) AS a_ppm
  FROM states s
  LEFT JOIN q ON q.src = s.state
  LEFT JOIN it{k} p ON p.state = q.dst
  GROUP BY s.state
)"""


_ABSORB_SQL = (
    _ABSORB_MATRIX_CTES
    + "".join(_absorb_iter_sql(k) for k in range(_ABSORB_ITERS))
    + f"""
SELECT s.state AS from_type,
       r.row_total AS n_out_transitions,
       CAST(coalesce((SELECT p_ppm FROM q
                      WHERE q.src = s.state
                        AND q.dst = '{_ABSORB_STATE}'), 0) AS BIGINT)
         AS p_direct_purchase_ppm,
       f.a_ppm AS absorb_prob_ppm,
       f.t_micro AS exp_steps_micro
FROM states s
JOIN rows_ r ON r.from_type = s.state
JOIN it{_ABSORB_ITERS} f ON f.state = s.state
"""
)


def _absorb_fixed_point(
    q: dict[tuple[str, str], int], iters: int = _ABSORB_ITERS
) -> dict[str, tuple[int, int]]:
    """The identical integer sweep on the collected BOUNDED matrix:
    state -> (t_micro, a_ppm) after ``iters`` rounds."""
    states = sorted({s for s, _ in q})
    t = {s: 0 for s in states}
    a = {s: 0 for s in states}
    for _ in range(iters):
        nt, na = {}, {}
        for s in states:
            tsum = 0
            asum = 0
            for (src, dst), p in q.items():
                if src != s:
                    continue
                if dst == _ABSORB_STATE:
                    asum += p
                else:
                    tsum += p * t.get(dst, 0) // _ABSORB_SCALE
                    asum += p * a.get(dst, 0) // _ABSORB_SCALE
            nt[s] = _ABSORB_SCALE + tsum
            na[s] = asum
        t, a = nt, na
    return {s: (t[s], a[s]) for s in states}


@register(
    "funnel_absorbing_markov",
    oracle=_ABSORB_SQL,
    doc=f"Absorbing-chain funnel: with '{_ABSORB_STATE}' absorbing, the "
    f"{_ABSORB_ITERS}-step-truncated absorption probability and expected "
    "steps-to-purchase per starting event type — fundamental-matrix "
    "quantities by integer ppm fixed-point sweeps (t' = 1 + Qt, "
    "a' = R + Qa), engine-exact with zero floats",
    tags=("ext", "behavior", "ml"),
)
def funnel_absorbing_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user-keyed window + one bounded-key aggregation
    build the ppm transition matrix (<= |type vocab|^2 rows — bounded
    metadata, collected like the BT/k-means iterations); the sweeps run
    driver-side on that aggregate and the results broadcast back onto the
    per-state row. No iteration touches raw events."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(
        F.col("to_type").isNotNull()
        & (F.col("from_type") != _ABSORB_STATE)
    )
    edges = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows_ = edges.groupBy("from_type").agg(
        F.sum("c").cast("long").alias("row_total")
    )
    rows_ = rows_.localCheckpoint(eager=False)  # feeds q AND the output
    qdf = edges.join(rows_, "from_type").select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.expr(f"CAST({_ABSORB_SCALE} * c div row_total AS BIGINT)").alias(
            "p_ppm"
        ),
    )
    q_rows = qdf.collect()  # bounded: <= |event-type vocab|^2 rows
    q = {(r.src, r.dst): int(r.p_ppm) for r in q_rows}
    if not q:
        return spark.createDataFrame(
            [],
            "from_type string, n_out_transitions long, "
            "p_direct_purchase_ppm long, absorb_prob_ppm long, "
            "exp_steps_micro long",
        )
    fitted = _absorb_fixed_point(q)
    direct = {s: q.get((s, _ABSORB_STATE), 0) for s, _ in fitted.items()}
    res = spark.createDataFrame(
        [
            (s, direct[s], a_ppm, t_micro)
            for s, (t_micro, a_ppm) in sorted(fitted.items())
        ],
        "from_type string, p_direct_purchase_ppm long, "
        "absorb_prob_ppm long, exp_steps_micro long",
    )
    return rows_.join(F.broadcast(res), "from_type").select(
        "from_type",
        F.col("row_total").alias("n_out_transitions"),
        "p_direct_purchase_ppm",
        "absorb_prob_ppm",
        "exp_steps_micro",
    )


# ---------------------------------------------------------------------------
# Exact pass@k estimation (the unbiased estimator of Chen et al. 2021,
# "Evaluating LLMs Trained on Code": pass@k = 1 - C(n-c,k)/C(n,k)) over an
# (entity, n samples, c successes) table — here per user with events as
# samples and purchases as successes: "P(a random k-subset of this user's
# interactions contains a conversion)", the same math an eval harness
# runs per task. The hypergeometric ratio is computed as a STEPWISE-
# FLOORED micro-probability — f_0 = 1e6, f_{j+1} = f_j*(n-c-j) div (n-j)
# — so every intermediate stays under 1e12 (BIGINT-safe at ANY n, unlike
# the naive factorial products) and both engines floor identically.
# ---------------------------------------------------------------------------
_PASSK_KS = (1, 5, 10)
_PASSK_SCALE = 10**6


def _passk_fail_expr(k: int, div: str) -> str:
    """fail@k in micro-units via the stepwise-floored product."""
    e = f"CAST({_PASSK_SCALE} AS BIGINT)"
    for j in range(k):
        e = f"({e} * greatest(0, n - c - {j}) {div} (n - {j}))"
    return e


def _passk_sql() -> str:
    legs = []
    for k in _PASSK_KS:
        legs.append(f"""
SELECT {k} AS k,
       CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(sum(n) AS BIGINT) AS n_samples,
       CAST(sum(c) AS BIGINT) AS n_successes,
       CAST(sum({_PASSK_SCALE} - {_passk_fail_expr(k, '//')}) // count(*)
            AS BIGINT) AS mean_pass_ppm
FROM tasks WHERE n >= {k}""")
    return (
        """
WITH tasks AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events GROUP BY user_id
)"""
        + " UNION ALL ".join(legs)
    )


@register(
    "pass_at_k_eval",
    oracle=_passk_sql(),
    doc="Exact pass@k (Chen et al. 2021 unbiased hypergeometric estimator) "
    "over the per-user (n interactions, c conversions) table for k in "
    f"{_PASSK_KS} — stepwise-floored integer micro-probabilities keep "
    "every intermediate BIGINT-safe at any n; per k the task count, "
    "sample/success totals, and the mean pass@k in ppm",
    tags=("ext", "behavior", "eval"),
)
def pass_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE uniform user-keyed aggregation builds the task
    table; each k-leg is a bounded arithmetic projection + single-row
    aggregate over it (the task table is |users|-sized, the output is
    |ks| rows). No windows, no joins, no floats."""
    events = load_table(spark, sf_dir, "events")
    tasks = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("c"),
    )
    tasks = tasks.localCheckpoint(eager=False)  # one compute, |ks| legs
    legs = []
    for k in _PASSK_KS:
        legs.append(
            tasks.filter(F.col("n") >= k).agg(
                F.lit(k).cast("int").alias("k"),
                F.count(F.lit(1)).cast("long").alias("n_tasks"),
                F.sum("n").cast("long").alias("n_samples"),
                F.sum("c").cast("long").alias("n_successes"),
                F.expr(
                    f"CAST(sum({_PASSK_SCALE} - {_passk_fail_expr(k, 'div')})"
                    " div count(1) AS BIGINT)"
                ).alias("mean_pass_ppm"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# Bootstrap CI on pass@k: the deterministic Poisson bootstrap (the
# bootstrap_ci_poisson device — md5-inverse-CDF weights, one weighted
# pass, never B scans) composed over the pass@k estimator, paired across
# k (the same per-(task, replicate) draw reweights every k), giving the
# error bars an eval harness quotes next to the point estimate.
# ---------------------------------------------------------------------------
_PKB_B = 64


def _pkb_sql() -> str:
    from amazon_kinesis_data_streams_health_check_spark.plans.mining_queries import (
        _boot_weight_case,
    )

    u32 = (
        f"CAST(('0x' || substr(md5(CAST(f.user_id * {_PKB_B} + b AS VARCHAR)),"
        " 1, 8)) AS BIGINT)"
    )
    legs = []
    for k in _PASSK_KS:
        legs.append(f"""
SELECT {k} AS k,
       pt{k}.n_tasks, pt{k}.mean_pass_ppm,
       ci{k}.n_replicates,
       CAST(ci{k}.ms[2] AS BIGINT) AS ci_lo_ppm,
       CAST(ci{k}.ms[{_PKB_B - 1}] AS BIGINT) AS ci_hi_ppm
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_tasks,
         CAST(sum(pass_ppm) // count(*) AS BIGINT) AS mean_pass_ppm
  FROM scored{k}
) pt{k} CROSS JOIN (
  SELECT CAST(count(*) AS BIGINT) AS n_replicates,
         list_sort(list(mean_ppm)) AS ms
  FROM (
    SELECT b, CAST(sum(wt * pass_ppm) // sum(wt) AS BIGINT) AS mean_ppm
    FROM (
      SELECT s.pass_ppm, f.b,
             {_boot_weight_case(u32)} AS wt
      FROM scored{k} s
      JOIN (SELECT user_id, unnest(range(0, {_PKB_B})) AS b
            FROM tasks) f ON f.user_id = s.user_id
    ) GROUP BY b HAVING sum(wt) > 0
  )
) ci{k}""")
    scored = ",".join(
        f"""
scored{k} AS MATERIALIZED (
  SELECT user_id, {_PASSK_SCALE} - {_passk_fail_expr(k, '//')} AS pass_ppm
  FROM tasks WHERE n >= {k}
)"""
        for k in _PASSK_KS
    )
    return (
        """
WITH tasks AS MATERIALIZED (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events GROUP BY user_id
),"""
        + scored
        + " ".join(f"{'' if i == 0 else 'UNION ALL'}{leg}" for i, leg in enumerate(legs))
    )


@register(
    "pass_at_k_bootstrap_ci",
    oracle=_pkb_sql(),
    doc=f"Error bars for pass@k: {_PKB_B} deterministic md5-Poisson "
    "bootstrap replicates of the mean pass@k (paired draws across k in "
    f"{_PASSK_KS}) in ONE weighted pass — point estimate with ~95% "
    "percentile CI per k, the confidence sheet an eval harness quotes",
    tags=("ext", "behavior", "eval", "stats"),
)
def pass_at_k_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the task table is one uniform user-keyed aggregation;
    each k-leg fans it x{_PKB_B} with a narrow constant-array explode (no
    shuffle), aggregates replicate means on the uniform b key, and
    collects exactly {_PKB_B} integers — bounded state. Never {_PKB_B}
    scans; weights are md5-inverse-CDF draws so any partitioning or retry
    reproduces the identical resample."""
    from amazon_kinesis_data_streams_health_check_spark.plans.mining_queries import (
        _boot_weight_case,
    )

    events = load_table(spark, sf_dir, "events")
    tasks = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("c"),
    )
    tasks = tasks.localCheckpoint(eager=False)  # one compute, 2*|ks| legs
    u32 = (
        f"CAST(conv(substr(md5(CAST(user_id * {_PKB_B} + b AS STRING)), 1, 8),"
        " 16, 10) AS BIGINT)"
    )
    legs = []
    for k in _PASSK_KS:
        scored = tasks.filter(F.col("n") >= k).select(
            "user_id",
            F.expr(
                f"CAST({_PASSK_SCALE} - {_passk_fail_expr(k, 'div')} AS BIGINT)"
            ).alias("pass_ppm"),
        )
        scored = scored.localCheckpoint(eager=False)  # point AND replicates
        pt = scored.agg(
            F.count(F.lit(1)).cast("long").alias("n_tasks"),
            F.expr("CAST(sum(pass_ppm) div count(1) AS BIGINT)").alias(
                "mean_pass_ppm"
            ),
        )
        fan = scored.select(
            "user_id",
            "pass_ppm",
            F.explode(F.expr(f"sequence(0, {_PKB_B - 1})")).alias("b"),
        )
        reps = (
            fan.select(
                "b",
                "pass_ppm",
                F.expr(_boot_weight_case(u32)).alias("wt"),
            )
            .groupBy("b")
            .agg(
                F.expr("CAST(sum(wt * pass_ppm) div sum(wt) AS BIGINT)").alias(
                    "mean_ppm"
                ),
                F.sum("wt").alias("sw"),
            )
            .filter(F.col("sw") > 0)
        )
        ci = reps.agg(
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
            F.array_sort(F.collect_list("mean_ppm")).alias("ms"),
        )
        legs.append(
            pt.crossJoin(F.broadcast(ci)).select(
                F.lit(k).cast("int").alias("k"),
                "n_tasks",
                "mean_pass_ppm",
                "n_replicates",
                F.element_at("ms", 2).cast("long").alias("ci_lo_ppm"),
                F.element_at("ms", _PKB_B - 1).cast("long").alias("ci_hi_ppm"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out
