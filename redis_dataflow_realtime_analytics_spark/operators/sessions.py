"""Event-time window extensions beyond the reference's tumbling minutes:
sliding (hopping) windows, gap-based session windows, and a grouped
Arrow/pandas feature extractor.

The reference only has 1-minute tumbling buckets encoded in Redis keys
(MetricsCalculationPipeline.java:237-243); sliding/session windows are the
natural Spark extensions of the same event-time model (SURVEY §2.5
"no session or sliding windows" → engine extension).

Scale notes:
* ``sliding_visits``: ``window(ts, '5 min', '1 min')`` replicates each
  event into 5 window assignments *logically*; Spark expands then
  partially aggregates map-side, so the shuffle carries per-(window)
  partials only.
* ``user_sessions``: ``session_window`` is a built-in stateful operator —
  in batch it sorts within user partitions; the shuffle is keyed by
  user_id (the natural session key at any scale).
* ``user_event_features``: ``applyInPandas`` — Arrow-batched grouped map,
  the designated slow path for logic SQL can't express comfortably
  (here: per-user median inter-arrival). State is one group in memory at
  a time; keys hash-partition across executors.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import normalize_events, read_events

SESSION_GAP_MINUTES = 30
SESSION_GAP = f"{SESSION_GAP_MINUTES} minutes"
#: A gap shorter than this (µs) counts as a rapid repeat.
RAPID_GAP_US = 1_000_000
#: Minutes after an exposure within which a conversion counts.
FUNNEL_HORIZON_MINUTES = 5


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_events(read_events(spark, sf_dir))


def sliding_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visits per 5-minute window hopping every minute: (window_start, visits)."""
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count("*").alias("visits"))
        .select(F.col("w.start").alias("window_start"), "visits")
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: events of a user belong to one session
    while consecutive gaps stay under 30 minutes.

    Output: (user_id, session_start, session_end, n_events) where
    session_end = last event + gap (Spark ``session_window`` semantics).
    """
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def user_gap_profile(events: DataFrame) -> DataFrame:
    """Per-user inter-arrival profile in pure Catalyst: exact integer gap
    statistics (min/max/sum microseconds, rapid-fire count under
    ``RAPID_GAP_US``) over consecutive same-user events — the bot/burstiness
    screen next to :func:`user_event_features`' Arrow median. Everything
    is int64 arithmetic plus one final division, so the profile
    hash-gates exactly and runs entirely inside whole-stage codegen (the
    pandas path exists for order statistics the algebra can't fold).

    Output: (user_id, n_events, n_gaps, min_gap_us, max_gap_us,
    avg_gap_us, n_rapid); single-event users carry NULL gap stats.

    Plan: ONE shuffle keyed by user_id serves both the lag window and
    the aggregation (same-key window then groupBy reuses the exchange).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("avg_gap_us"),
        F.coalesce(
            F.sum(F.when(F.col("gap_us") < RAPID_GAP_US, 1)), F.lit(0)
        ).cast("bigint").alias("n_rapid"),
    )


def oracle_user_gap_profile(ev_cte: str) -> str:
    return f"""{ev_cte}
, g AS (
  SELECT user_id,
         CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_us
  FROM ev)
SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps,
       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
       CAST(sum(gap_us) AS DOUBLE) / count(gap_us) AS avg_gap_us,
       CAST(coalesce(sum(CASE WHEN gap_us < {RAPID_GAP_US} THEN 1 END), 0) AS BIGINT)
         AS n_rapid
FROM g GROUP BY 1"""


#: applyInPandas output schema.
FEATURE_SCHEMA = "user_id bigint, n_events bigint, n_variants bigint, median_gap_us double"


def user_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF-SURFACE DEMONSTRATOR — per-user behavioral features via an
    Arrow-batched grouped map (``applyInPandas``): event count, distinct
    variants, and the median inter-arrival time in microseconds (NULL
    for single-event users).

    This op exists to exercise and oracle-gate the grouped-map Pandas
    UDF surface; it is NOT the idiomatic formulation. Everything it
    computes fits built-in JVM expressions (``count``,
    ``count_distinct``, ``percentile(gap, 0.5)`` over a lag window) —
    see :func:`user_gap_profile` above for the built-in, whole-stage-
    codegen shape you should copy for new per-user aggregates. Keep
    ``applyInPandas`` for genuinely non-SQL per-group logic only.

    Gaps are computed on integer microseconds so the median is
    bit-deterministic and oracle-checkable (epoch_us in DuckDB).
    """
    ev = _ev(spark, sf_dir).select("user_id", "ts", "variant")

    def features(pdf: pd.DataFrame) -> pd.DataFrame:
        us = (
            pd.to_datetime(pdf["ts"]).sort_values().astype("int64") // 1000
        )  # ns → µs (µs values < 2^53: float-safe)
        gaps = us.diff().dropna()
        med = float(gaps.median()) if len(gaps) else None
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "n_variants": [pdf["variant"].nunique()],
                "median_gap_us": [med],
            }
        )

    return ev.groupBy("user_id").applyInPandas(features, schema=FEATURE_SCHEMA)


# --- DuckDB oracle twins -----------------------------------------------------
def oracle_sliding_visits(ev_cte: str) -> str:
    return f"""{ev_cte},
m AS (SELECT date_trunc('minute', ts) AS minute FROM ev),
x AS (
  SELECT minute - to_minutes(off) AS window_start
  FROM (SELECT minute, unnest(generate_series(0, 4)) AS off FROM m)
)
SELECT window_start, count(*) AS visits FROM x GROUP BY 1"""


def oracle_user_sessions(ev_cte: str) -> str:
    """DuckDB twin of :func:`user_sessions`.

    Boundary rule (MEASURED, r7): Spark ``session_window`` keeps an
    event arriving EXACTLY at ``last + gap`` in the same session — two
    events precisely 30:00.000000 apart are ONE session; a microsecond
    more is two (pinned in tests/test_properties.py). The split
    predicate here is therefore STRICT ``>``; the original ``>=`` only
    stayed green because the fixture's microsecond timestamps never
    produce an exact 30-minute gap — the hypothesis sweep found the
    divergence.

    Tie rule (also a hypothesis find, later r7): with DUPLICATE
    (user_id, ts) rows, two separate windows each ordered by the
    non-unique ``ts`` may order the ties DIFFERENTLY — the lag window
    and the running-sum window then disagree about which duplicate is
    "first" and the sessionization corrupts (one observed output split
    a 2-event tie across two sessions sharing a start). The engine's
    ``session_window`` is multiset-based and immune. Fix: materialize
    ONE total order (``row_number``) and drive BOTH windows with it —
    any consistent tie order yields the same sessions (tied gaps are 0,
    which never splits)."""
    return f"""{ev_cte},
r AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM ev
),
o AS (
  SELECT user_id, ts, rn,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY rn)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY rn
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid"""


def oracle_user_event_features(ev_cte: str) -> str:
    return f"""{ev_cte},
g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
           AS gap_us
  FROM ev
)
SELECT e.user_id,
       count(*) AS n_events,
       count(DISTINCT e.variant) AS n_variants,
       (SELECT median(gap_us) FROM g WHERE g.user_id = e.user_id AND gap_us IS NOT NULL)
         AS median_gap_us
FROM ev e GROUP BY e.user_id"""


# --- As-of join (event-time point lookup into history) -----------------------
def asof_last_click_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window: for every ``error`` event, the
    timestamp of the same user's most recent STRICTLY EARLIER ``click``
    event, plus the gap in microseconds (NULL when no click precedes).

    Instead of a range/inequality join (quadratic per user), one sorted
    window pass per user computes the running last click — a single
    shuffle keyed by user_id, linear scan per partition; this is the
    scalable as-of pattern for feature extraction at any event volume.
    Ordering ties break on event_id so the result is deterministic.
    """
    ev = _ev(spark, sf_dir).select("event_id", "user_id", "ts", "variant")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("variant") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .where(F.col("variant") == "error")
        .select(
            "event_id",
            "user_id",
            "ts",
            "last_click_ts",
            (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias("gap_us"),
        )
    )


def oracle_asof_last_click_before_error(ev_cte: str) -> str:
    return f"""{ev_cte},
x AS (
  SELECT event_id, user_id, ts, variant,
         last_value(CASE WHEN variant = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM ev)
SELECT event_id, user_id, ts, last_click_ts,
       epoch_us(ts) - epoch_us(last_click_ts) AS gap_us
FROM x WHERE variant = 'error'"""


# --- Time-range window frame (rolling aggregate) -----------------------------
def rolling_week_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: the user's total ``value`` over the trailing 7 days
    (RANGE frame over event time, inclusive of the current row's peers).

    The frame is expressed on integer microseconds (``unix_micros``), so
    the boundary is exact and engine-portable; the sum goes through the
    decimal accumulator (functions.numeric convention) for
    order-independent doubles. One shuffle keyed by user_id.
    """
    ev = _ev(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    seven_days_us = 7 * 86400 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-seven_days_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias(
            "rolling_value"
        ),
    )


# --- Funnel conversion (click → error within a bounded horizon) --------------
def funnel_conversion_by_experiment(
    spark: SparkSession, sf_dir: str, horizon_minutes: int = FUNNEL_HORIZON_MINUTES
) -> DataFrame:
    """Per experiment: how many distinct users clicked, how many of those
    "converted" (an ``error`` event by the same user within
    ``horizon_minutes`` after some click of the same experiment), and the
    conversion rate — the batch twin of the streaming interval join
    (``stream_click_error_join``), rolled up to the funnel report every
    experimentation dashboard ships.

    Shape: ONE window pass per (user, experiment) ordered by time — the
    running last-click timestamp turns the interval join into a linear
    scan (same as-of pattern as :func:`asof_last_click_before_error`; no
    quadratic pair join, one shuffle keyed by (user_id, experiment_id)),
    then an exact-distinct rollup per experiment.

    Boundary semantics: the horizon is CLOSED at both ends — an error at
    exactly the click timestamp (gap 0, click ordered first by event_id)
    counts as converted, matching the as-of operator. The streaming twin
    ``stream_click_error_join`` uses a strict ``error_ts > click_ts``
    lower bound (an open interval is the natural stream-stream join
    predicate), so the two deliberately diverge on boundary-equal events;
    the SQL oracle is in lockstep with THIS closed-interval definition.
    """
    ev = _ev(spark, sf_dir).select("event_id", "user_id", "experiment_id", "ts", "variant")
    w = (
        Window.partitionBy("user_id", "experiment_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("variant") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    flagged = ev.withColumn("last_click_ts", last_click)
    horizon_us = horizon_minutes * 60 * 1_000_000
    converted = (
        flagged.where(
            (F.col("variant") == "error")
            & F.col("last_click_ts").isNotNull()
            & (F.unix_micros("ts") - F.unix_micros("last_click_ts") <= horizon_us)
        )
        .groupBy("experiment_id")
        .agg(F.count_distinct("user_id").alias("converted_users"))
    )
    clickers = (
        ev.where(F.col("variant") == "click")
        .groupBy("experiment_id")
        .agg(F.count_distinct("user_id").alias("click_users"))
    )
    return (
        clickers.join(converted, "experiment_id", "left")
        .select(
            "experiment_id",
            "click_users",
            F.coalesce("converted_users", F.lit(0)).alias("converted_users"),
            (
                F.coalesce("converted_users", F.lit(0)).cast("double")
                / F.col("click_users")
            ).alias("conversion_rate"),
        )
    )


def oracle_funnel_conversion_by_experiment(ev_cte: str) -> str:
    horizon_us = FUNNEL_HORIZON_MINUTES * 60 * 1_000_000
    return f"""{ev_cte},
x AS (
  SELECT user_id, experiment_id, ts, variant,
         last_value(CASE WHEN variant = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id, experiment_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM ev),
conv AS (
  SELECT experiment_id, count(DISTINCT user_id) AS converted_users
  FROM x
  WHERE variant = 'error' AND last_click_ts IS NOT NULL
    AND epoch_us(ts) - epoch_us(last_click_ts) <= {horizon_us}
  GROUP BY experiment_id),
clk AS (
  SELECT experiment_id, count(DISTINCT user_id) AS click_users
  FROM ev WHERE variant = 'click' GROUP BY experiment_id)
SELECT clk.experiment_id, clk.click_users,
       COALESCE(conv.converted_users, 0) AS converted_users,
       CAST(COALESCE(conv.converted_users, 0) AS DOUBLE) / clk.click_users
         AS conversion_rate
FROM clk LEFT JOIN conv ON conv.experiment_id = clk.experiment_id"""


def oracle_rolling_week_user_value(ev_cte: str) -> str:
    return f"""{ev_cte}
SELECT event_id, user_id, ts,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6)))
                   OVER (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                 AS VARCHAR) AS DOUBLE) AS rolling_value
FROM ev"""


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix over the event stream: users are
    cohorted by the UTC day of their first event; each cell counts how
    many of a cohort's users were active again ``day_offset`` days later.

    Output: (cohort_day date, day_offset int, active_users bigint) —
    day_offset 0 is the cohort size itself.

    Plan: per-user first-day aggregate (shuffle keyed by user_id), join
    back to the per-(user, day) activity set on the same user_id key —
    co-partitioned with the aggregate, so AQE reuses the exchange — then
    a count-distinct per (cohort_day, offset). At 100 TB the first-touch
    table is |users| rows (small side, broadcastable per AQE stats) and
    every shuffle key is uniform (user_id / date pairs).
    """
    ev = _ev(spark, sf_dir)
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = days.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        days.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("d", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def oracle_user_retention_cohorts(ev_cte: str) -> str:
    return f"""{ev_cte},
days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM ev),
first AS (SELECT user_id, min(d) AS cohort_day FROM days GROUP BY 1)
SELECT cohort_day,
       CAST(datediff('day', cohort_day, d) AS INTEGER) AS day_offset,
       count(DISTINCT user_id) AS active_users
FROM days JOIN first USING (user_id)
GROUP BY 1, 2"""


def events_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the load-profile
    report behind capacity planning and anomaly baselines (every
    dashboard's "when are users here" panel).

    Output: (day_of_week 1..7 Sunday=1, hour 0..23, n_events,
    n_users) — all exact ints, one count shuffle over a ≤168-cell key
    space with map-side partials.
    """
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(
            F.dayofweek("ts").alias("day_of_week"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def oracle_events_activity_heatmap(ev_cte: str) -> str:
    return f"""{ev_cte}
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS day_of_week,
       CAST(hour(ts) AS INTEGER) AS hour,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM ev GROUP BY 1, 2"""


# --- Interval concurrency: active sessions per minute ------------------------
def active_sessions_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency over the session intervals: for every minute of the
    observed axis, how many user sessions are active — the "concurrent
    users" line on every operations dashboard, and the canonical
    points-in-intervals aggregation.

    Scale — SWEEP-LINE, not a range join: the naive plan (axis
    BETWEEN-joined to intervals) compares every minute against every
    overlapping session — O(axis × sessions) pairs for a
    non-equi join Spark can only nested-loop. Instead each interval
    contributes two boundary deltas (+1 at its first covered minute,
    −1 one past its last), deltas collapse to one net value per minute
    (a map-side-combined groupBy — the ONLY corpus-sized shuffle), and
    a running sum over the minute axis rebuilds the concurrency curve.
    The axis is bounded (525 600 minutes/year), so the one
    unpartitioned running window is axis-sized by construction — the
    same deliberate exception as ``visit_anomalies``, never
    corpus-sized.

    A session covers minute ``m`` iff it overlaps ``[m, m+1min)`` under
    the half-open ``[session_start, session_end)`` convention — the
    oracle asserts exactly that predicate with the naive LEFT JOIN, so
    the driver hash-gates sweep-line == quadratic semantics.

    Output: (minute, active_sessions), int64 count, zero-filled on idle
    minutes.
    """
    s = user_sessions(spark, sf_dir).select(
        F.date_trunc("minute", F.col("session_start")).alias("m_first"),
        F.date_trunc(
            "minute", F.col("session_end") - F.expr("INTERVAL 1 MICROSECOND")
        ).alias("m_last"),
    )
    deltas = s.select(
        F.explode(
            F.array(
                F.struct(F.col("m_first").alias("minute"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("m_last") + F.expr("INTERVAL 1 MINUTE")).alias("minute"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("x")
    ).select("x.minute", "x.d")
    net = deltas.groupBy("minute").agg(F.sum("d").alias("nd"))
    bounds = s.agg(
        F.min("m_first").alias("lo"), F.max("m_last").alias("hi")
    )
    axis = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))).alias(
            "minute"
        )
    )
    w = Window.orderBy("minute").rowsBetween(Window.unboundedPreceding, 0)
    return axis.join(net, "minute", "left").select(
        "minute",
        F.coalesce(F.sum("nd").over(w), F.lit(0)).cast("bigint").alias(
            "active_sessions"
        ),
    )


def oracle_active_sessions_per_minute(ev_cte: str) -> str:
    """DuckDB twin of :func:`active_sessions_per_minute` — the NAIVE
    quadratic range join the sweep-line must reproduce exactly."""
    sessions_sql = oracle_user_sessions(ev_cte)
    return f"""WITH s AS ({sessions_sql}),
b AS (
  SELECT min(date_trunc('minute', session_start)) AS lo,
         max(date_trunc('minute', session_end - INTERVAL 1 MICROSECOND)) AS hi
  FROM s),
axis AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute FROM b)
SELECT axis.minute, CAST(count(s.user_id) AS BIGINT) AS active_sessions
FROM axis LEFT JOIN s
  ON s.session_start < axis.minute + INTERVAL 1 MINUTE
 AND s.session_end > axis.minute
GROUP BY 1"""
