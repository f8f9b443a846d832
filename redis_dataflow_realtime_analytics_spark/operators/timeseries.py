"""Read-side queries (reference dashboard operators R1–R7).

The reference dashboard reads Redis point-lookups over minute-bucketed keys
(``dashboard/.../TimeseriesMetricsController.java``): generate the last-N
minute keys (R1, :144-152), ``MGET``/``PFCOUNT``/``SCARD`` them
(R2 :45-63, R3 :69-86, R4 :88-107), coalesce missing keys to 0
(``getIntValue`` :65-67), and compute pairwise variant overlaps with a
``SINTERSTORE`` side-effect during the GET (R5, :109-136).

Here each becomes a pure DataFrame query: a generated time axis LEFT JOINed
to the metric grain with ``coalesce(metric, 0)``, and overlap as a self-join
aggregation — no state mutation on read (fixes the reference's
GET-with-side-effect and its leaked ``overlap_-*`` keys).

Scale notes (100 TB):
* The time axis is tiny (one row per minute — 525 600 rows/year) and the
  per-minute aggregate side is bounded by the axis length, so the axis join
  is explicitly ``broadcast()`` — no shuffle regardless of input size.
* ``variant_overlap`` first reduces the event stream to distinct
  (variant, user) pairs (partial-aggregated before shuffle), then self-joins
  on ``user_id``; AQE skew-join splitting handles hot users.

Result shaping (R7): ``(minute timestamp, metric double)`` mirrors
``TimeSeriesMetric`` widening counters to Double
(dashboard/TimeSeriesMetric.java:41-51); overlaps mirror ``OverlapMetric``
(dashboard/OverlapMetric.java:23-54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import metrics

#: The dashboard's ``lastMinutes`` window.
LAST_MINUTES = 10
#: Trailing window (minutes) of the visit-anomaly baseline.
ANOMALY_WINDOW_MINUTES = 30


def time_axis(
    events: DataFrame, anchor_now: bool = False, last_minutes: int = LAST_MINUTES
) -> DataFrame:
    """R1 time-axis generator (TimeseriesMetricsController.java:144-152).

    The reference floors now() to the minute and steps back N minutes
    (``timePatternForLastMinutes``); for a deterministic, replayable query
    the default axis instead spans the data's own [min(ts), max(ts)] minute
    range. One row per minute, column ``minute``.

    ``anchor_now=True`` gives production parity with the reference: the axis
    is the ``last_minutes`` most recent WALL-CLOCK minutes ending at
    ``date_trunc('minute', now())``, independent of the data — exactly the
    dashboard's key window, including minutes with no events (which the
    axis join 0-fills, ``getIntValue`` :65-67). Not used by oracles (now()
    is nondeterministic across engines by construction).
    """
    if anchor_now:
        return (
            events.sparkSession.range(1)
            .select(F.date_trunc("minute", F.current_timestamp()).alias("t1"))
            .select(
                F.explode(
                    F.sequence(
                        F.col("t1") - F.expr(f"interval {last_minutes - 1} minutes"),
                        F.col("t1"),
                        F.expr("interval 1 minute"),
                    )
                ).alias("minute")
            )
        )
    bounds = events.agg(
        F.date_trunc("minute", F.min("ts")).alias("t0"),
        F.date_trunc("minute", F.max("ts")).alias("t1"),
    )
    return bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("interval 1 minute"))).alias("minute")
    )


def _axis_join(events: DataFrame, grain: DataFrame, value_col: str) -> DataFrame:
    """LEFT JOIN the time axis to a per-minute grain, null→0, widen to double
    (R2's MGET + ``getIntValue`` null-coalescing, :50-51, :65-67).

    The grain side is broadcast: it has at most one row per axis minute.
    """
    axis = time_axis(events)
    return (
        axis.join(F.broadcast(grain), "minute", "left")
        .select("minute", F.coalesce(F.col(value_col), F.lit(0)).cast("double").alias("metric"))
    )


def visits_timeseries(events: DataFrame) -> DataFrame:
    """R2 ``/visits`` (TimeseriesMetricsController.java:45-63)."""
    return _axis_join(events, metrics.visits_per_minute(events), "visits")


def visits_timeseries_last(events: DataFrame) -> DataFrame:
    """R2 with the reference's ``lastMinutes=N`` read window
    (TimeseriesMetricsController.java:43 — default 10): the axis is the
    ``LAST_MINUTES`` most recent minutes ending at the data's max(ts)
    minute ("now" in a replay), missing minutes still 0-filled.

    The window filter lands on the grain's GROUP BY input, so at scale the
    scan prunes to ``LAST_MINUTES`` minutes of partitions before aggregating.
    """
    bounds = events.agg(F.date_trunc("minute", F.max("ts")).alias("t1")).select(
        F.col("t1"),
        (F.col("t1") - F.expr(f"interval {LAST_MINUTES - 1} minutes")).alias("t0"),
    )
    axis = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("interval 1 minute"))).alias("minute")
    )
    grain = metrics.visits_per_minute(events)
    return (
        axis.join(F.broadcast(grain), "minute", "left")
        .select(
            "minute",
            F.coalesce(F.col("visits"), F.lit(0)).cast("double").alias("metric"),
        )
    )


def users_timeseries(events: DataFrame, exact: bool = True) -> DataFrame:
    """R3 ``/users`` per-minute PFCOUNT (:69-86). ``exact=False`` reproduces
    the HLL estimate; the exact twin is the oracle-gated query."""
    return _axis_join(events, metrics.uniques_per_minute(events, exact=exact), "unique_users")


def experiments_timeseries(events: DataFrame) -> DataFrame:
    """R4 ``/experiments`` per-minute SCARD (:88-107) — exact distinct."""
    return _axis_join(events, metrics.experiments_per_minute(events), "active_experiments")


def variants_timeseries(events: DataFrame) -> DataFrame:
    """W9/W10 read twin: active variants per minute over the axis."""
    return _axis_join(events, metrics.variants_per_minute(events), "active_variants")


def variant_overlap(events: DataFrame) -> DataFrame:
    """R5 ``/variantsOverlap`` (TimeseriesMetricsController.java:109-136).

    Reference: ``KEYS set_var_*`` → all C(n,2) pairs → per pair
    ``SINTERSTORE`` + ``SCARD`` (a write during a read). Here: reduce to
    distinct (variant, user_id) pairs, self-join on user with
    ``variant_a < variant_b`` (matching ``Sets.combinations`` :117 —
    each unordered pair once), count common users.

    Output: (variant_a, variant_b, overlap) — ``OverlapMetric`` dims order
    is normalized lexicographically.
    """
    uv = events.select("variant", "user_id").distinct()
    a, b = uv.alias("a"), uv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.variant") < F.col("b.variant")),
        )
        .groupBy(
            F.col("a.variant").alias("variant_a"),
            F.col("b.variant").alias("variant_b"),
        )
        .agg(F.count("*").alias("overlap"))
    )


def variant_overlap_approx(events: DataFrame) -> DataFrame:
    """R5's scale path: approximate pairwise audience overlap via HLL
    inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A ∪ B) on
    DataSketches HLL sketches (``hll_sketch_agg`` / ``hll_union``).

    The exact self-join (:func:`variant_overlap`) shuffles every distinct
    (variant, user) pair; at 100 TB that is the dominant cost. This
    variant reduces each variant to ONE ≤KB sketch (map-side partial
    aggregation), then cross-joins the handful of sketches — no per-user
    shuffle at all, and the sketches are the same mergeable state the
    streaming store persists (SCALE.md principle 5). Mirrors the
    reference's own HLL/exact double-write philosophy (SURVEY §1.3) on
    the one read-side op it only implemented exactly.

    Registered rows-only (sketch estimates are engine-specific); accuracy
    vs the exact overlap is asserted in tests.
    """
    sk = events.groupBy("variant").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_n"),
    )
    a, b = sk.alias("a"), sk.alias("b")
    est = F.hll_sketch_estimate
    return (
        a.join(b, F.col("a.variant") < F.col("b.variant"))
        .select(
            F.col("a.variant").alias("variant_a"),
            F.col("b.variant").alias("variant_b"),
            (
                est(F.col("a.sk")).cast("double")
                + est(F.col("b.sk")).cast("double")
                - est(F.hll_union(F.col("a.sk"), F.col("b.sk"))).cast("double")
            ).alias("overlap_approx"),
        )
    )


def variant_overlap_theta(events: DataFrame) -> DataFrame:
    """R5 on Theta sketches — the sketch family whose NATIVE operation is
    set intersection, i.e. the true analogue of the reference's
    ``SINTERSTORE`` + ``SCARD`` (TimeseriesMetricsController.java:109-136).

    ``theta_sketch_agg`` reduces each variant's audience to one mergeable
    KMV-style sketch map-side (same no-per-user-shuffle plan as
    :func:`variant_overlap_approx`); ``theta_intersection`` then estimates
    |A∩B| DIRECTLY, with error bounds on the intersection itself — unlike
    HLL inclusion–exclusion, whose absolute error compounds from three
    union-sized estimates and degrades when the overlap is small relative
    to the sets. Theta sketches also support difference (A\\B), giving the
    full Redis set algebra (SINTER/SDIFF/SUNION) on bounded state.

    Registered rows-only (estimates are sketch-seeded); accuracy vs the
    exact overlap is asserted in tests/test_metrics_fanout.py.
    """
    sk = events.groupBy("variant").agg(F.theta_sketch_agg("user_id").alias("sk"))
    a, b = sk.alias("a"), sk.alias("b")
    return (
        a.join(b, F.col("a.variant") < F.col("b.variant"))
        .select(
            F.col("a.variant").alias("variant_a"),
            F.col("b.variant").alias("variant_b"),
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("a.sk"), F.col("b.sk"))
            ).alias("overlap_est"),
        )
    )


def times(events: DataFrame) -> DataFrame:
    """R6 ``/times`` debug endpoint (:138-142) — the axis itself."""
    return time_axis(events)


def variant_minute_grid(events: DataFrame) -> DataFrame:
    """Dense (minute × variant) visit grid: the time axis CROSS JOINed with
    the distinct variants, left-joined to the per-(minute,variant) counts,
    missing cells 0-filled — the 2-D densification every dashboard heatmap
    needs (the reference leaves missing keys to the client, R2's null→0
    applied per dimension combination here).

    Both the axis and the variant list are broadcast: the cross join
    multiplies two tiny relations, never the fact table.
    """
    axis = time_axis(events)
    variants = events.select("variant").distinct()
    grain = events.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "variant"
    ).agg(F.count("*").alias("visits"))
    return (
        axis.crossJoin(F.broadcast(variants))
        .join(F.broadcast(grain), ["minute", "variant"], "left")
        .select(
            "minute",
            "variant",
            F.coalesce("visits", F.lit(0)).cast("double").alias("metric"),
        )
    )


def events_enriched_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Dimension enrichment: attach customer attributes to each event by
    user key — the standard streaming-enrichment shape. The dimension side
    broadcasts (a customer table is small relative to the event stream at
    any realistic ratio), so enrichment is shuffle-free on the event side
    and works identically under ``readStream``.

    Left join: events without a matching customer survive with NULL
    attributes (enrichment must never drop events).
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_nationkey", "c_mktsegment"
    )
    return events.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "ts", "variant", "c_nationkey", "c_mktsegment"
    )


def variant_series_correlation(events: DataFrame) -> DataFrame:
    """Cross-series similarity: Pearson correlation between the per-minute
    visit series of every variant pair, over minutes where both variants
    are active (inner join on the minute grain).

    Correlation is computed from INTEGER power sums (n, Σx, Σy, Σxy, Σx²,
    Σy² — visit counts are ints, so 64-bit sums are exact) followed by one
    double formula — bit-identical at any partitioning and across engines,
    unlike a streaming ``corr()`` accumulation of doubles.

    Plan: one (minute, variant) count aggregation, a self-join on minute
    (per-minute variant fan-out is tiny), then one aggregation keyed by the
    variant pair. Series length never materializes anywhere — 100 TB of
    events still reduces to per-minute partials before any join.
    """
    mv = events.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "variant"
    ).agg(F.count("*").alias("visits"))
    a, b = mv.alias("a"), mv.alias("b")
    j = a.join(
        b,
        (F.col("a.minute") == F.col("b.minute"))
        & (F.col("a.variant") < F.col("b.variant")),
    ).select(
        F.col("a.variant").alias("variant_a"),
        F.col("b.variant").alias("variant_b"),
        F.col("a.visits").alias("x"),
        F.col("b.visits").alias("y"),
    )
    g = j.groupBy("variant_a", "variant_b").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return g.select(
        "variant_a",
        "variant_b",
        "n",
        F.when(den != 0, num / den).alias("pearson_corr"),
    )


def visit_anomalies(events: DataFrame) -> DataFrame:
    """Monitoring extension of the reference's dashboard: flag minutes whose
    visit count deviates ≥3σ from the trailing ``ANOMALY_WINDOW_MINUTES`` mean
    (strictly-prior frame, so a spike can't mask itself).

    Mean/σ come from integer power sums over the ROWS frame (counts are
    ints → exact sums), then one double formula — deterministic at any
    partitioning. Single-series window: the frame runs inside one
    partition of one series; per-dimension deployments would partition by
    the dimension.

    Output: (minute, visits, trail_mean, trail_std, is_anomaly) for
    minutes with a full trailing window.
    """
    mv = events.groupBy(
        F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("visits"))
    w = Window.orderBy("minute").rowsBetween(-ANOMALY_WINDOW_MINUTES, -1)
    n = F.count("visits").over(w)
    sx = F.sum("visits").over(w)
    sxx = F.sum(F.col("visits") * F.col("visits")).over(w)
    mean = sx.cast("double") / n
    var = (n * sxx - sx * sx).cast("double") / (n * n).cast("double")
    out = mv.select(
        "minute",
        "visits",
        n.alias("n_trail"),
        mean.alias("trail_mean"),
        F.sqrt(var).alias("trail_std"),
    ).where(F.col("n_trail") == ANOMALY_WINDOW_MINUTES)
    return out.select(
        "minute",
        "visits",
        "trail_mean",
        "trail_std",
        (
            (F.col("visits").cast("double") - F.col("trail_mean"))
            > 3.0 * F.col("trail_std")
        ).alias("is_anomaly"),
    )


def variant_minute_interpolated(events: DataFrame) -> DataFrame:
    """Gap-filled per-variant minute series with LINEAR INTERPOLATION —
    the dashboard upgrade of :func:`variant_minute_grid`'s zero-fill
    (a zero is a *claim* of no traffic; for a sampled/sparse metric the
    honest fill between observations is the line through them —
    TimescaleDB's ``interpolate()``, Grafana's connected gaps).

    Per (variant, minute) of the full axis grid: the observed
    decimal-exact mean of ``value`` where the minute has events;
    otherwise the linear interpolation between the bracketing observed
    minutes; NULL outside the first/last observation (``src`` column
    says which: 'obs' / 'lerp' / 'edge').

    Engine-portable bracketing — no IGNORE-NULLS dialect dependence:
    prev/next observed minute are a running ``max``/``min`` over a CASE
    column (monotone ⇒ equal to the last/first observation), values
    join back on (variant, prev/next minute). The interpolation is one
    double division of exact integer second-offsets and a fused
    multiply-add of deterministic doubles — identical in both engines.

    Scale: the windows run over the GRID (axis × variants), whose row
    count is |minutes| × |series| — bounded by the time span, NOT by
    event volume (the corpus-sized work is the grain aggregation, one
    map-side-combined shuffle). A per-series sort partition is
    |minutes| rows (525k for a year of minutes) regardless of data
    scale; dashboards with millions of series parallelize on the
    series key instead.

    Output: (minute, variant, metric DOUBLE nullable, src).
    """
    from ..functions.numeric import davg

    axis = time_axis(events)
    variants = events.select("variant").distinct()
    obs = events.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "variant"
    ).agg(davg("value", "obs"))
    grid = (
        axis.crossJoin(F.broadcast(variants))
        .join(obs, ["minute", "variant"], "left")
    )
    # Both brackets are RUNNING frames (unbounded-preceding), the "next"
    # one over the reversed sort: Spark executes an (unbounded-following)
    # frame by rescanning the partition tail per row — O(n²) per series
    # (measured 157 s vs 4 s on the 43k-minute axis) — while a running
    # frame streams in O(n).
    w_fwd = (
        Window.partitionBy("variant")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rev = (
        Window.partitionBy("variant")
        .orderBy(F.desc("minute"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_min = F.when(F.col("obs").isNotNull(), F.col("minute"))
    bracketed = grid.select(
        "minute",
        "variant",
        "obs",
        F.max(obs_min).over(w_fwd).alias("pm"),
        F.min(obs_min).over(w_rev).alias("nm"),
    )
    pv = obs.select(
        "variant", F.col("minute").alias("pm"), F.col("obs").alias("pv")
    )
    nv = obs.select(
        "variant", F.col("minute").alias("nm"), F.col("obs").alias("nv")
    )
    j = (
        bracketed.join(F.broadcast(pv), ["variant", "pm"], "left")
        .join(F.broadcast(nv), ["variant", "nm"], "left")
    )
    ratio = (
        (F.unix_timestamp("minute") - F.unix_timestamp("pm")).cast("double")
        / (F.unix_timestamp("nm") - F.unix_timestamp("pm")).cast("double")
    )
    metric = (
        F.when(F.col("obs").isNotNull(), F.col("obs"))
        .when(
            F.col("pm").isNotNull() & F.col("nm").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * ratio,
        )
        .otherwise(F.lit(None).cast("double"))
    )
    src = (
        F.when(F.col("obs").isNotNull(), F.lit("obs"))
        .when(F.col("pm").isNotNull() & F.col("nm").isNotNull(), F.lit("lerp"))
        .otherwise(F.lit("edge"))
    )
    return j.select("minute", "variant", metric.alias("metric"), src.alias("src"))
