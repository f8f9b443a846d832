"""Write-side metric grains (reference legs W1–W12).

The reference's Beam pipeline never aggregates — it reshapes each event into
``(key, value)`` pairs where the key encodes (metric, dimensions, event-time
minute) and the *Redis write method* encodes the aggregate function
(``MetricsCalculationPipeline.java:60-193``):

    INCRBY → sum/count          (W1)
    PFADD  → approx distinct    (W2 W3 W5 W7 W9 W11, HyperLogLog)
    SADD   → exact distinct set (W4 W6 W8 W10 W12)

Here both halves collapse into ``groupBy`` aggregations: the key's minute
bucket (Joda pattern ``'<p>_'yyyy_MM_dd'T'HH_mm``,
MetricsCalculationPipeline.java:237-243) becomes
``date_trunc('minute', ts)``, and the write method becomes the aggregate
function. Every function takes the **normalized** event DataFrame
(``sources.normalize_events``) so one shared scan feeds all grains, exactly
like the reference's single parsed stream fanning out to 12 legs
(MetricsCalculationPipeline.java:47-52).

Scale notes (100 TB):
* Each grain is one hash aggregation: Spark's partial (map-side) aggregation
  collapses the per-event stream to per-(dims, minute) partials before the
  shuffle — the reference instead ships 12 Redis commands per event, so this
  is a large win, not just parity.
* Grain cardinality is tiny relative to input (minutes × ≤100 experiments ×
  ≤5 variants), so the shuffle moves partial aggregates, not events.
* Approx-distinct legs use DataSketches ``hll_sketch_agg(col, lgK=14)``
  (std error ≈0.81% at lgK 14 — the Redis HLL accuracy class,
  README.md:23-26). Benchmarked ~10× faster than
  ``approx_count_distinct(rsd=0.008)`` on minute grains: Spark's HLL++
  allocates dense 2^14 registers per group PARTIAL regardless of
  cardinality, while DataSketches partials stay sparse until a group
  actually sees enough distincts — decisive when groups are many and
  small (1.2 M minute buckets/day at 100 TB). ``hll_sketches_*`` expose
  the same sketches mergeably for the streaming store.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Heavy-hitter share: a user is heavy above this fraction of all events.
HH_PHI = 0.0075

#: DataSketches lgConfigK giving Redis HLL's ≈0.81% error class
#: (reference README.md:23-26) with sparse-adaptive partials (see module
#: docstring perf note).
HLL_LGK = 14


def approx_uniques(col: str) -> Column:
    """Approx distinct count in the Redis-HLL accuracy class — DataSketches
    sketch + estimate (see the module docstring for why not HLL++/rsd)."""
    return F.hll_sketch_estimate(F.expr(f"hll_sketch_agg({col}, {HLL_LGK})"))


def minute() -> Column:
    """Tumbling 1-minute event-time bucket (S4 ``timeBasedKeyBuilder``,
    MetricsCalculationPipeline.java:237-243)."""
    return F.date_trunc("minute", F.col("ts")).alias("minute")


# --- W1: visits per minute (INCRBY ≡ count) ---------------------------------
def visits_per_minute(events: DataFrame) -> DataFrame:
    """W1 ``Count visits per minute`` (MetricsCalculationPipeline.java:60-71).

    Exactly-once count vs the reference's non-idempotent INCRBY under
    Pub/Sub redelivery (SURVEY §4 delta 1).
    """
    return events.groupBy(minute()).agg(F.count("*").alias("visits"))


# --- W2: uniques per (experiment, variant, minute) --------------------------
def uniques_per_experiment_variant_minute(events: DataFrame, exact: bool = True) -> DataFrame:
    """W2 ``evcounter_e_{exp}_v_{var}_{minute}`` PFADD leg
    (MetricsCalculationPipeline.java:74-87). ``exact=False`` reproduces the
    HLL estimate; ``exact=True`` is the exact twin used by the oracle gate."""
    agg = (
        F.count_distinct(F.col("user_id"))
        if exact
        else approx_uniques("user_id")
    ).alias("unique_users")
    return events.groupBy(minute(), "experiment_id", "variant").agg(agg)


# --- W3/W4: all-time uniques per variant ------------------------------------
def uniques_per_variant(events: DataFrame, exact: bool = True) -> DataFrame:
    """W3 (hll_var_{v}, PFADD, :90-103) / W4 (set_var_{v}, SADD, :105-107).

    All-time grain — the reference keeps an unbounded Redis set per variant
    with no TTL (SURVEY §1.3); in batch this is a plain distinct aggregate,
    in streaming the store keeps mergeable sketches (streaming.pipeline).
    """
    agg = (
        F.count_distinct(F.col("user_id"))
        if exact
        else approx_uniques("user_id")
    ).alias("unique_users")
    return events.groupBy("variant").agg(agg)


def user_sets_per_variant(events: DataFrame) -> DataFrame:
    """W4's materialized exact set (``SADD``/``SMEMBERS`` semantics) —
    ``collect_set`` per variant; input to set-algebra reads (R5)."""
    return events.groupBy("variant").agg(F.collect_set("user_id").alias("user_set"))


# --- W5/W6: all-time uniques per experiment ---------------------------------
def uniques_per_experiment(events: DataFrame, exact: bool = True) -> DataFrame:
    """W5 (hll_exp_{e}, :110-125) / W6 (set_exp_{e}, :127-129)."""
    agg = (
        F.count_distinct(F.col("user_id"))
        if exact
        else approx_uniques("user_id")
    ).alias("unique_users")
    return events.groupBy("experiment_id").agg(agg)


# --- W7/W8: distinct experiments per minute ---------------------------------
def experiments_per_minute(events: DataFrame, exact: bool = True) -> DataFrame:
    """W7 (hll_experiments_…_{minute}, :131-151) / W8 (set leg, :153-155)."""
    agg = (
        F.count_distinct(F.col("experiment_id"))
        if exact
        else approx_uniques("experiment_id")
    ).alias("active_experiments")
    return events.groupBy(minute()).agg(agg)


# --- W9/W10: distinct variants per minute -----------------------------------
def variants_per_minute(events: DataFrame, exact: bool = True) -> DataFrame:
    """W9 (hll_variants_…_{minute}, :157-176) / W10 (set leg, :178-180)."""
    agg = (
        F.count_distinct(F.col("variant"))
        if exact
        else approx_uniques("variant")
    ).alias("active_variants")
    return events.groupBy(minute()).agg(agg)


# --- W11/W12: unique users per minute ----------------------------------------
def uniques_per_minute(events: DataFrame, exact: bool = True) -> DataFrame:
    """W11 (hll_dthr_{minute}, :183-189, via S3 extractUsersForDateTime
    :224-235) / W12 (set_dthr_{minute}, :191-193)."""
    agg = (
        F.count_distinct(F.col("user_id"))
        if exact
        else approx_uniques("user_id")
    ).alias("unique_users")
    return events.groupBy(minute()).agg(agg)


# --- Mergeable sketches (streaming store format) -----------------------------
def hll_sketches_per_minute(events: DataFrame) -> DataFrame:
    """Per-minute DataSketches HLL sketches — the engine's analogue of the
    reference's Redis HLL keys: mergeable across partitions/batches with
    ``hll_union_agg`` and readable with ``hll_sketch_estimate``.

    This is the bounded-state design for all-time distincts in streaming
    (SURVEY §4 delta 2): persist per-batch sketches, merge at read time.
    """
    return events.groupBy(minute()).agg(F.hll_sketch_agg("user_id").alias("sketch"))


def all_grains(events: DataFrame) -> dict[str, DataFrame]:
    """The full 12-leg fan-out from one shared DataFrame
    (MetricsCalculationPipeline.java:60-193). Caller may ``.cache()`` the
    input when materializing several grains in one job."""
    return {
        "visits_per_minute": visits_per_minute(events),
        "uniques_per_experiment_variant_minute": uniques_per_experiment_variant_minute(events),
        "uniques_per_experiment_variant_minute_approx": uniques_per_experiment_variant_minute(events, exact=False),
        "uniques_per_variant": uniques_per_variant(events),
        "uniques_per_variant_approx": uniques_per_variant(events, exact=False),
        "uniques_per_experiment": uniques_per_experiment(events),
        "uniques_per_experiment_approx": uniques_per_experiment(events, exact=False),
        "experiments_per_minute": experiments_per_minute(events),
        "experiments_per_minute_approx": experiments_per_minute(events, exact=False),
        "variants_per_minute": variants_per_minute(events),
        "variants_per_minute_approx": variants_per_minute(events, exact=False),
        "uniques_per_minute": uniques_per_minute(events),
        "uniques_per_minute_approx": uniques_per_minute(events, exact=False),
    }


# --- Heavy hitters (frequency sketch — the CMS leg of the sketch family) -----
def heavy_hitter_users(events: DataFrame) -> DataFrame:
    """Exact support-threshold heavy hitters: users contributing at least
    ``HH_PHI`` of all events — the formal HH(φ) definition (count ≥ φ·N),
    the abuse/hot-key detection query every event pipeline runs.

    Output: (user_id, n_events, share). Plan: one count shuffle keyed by
    user_id (uniform int64, map-side partials) plus a broadcast one-row
    total crossed in — no second pass over the events, no driver action.
    """
    counts = events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = events.agg(F.count("*").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n_events") >= F.col("_total") * HH_PHI)
        .select(
            "user_id",
            "n_events",
            (F.col("n_events").cast("double") / F.col("_total")).alias("share"),
        )
    )


#: Count-min geometry for the sketch twin: depth 4 rows × width 2048
#: buckets ⇒ ε = e/2048 ≈ 0.13% of N overestimate bound at δ = e⁻⁴.
CMS_DEPTH = 4
CMS_WIDTH = 2048


def _cms_pairs(keyed: DataFrame, key: str, depth: int, width: int) -> DataFrame:
    """(row_idx, bucket) pair per key occurrence per sketch row —
    xxhash64(key, row_idx) is the i-th hash function, identical at build
    and probe time so collisions line up by construction."""
    return keyed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_idx"),
                        F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(width)).alias(
                            "bucket"
                        ),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
        F.col(key),
    ).select(F.col("rb.row_idx").alias("row_idx"), F.col("rb.bucket").alias("bucket"), key)


def cms_sketch(
    events: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch AS RELATIONAL STATE: (row_idx, bucket, cnt) —
    depth × width bounded rows regardless of stream length, mergeable by
    summing cnt per cell (partials-then-merge, like the HLL/Theta/KLL
    store formats). The frequency-sketch leg of the sketch family:
    HLL answers "how many distinct", Theta "how do sets overlap", KLL
    "what quantile" — CMS answers "how often does THIS key occur" on the
    same bounded-state contract.

    Plan: one map-side explode (depth cells per event) into a
    (row_idx, bucket)-keyed count — uniform keys, partial aggregation,
    output ≤ depth·width rows however large the input.
    """
    return (
        _cms_pairs(events.select("user_id"), "user_id", depth, width)
        .groupBy("row_idx", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def heavy_hitter_users_cms(
    events: DataFrame, phi: float = HH_PHI, width: int = CMS_WIDTH
) -> DataFrame:
    """Heavy hitters answered FROM the count-min sketch: probe each
    candidate key's depth cells, take the row-minimum as the estimate,
    keep keys with estimate ≥ φ·N. CMS never underestimates, so recall
    vs the exact :func:`heavy_hitter_users` is 1 by construction (no
    false negatives); overestimates can only ADD candidates, and at
    width 2048 the expected inflation is ≤ e/width of N per key
    (Cormode & Muthukrishnan 2005).

    Candidates here are the distinct keys (exact-verifiable batch shape);
    in a streaming deployment the candidate set is the keys seen in the
    current batch probed against the MERGED sketch state — same join.

    Output: (user_id, est_count). Rows-only (xxhash64 bucketing is
    engine-specific); the ≥-exact and recall-1 properties are asserted in
    tests, with a width-16 variant forcing collisions to prove the probe
    takes row minima rather than sums.
    """
    return _cms_heavy_hitters(
        events.select("user_id").distinct(),
        cms_sketch(events, width=width),
        events.agg(F.count("*").alias("_total")),
        width,
        phi,
    )


def _cms_heavy_hitters(
    candidates: DataFrame, cells: DataFrame, total: DataFrame, width: int, phi: float
) -> DataFrame:
    """HH(φ) from count-min ``cells`` (row_idx, bucket, cnt): probe each
    candidate ``user_id``'s depth cells, take the row minimum as its
    ``est_count``, keep estimates ≥ φ·N, N being the one-row ``_total``
    frame. The batch sketch and the streaming store's merged cells share
    this probe."""
    probes = _cms_pairs(candidates, "user_id", CMS_DEPTH, width)
    est = (
        probes.join(cells, ["row_idx", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_count"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .where(F.col("est_count") >= F.col("_total") * phi)
        .select("user_id", "est_count")
    )


# --- Hierarchical time rollup (continuous-aggregate algebra) -----------------
def hierarchical_time_rollup(events: DataFrame) -> DataFrame:
    """TimescaleDB-style continuous-aggregate hierarchy: minute partials
    roll up to hours, hour partials roll up to days — each level is
    computed FROM THE LEVEL BELOW, never from raw events, which is the
    property that makes a 100 TB metrics store serve a 90-day dashboard
    from O(days) pre-aggregated rows instead of re-scanning history.

    Only MERGEABLE measures live in the hierarchy (counts and sums
    compose by addition; distinct counts do NOT — that is exactly why
    the sketch store exists, see ``streaming/pipeline.SketchStoreWriter``).
    The double sum stays DECIMAL(38,12) through every level (decimal
    addition is associative, so partial-of-partial == direct-from-raw
    bit-exactly — which is what the oracle computes per grain), cast to
    double once at the output edge.

    Output: (grain ∈ {minute, hour, day}, bucket timestamp, visits,
    value_sum) — one frame, all three levels from ONE raw scan.
    """
    return _rollup(_minute_partials(events))


def _minute_partials(events: DataFrame) -> DataFrame:
    """The hierarchy's minute level: (bucket, visits, vsum) with the value
    sum kept DECIMAL(38,12)."""
    return events.groupBy(F.date_trunc("minute", F.col("ts")).alias("bucket")).agg(
        F.count("*").alias("visits"),
        F.sum(F.col("value").cast("decimal(38,12)")).alias("vsum"),
    )


def _rollup(m: DataFrame) -> DataFrame:
    """Roll merged minute partials (bucket, visits, vsum) up to hours and
    days, each level from the level below, and shape all three grains
    into one (grain, bucket, visits, value_sum) frame."""
    h = m.groupBy(F.date_trunc("hour", F.col("bucket")).alias("bucket")).agg(
        F.sum("visits").alias("visits"), F.sum("vsum").alias("vsum")
    )
    d = h.groupBy(F.date_trunc("day", F.col("bucket")).alias("bucket")).agg(
        F.sum("visits").alias("visits"), F.sum("vsum").alias("vsum")
    )

    def shape(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket",
            F.col("visits").cast("bigint").alias("visits"),
            F.col("vsum").cast("double").alias("value_sum"),
        )

    return shape(m, "minute").unionAll(shape(h, "hour")).unionAll(shape(d, "day"))


def oracle_hierarchical_time_rollup(ev_cte: str) -> str:
    """DuckDB twin of :func:`hierarchical_time_rollup` — each grain
    aggregated DIRECTLY from raw events; equality with the engine's
    partial-of-partial hierarchy proves the rollup algebra exact."""
    from ..functions.numeric import oracle_dsum12

    def grain(g: str) -> str:
        return f"""SELECT '{g}' AS grain, date_trunc('{g}', ts) AS bucket,
       CAST(count(*) AS BIGINT) AS visits,
       {oracle_dsum12("value")} AS value_sum
FROM ev GROUP BY 2"""

    return f"""{ev_cte}
{grain("minute")}
UNION ALL
{grain("hour")}
UNION ALL
{grain("day")}"""
