"""Structured Streaming ingest — the reference's write-side pipeline,
Spark-first.

Reference shape (processor/.../pipeline/MetricsCalculationPipeline.java):
Pub/Sub → parse → 12 ParDo legs, each shipping one Redis command per event
(INCRBY/PFADD/SADD); Redis is the aggregation engine, minute buckets live
in key strings, there is no windowing/watermarking at all, and at-least-once
redelivery can over-count the INCRBY legs (SURVEY §4 delta 1).

Spark shape: one ``readStream`` → ``withWatermark`` → either

* **built-in windowed aggregation** (``stream_*`` functions) — Spark keeps
  the per-window state, emits exact/approx aggregates; used for the
  stream/batch-parity queries the driver gates; or
* **foreachBatch partial-aggregate store** (``SketchStoreWriter``) — each
  micro-batch appends *mergeable partials* (counts, DataSketches HLL
  sketches) under one ``batch_id=<n>`` directory per family, then commits
  the batch in one store manifest; readers merge the committed partials
  at query time (``read_*``). This is the scale design for
  unbounded all-time distincts (SURVEY §4 delta 2): state per
  (grain × batch) is one row with a ≤KB sketch — bounded, idempotently
  re-writable (a replayed batch_id overwrites its own leaf → effective
  exactly-once, unlike the reference's INCRBY), and mergeable across
  arbitrarily many executors.

Scale notes (100 TB/day ingest):
* Partial aggregation happens map-side per micro-batch; the store receives
  per-(minute,batch) rows, not events — write amplification is O(grains),
  versus the reference's 12 Redis commands *per event*.
* Read-time merge (`hll_union_agg` / sum) touches only store rows: a day
  of 1-minute buckets × batches is tiny regardless of event volume.
* Reads serve a consistent prefix of committed batches. The manifest
  ``store/_committed`` names the newest committed batch id; every
  ``read_*`` is served from one snapshot per manifest version, whose five
  merge plans run as concurrent Spark jobs on the first read of that
  version, each over its family's leaves with ``batch_id`` ≤ the id, read
  with a fixed schema (:data:`STORE_SCHEMAS`, so no inference job). A
  dashboard refresh costs its slowest panel, and its later reads run no
  job. The manifest is committed by a local ``os.replace``, atomic on a
  POSIX file system; on an object store that rename is not atomic, and
  the commit needs a table format's (Delta/Iceberg) log instead.
* The five store families are independent write legs, as the reference's
  twelve are parallel Beam branches: they run as concurrent Spark jobs,
  so a micro-batch's sink call costs its slowest family, not the sum of
  five per-job fixed costs. Each writes its own ``batch_id=<n>`` leaf by
  plain static overwrite — no partition sort, no staging-dir rename, no
  session conf.
* A ``foreachBatch`` sink receives an already-planned batch (a
  ``LogicalRDD`` over the finished incremental plan), so Catalyst cannot
  prune columns across that barrier: project to the sink's columns
  before ``writeStream``. The sketch ingest selects ``STORE_COLUMNS``, so
  its scan decodes 3 of 6 columns and the per-row ``props`` JSON parse
  leaves the plan; the late-arrival and duplicate-delivery audits select
  ``ts`` and ``(event_id, ts)``.
* The store is plain partitioned parquet here; swap for Delta/Iceberg
  MERGE in production without touching the aggregation logic.
"""

from __future__ import annotations

import os
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import inheritable_thread_target

from ..operators.metrics import (
    CMS_WIDTH,
    HH_PHI,
    _cms_heavy_hitters,
    _minute_partials,
    _rollup,
    approx_uniques,
    cms_sketch,
    minute,
)
from ..sources.events import normalize_events, read_events_stream, read_parquet_stream
from ..tables import foreach_batch, materialized
from .state_reader import N_CHUNKS

WATERMARK_MINUTES = 10
WATERMARK = f"{WATERMARK_MINUTES} minutes"
# the only columns any SketchStoreWriter family reads
STORE_COLUMNS = ("ts", "variant", "user_id")
#: Files per micro-batch of the multi-file replays (heartbeat-capped
#: joins and the docs streams): fewer batches, same output.
REPLAY_FILES_PER_TRIGGER = 2
#: Share of the source replayed as history before the live chunks.
HISTORY_FRACTION = 0.5
#: Which chunk the duplicate-delivery replay delivers twice.
DUP_CHUNK = 1


@contextmanager
def _state_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` for the duration of a
    streaming replay — sized to STATE VOLUME, not core count.

    Streaming stateful operators fix their state-store partition count at
    query start and AQE never coalesces it; every micro-batch then pays a
    per-partition-per-store commit (snapshot + WAL file) even for empty
    partitions — a stream-stream join keeps 4 state stores per side, so 32
    partitions mean 100+ store commits per batch. When per-partition state
    is small (replay fixtures: ~10^5 rows) that fixed overhead dominates:
    measured on the sf0.1 interval join, 32 partitions → 5.2 s vs 8 → 1.9 s
    for identical output. Default 8 here; raise
    ``SPARK_GRAFT_STATE_PARTITIONS`` when real state is large (rule of
    thumb: ~1-2 M state rows per partition on a cluster).
    The previous value is restored after the query terminates."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, None)
    spark.conf.set(key, os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "8"))
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(key, old)


def _replay_to_memory(
    spark: SparkSession,
    df: DataFrame,
    prefix: str,
    mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run a streaming query to completion (availableNow) into a memory
    sink in output ``mode`` and return the final table, with state
    partitions pinned. ``checkpoint_dir`` pins the checkpoint location
    (default: an engine temp checkpoint)."""
    name = f"{prefix}_{uuid.uuid4().hex}"
    with _state_partitions(spark):
        w = df.writeStream.format("memory").queryName(name)
        if checkpoint_dir:
            w = w.option("checkpointLocation", checkpoint_dir)
        w.outputMode(mode).trigger(availableNow=True).start().awaitTermination()
    return _detach_memory_sink(spark, name)


def _detach_memory_sink(spark: SparkSession, name: str) -> DataFrame:
    """Pin the finished sink's rows as an independent checkpointed frame
    and drop the temp view. The memory sink holds every result row on the
    driver for as long as its table stays registered — one leaked table
    per replay invocation (a bench process runs hundreds). Checkpointing
    first keeps the returned frame valid after the view is gone; the
    sink's rows become collectable as soon as the caller drops the frame
    instead of living for the session."""
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


# ---------------------------------------------------------------------------
# Built-in streaming aggregations (stream/batch parity surface)
# ---------------------------------------------------------------------------
def stream_visits_per_minute(spark: SparkSession, events_path: str) -> DataFrame:
    """W1 as a streaming query: replay ``events_path`` with
    ``trigger(availableNow)`` through a watermarked 1-minute windowed count
    into a memory sink; return the final aggregate (minute, visits).

    Structured Streaming's incremental execution guarantees this equals the
    batch ``metrics.visits_per_minute`` on the same data — asserted by the
    driver's oracle (same SQL as w1) and tests/test_streaming.py.
    """
    ev = normalize_events(read_events_stream(spark, events_path))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("visits"))
        .select(F.col("w.start").alias("minute"), "visits")
    )
    return _replay_to_memory(spark, agg, "visits")


def stream_uniques_per_minute_approx(
    spark: SparkSession, events_path: str
) -> DataFrame:
    """W11 (HLL leg) as a streaming query: approx distinct users per minute."""
    ev = normalize_events(read_events_stream(spark, events_path))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(approx_uniques("user_id").alias("unique_users"))
        .select(F.col("w.start").alias("minute"), "unique_users")
    )
    return _replay_to_memory(spark, agg, "uniq")


def stream_sliding_visits(spark: SparkSession, events_path: str) -> DataFrame:
    """Sliding (hopping) window in streaming mode: visits per 5-minute
    window hopping every minute — the streaming twin of
    ``operators.sessions.sliding_visits`` (same oracle, stream/batch
    parity). Watermark bounds the open-window state to
    (watermark + window)/hop windows per key-space slice."""
    ev = normalize_events(read_events_stream(spark, events_path))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count("*").alias("visits"))
        .select(F.col("w.start").alias("window_start"), "visits")
    )
    return _replay_to_memory(spark, agg, "slide")


def stream_user_sessions(spark: SparkSession, events_path: str) -> DataFrame:
    """Gap-based session windows in streaming mode — the streaming twin of
    ``operators.sessions.user_sessions`` (same oracle). ``session_window``
    keeps one open session per user in state; the watermark closes and
    emits sessions once no on-time event can extend them."""
    from ..operators.sessions import SESSION_GAP

    ev = normalize_events(read_events_stream(spark, events_path))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _replay_to_memory(spark, agg, "sess")


def stream_uniques_per_ev_minute(spark: SparkSession, events_path: str) -> DataFrame:
    """W2 (exact leg) as a streaming query: EXACT unique users per
    (experiment, variant, minute). Streaming aggregation cannot hold a
    per-group distinct set, so exactness comes from the standard two-stage
    pattern: watermarked ``dropDuplicates`` on the full grain key (state =
    one row per distinct (window, experiment, variant, user) inside the
    watermark horizon), then an ordinary windowed count. Oracle: the same
    SQL as batch ``w2`` — stream/batch parity for an exact distinct."""
    ev = normalize_events(read_events_stream(spark, events_path))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .select(
            F.window("ts", "1 minute").alias("w"),
            "experiment_id",
            "variant",
            "user_id",
        )
        .dropDuplicates(["w", "experiment_id", "variant", "user_id"])
        .groupBy("w", "experiment_id", "variant")
        .agg(F.count("*").alias("unique_users"))
        .select(
            F.col("w.start").alias("minute"),
            "experiment_id",
            "variant",
            "unique_users",
        )
    )
    return _replay_to_memory(spark, agg, "evuniq")


def stream_deduped_visits(spark: SparkSession, events_path: str) -> DataFrame:
    """At-least-once delivery repaired by streaming dedup: the source is
    read TWICE and unioned (simulating redelivery of every event — the
    reference's Pub/Sub at-least-once wart that makes its INCRBY legs
    over-count, SURVEY §4 delta 1), then
    ``dropDuplicatesWithinWatermark('event_id')`` removes the replays
    before the per-minute count. The oracle is the plain batch W1 — i.e.
    the duplicates demonstrably don't over-count, unlike the reference.

    State: one entry per event_id within the watermark horizon — bounded
    by (event rate × watermark), the scalable streaming-dedup contract."""
    a = normalize_events(read_events_stream(spark, events_path))
    b = normalize_events(read_events_stream(spark, events_path))
    ev = a.unionByName(b)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("visits"))
        .select(F.col("w.start").alias("minute"), "visits")
    )
    return _replay_to_memory(spark, agg, "dedupvisits")


def _click_error_join(ev: DataFrame, how: str) -> DataFrame:
    """The (click, error) interval join of the normalized event stream
    ``ev``: each click paired with every error by the same user within
    the 5 minutes after it, both sides watermarked; ``how`` is
    ``"inner"`` or ``"leftOuter"``."""
    clicks = (
        ev.where(F.col("variant") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    errors = (
        ev.where(F.col("variant") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("error_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", WATERMARK)
    )
    return clicks.join(
        errors,
        F.expr(
            "click_user = error_user AND "
            "error_ts > click_ts AND "
            "error_ts <= click_ts + interval 5 minutes"
        ),
        how,
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "error_id",
        "click_ts",
        "error_ts",
        (F.unix_micros("error_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


def stream_click_error_join(spark: SparkSession, events_path: str) -> DataFrame:
    """Watermarked stream-stream inner join: every (click, error) pair of
    the same user where the error lands within 5 minutes after the click —
    the funnel/attribution join shape.

    Both sides carry an event-time watermark and the join predicate bounds
    ``error_ts`` to a closed interval after ``click_ts``; together these
    let Structured Streaming evict buffered rows once no future match is
    possible, so join state is bounded by (rate × (watermark + interval)),
    not by stream length. Inner-join matches emit as soon as both sides
    arrive (append mode). State is keyed by the equi-column ``user_id`` —
    the shuffle key — with the time bound as the pruning residual.

    Oracle: the identical batch self-join in SQL — stream/batch parity for
    the interval-join semantics.
    """
    ev = normalize_events(read_events_stream(spark, events_path))
    return _replay_to_memory(spark, _click_error_join(ev, "inner"), "ssjoin", "append")


def stream_enriched_events(
    spark: SparkSession,
    events_path: str,
    customer: DataFrame,
) -> DataFrame:
    """Stream-static dimension enrichment: the event *stream* left-joined
    to the static ``customer`` dimension — the canonical streaming lookup
    join (Structured Streaming re-plans the static side per micro-batch,
    so a slowly-refreshed dimension table is picked up between batches).

    Reuses the batch operator verbatim
    (``operators.timeseries.events_enriched_with_customer``) — the same
    declarative plan runs in both modes, which IS the stream/batch parity
    argument: one broadcast hash join per micro-batch, zero stream-side
    shuffle, no state store at all (stream-static left joins are
    stateless). Oracle: the batch twin's SQL.
    """
    from ..operators.timeseries import events_enriched_with_customer

    ev = normalize_events(read_events_stream(spark, events_path))
    return _replay_to_memory(
        spark, events_enriched_with_customer(ev, customer), "enrich", "append"
    )


# ---------------------------------------------------------------------------
# foreachBatch mergeable-partials store
# ---------------------------------------------------------------------------
#: Each store family's leaf schema with its ``batch_id`` partition column:
#: what Spark infers from the leaves, nullability included. Readers pass
#: it, so planning a store read runs no schema-inference job.
STORE_SCHEMAS = {
    "visits": "minute timestamp, visits bigint, batch_id int",
    "user_sketch_minute": "minute timestamp, sketch binary, batch_id int",
    "user_sketch_variant": "variant string, sketch binary, batch_id int",
    "user_set_variant": "variant string, user_id bigint, batch_id int",
    "user_cms": "row_idx int, bucket bigint, cnt bigint, batch_id int",
}
#: the store manifest, ``store/_committed``: ``<batch id> <token>``
COMMITTED = "_committed"


def _manifest(store_dir: str) -> str | None:
    """The store manifest's content; ``None`` before the first commit."""
    try:
        with open(os.path.join(store_dir, COMMITTED)) as f:
            return f.read()
    except FileNotFoundError:
        return None


class SketchStoreWriter:
    """foreachBatch sink writing mergeable partial aggregates.

    Families written per micro-batch (mirroring the reference's key
    families, SURVEY §1.3):

    * ``visits``              — (minute, visits) partial counts       (W1)
    * ``user_sketch_minute``  — (minute, sketch) HLL of user_id       (W11)
    * ``user_sketch_variant`` — (variant, sketch) HLL of user_id      (W3, all-time)
    * ``user_set_variant``    — (variant, user_id) distinct pairs     (W4, exact twin)
    * ``user_cms``            — (row_idx, bucket, cnt) count-min cells (heavy hitters)

    Each family is a static overwrite of its own leaf,
    ``store/<family>/batch_id=<n>`` — replaying a batch overwrites its own
    leaf, making the sink idempotent (effective exactly-once). No session
    conf is touched. The five writes run concurrently, one thread per
    family; each thread inherits the caller's job group (a streaming
    query's run id), so ``query.stop()`` cancels in-flight writes. A
    failed write raises only after every other write has returned.

    After all five writes succeed the call commits the batch: it
    atomically replaces the manifest :data:`COMMITTED` with
    ``max(previous id, batch_id)`` and a fresh random token. Readers
    serve the leaves with ``batch_id`` ≤ that id, so a batch is visible
    in every family or in none; the id never goes back, so replaying an
    old batch hides no later one, and the token makes every successful
    call, replays included, a new store version.

    Only :data:`STORE_COLUMNS` are cached. The batch's plan is fixed
    before the sink sees it, so that projection cannot reach the scan:
    a query feeding this sink should select ``STORE_COLUMNS`` before
    ``writeStream``, as :func:`run_sketch_ingest` does.
    """

    def __init__(self, store_dir: str):
        self.store_dir = store_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.select(*STORE_COLUMNS).cache()
        try:
            families = {
                "visits": ev.groupBy(minute()).agg(F.count("*").alias("visits")),
                "user_sketch_minute": ev.groupBy(minute()).agg(
                    F.hll_sketch_agg("user_id").alias("sketch")
                ),
                "user_sketch_variant": ev.groupBy("variant").agg(
                    F.hll_sketch_agg("user_id").alias("sketch")
                ),
                "user_set_variant": ev.select("variant", "user_id").distinct(),
                # per-batch count-min cells — the frequency-sketch family:
                # bounded depth×width partial, merged at read by summing
                "user_cms": cms_sketch(ev),
            }

            @inheritable_thread_target(ev.sparkSession)
            def write(family: str) -> None:
                families[family].write.mode("overwrite").parquet(
                    f"{self.store_dir}/{family}/batch_id={batch_id}"
                )

            with ThreadPoolExecutor(len(families)) as pool:
                writes = [pool.submit(write, family) for family in families]
            for w in writes:
                w.result()
        finally:
            ev.unpersist()
        committed = batch_id
        manifest = _manifest(self.store_dir)
        if manifest is not None:
            committed = max(committed, int(manifest.split()[0]))
        path = os.path.join(self.store_dir, COMMITTED)
        tmp = f"{path}.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(f"{committed} {uuid.uuid4().hex}\n")
        os.replace(tmp, path)


def run_sketch_ingest(
    spark: SparkSession,
    events_path: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Replay ``events_path`` through the foreachBatch store (availableNow).

    The stream is projected to :data:`STORE_COLUMNS` before
    ``writeStream``: the sink receives an already-planned batch, so only a
    projection here prunes the file scan to three columns and drops the
    ``props`` JSON parse from the plan."""
    ev = normalize_events(read_events_stream(spark, events_path)).select(*STORE_COLUMNS)
    q = (
        ev.withWatermark("ts", WATERMARK)
        .writeStream.foreachBatch(SketchStoreWriter(store_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- Read-side merges over the partials store --------------------------------
def _hll_estimate():
    return F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("unique_users")


def _merge_heavy_hitters(family) -> DataFrame:
    cells = family("user_cms").groupBy("row_idx", "bucket").agg(F.sum("cnt").alias("cnt"))
    return _cms_heavy_hitters(
        family("user_set_variant").select("user_id").distinct(),
        cells,
        cells.where(F.col("row_idx") == 0).agg(F.sum("cnt").alias("_total")),
        CMS_WIDTH,
        HH_PHI,
    )


#: each dashboard panel's merge plan over ``family(name)``, the committed
#: leaves of one family; the ``read_*`` docstrings say what each serves
_MERGES = {
    "visits": lambda family: (
        family("visits").groupBy("minute").agg(F.sum("visits").alias("visits"))
    ),
    "uniques_per_minute": lambda family: (
        family("user_sketch_minute").groupBy("minute").agg(_hll_estimate())
    ),
    "uniques_per_variant": lambda family: (
        family("user_sketch_variant").groupBy("variant").agg(_hll_estimate())
    ),
    "uniques_per_variant_exact": lambda family: (
        family("user_set_variant")
        .groupBy("variant")
        .agg(F.count_distinct("user_id").alias("unique_users"))
    ),
    "heavy_hitters": _merge_heavy_hitters,
}


def _leaves(spark: SparkSession, store_dir: str, manifest: str | None):
    """``family(name)``: the family's leaves with ``batch_id`` ≤ the
    manifest's id, read with its fixed schema; an empty frame of that
    schema when no batch is committed."""

    def family(name: str) -> DataFrame:
        if manifest is None:
            return spark.createDataFrame([], STORE_SCHEMAS[name])
        return (
            spark.read.schema(STORE_SCHEMAS[name])
            .parquet(f"{store_dir}/{name}")
            .where(F.col("batch_id") <= int(manifest.split()[0]))
        )

    return family


def merge_plan(spark: SparkSession, store_dir: str, panel: str) -> DataFrame:
    """The unexecuted merge plan that ``read_<panel>`` serves, over the
    store's committed leaves: for a caller that runs one panel, not the
    whole snapshot."""
    return _MERGES[panel](_leaves(spark, store_dir, _manifest(store_dir)))


_snapshot_lock = threading.Lock()
#: the last store read: ``(store_dir, manifest)`` and, per panel, its
#: merged rows as an Arrow table with their Spark schema
_snapshot: tuple = (None, {})


def _merge_all(spark: SparkSession, store_dir: str, manifest: str | None) -> dict:
    """Every panel's (Arrow rows, schema) at one store version. The five
    merge plans run as concurrent Spark jobs in the caller's job group;
    with no committed batch nothing runs and every table is empty."""
    family = _leaves(spark, store_dir, manifest)

    @inheritable_thread_target(spark)
    def merge(panel: str) -> tuple:
        df = _MERGES[panel](family)
        if manifest is None:
            return to_arrow_schema(df.schema).empty_table(), df.schema
        return df.toArrow(), df.schema

    with ThreadPoolExecutor(len(_MERGES)) as pool:
        return dict(zip(_MERGES, pool.map(merge, _MERGES)))


def _serve(spark: SparkSession, store_dir: str, panel: str) -> DataFrame:
    """``panel`` from the snapshot of the store's current manifest, merged
    on a miss (once, under the lock, for all callers). The result is a
    local relation: collecting it launches no Spark job."""
    global _snapshot
    key = (store_dir, _manifest(store_dir))
    with _snapshot_lock:
        if _snapshot[0] != key:
            _snapshot = (key, _merge_all(spark, store_dir, key[1]))
        table, schema = _snapshot[1][panel]
    return spark.createDataFrame(table, schema)


def read_visits(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merge visit partials: sum over committed batches (R2's MGET read,
    minus Redis). Served from the store snapshot, as every ``read_*``
    is: the first read at a new manifest version merges all five panels
    concurrently, and later reads at that version run no Spark job."""
    return _serve(spark, store_dir, "visits")


def read_uniques_per_minute(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merge per-minute HLL partials: union sketches, estimate (R3 PFCOUNT)."""
    return _serve(spark, store_dir, "uniques_per_minute")


def read_uniques_per_variant(spark: SparkSession, store_dir: str) -> DataFrame:
    """All-time uniques per variant from bounded sketch state (W3 read)."""
    return _serve(spark, store_dir, "uniques_per_variant")


def read_uniques_per_variant_exact(spark: SparkSession, store_dir: str) -> DataFrame:
    """Exact all-time uniques per variant from the distinct-pairs family
    (W4's SADD/SCARD twin)."""
    return _serve(spark, store_dir, "uniques_per_variant_exact")


def read_heavy_hitters(spark: SparkSession, store_dir: str) -> DataFrame:
    """All-time heavy hitters HH(φ) from the count-min family: sum the
    per-batch cells into the full sketch (the CMS merge IS a per-cell
    sum), probe the candidate keys from the distinct-pairs family with
    row minima, keep estimates ≥ φ·N. N comes from row 0's cell sum —
    every event increments exactly one bucket per row, so any single
    row's total is the event count.

    Merged state stays ≤ depth×width rows no matter how many batches the
    stream has run — the bounded-state answer to "which keys are hot"
    (the reference has no analogue; Redis would need a per-key INCRBY
    whose keyspace grows with distinct users). Deterministic: the summed
    cells equal the batch :func:`~..operators.metrics.cms_sketch` exactly
    (asserted in tests), so estimates inherit the batch twin's bounds.
    """
    return _serve(spark, store_dir, "heavy_hitters")


def _ts_micros(tbl):
    """Normalize an arrow events table's ``ts`` to timestamp[us] — the
    ns → µs rule of :func:`_replay_dir`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    f = tbl.schema.field("ts")
    if getattr(f.type, "unit", None) == "us":
        return tbl
    i = tbl.schema.get_field_index("ts")
    cast = pc.cast(tbl["ts"], pa.timestamp("us", tz=f.type.tz), safe=False)
    return tbl.set_column(i, pa.field("ts", cast.type), cast)


# ---------------------------------------------------------------------------
# Replay materializer: fixtures as mtime-ordered multi-file streams
# ---------------------------------------------------------------------------
def _replay_dir(kind: str, src: str, params: tuple, build) -> str:
    """Materialize the parquet file ``src`` once as a replay directory of
    shape ``kind`` (a :func:`~..tables.materialized` artifact keyed on
    ``src`` + ``params``) and return its path; ``build(out, tbl)`` writes
    the directory's files from the source table (usually via
    :func:`_write_chunks`).

    The file source turns a directory into a stream by replaying its files
    in modification-time order (the Structured Streaming file-source
    contract), so a replay directory is a deterministic stand-in for the
    reference's Pub/Sub stream, and the stream/batch oracles re-derive
    chunk membership from the data alone.

    An events table's ``ts`` is normalized to µs before ``build``: a
    source written by this engine's session is INT96, which pyarrow
    reads as timestamp[ns] and would re-write as INT64 TIMESTAMP(NANOS)
    — an encoding the streaming scan's explicit µs schema refuses
    (FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH, measured at the
    r8 soak) and one that silently breaks any µs-unit epoch arithmetic
    on the column (the late-arrival delay model). Truncating ns → µs is
    the engine's own convention (``timestamp_micros(ts DIV 1000)`` in
    read_events); µs sources (the driver fixtures) pass through
    untouched.
    """
    import pyarrow.parquet as pq

    def write(out: str) -> None:
        tbl = pq.read_table(src)
        build(out, _ts_micros(tbl) if "ts" in tbl.column_names else tbl)

    return materialized(f"{kind}_replay", src, params, write)


def _write_chunks(out: str, tbl, n_chunks: int, tail=()) -> list[str]:
    """Write ``tbl`` in row order as ``n_chunks`` equal slices
    ``chunk_%04d.parquet`` (the last may be shorter), then each ``(name,
    table)`` of ``tail``, and give the files strictly increasing mtimes
    2 s apart in that order — the order the file source replays them in;
    2 s so coarse-grained filesystems still tell them apart. An empty
    table still writes one (empty) chunk, so the directory always carries
    the schema a stream reader infers. Returns the paths in replay order."""
    import time

    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    n = tbl.num_rows
    step = max(1, (n + n_chunks - 1) // n_chunks)
    files = [
        (f"chunk_{i // step:04d}.parquet", tbl.slice(i, step))
        for i in range(0, max(n, 1), step)
    ]
    paths = []
    for name, part in [*files, *tail]:
        paths.append(os.path.join(out, name))
        pq.write_table(part, paths[-1])
    base = time.time() - 2 * len(paths)
    for i, p in enumerate(paths):
        os.utime(p, (base + 2 * i, base + 2 * i))
    return paths


def _sorted(tbl, *cols: str):
    """``tbl`` in ascending (stable) order of ``cols``."""
    import pyarrow.compute as pc

    return tbl.take(pc.sort_indices(tbl, sort_keys=[(c, "ascending") for c in cols]))


def _heartbeat_replay_dir(events_path: str, n_chunks: int = N_CHUNKS) -> str:
    """Materialize the events fixture as a time-ordered multi-file replay
    plus two far-future WATERMARK-HEARTBEAT files.

    Outer stream-stream joins only emit their NULL (unmatched) rows when
    the watermark passes a buffered row's last possible match time — and a
    watermark advanced in batch N takes effect in batch N+1. A replay that
    simply ends therefore leaves every tail row stuck in the state store
    and the outer results incomplete. The production analogue is a source
    that keeps ticking; the replay analogue built here is two heartbeat
    files (one click + one error each, ``user_id = -1``, a day past the
    data, strictly increasing): the first advances both sides' watermarks
    past all real data, the second triggers the batch that evicts-and-
    emits every remaining unmatched row. Heartbeats are filtered out of
    the join output by ``user_id >= 0``; an empty source gets none.

    Chunks are split in event-time order, so the replay is a monotone
    stream — no artificial lateness, so stream output equals the batch
    left join exactly.
    """
    from datetime import timedelta

    import pyarrow as pa

    def build(out, tbl):
        tbl = _sorted(tbl, "ts")
        heartbeats = []
        for j in range(2 if tbl.num_rows else 0):
            ts = tbl["ts"][-1].as_py() + timedelta(days=1, minutes=j)
            rows = [
                {
                    "event_id": -1 - 2 * j - k,
                    "ts": ts,
                    "user_id": -1,
                    "event_type": variant,
                    "value": 0.0,
                    "props": "{}",
                }
                for k, variant in enumerate(("click", "error"))
            ]
            heartbeats.append(
                (f"heartbeat_{j}.parquet", pa.Table.from_pylist(rows, schema=tbl.schema))
            )
        _write_chunks(out, tbl, n_chunks, heartbeats)

    return _replay_dir("heartbeat", events_path, (n_chunks,), build)


def stream_click_error_left_join(spark: SparkSession, events_path: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every click
    paired with each error by the same user within the 5 minutes after it,
    AND every click with no such error as a NULL row — the attribution
    join that also has to account for the non-converting majority.

    The inner twin (:func:`stream_click_error_join`) emits matches as both
    sides arrive; the outer semantics are strictly harder — a NULL row can
    only be declared once the WATERMARK proves no matching error can still
    arrive, so unmatched clicks are held in the state store and emitted on
    eviction. State stays bounded by rate × (watermark + interval) exactly
    as in the inner case. The replay feeds a time-ordered multi-file
    stream capped by two heartbeat files (see :func:`_heartbeat_replay_dir`)
    so that eviction actually runs before the replay stops; in production
    the source ticking forward plays that role.

    Oracle: the identical batch LEFT JOIN — stream/batch parity for the
    outer interval-join semantics.

    ``REPLAY_FILES_PER_TRIGGER`` = 2 (r5): with the 5-file replay (3 data
    chunks + 2 heartbeats) this schedules 3 micro-batches —
    [c0,c1], [c2,hb0], [hb1] — instead of 5. Mid-replay watermark
    advancement and the heartbeat-flush eviction are both still
    exercised (hb0's watermark is computed at the end of batch 2 and
    applied in batch 3, whose hb1 row triggers the final eviction), and
    the output is byte-identical; the r4 bench showed ~2.4× of the inner
    twin's wall time was pure per-micro-batch harness overhead at
    mFPT=1 (r4 verdict item 6).
    """
    replay_dir = _heartbeat_replay_dir(events_path)
    ev = normalize_events(
        read_events_stream(spark, replay_dir, REPLAY_FILES_PER_TRIGGER)
    )
    joined = _click_error_join(ev, "leftOuter")
    # The heartbeat filter must run on the MATERIALIZED output, not inside
    # the streaming plan: as a streaming-side filter Catalyst pushes
    # ``user_id >= 0`` below the join and through the click-side
    # EventTimeWatermark node, so the heartbeat clicks never advance the
    # click-side watermark — the join's global watermark (min of both
    # sides) then stalls at the last REAL click and withholds exactly that
    # click's NULL row (reproduced; the error side kept advancing, which
    # made the bug a single-row discrepancy).
    return _replay_to_memory(spark, joined, "ssjoin_outer", "append").where(
        F.col("user_id") >= 0
    )


def stream_quality_filtered_docs(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming corpus ingestion with the row-local quality prefilter —
    documents arrive as an unbounded stream (file source ≙ an object-store
    drop folder or Kafka topic of crawled docs) and only rows passing the
    quality gate flow on to the (batch) dedup/mix stages downstream.

    The projection is :func:`operators.text.quality_projection` — purely
    stateless, so the streaming plan is scan → project → filter with no
    state store, no watermark, and per-micro-batch cost O(batch). This is
    the shape that matters at ingest scale: quality scoring happens once,
    on arrival, instead of as a corpus-wide batch rescan.

    Oracle: the identical batch projection + threshold — stream/batch
    parity for the stateless filter path.
    """
    from ..operators.text import GATE_MIN_QUALITY, quality_projection

    docs = read_parquet_stream(spark, docs_path, spark.read.parquet(docs_path).schema)
    filtered = quality_projection(docs).where(F.col("quality") >= GATE_MIN_QUALITY)
    return _replay_to_memory(spark, filtered, "qualdocs", "append")


def _chunked_events_replay_dir(events_path: str, n_chunks: int = N_CHUNKS) -> str:
    """ts-ordered (stable sort) multi-file replay of the events fixture —
    the single-file fixture otherwise replays as ONE batch, which never
    exercises cross-batch state. Chunk boundaries fall wherever the ts
    order puts them, so events of the same minute routinely straddle two
    shipments — exactly the condition the partial-merge twins must
    survive."""
    return _replay_dir(
        "events",
        events_path,
        (n_chunks,),
        lambda out, tbl: _write_chunks(out, _sorted(tbl, "ts"), n_chunks),
    )


def _split_replay_dir(
    events_path: str,
    history_fraction: float = HISTORY_FRACTION,
    n_live_chunks: int = N_CHUNKS,
) -> tuple[str, str]:
    """(ts, event_id)-ordered split of the events fixture into a single
    HISTORY parquet (the batch-backfill input) and a LIVE replay
    directory — the backfill-then-stream migration shape the TWS
    initial-state bootstrap replays; the unique tie-break makes the cut a
    pure function of the data. Both halves are nonempty from two rows on,
    and always readable parquet. Returns (history_file, live_dir)."""
    import pyarrow.parquet as pq

    def build(out, tbl):
        tbl = _sorted(tbl, "ts", "event_id")
        n = tbl.num_rows
        cut = max(0, min(max(int(n * history_fraction), 1), n - 1))
        pq.write_table(tbl.slice(0, cut), os.path.join(out, "history.parquet"))
        _write_chunks(os.path.join(out, "live"), tbl.slice(cut), n_live_chunks)

    out = _replay_dir("split", events_path, (history_fraction, n_live_chunks), build)
    return os.path.join(out, "history.parquet"), os.path.join(out, "live")


#: Deterministic per-event delivery delay for the late-arrival replay:
#: most events arrive within minutes (``event_id % 13`` minutes of
#: network jitter); every 25th event is a buffered offline client that
#: flushes ``event_id % 40`` DAYS late — the heavy-tailed arrival
#: distribution that actually exercises watermark drops on a fixture
#: whose event-time span (30 days / 3 replay chunks) dwarfs any
#: minutes-scale jitter, sized so drops survive the engine's TWO-batch
#: watermark enforcement lag (a drop needs ~2 chunk spans ≈ 20 days of
#: delay; (25, 40) yields 8/76/758 late rows at sf0.001/0.01/0.1).
#: Both the replay writer and the DuckDB oracle derive the same delay
#: from ``event_id``, so arrival order is a pure function of the data.
LATE_EVERY = 25
LATE_DAYS_MOD = 40
JITTER_MINUTES_MOD = 13


def _late_arrival_replay_dir(events_path: str, n_chunks: int = N_CHUNKS) -> str:
    """Materialize the events fixture ordered by simulated ARRIVAL time
    (event time + deterministic per-event delay, ties by event_id) as an
    n-chunk multi-file replay — the out-of-order delivery the ts-ordered
    replay (:func:`_chunked_events_replay_dir`) deliberately cannot
    produce. ``ts`` is written as zone-less µs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def build(out, tbl):
        ts = tbl["ts"].cast(pa.timestamp("us"))
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
        eid = tbl["event_id"].to_numpy()
        delay_us = np.where(
            eid % LATE_EVERY == 0,
            (eid % LATE_DAYS_MOD) * 86_400_000_000,
            (eid % JITTER_MINUTES_MOD) * 60_000_000,
        )
        arrival = pa.array(ts.cast(pa.int64()).to_numpy() + delay_us, pa.int64())
        order = pc.sort_indices(
            pa.table({"arrival": arrival, "event_id": tbl["event_id"]}),
            sort_keys=[("arrival", "ascending"), ("event_id", "ascending")],
        )
        _write_chunks(out, tbl.take(order), n_chunks)

    jitter = (LATE_EVERY, LATE_DAYS_MOD, JITTER_MINUTES_MOD)
    return _replay_dir("late", events_path, (n_chunks, jitter), build)


def stream_late_arrivals_audit(
    spark: SparkSession, events_path: str, n_chunks: int = N_CHUNKS
) -> DataFrame:
    """Late-data observability: per-minute count of events that a
    watermarked streaming aggregation WOULD DROP — the measurable face of
    the semantic delta SURVEY §2.5 documents (the reference's Redis legs
    accept arbitrarily late events forever; Spark's watermark does not).

    Replays the fixture in simulated ARRIVAL order
    (:func:`_late_arrival_replay_dir`) one chunk per micro-batch and
    applies Spark's own drop rule per batch, MEASURED against the real
    engine (not the folklore rule): the watermark that batch N's
    late-row filter enforces is the one computed from event-time stats
    through batch **N−2** — i.e. the value StreamingQueryProgress
    REPORTS for batch N−1 — ms-truncated max minus the delay; a row is
    dropped when its 1-minute window END ≤ that watermark. (The
    folklore "max of all prior batches" lag-1 rule over-counts: on the
    sf0.01 replay it predicts 66 drops where the engine's
    ``numRowsDroppedByWatermark`` records exactly 1 — the lag-2 rule's
    exact prediction, pinned by tests/test_streaming_late.py against
    the engine counter.) The audit emits (minute, late_events) for the
    dropped rows; a real pipeline would wire the same side-aggregation
    into ``foreachBatch`` next to the main sink (or read the
    ``droppedRowsByWatermark`` counter, which reports totals only, not
    per-minute attribution).

    Determinism: arrival order, chunk boundaries, and the watermark
    sequence are all pure functions of the fixture, so a DuckDB oracle
    (:func:`oracle_stream_late_arrivals`) re-derives the result exactly.
    Parity with the real engine is pinned by
    tests/test_streaming_late.py: an append-mode windowed count over the
    same replay drops exactly the audited rows.

    Scale notes: the per-batch watermark is one MAX aggregate (driver
    receives a single long — the same information a StreamingQuery's
    progress carries); the late-row count is a map-side filter + partial
    aggregation, no extra shuffle beyond the per-minute groupBy the main
    query already does.
    """
    replay = _late_arrival_replay_dir(events_path, n_chunks)
    # the audit sink reads only ts; project before the foreachBatch barrier
    stream = read_events_stream(spark, replay).select("ts")
    delay_us = WATERMARK_MINUTES * 60 * 1_000_000
    # Sequential micro-batches (availableNow) make this closure-held
    # watermark state exact; a multi-query production deployment would
    # read it from StreamingQueryProgress instead. Two-deep state
    # mirrors the engine's enforcement lag: ``enforced`` is the
    # watermark base through batch N−2 (what batch N's filter uses),
    # ``pending`` is batch N−1's contribution, folded in only after the
    # current batch was filtered. Max event times are ms-truncated
    # before the delay subtraction, as the engine truncates.
    hwm = {"enforced_us": None, "pending_us": None}

    def audit(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        enforced = hwm["enforced_us"]
        if enforced is not None:
            wmark_us = (enforced // 1000) * 1000 - delay_us
            (
                batch.where(
                    F.unix_micros(F.date_trunc("minute", F.col("ts")))
                    + 60_000_000
                    <= F.lit(wmark_us)
                )
                .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
                .agg(F.count("*").alias("late_events"))
                .write.mode("append")
                .parquet(out_dir)
            )
        else:
            os.makedirs(out_dir, exist_ok=True)
        # fold batch N-1's max into the enforced base; stage this batch's
        pend = hwm["pending_us"]
        if pend is not None:
            hwm["enforced_us"] = (
                pend if enforced is None else max(enforced, pend)
            )
        mx = batch.agg(F.max(F.unix_micros("ts"))).first()[0]
        if mx is not None:
            prev_pend = hwm["pending_us"]
            hwm["pending_us"] = mx if prev_pend is None else max(prev_pend, mx)

    return foreach_batch(
        stream,
        audit,
        lambda out_dir: spark.read.schema("minute timestamp, late_events bigint")
        .parquet(out_dir)
        .groupBy("minute")
        .agg(F.sum("late_events").cast("bigint").alias("late_events")),
    )


def stream_visits_with_late_backfill(
    spark: SparkSession,
    events_path: str,
) -> DataFrame:
    """The production REPAIR of the watermark/late-data delta: a real
    update-mode watermarked per-minute count over the out-of-order
    arrival replay (drops late rows, exactly the
    :func:`stream_late_arrivals_audit` set — engine-counter parity in
    tests/test_streaming_late.py) MERGED with the audited late counts —
    the Lambda-style late-backfill correction. The merged series equals
    the batch W1 counts on the same events EXACTLY, which is the whole
    point: the oracle is the plain w1 SQL, no replay modeling needed.

    At 100 TB/day this is the standard shape: the streaming agg serves
    fresh minutes with bounded state; late rows land in a side store
    (here: the audit's per-minute counts) and a periodic backfill MERGE
    corrects closed minutes — Spark's watermark bounds state without
    silently losing the late tail the reference's Redis INCRBY legs
    would have absorbed.

    Output: (minute, visits).
    """
    replay = _late_arrival_replay_dir(events_path)
    late = stream_late_arrivals_audit(spark, events_path)
    agg = (
        read_events_stream(spark, replay)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("minute"), "n")
    )
    streamed = (
        _replay_to_memory(spark, agg, "backfill", "update")
        .groupBy("minute")
        .agg(F.max("n").alias("n"))
    )
    return (
        streamed.join(late, "minute", "full_outer")
        .select(
            "minute",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("late_events"), F.lit(0))
            ).cast("bigint").alias("visits"),
        )
    )


def oracle_stream_late_arrivals() -> str:
    """DuckDB twin of :func:`stream_late_arrivals_audit` — same arrival
    order, chunking, drop rule, and the engine's measured enforcement
    lag: chunk N filters against the ms-truncated max event time over
    chunks ≤ N−2 (``2 PRECEDING``), minus the delay."""
    return f"""WITH b AS (
  SELECT ts, event_id,
         ts + CASE WHEN event_id % {LATE_EVERY} = 0
                   THEN to_days(CAST(event_id % {LATE_DAYS_MOD} AS INT))
                   ELSE to_minutes(CAST(event_id % {JITTER_MINUTES_MOD} AS INT))
              END AS arrival
  FROM events
),
n AS (SELECT greatest(1, CAST(ceil(count(*) / {N_CHUNKS}.0) AS BIGINT)) AS step FROM b),
e AS (
  SELECT ts,
         (row_number() OVER (ORDER BY arrival, event_id) - 1)
           // (SELECT step FROM n) AS chunk
  FROM b
),
mx AS (SELECT chunk, max(epoch_us(ts)) AS mus FROM e GROUP BY 1),
wm AS (
  SELECT chunk,
         (max(mus) OVER (ORDER BY chunk
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
            // 1000) * 1000 - {WATERMARK_MINUTES * 60 * 1_000_000} AS wmark_us
  FROM mx
)
SELECT date_trunc('minute', e.ts) AS minute,
       CAST(count(*) AS BIGINT) AS late_events
FROM e JOIN wm USING (chunk)
WHERE epoch_us(date_trunc('minute', e.ts)) + 60000000 <= wm.wmark_us
GROUP BY 1"""


def _chunked_docs_replay_dir(docs_path: str, n_chunks: int = N_CHUNKS) -> str:
    """Materialize the documents fixture as a doc_id-ordered multi-file
    replay (one micro-batch per file) — the streaming analogue of a crawl
    landing in an object-store drop folder one shipment at a time."""
    return _replay_dir(
        "docs",
        docs_path,
        (n_chunks,),
        lambda out, tbl: _write_chunks(out, _sorted(tbl, "doc_id"), n_chunks),
    )


def _docs_stream(
    spark: SparkSession, docs_path: str, n_chunks: int = N_CHUNKS
) -> DataFrame:
    """The documents fixture as a stream: its :func:`_chunked_docs_replay_dir`
    replay under the source's schema, the front end of every docs-stream
    key.

    mFPT note (r10 optimization): ``REPLAY_FILES_PER_TRIGGER`` = 2 gives 2
    micro-batches ([c0,c1],[c2]) instead of 3, the r5 click_error
    precedent. Each consumer's output is batching-invariant
    (per-document stateless, probes of persisted/static artifacts, or
    mergeable/prefix-sum state composed over doc_id-ascending chunks —
    argued in each docstring) and every key stays hash-gated by its
    unchanged driver oracle; the cross-batch boundary (batch 2 probing
    batch 1's index/state) remains exercised. Measured: one micro-batch
    of fixed setup (source listing, store commits, job scheduling) saved
    per query — ~30-40% of replay-harness wall time at sf0.1
    (``stream_drop_audit``: 12.4 s at mFPT=1 vs 10.7 s).
    """
    return read_parquet_stream(
        spark,
        _chunked_docs_replay_dir(docs_path, n_chunks),
        spark.read.parquet(docs_path).schema,
        REPLAY_FILES_PER_TRIGGER,
    )


class IngestDedupWriter:
    """foreachBatch sink for the streaming incremental exact dedup: each
    micro-batch collapses its own duplicates (min doc_id per content
    hash), anti-joins against the accumulated index store, and appends
    only first-seen hashes. CRASH-IDEMPOTENT without a transaction log:
    a batch replayed after a crash-between-write-and-commit finds its own
    hashes already in the index, so the anti-join filters every row and
    the re-run appends nothing — the exactly-once property
    ``tests/test_recovery.py`` kills-and-restarts to prove."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir

    def __call__(self, batch: DataFrame, _batch_id: int) -> None:
        b = (
            batch.select(F.md5("text").alias("content_hash"), "doc_id")
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        if os.path.isdir(self.index_dir):
            idx = batch.sparkSession.read.parquet(self.index_dir).select(
                "content_hash"
            )
            b = b.join(idx, "content_hash", "left_anti")
        b.write.mode("append").parquet(self.index_dir)


def stream_ingest_dedup(
    spark: SparkSession, docs_path: str, n_chunks: int = N_CHUNKS
) -> DataFrame:
    """Streaming incremental exact dedup — the ingest-side twin of
    ``dedup.incremental_new_docs``: documents arrive in shipments (one
    micro-batch per file), each batch collapses its own duplicates, anti-
    joins against the accumulated content-hash INDEX STORE, and appends
    only first-seen hashes. The index doubles as the accepted-corpus
    manifest, so dedup work per shipment is O(batch × index-probe), never
    a corpus-wide rescan — the property that makes continuous ingest
    affordable at 100 TB (the batch-mode corpus dedup is a one-off job;
    THIS is what runs every hour afterwards).

    Output: (content_hash, doc_id) for every accepted document.

    Oracle: because shipments are doc_id-ascending, first-seen == lowest
    doc_id, so the accepted set equals the batch ``min(doc_id) per
    md5(text)`` dedup exactly — stream/batch parity for the incremental
    index semantics.
    """
    stream = _docs_stream(spark, docs_path, n_chunks)
    return foreach_batch(
        stream,
        lambda index_dir, *batch: IngestDedupWriter(index_dir)(*batch),
        spark.read.parquet,
    )


def _contamination_probe(spark: SparkSession, docs_path: str):
    """Build the benchmark's distinct k-token shingle set (the
    ``doc_id % DECON_MOD == 0`` slice of ``docs_path``) once, pinned, and
    return the per-batch probe: a micro-batch's corpus ``doc_id``s that
    share a shingle with it (one explode + one broadcast semi-join)."""
    from ..operators.dedup import DECON_K, DECON_MOD, _shingle_array

    bench_sh = (
        spark.read.parquet(docs_path)
        .where(F.col("doc_id") % DECON_MOD == 0)
        .select(F.explode(_shingle_array(DECON_K)).alias("shingle"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def contaminated(batch: DataFrame) -> DataFrame:
        return (
            batch.where(F.col("doc_id") % DECON_MOD != 0)
            .select("doc_id", F.explode(_shingle_array(DECON_K)).alias("shingle"))
            .join(F.broadcast(bench_sh), "shingle", "left_semi")
            .select("doc_id")
            .distinct()
        )

    return contaminated


def stream_decontamination_gate(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming decontamination at ingest: each documents shipment is
    checked against the held-out benchmark's k-token shingle set and only
    CLEAN corpus documents flow through — eval-leakage screening moved
    from a corpus-wide batch rescan (``dedup.decontamination_hits``) to
    the arrival path, where it runs once per document forever.

    The benchmark shingle set (the ``doc_id % DECON_MOD == 0`` slice,
    deterministic stand-in for an external eval suite) is built ONCE from
    the static side and reused by every micro-batch — the stream-static
    asymmetry that makes this shape scale: eval suites are MBs, shipments
    are bounded, and the per-batch cost is explode + one broadcast
    semi-join + one anti-join, no state store and no watermark. At 100 TB
    the same plan holds with the Bloom-pruned probe
    (``decontamination_hits_bloom``) in front of the string join.

    Output: (doc_id, lang, source) for every accepted (clean, non-
    benchmark) document.

    Oracle: the batch anti-join — corpus slice minus
    ``oracle_decontamination_hits`` — exact stream/batch parity because
    the filter is stateless per document.
    """
    from ..operators.dedup import DECON_MOD

    stream = _docs_stream(spark, docs_path)
    contaminated = _contamination_probe(spark, docs_path)

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        corpus = batch.where(F.col("doc_id") % DECON_MOD != 0)
        corpus.join(contaminated(batch), "doc_id", "left_anti").select(
            "doc_id", "lang", "source"
        ).write.mode("append").parquet(out_dir)

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_drop_audit(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming arrival-path twin of ``dedup.corpus_drop_audit``: each
    documents shipment is pushed through the SAME first-failing-stage
    ladder (benchmark holdout -> quality gate -> exact dedup ->
    decontamination) on arrival, emitting one (doc_id, drop_reason,
    stage) verdict per document — provenance assigned once, at ingest,
    instead of by a corpus-wide batch re-audit.

    Per-shipment state and cost:

    * the quality-gate signals are per-document aggregates
      (``text.quality_gate_frame`` runs unchanged over the micro-batch),
      so that stage is stateless;
    * exact dedup probes the accumulated content-hash INDEX of prior
      gate survivors (the ``stream_ingest_dedup`` store shape) and
      appends the batch's own survivor hashes AFTER probing — O(batch ×
      index-probe) per shipment, never a corpus rescan;
    * contamination reuses the static benchmark shingle set, built once
      and broadcast into every micro-batch (the
      ``stream_decontamination_gate`` stream-static asymmetry).

    Oracle: ``oracle_corpus_drop_audit`` UNCHANGED — byte-exact
    stream/batch parity, because shipments replay doc_id-ascending:
    first-seen-in-stream == global min doc_id, so the incremental
    index decision equals the batch canonical-per-group decision, and
    every other stage is per-document.
    """
    from ..operators.dedup import DECON_MOD, _norm_text, drop_audit_ladder
    from ..operators.text import quality_gate_frame

    stream = _docs_stream(spark, docs_path)
    contaminated = _contamination_probe(spark, docs_path)

    def audit(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        import glob as _glob

        index_dir = f"{out_dir}_index"
        ss = batch.sparkSession
        gate = quality_gate_frame(batch).select(
            "doc_id", F.col("keep").alias("pass_gate")
        )
        base = batch.select("doc_id", "text").join(gate, "doc_id", "left").select(
            "doc_id",
            "text",
            (F.col("doc_id") % DECON_MOD == 0).alias("is_benchmark"),
            F.col("pass_gate").isNull().alias("too_short"),
            F.coalesce(F.col("pass_gate"), F.lit(False)).alias("pass_gate"),
        )
        surv = base.where(~F.col("is_benchmark") & F.col("pass_gate")).select(
            "doc_id", F.md5(_norm_text()).alias("h")
        )
        # One job materializes the batch's survivor hashes AS the index
        # append (doc_id rides along; readers only take ``h``) — the
        # prior localCheckpoint + separate index-append write were two
        # jobs over the same rows. The probe must see only PRIOR
        # shipments' hashes, so the pre-write file listing is captured
        # and both sides re-read the store by explicit file list.
        prior = sorted(_glob.glob(os.path.join(index_dir, "part-*.parquet")))
        surv.write.mode("append").parquet(index_dir)
        new = sorted(
            set(_glob.glob(os.path.join(index_dir, "part-*.parquet"))) - set(prior)
        )
        surv_m = (
            ss.read.parquet(*new)
            if new
            else ss.createDataFrame([], "doc_id bigint, h string")
        )
        batch_canon = surv_m.groupBy("h").agg(F.min("doc_id").alias("cmin"))
        dup = surv_m.join(batch_canon, "h").select(
            "doc_id", "h", (F.col("doc_id") != F.col("cmin")).alias("in_batch_dup")
        )
        if prior:
            idx = ss.read.parquet(*prior).select("h").distinct()
            dup = dup.join(
                idx.withColumn("seen", F.lit(True)), "h", "left"
            ).select(
                "doc_id",
                (F.col("in_batch_dup") | F.col("seen").isNotNull()).alias(
                    "is_exact_dup"
                ),
            )
        else:
            dup = dup.select("doc_id", F.col("in_batch_dup").alias("is_exact_dup"))
        # probed on the RAW batch, not ``base``: the shingle probe needs
        # only (doc_id, text), and routing it through ``base`` would
        # re-run the quality-gate aggregate inside this subtree
        hits = contaminated(batch).withColumn("is_contaminated", F.lit(True))
        reason, stage = drop_audit_ladder()
        (
            base.join(dup, "doc_id", "left")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                reason.alias("drop_reason"),
                stage.cast("bigint").alias("stage"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    return foreach_batch(stream, audit, spark.read.parquet)


def stream_hierarchical_rollup(spark: SparkSession, events_path: str) -> DataFrame:
    # REPLAY_FILES_PER_TRIGGER (r10): 2 micro-batches over the 3-chunk replay —
    # partials are decimal-additive, so the merged hierarchy is
    # bit-identical at any batching (see _docs_stream note).
    """Streaming twin of ``metrics.hierarchical_time_rollup`` — the
    continuous-aggregate REFRESH path: each event shipment appends its
    own minute-grain partials (count + DECIMAL(38,12) value sum) to the
    store; the read side merges partials per minute and rolls the merged
    minute frame up to hours and days. Two shipments landing events in
    the SAME minute leave two partial rows — the read-side merge is what
    makes the hierarchy correct under out-of-order arrivals, and decimal
    addition's associativity is what makes it bit-equal to the batch
    operator (same oracle, aggregated directly from raw).

    Per-shipment cost: one map-side-combined minute groupBy over the
    batch — no state store, no watermark; store size is O(minutes ×
    shipments-touching-the-minute), compacted by any later rewrite.
    """
    replay = _chunked_events_replay_dir(events_path)
    stream = normalize_events(
        read_events_stream(spark, replay, REPLAY_FILES_PER_TRIGGER)
    )

    def ingest(store: str, batch: DataFrame, _batch_id: int) -> None:
        _minute_partials(batch).write.mode("append").parquet(store)

    return _rollup(
        foreach_batch(stream, ingest, spark.read.parquet)
        .groupBy("bucket")
        .agg(F.sum("visits").alias("visits"), F.sum("vsum").alias("vsum"))
    )


def stream_image_ingest_features(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming multimodal ingest: image blobs arrive in shipments and
    the per-channel intensity histogram is extracted ON ARRIVAL — the
    blob synthesis (pure Catalyst projection) and the Arrow histogram
    stage both run inside each micro-batch with no state, no watermark,
    and per-batch cost O(batch). This is the shape image/video corpora
    ingest at: features computed once at the edge of the pipeline, never
    as a corpus-wide batch re-decode.

    Output: (doc_id, channel, bin, n_pixels) for every ingested image.

    Oracle: identical to the batch histogram — stream/batch parity for a
    stateless per-document extractor.
    """
    from ..operators.multimodal import image_blob_projection, image_histogram

    stream = _docs_stream(spark, docs_path)
    hist = image_histogram(image_blob_projection(stream))
    return _replay_to_memory(spark, hist, "imghist", "append")


def stream_curated_ingest(spark: SparkSession, docs_path: str) -> DataFrame:
    """The streaming CURATED ingest: each shipment passes the row-local
    quality prefilter, collapses its own duplicates, anti-joins the
    accumulated content-hash index, and appends — i.e.
    :func:`stream_quality_filtered_docs` and :func:`stream_ingest_dedup`
    fused into the one foreachBatch a production drop-folder pipeline
    actually runs. Filtering happens BEFORE hashing, so rejected documents
    never cost an md5 or an index probe.

    Output: (content_hash, doc_id) for every accepted document.

    Oracle: quality threshold + batch min-doc_id dedup (shipments are
    doc_id-ascending, so first-seen == min) — stream/batch parity for the
    composed pipeline.
    """
    from ..operators.text import GATE_MIN_QUALITY, quality_projection

    stream = _docs_stream(spark, docs_path)

    def ingest(index_dir: str, batch: DataFrame, batch_id: int) -> None:
        kept = (
            quality_projection(batch)
            .where(F.col("quality") >= GATE_MIN_QUALITY)
            .select("doc_id")
        )
        IngestDedupWriter(index_dir)(batch.join(kept, "doc_id"), batch_id)

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_ivf_assign(spark: SparkSession, emb_path: str) -> DataFrame:
    """Streaming vector-index ingestion: embeddings arrive as an unbounded
    stream and each is assigned to its nearest IVF coarse centroid — the
    write path of a vector database (new vectors land in their posting
    list on arrival; queries then probe buckets via ``ann_ivf_topk``'s
    read side).

    STATELESS stream-static shape: the centroid codebook (from the batch
    corpus, same modulo seeds as ``similarity.ann_ivf_topk``) collapses
    to ONE broadcast row holding a sorted array of (cid, cqv, cn2)
    structs; the per-row argmax then runs entirely inside higher-order
    functions — ``transform`` computes each centroid's exact int64 dot →
    cosine, ``array_max`` over (c_cos, -cid) structs picks the best with
    the batch plan's exact tie-break (max cosine, then min centroid id) —
    so the streaming plan needs no state store, no watermark, and no
    window function (streaming frames admit no rank window; the
    array-argmax is the streaming-safe equivalent).

    Per-event cost is k_centroids × dim multiply-adds in codegen; at
    100 TB the codebook broadcast is MB-scale and re-resolved per batch,
    so codebook refreshes land without restarting the query.

    Oracle: the assignment leg of the IVF oracle (cross join + rank-1
    window) — fixed-point dots make stream, batch window plan, and DuckDB
    bit-identical.
    """
    from ..functions import vectors as V
    from ..operators.similarity import CENTROID_MOD

    base = (
        spark.read.parquet(emb_path)
        .select("vec_id", V.quantize("embedding").alias("qvec"))
        .withColumn("n2", V.qnorm2("qvec"))
    )
    cents_row = (
        base.where(F.col("vec_id") % CENTROID_MOD == 0)
        .select(
            F.struct(
                F.col("vec_id").alias("cid"),
                F.col("qvec").alias("cqv"),
                F.col("n2").alias("cn2"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    emb = (
        read_parquet_stream(spark, emb_path, spark.read.parquet(emb_path).schema)
        .select("vec_id", V.quantize("embedding").alias("qvec"))
        .withColumn("n2", V.qnorm2("qvec"))
    )
    best = F.expr(
        "array_max(transform(cents, c -> struct("
        " CASE WHEN n2 > 0 AND c.cn2 > 0 THEN"
        " CAST(aggregate(zip_with(qvec, c.cqv, (x, y) -> x * y),"
        "      CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
        " / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))"
        " ELSE 0.0 END AS c_cos,"
        " -c.cid AS neg_id)))"
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents_row))
        .select("vec_id", best.alias("b"))
        .select(
            "vec_id",
            (-F.col("b.neg_id")).alias("bucket"),
            F.col("b.c_cos").alias("c_cos"),
        )
    )
    return _replay_to_memory(spark, assigned, "ivfassign", "append")


def stream_postings_ingest(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming LEXICAL-index ingestion — the sparse-retrieval twin of
    :func:`stream_ivf_assign`: documents arrive as an unbounded stream
    and each emits its (term, tf, dl) posting rows on arrival, ready to
    append to the BM25 inverted index that ``operators.text.bm25_topk``
    reads. Terms are the same 3-token shingles as the batch retriever
    (``BM25_SHINGLE_K``), so a store built from this stream IS the batch
    index.

    STATELESS shape: tokenize → shingle → per-DOCUMENT tf counts are all
    row-local (the shingle multiset of one doc never crosses rows), so
    the streaming plan is scan → project → explode with no state store,
    no watermark, and O(batch) per micro-batch — indexing happens once on
    arrival instead of as a corpus-wide rescan. Corpus-level statistics
    (df, avgdl) deliberately do NOT live here: they are one tiny
    aggregation over the posting store at query time, where they are
    always fresh.

    Output: (doc_id, term, tf, dl) — dl rides every posting row so the
    query side never needs a second per-doc table.

    Oracle: the identical batch tf/dl derivation — stream/batch parity
    for the index build.
    """
    from ..operators.text import BM25_SHINGLE_K, TOKEN_RE

    docs = read_parquet_stream(spark, docs_path, spark.read.parquet(docs_path).schema)
    ksh = BM25_SHINGLE_K
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE).alias("t")
    )
    shingled = toks.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(size(t) - {ksh - 1}, 1)),"
            f" i -> array_join(slice(t, i, {ksh}), ' '))"
        ).alias("terms"),
    )
    # per-doc tf entirely inside higher-order functions (row-local — no
    # groupBy, which an append-mode stream could not run anyway):
    # distinct terms, then count occurrences of each in the full list.
    postings = shingled.select(
        "doc_id",
        F.size("terms").cast("bigint").alias("dl"),
        F.explode(
            F.expr(
                "transform(array_distinct(terms), d -> struct("
                " d AS term,"
                " CAST(size(filter(terms, x -> x = d)) AS BIGINT) AS tf))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"), "dl")
    return _replay_to_memory(spark, postings, "postings", "append")


def stream_shard_assignment(
    spark: SparkSession, docs_path: str, n_chunks: int = N_CHUNKS
) -> DataFrame:
    """Streaming shard layout for the arrival path: shipments of the
    post-watermark tail (doc_id >= max*9/10, the fixture's high-water
    mark) arrive one micro-batch per file; each batch runs the SAME
    two-level prefix sum the batch path uses
    (``sampling._two_level_tokens_before`` — one definition, so stream
    and batch cannot drift) and composes on top of (a) the persisted
    per-bucket corpus state and (b) a running stream total carried in a
    tiny parquet state file (production: the checkpointed writer
    offset). Because shipments are doc_id-ascending and prefix sums
    compose, the union over micro-batches is BIT-IDENTICAL to the batch
    incremental layout — and gates against the same flat-window oracle.

    Per-batch cost: O(batch) + one 1-row state read — corpus-size
    independent, the property that lets the layout job run per shipment
    forever.

    Output: (doc_id, n_tokens, tokens_before, shard_id) for every
    arrival doc across all shipments.
    """
    from ..operators.sampling import (
        SHARD_TARGET_TOKENS,
        _persisted_shard_state,
        _two_level_tokens_before,
    )
    from ..operators.text import TOKEN_RE

    stream = _docs_stream(spark, docs_path, n_chunks)
    sf_dir = os.path.dirname(docs_path)
    state = _persisted_shard_state(spark, sf_dir)
    corpus_total = int(
        state.agg(F.coalesce(F.sum("bucket_tokens"), F.lit(0))).first()[0]
    )
    thr = int(
        spark.read.parquet(docs_path)
        .agg(F.expr("CAST(coalesce(max(doc_id), 0) * 9 DIV 10 AS BIGINT)"))
        .first()[0]
    )

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        total_dir = f"{out_dir}_state"
        ss = batch.sparkSession
        arrivals = batch.where(F.col("doc_id") >= thr).select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), TOKEN_RE))
            .cast("bigint")
            .alias("n_tokens"),
        )
        if os.path.isdir(total_dir):
            stream_total = int(
                ss.read.parquet(total_dir).agg(F.sum("t")).first()[0]
            )
        else:
            stream_total = 0
        offset = corpus_total + stream_total
        scanned = _two_level_tokens_before(arrivals)
        out = scanned.select(
            "doc_id",
            "n_tokens",
            (F.lit(offset) + F.col("tokens_before")).alias("tokens_before"),
        ).select(
            "doc_id",
            "n_tokens",
            "tokens_before",
            F.expr(f"tokens_before div {SHARD_TARGET_TOKENS}").alias("shard_id"),
        )
        out.write.mode("append").parquet(out_dir)
        batch_tokens = arrivals.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0))
        ).first()[0]
        ss.createDataFrame(
            [(int(stream_total + batch_tokens),)], "t bigint"
        ).write.mode("overwrite").parquet(total_dir)

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_image_ahash_probe(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming image near-dup probe at ingest: each shipment's
    incoming images (doc_id % 10 == 0) are decoded and aHashed ON
    ARRIVAL and probed against the persisted banded index of the
    existing corpus — the stream twin of
    ``multimodal.image_ahash_probe``, stateless per batch (the index is
    the only cross-batch state, and it is the batch-built artifact).
    Per-batch cost: O(batch decode + matches); no state store, no
    watermark. At 100 TB the index side is bucketed by (band_idx,
    band_val) so only the batch shuffles.

    Output: (doc_id, match_id, hamming) — equal, across all shipments,
    to the batch probe (stateless filter ⇒ exact stream/batch parity),
    so it gates against the same oracle.
    """
    from ..operators.multimodal import (
        _ahash_bands,
        _persisted_ahash_index,
        content_gray_blob_projection,
        image_ahash,
    )

    stream = _docs_stream(spark, docs_path)
    sf_dir = os.path.dirname(docs_path)
    idx = (
        _persisted_ahash_index(spark, sf_dir)
        .select(
            F.col("doc_id").alias("match_id"),
            F.col("hash_hi").alias("hi_m"),
            F.col("hash_lo").alias("lo_m"),
            "band_idx",
            "band_val",
        )
        .localCheckpoint(eager=True)
    )

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        incoming = batch.where(F.col("doc_id") % 10 == 0)
        blobs = content_gray_blob_projection(incoming)
        inc = image_ahash(blobs).select("doc_id", "hash_hi", "hash_lo")
        pb = _ahash_bands(inc).select(
            "doc_id",
            F.col("hash_hi").alias("hi_q"),
            F.col("hash_lo").alias("lo_q"),
            "band_idx",
            "band_val",
        )
        ham = F.bit_count(
            F.col("hi_q").bitwiseXOR(F.col("hi_m"))
        ) + F.bit_count(F.col("lo_q").bitwiseXOR(F.col("lo_m")))
        (
            pb.join(F.broadcast(idx), ["band_idx", "band_val"])
            .select("doc_id", "match_id", ham.cast("int").alias("hamming"))
            .distinct()
            .where(F.col("hamming") <= 10)
            .write.mode("append")
            .parquet(out_dir)
        )

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_model_scores(
    spark: SparkSession, docs_path: str, n_chunks: int = N_CHUNKS
) -> DataFrame:
    """Streaming quality-model inference at ingest: each shipment is
    featurized and scored with the PERSISTED perceptron weights AND the
    persisted training-corpus centering statistics — the feature-store
    discipline that prevents train/serve skew (centering with a batch's
    own means would silently shift every margin). Stateless per batch:
    one broadcast of the 65-row weight frame + the 64-row stats frame,
    the same serving kernel the batch path uses
    (``classifier.score_batch_with_model``).

    Output: (doc_id, margin, label, pred, correct) across all shipments
    — equal to the batch scorer (stats pinned to the training corpus ⇒
    exact stream/batch parity), gated by the same unrolled-CTE oracle.
    """
    from ..operators.classifier import (
        _persisted_center_stats,
        _persisted_model,
        score_batch_with_model,
    )

    stream = _docs_stream(spark, docs_path, n_chunks)
    sf_dir = os.path.dirname(docs_path)
    weights = _persisted_model(spark, sf_dir).localCheckpoint(eager=True)
    stats = _persisted_center_stats(spark, sf_dir).localCheckpoint(eager=True)

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        score_batch_with_model(batch, weights, stats).write.mode(
            "append"
        ).parquet(out_dir)

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_bpe_encode(
    spark: SparkSession, docs_path: str, n_chunks: int = 2
) -> DataFrame:
    """Streaming tokenizer application at ingest: each arriving shipment
    is encoded into BPE token-id sequences by joining the PERSISTED
    compiled-vocabulary artifact (``text._persisted_bpe_vocab`` — the
    (w, pos, sym, token_id) tokenizer file the offline training job
    wrote; the same feature-store discipline as ``stream_model_scores``'
    pinned weights: per-shipment vocabularies or token ids would be
    train/serve skew). Stateless per batch: one word explode + one
    broadcast join — no merge-walk window rounds on the hot path (a
    true-OOV word at scale would take the batch walk; fixture shipments
    contain none by construction, the vocabulary being corpus-derived).

    Output across shipments: (doc_id, wpos, spos, token, token_id) —
    exactly equal to the batch encoder (``text.bpe_encode``), so the
    same unrolled-training oracle gates it.
    """
    from ..operators.text import BPE_DOC_MOD, TOKEN_RE, _persisted_bpe_vocab

    stream = _docs_stream(spark, docs_path, n_chunks)
    sf_dir = os.path.dirname(docs_path)
    vocab = _persisted_bpe_vocab(spark, sf_dir).localCheckpoint(eager=True)

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        words = (
            batch.where(F.expr(f"doc_id % {BPE_DOC_MOD} = 0"))
            .select(
                "doc_id",
                F.posexplode(
                    F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)
                ).alias("p0", "w"),
            )
            .where(F.col("w") != "")
            .select("doc_id", (F.col("p0") + 1).alias("wpos"), "w")
        )
        (
            words.join(F.broadcast(vocab), "w")
            .select(
                "doc_id",
                "wpos",
                F.col("pos").alias("spos"),
                F.col("sym").alias("token"),
                "token_id",
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_entity_probe(
    spark: SparkSession, docs_path: str, n_chunks: int = N_CHUNKS
) -> DataFrame:
    """Streaming record linkage at ingest: each shipment's noisy
    registry records are matched against the PERSISTED linkage index of
    the clean registry (``dedup._persisted_entity_index``: names + gram
    df table + prefix posting lists) — the arrival-path twin of
    ``dedup.entity_match_pairs``. Stateless per batch: the batch's
    dirty records rank their grams under the index's PINNED (df, gram)
    order (coalescing unseen grams to df 0 — the ordering analogue of
    the pinned-centering-stats discipline: a batch-local df order could
    evict the one shared prefix gram and silently drop a true match),
    probe the clean prefix posting lists, and Levenshtein-verify the
    candidates only.

    Output across shipments: (dirty_id, clean_id, distance) — equal to
    the batch matcher, so the same brute-force oracle proves the
    filter lossless for the streaming path too.
    """
    from pyspark.sql import Window

    from ..operators.dedup import (
        ENTITY_MAX_DIST,
        ENTITY_Q,
        _ENTITY_DIRTY,
        _entity_grams,
        _persisted_entity_index,
    )

    stream = _docs_stream(spark, docs_path, n_chunks)
    sf_dir = os.path.dirname(docs_path)
    names, df_tab, prefix = _persisted_entity_index(spark, sf_dir)
    names = names.select(
        F.col("id").alias("clean_id"), F.col("name").alias("cname")
    ).localCheckpoint(eager=True)
    df_tab = df_tab.localCheckpoint(eager=True)
    prefix = prefix.select(
        F.col("id").alias("clean_id"), "gram"
    ).localCheckpoint(eager=True)

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        incoming = batch.where(F.expr("doc_id % 20 IN (1, 7, 13)"))
        dirty = incoming.select(
            F.col("doc_id").alias("id"), F.expr(_ENTITY_DIRTY).alias("name")
        )
        grams = (
            _entity_grams(dirty)
            .join(F.broadcast(df_tab), "gram", "left")
            .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        )
        w = Window.partitionBy("id").orderBy("df", "gram")
        d_prefix = (
            grams.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= ENTITY_Q * ENTITY_MAX_DIST + 1)
            .select(F.col("id").alias("dirty_id"), "gram")
        )
        # the BATCH side broadcasts; the corpus-sized index frames
        # (prefix posting lists, names) stay partitioned — at 100 TB the
        # index is the big side of both joins
        cand = (
            prefix.join(F.broadcast(d_prefix), "gram")
            .select("dirty_id", "clean_id")
            .distinct()
        )
        withd = cand.join(
            F.broadcast(
                dirty.select(F.col("id").alias("dirty_id"),
                             F.col("name").alias("dname"))
            ),
            "dirty_id",
        )
        (
            names.join(F.broadcast(withd), "clean_id")
            .withColumn("distance", F.levenshtein("dname", "cname"))
            .where(F.col("distance") <= ENTITY_MAX_DIST)
            .select("dirty_id", "clean_id", "distance")
            .write.mode("append")
            .parquet(out_dir)
        )

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_neardup_probe(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming near-dup detection at ingest: each shipment's incoming
    documents (``doc_id % 10 = 0``) compute their PORTABLE MinHash
    signatures batch-locally and probe the PERSISTED banded index of the
    existing corpus (``dedup._persisted_portable_index``) — the
    arrival-path twin of ``dedup.incremental_neardup_portable``, closing
    the near-dup gap in the streaming curation ladder (exact dedup,
    decontamination, entity, and image-aHash probes already stream).

    Stateless per batch: signatures depend only on the arriving text and
    the index is static, so the union of per-shipment outputs equals the
    batch probe exactly — the SAME SQL oracle gates both
    (``dedup.oracle_incremental_neardup_portable``), and because the
    permutations are portable, that oracle re-derives every signature
    from raw text in DuckDB: the full stream path is externally
    hash-checked.

    100-TB shape: the batch side (one shipment) broadcasts into every
    join; the corpus-sized index frames stay partitioned — banded rows
    written bucketed by (band, bucket) would confine the probe shuffle
    to the batch itself. Per-batch cost is O(batch × bucket occupancy).
    """
    import math

    from ..operators import dedup as dd

    stream = _docs_stream(spark, docs_path)
    sf_dir = os.path.dirname(docs_path)
    banded_ix, sig_ix = (
        ix.localCheckpoint(eager=True)
        for ix in dd._persisted_portable_index(spark, sf_dir)
    )
    # the batch twin's default threshold, hence the same integer cut
    n_perms, threshold = dd.PORTABLE_PERMS, 0.5

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        incoming = batch.where(F.col("doc_id") % 10 == 0)
        sig = dd.portable_minhash_signatures(incoming)
        bands = dd._band(sig, n_perms, dd.PORTABLE_ROWS, dd._concat_key)
        cands = dd._band_probe(F.broadcast(bands), banded_ix)
        # index side first, so both joins build on a batch-sized side
        scored = dd._agree(
            F.broadcast(cands), sig_ix, n_perms, "neardup_of", "doc_id", F.broadcast(sig)
        ).where(F.col("n_agree") >= math.ceil(threshold * n_perms))
        (
            dd._best_match(scored)
            .select("doc_id", "neardup_of", "n_agree", dd._est(n_perms).alias("est_jaccard"))
            .write.mode("append")
            .parquet(out_dir)
        )

    return foreach_batch(stream, ingest, spark.read.parquet)


def stream_constraint_report(
    spark: SparkSession, docs_path: str, n_chunks: int = N_CHUNKS
) -> DataFrame:
    """Streaming data-validation with MERGEABLE metric state (Deequ's
    incremental-metrics shape): every shipment contributes one row of
    partial conditional COUNTS (associative, map-side-combinable); the
    report aggregates the partials and derives the satisfaction
    fractions — so validating a corpus that arrived in N shipments
    costs one tiny partial per shipment plus an O(N)-row final fold,
    never a rescan, and the result is EXACTLY the batch report
    (``relational.constraint_report``), gated by the same oracle.

    The split matters: fractions do NOT compose across batches, counts
    do — a twin that averaged per-shipment fractions would weight a
    10-doc shipment equal to a 10M-doc one.
    """
    from ..operators.relational import (
        _CONSTRAINT_COUNTS,
        _constraint_counts,
        _constraint_rows,
    )

    stream = _docs_stream(spark, docs_path, n_chunks)

    def ingest(out_dir: str, batch: DataFrame, _batch_id: int) -> None:
        _constraint_counts(batch).write.mode("append").parquet(out_dir)

    # NOTE: per-batch countDistinct on doc_id composes by SUM only
    # because the replay chunks partition doc_id ranges disjointly (the
    # replay is doc_id-ordered); with cross-shipment id reuse the
    # distinct partial would be a sketch/set union instead — documented
    # deliberately, asserted by the parity test.
    partials = foreach_batch(stream, ingest, spark.read.parquet)
    return _constraint_rows(
        partials.agg(*[F.sum(c).alias(c) for c in ["n", *_CONSTRAINT_COUNTS]])
    )


# ---------------------------------------------------------------------------
# Exactly-once vs INCRBY: the duplicate-delivery audit (SURVEY §4 delta 1)
# ---------------------------------------------------------------------------
def _duplicate_delivery_replay_dir(
    events_path: str, n_chunks: int = N_CHUNKS, dup_chunk: int = DUP_CHUNK
) -> str:
    """(ts, event_id)-ordered chunked replay where chunk ``dup_chunk`` is
    REDELIVERED — written again, byte-identical, as the final file. This
    is the at-least-once failure mode of the reference's Pub/Sub source
    (a whole bundle re-dispatched after an ack timeout), made
    deterministic: chunk membership is a pure function of the fixture
    (total order ts, event_id — unique tie-break, so the DuckDB oracle
    re-derives it exactly), and the redelivered copy always arrives
    last."""

    def build(out, tbl):
        tbl = _sorted(tbl, "ts", "event_id")
        step = max(1, (tbl.num_rows + n_chunks - 1) // n_chunks)
        redelivered = tbl.slice(dup_chunk * step, step)
        _write_chunks(
            out, tbl, n_chunks, [(f"redelivered_{dup_chunk:04d}.parquet", redelivered)]
        )

    return _replay_dir("dup", events_path, (n_chunks, dup_chunk), build)


def stream_duplicate_delivery_audit(
    spark: SparkSession,
    events_path: str,
    n_chunks: int = N_CHUNKS,
    dup_chunk: int = DUP_CHUNK,
) -> DataFrame:
    """Make the exactly-once sink claim MEASURABLE: replay the fixture
    with one chunk redelivered (:func:`_duplicate_delivery_replay_dir`)
    through two foreachBatch sink disciplines side by side, and emit the
    per-minute divergence.

    * ``incrby_visits`` — the reference's non-idempotent INCRBY leg
      (MetricsCalculationPipeline.java:60-67 via RedisUpdateController:
      every delivered element increments): each micro-batch's per-minute
      counts are applied blindly, so the redelivered chunk is counted
      TWICE.
    * ``visits`` — the engine's idempotent-store discipline (the same
      contract ``RedisMetricsSink`` gets from PFADD/SADD set semantics
      and the parquet sketch store gets from batch-keyed merges): each
      batch is anti-joined against the persisted seen-``event_id`` index
      (an O(batch) probe, the incremental-dedup shape) and only
      first-delivery rows reach the store — the merged store is
      PROVABLY unchanged by the redelivery.

    Output: (minute, visits, incrby_visits, overcount) where
    ``overcount = incrby_visits − visits`` equals, minute by minute, the
    event count of the redelivered chunk plus any duplicate source ids
    the store deduplicated — the exact over-count a Redis INCRBY
    deployment would silently serve. Fully SQL-oracled: chunk membership
    is a deterministic function of (ts, event_id), and the oracle models
    the store discipline (each event_id once, at its earliest ts within
    its chunk of first appearance — r9, see the hypothesis sweep in
    ``tests/test_dup_delivery.py``).

    Scale notes: both legs are map-side partial aggregates; the seen
    index is partitioned parquet probed with a broadcast-able anti-join
    per micro-batch (state grows with history here ONLY because the
    audit wants exact proof — the production sink gets idempotency from
    set/merge semantics with no index at all, as ``RedisMetricsSink``
    does).
    """
    replay = _duplicate_delivery_replay_dir(events_path, n_chunks, dup_chunk)
    # the sink reads only event_id and ts; project before the barrier
    stream = read_events_stream(spark, replay).select("event_id", "ts")
    read = spark.read.schema("minute timestamp, n bigint").parquet

    def sink(store_dir: str, batch: DataFrame, _batch_id: int) -> None:
        import glob as _glob

        incrby_dir, seen_dir = f"{store_dir}_incrby", f"{store_dir}_seen"
        minute = F.date_trunc("minute", F.col("ts")).alias("minute")
        # INCRBY discipline: apply every delivery, duplicates included.
        # coalesce(1): a per-minute partial aggregate of one micro-batch
        # is KB-scale — one file per batch, not one per shuffle partition.
        (
            batch.groupBy(minute)
            .agg(F.count("*").alias("n"))
            .coalesce(1)
            .write.mode("append")
            .parquet(incrby_dir)
        )
        # idempotent-store discipline: first delivery only. Two layers:
        # the anti-join drops event_ids persisted by earlier batches, and
        # the groupBy drops duplicates INSIDE the batch (one event_id
        # delivered twice in one trigger — maxFilesPerTrigger > 1, or a
        # source that reuses ids within a chunk), keeping the event's
        # earliest ts in the batch so the surviving row is deterministic.
        # Without the second layer the exactly-once claim would hold only
        # because the harness pins one file per trigger (r8 advice).
        #
        # One job materializes the batch's accepted (event_id, ts) rows
        # AS the seen-index append (the drop-audit fusion): the prior
        # persist + two separate writes ran the dedup subtree once to
        # cache plus once per store. The anti-join must see only PRIOR
        # shipments, so the pre-write file listing is captured and the
        # minute counts re-read exactly the new files.
        sess = batch.sparkSession
        prior = sorted(_glob.glob(os.path.join(seen_dir, "part-*.parquet")))
        if prior:
            seen = sess.read.parquet(*prior).select("event_id")
            new = batch.join(seen, "event_id", "left_anti")
        else:
            new = batch
        new = new.groupBy("event_id").agg(F.min("ts").alias("ts"))
        new.coalesce(1).write.mode("append").parquet(seen_dir)
        fresh = sorted(
            set(_glob.glob(os.path.join(seen_dir, "part-*.parquet"))) - set(prior)
        )
        new_m = (
            sess.read.parquet(*fresh)
            if fresh
            else sess.createDataFrame([], new.schema)
        )
        (
            new_m.groupBy(minute)
            .agg(F.count("*").alias("n"))
            .coalesce(1)
            .write.mode("append")
            .parquet(store_dir)
        )

    def divergence(store_dir: str) -> DataFrame:
        exact = (
            read(store_dir)
            .groupBy("minute")
            .agg(F.sum("n").cast("bigint").alias("visits"))
        )
        incrby = (
            read(f"{store_dir}_incrby")
            .groupBy("minute")
            .agg(F.sum("n").cast("bigint").alias("incrby_visits"))
        )
        # full outer: a minute whose every row was a duplicate delivery has
        # incrby counts but zero stored visits (possible only with duplicate
        # source event_ids — the adversarial-sweep fixtures)
        return exact.join(incrby, "minute", "full_outer").select(
            "minute",
            F.coalesce("visits", F.lit(0)).cast("bigint").alias("visits"),
            F.coalesce("incrby_visits", F.lit(0)).cast("bigint").alias("incrby_visits"),
            (
                F.coalesce("incrby_visits", F.lit(0)) - F.coalesce("visits", F.lit(0))
            )
            .cast("bigint")
            .alias("overcount"),
        )

    with _state_partitions(spark):
        return foreach_batch(stream, sink, divergence)


def oracle_stream_duplicate_delivery(
    ev_cte: str, n_chunks: int = N_CHUNKS, dup_chunk: int = DUP_CHUNK
) -> str:
    """DuckDB twin of :func:`stream_duplicate_delivery_audit` — re-derives
    chunk membership under the same (ts, event_id) total order and MODELS
    THE ENGINE'S exactly-once discipline (r8 advice): the store leg
    counts each event_id once, at its earliest ts within its chunk of
    first appearance — so source fixtures with duplicate event_ids
    (within a chunk, across chunks, or straddling a chunk boundary)
    oracle correctly instead of relying on the fixture being
    duplicate-free. The INCRBY leg still counts every delivered row plus
    the redelivered chunk. Duplicate (ts, event_id) rows make row_number
    ambiguous per COPY but the multiset of chunk values per (ts,
    event_id) group is deterministic, which is all first_chunk/min-ts
    and the per-minute counts consume."""
    return f"""{ev_cte},
n AS (SELECT greatest(1, CAST(ceil(count(*) / {n_chunks}.0) AS BIGINT)) AS step FROM ev),
e AS (
  SELECT event_id, ts,
         (row_number() OVER (ORDER BY ts, event_id) - 1)
           // (SELECT step FROM n) AS chunk
  FROM ev
),
firsts AS (SELECT event_id, min(chunk) AS first_chunk FROM e GROUP BY 1),
stored AS (
  SELECT e.event_id, min(e.ts) AS ts
  FROM e JOIN firsts f
    ON e.event_id = f.event_id AND e.chunk = f.first_chunk
  GROUP BY 1
),
v AS (
  SELECT date_trunc('minute', ts) AS minute, CAST(count(*) AS BIGINT) AS visits
  FROM stored GROUP BY 1
),
i AS (
  SELECT date_trunc('minute', ts) AS minute,
         CAST(count(*) + coalesce(sum(CASE WHEN chunk = {dup_chunk} THEN 1 END), 0)
              AS BIGINT) AS incrby_visits
  FROM e GROUP BY 1
)
SELECT coalesce(v.minute, i.minute) AS minute,
       CAST(coalesce(v.visits, 0) AS BIGINT) AS visits,
       CAST(coalesce(i.incrby_visits, 0) AS BIGINT) AS incrby_visits,
       CAST(coalesce(i.incrby_visits, 0) - coalesce(v.visits, 0) AS BIGINT)
         AS overcount
FROM v FULL OUTER JOIN i ON v.minute = i.minute"""
