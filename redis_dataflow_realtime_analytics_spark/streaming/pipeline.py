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
  sketches) partitioned by batch_id; readers merge partials at query time
  (``read_*``). This is the scale design for unbounded all-time distincts
  (SURVEY §4 delta 2): state per (grain × batch) is one row with a ≤KB
  sketch — bounded, idempotently re-writable (a replayed batch_id
  overwrites its own partition → effective exactly-once, unlike the
  reference's INCRBY), and mergeable across arbitrarily many executors.

Scale notes (100 TB/day ingest):
* Partial aggregation happens map-side per micro-batch; the store receives
  per-(minute,batch) rows, not events — write amplification is O(grains),
  versus the reference's 12 Redis commands *per event*.
* Read-time merge (`hll_union_agg` / sum) touches only store rows: a day
  of 1-minute buckets × batches is tiny regardless of event volume.
* The store is plain partitioned parquet here; swap for Delta/Iceberg
  MERGE in production without touching the aggregation logic.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.metrics import CMS_DEPTH, CMS_WIDTH, _cms_pairs, approx_uniques, cms_sketch
from ..sources.events import normalize_events, read_events_stream

WATERMARK = "10 minutes"


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


def _minute(col: str = "ts") -> F.Column:
    return F.date_trunc("minute", F.col(col)).alias("minute")


def _replay_to_memory(spark: SparkSession, agg: DataFrame, prefix: str) -> DataFrame:
    """Run a streaming aggregate to completion (availableNow) into a memory
    sink and return the final table, with state partitions pinned."""
    with _state_partitions(spark):
        name = f"{prefix}_{uuid.uuid4().hex}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
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
def stream_visits_per_minute(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """W1 as a streaming query: replay ``events_path`` with
    ``trigger(availableNow)`` through a watermarked 1-minute windowed count
    into a memory sink; return the final aggregate (minute, visits).

    Structured Streaming's incremental execution guarantees this equals the
    batch ``metrics.visits_per_minute`` on the same data — asserted by the
    driver's oracle (same SQL as w1) and tests/test_streaming.py.
    """
    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("visits"))
        .select(F.col("w.start").alias("minute"), "visits")
    )
    return _replay_to_memory(spark, agg, "visits")


def stream_uniques_per_minute_approx(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """W11 (HLL leg) as a streaming query: approx distinct users per minute."""
    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(approx_uniques("user_id").alias("unique_users"))
        .select(F.col("w.start").alias("minute"), "unique_users")
    )
    return _replay_to_memory(spark, agg, "uniq")


def stream_sliding_visits(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Sliding (hopping) window in streaming mode: visits per 5-minute
    window hopping every minute — the streaming twin of
    ``operators.sessions.sliding_visits`` (same oracle, stream/batch
    parity). Watermark bounds the open-window state to
    (watermark + window)/hop windows per key-space slice."""
    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count("*").alias("visits"))
        .select(F.col("w.start").alias("window_start"), "visits")
    )
    return _replay_to_memory(spark, agg, "slide")


def stream_user_sessions(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Gap-based session windows in streaming mode — the streaming twin of
    ``operators.sessions.user_sessions`` (same oracle). ``session_window``
    keeps one open session per user in state; the watermark closes and
    emits sessions once no on-time event can extend them."""
    from ..operators.sessions import SESSION_GAP

    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
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


def stream_uniques_per_ev_minute(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """W2 (exact leg) as a streaming query: EXACT unique users per
    (experiment, variant, minute). Streaming aggregation cannot hold a
    per-group distinct set, so exactness comes from the standard two-stage
    pattern: watermarked ``dropDuplicates`` on the full grain key (state =
    one row per distinct (window, experiment, variant, user) inside the
    watermark horizon), then an ordinary windowed count. Oracle: the same
    SQL as batch ``w2`` — stream/batch parity for an exact distinct."""
    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
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


def stream_deduped_visits(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """At-least-once delivery repaired by streaming dedup: the source is
    read TWICE and unioned (simulating redelivery of every event — the
    reference's Pub/Sub at-least-once wart that makes its INCRBY legs
    over-count, SURVEY §4 delta 1), then
    ``dropDuplicatesWithinWatermark('event_id')`` removes the replays
    before the per-minute count. The oracle is the plain batch W1 — i.e.
    the duplicates demonstrably don't over-count, unlike the reference.

    State: one entry per event_id within the watermark horizon — bounded
    by (event rate × watermark), the scalable streaming-dedup contract."""
    a = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    b = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    ev = a.unionByName(b)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("visits"))
        .select(F.col("w.start").alias("minute"), "visits")
    )
    return _replay_to_memory(spark, agg, "dedupvisits")


def _replay_to_memory_append(
    spark: SparkSession, df: DataFrame, prefix: str
) -> DataFrame:
    """Append-mode variant of :func:`_replay_to_memory` — for queries that
    only support append output (stream-stream joins)."""
    with _state_partitions(spark):
        name = f"{prefix}_{uuid.uuid4().hex}"
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _detach_memory_sink(spark, name)


def stream_click_error_join(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
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
    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
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
    joined = clicks.join(
        errors,
        F.expr(
            "click_user = error_user AND "
            "error_ts > click_ts AND "
            "error_ts <= click_ts + interval 5 minutes"
        ),
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "error_id",
        "click_ts",
        "error_ts",
        (F.unix_micros("error_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    return _replay_to_memory_append(spark, joined, "ssjoin")


def stream_enriched_events(
    spark: SparkSession,
    events_path: str,
    customer: DataFrame,
    max_files_per_trigger: int = 1,
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

    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    return _replay_to_memory_append(
        spark, events_enriched_with_customer(ev, customer), "enrich"
    )


# ---------------------------------------------------------------------------
# foreachBatch mergeable-partials store
# ---------------------------------------------------------------------------
class SketchStoreWriter:
    """foreachBatch sink writing mergeable partial aggregates.

    Families written per micro-batch (mirroring the reference's key
    families, SURVEY §1.3):

    * ``visits``              — (minute, visits) partial counts       (W1)
    * ``user_sketch_minute``  — (minute, sketch) HLL of user_id       (W11)
    * ``user_sketch_variant`` — (variant, sketch) HLL of user_id      (W3, all-time)
    * ``user_set_variant``    — (variant, user_id) distinct pairs     (W4, exact twin)
    * ``user_cms``            — (row_idx, bucket, cnt) count-min cells (heavy hitters)

    Each family lands under ``store/<family>/batch_id=<n>`` via dynamic
    partition overwrite — replaying a batch overwrites its own partition,
    making the sink idempotent (effective exactly-once).
    """

    def __init__(self, store_dir: str):
        self.store_dir = store_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ev = batch_df.cache()
        try:
            families = {
                "visits": ev.groupBy(_minute()).agg(F.count("*").alias("visits")),
                "user_sketch_minute": ev.groupBy(_minute()).agg(
                    F.hll_sketch_agg("user_id").alias("sketch")
                ),
                "user_sketch_variant": ev.groupBy("variant").agg(
                    F.hll_sketch_agg("user_id").alias("sketch")
                ),
                "user_set_variant": ev.select("variant", "user_id").distinct(),
                # per-batch count-min cells — the frequency-sketch family:
                # bounded depth×width partial, merged at read by summing
                "user_cms": cms_sketch(ev, "user_id"),
            }
            for family, df in families.items():
                (
                    df.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .parquet(f"{self.store_dir}/{family}")
                )
        finally:
            ev.unpersist()


def run_sketch_ingest(
    spark: SparkSession,
    events_path: str,
    store_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Replay ``events_path`` through the foreachBatch store (availableNow)."""
    ev = normalize_events(read_events_stream(spark, events_path, max_files_per_trigger))
    q = (
        ev.withWatermark("ts", WATERMARK)
        .writeStream.foreachBatch(SketchStoreWriter(store_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- Read-side merges over the partials store --------------------------------
def read_visits(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merge visit partials: sum over batches (R2's MGET read, minus Redis)."""
    return (
        spark.read.parquet(f"{store_dir}/visits")
        .groupBy("minute")
        .agg(F.sum("visits").alias("visits"))
    )


def read_uniques_per_minute(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merge per-minute HLL partials: union sketches, estimate (R3 PFCOUNT)."""
    return (
        spark.read.parquet(f"{store_dir}/user_sketch_minute")
        .groupBy("minute")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("unique_users"))
    )


def read_uniques_per_variant(spark: SparkSession, store_dir: str) -> DataFrame:
    """All-time uniques per variant from bounded sketch state (W3 read)."""
    return (
        spark.read.parquet(f"{store_dir}/user_sketch_variant")
        .groupBy("variant")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("unique_users"))
    )


def read_uniques_per_variant_exact(spark: SparkSession, store_dir: str) -> DataFrame:
    """Exact all-time uniques per variant from the distinct-pairs family
    (W4's SADD/SCARD twin)."""
    return (
        spark.read.parquet(f"{store_dir}/user_set_variant")
        .groupBy("variant")
        .agg(F.count_distinct("user_id").alias("unique_users"))
    )


def read_heavy_hitters(
    spark: SparkSession, store_dir: str, phi: float = 0.0075
) -> DataFrame:
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
    cells = (
        spark.read.parquet(f"{store_dir}/user_cms")
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    total = cells.where(F.col("row_idx") == 0).agg(F.sum("cnt").alias("_total"))
    cands = (
        spark.read.parquet(f"{store_dir}/user_set_variant")
        .select("user_id")
        .distinct()
    )
    probes = _cms_pairs(cands, "user_id", CMS_DEPTH, CMS_WIDTH)
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


def _ts_micros(tbl):
    """Normalize an arrow events table's ``ts`` to timestamp[us] before a
    replay writer re-shards it.

    Every replay writer round-trips the source file through pyarrow; a
    source written by THIS engine's session (e.g. the soak harness) is
    INT96, which pyarrow reads as timestamp[ns] and would re-write as
    INT64 TIMESTAMP(NANOS) — an encoding the streaming scan's explicit
    µs schema refuses (measured: FAILED_READ_FILE.PARQUET_COLUMN_
    DATA_TYPE_MISMATCH at the r8 soak), and one that silently breaks
    any µs-unit epoch arithmetic on the cast column (the late-arrival
    delay model). Truncating ns → µs is the engine's own convention
    (``timestamp_micros(ts DIV 1000)`` in read_events). µs inputs (the
    driver fixtures) pass through untouched, so verified paths see
    byte-identical replay dirs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    f = tbl.schema.field("ts")
    if getattr(f.type, "unit", None) == "us":
        return tbl
    i = tbl.schema.get_field_index("ts")
    cast = pc.cast(tbl["ts"], pa.timestamp("us", tz=f.type.tz), safe=False)
    return tbl.set_column(i, pa.field("ts", cast.type), cast)


#: Replay-dir cache for the outer-join heartbeat harness, keyed on the
#: source file's (path, mtime_ns) — nanosecond mtime, the same rule the
#: events schema probe follows (round-3 ADVICE), so an in-process fixture
#: rewrite reliably invalidates.
_OUTER_REPLAY_DIRS: dict[tuple[str, int], str] = {}


def _heartbeat_replay_dir(events_path: str, n_chunks: int = 3) -> str:
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
    the join output by ``user_id >= 0``.

    Chunks are split in event-time order with strictly increasing file
    mtimes so the file source (which orders micro-batches by modification
    time) replays them as a monotone stream — no artificial lateness, so
    stream output equals the batch left join exactly.
    """
    import hashlib
    import tempfile
    import time as _time
    from datetime import timedelta

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = (events_path, os.stat(events_path).st_mtime_ns)
    if key in _OUTER_REPLAY_DIRS:
        return _OUTER_REPLAY_DIRS[key]

    # Deterministic location derived from the cache key: repeated
    # invocations (bench's n=3, the driver's per-round run, test reruns)
    # REUSE one materialization per fixture version instead of leaking a
    # fresh tempdir each call; the _COMPLETE marker is written last so a
    # half-built dir from an interrupted run is rebuilt, not trusted.
    tag = hashlib.md5(f"{events_path}:{key[1]}:{n_chunks}".encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"ssjoin_outer_replay_{tag}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        _OUTER_REPLAY_DIRS[key] = out
        return out

    tbl = _ts_micros(pq.read_table(events_path))
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    os.makedirs(out, exist_ok=True)
    n = tbl.num_rows
    step = max(1, (n + n_chunks - 1) // n_chunks)
    paths = []
    for i in range(0, n, step):
        p = os.path.join(out, f"chunk_{i // step:04d}.parquet")
        pq.write_table(tbl.slice(i, step), p)
        paths.append(p)

    last_ts = tbl.column("ts")[-1].as_py()
    for j in range(2):
        hb = [
            {
                "event_id": -1 - 2 * j - k,
                "ts": last_ts + timedelta(days=1, minutes=j),
                "user_id": -1,
                "event_type": variant,
                "value": 0.0,
                "props": "{}",
            }
            for k, variant in enumerate(("click", "error"))
        ]
        p = os.path.join(out, f"heartbeat_{j}.parquet")
        pq.write_table(pa.Table.from_pylist(hb, schema=tbl.schema), p)
        paths.append(p)

    # file source orders by modification time — pin a strictly increasing
    # sequence (2 s apart: coarser-grained filesystems still distinguish)
    base = _time.time() - 2 * len(paths)
    for i, p in enumerate(paths):
        os.utime(p, (base + 2 * i, base + 2 * i))

    # leading underscore: Spark's file listings skip `_`/`.`-prefixed
    # paths (the _SUCCESS convention), so the marker never joins the scan
    with open(marker, "w") as fh:
        fh.write("ok\n")
    _OUTER_REPLAY_DIRS[key] = out
    return out


def stream_click_error_left_join(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 2
) -> DataFrame:
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

    ``max_files_per_trigger=2`` (r5): with the 5-file replay (3 data
    chunks + 2 heartbeats) this schedules 3 micro-batches —
    [c0,c1], [c2,hb0], [hb1] — instead of 5. Mid-replay watermark
    advancement and the heartbeat-flush eviction are both still
    exercised (hb0's watermark is computed at the end of batch 2 and
    applied in batch 3, whose hb1 row triggers the final eviction), and
    the output is byte-identical; the r4 bench showed ~2.4× of the inner
    twin's wall time was pure per-micro-batch harness overhead at
    mFPT=1 (r4 verdict item 6). The 30 M-event soak keeps mFPT=1 for
    the long-replay state-drain evidence.
    """
    replay_dir = _heartbeat_replay_dir(events_path)
    ev = normalize_events(
        read_events_stream(spark, replay_dir, max_files_per_trigger)
    )
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
    joined = clicks.join(
        errors,
        F.expr(
            "click_user = error_user AND "
            "error_ts > click_ts AND "
            "error_ts <= click_ts + interval 5 minutes"
        ),
        "leftOuter",
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "error_id",
        "click_ts",
        "error_ts",
        (F.unix_micros("error_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    # The heartbeat filter must run on the MATERIALIZED output, not inside
    # the streaming plan: as a streaming-side filter Catalyst pushes
    # ``user_id >= 0`` below the join and through the click-side
    # EventTimeWatermark node, so the heartbeat clicks never advance the
    # click-side watermark — the join's global watermark (min of both
    # sides) then stalls at the last REAL click and withholds exactly that
    # click's NULL row (reproduced; the error side kept advancing, which
    # made the bug a single-row discrepancy).
    return _replay_to_memory_append(spark, joined, "ssjoin_outer").where(
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

    schema = spark.read.parquet(docs_path).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if os.path.isfile(docs_path):
        reader = reader.option("pathGlobFilter", os.path.basename(docs_path))
        path = os.path.dirname(docs_path)
    else:
        path = docs_path
    docs = reader.parquet(path)
    filtered = quality_projection(docs).where(F.col("quality") >= GATE_MIN_QUALITY)
    return _replay_to_memory_append(spark, filtered, "qualdocs")


_DOCS_REPLAY_DIRS: dict[tuple[str, int, int], str] = {}

_EVENTS_REPLAY_DIRS: dict[tuple[str, int, int], str] = {}


def _chunked_events_replay_dir(events_path: str, n_chunks: int = 3) -> str:
    """ts-ordered multi-file replay of the events fixture (one micro-batch
    per file) — the single-file fixture otherwise replays as ONE batch,
    which never exercises cross-batch state. Chunk boundaries fall wherever
    the ts order puts them, so events of the same minute routinely straddle
    two shipments — exactly the condition the partial-merge twins must
    survive. Same _COMPLETE-marker pattern as the docs replay."""
    import hashlib
    import tempfile
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = (events_path, os.stat(events_path).st_mtime_ns, n_chunks)
    if key in _EVENTS_REPLAY_DIRS:
        return _EVENTS_REPLAY_DIRS[key]
    tag = hashlib.md5(f"{events_path}:{key[1]}:{n_chunks}".encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"events_replay_{tag}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        _EVENTS_REPLAY_DIRS[key] = out
        return out

    tbl = _ts_micros(pq.read_table(events_path))
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    os.makedirs(out, exist_ok=True)
    n = tbl.num_rows
    step = max(1, (n + n_chunks - 1) // n_chunks)
    paths = []
    for i in range(0, n, step):
        fp = os.path.join(out, f"chunk_{i // step:04d}.parquet")
        pq.write_table(tbl.slice(i, step), fp)
        paths.append(fp)
    base = _time.time() - 2 * len(paths)
    for i, fp in enumerate(paths):
        os.utime(fp, (base + 2 * i, base + 2 * i))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    _EVENTS_REPLAY_DIRS[key] = out
    return out



_SPLIT_REPLAY_DIRS: dict[tuple, tuple[str, str]] = {}


def _split_replay_dir(
    events_path: str, history_fraction: float = 0.5, n_live_chunks: int = 3
) -> tuple[str, str]:
    """(ts, event_id)-ordered split of the events fixture into a single
    HISTORY parquet (the batch-backfill input) and a LIVE replay
    directory (chunked, mtime-ordered) — the backfill-then-stream
    migration shape the TWS initial-state bootstrap replays. Same
    _COMPLETE-marker + (path, mtime, params)-keyed cache discipline as
    the other replay builders. Returns (history_file, live_dir)."""
    import hashlib
    import tempfile
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = (
        events_path,
        os.stat(events_path).st_mtime_ns,
        history_fraction,
        n_live_chunks,
    )
    if key in _SPLIT_REPLAY_DIRS:
        return _SPLIT_REPLAY_DIRS[key]
    tag = hashlib.md5(
        f"{events_path}:{key[1]}:{history_fraction}:{n_live_chunks}".encode()
    ).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"events_split_replay_{tag}")
    history = os.path.join(out, "history.parquet")
    live = os.path.join(out, "live")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        _SPLIT_REPLAY_DIRS[key] = (history, live)
        return history, live

    tbl = _ts_micros(pq.read_table(events_path))
    tbl = tbl.take(
        pc.sort_indices(
            tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    n = tbl.num_rows
    cut = min(max(int(n * history_fraction), 1), n - 1)  # both halves nonempty
    os.makedirs(live, exist_ok=True)
    pq.write_table(tbl.slice(0, cut), history)
    rest = tbl.slice(cut)
    step = max(1, (rest.num_rows + n_live_chunks - 1) // n_live_chunks)
    paths = []
    for i in range(0, rest.num_rows, step):
        fp = os.path.join(live, f"chunk_{i // step:04d}.parquet")
        pq.write_table(rest.slice(i, step), fp)
        paths.append(fp)
    base = _time.time() - 2 * len(paths)
    for i, fp in enumerate(paths):
        os.utime(fp, (base + 2 * i, base + 2 * i))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    _SPLIT_REPLAY_DIRS[key] = (history, live)
    return history, live


_LATE_REPLAY_DIRS: dict[tuple, str] = {}

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


def _late_arrival_replay_dir(events_path: str, n_chunks: int = 3) -> str:
    """Materialize the events fixture ordered by simulated ARRIVAL time
    (event time + deterministic per-event delay, ties by event_id) as an
    n-chunk multi-file replay — the out-of-order delivery the ts-ordered
    replay (:func:`_chunked_events_replay_dir`) deliberately cannot
    produce. Same mtime-ordering + _COMPLETE-marker pattern; ``ts`` is
    rewritten as µs so downstream never hits the NANOS branch."""
    import hashlib
    import tempfile
    import time as _time

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # the jitter constants are part of the key: a constant retune must
    # never reuse a dir materialized under the old arrival order
    jit = (LATE_EVERY, LATE_DAYS_MOD, JITTER_MINUTES_MOD)
    key = (events_path, os.stat(events_path).st_mtime_ns, n_chunks, jit)
    if key in _LATE_REPLAY_DIRS:
        return _LATE_REPLAY_DIRS[key]
    tag = hashlib.md5(
        f"late:{events_path}:{key[1]}:{n_chunks}:{jit}".encode()
    ).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"late_replay_{tag}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        _LATE_REPLAY_DIRS[key] = out
        return out

    tbl = _ts_micros(pq.read_table(events_path))
    ts_idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(ts_idx, "ts", tbl["ts"].cast(pa.timestamp("us")))
    eid = tbl["event_id"].to_numpy()
    ts_us = tbl["ts"].cast(pa.int64()).to_numpy()
    delay_us = np.where(
        eid % LATE_EVERY == 0,
        (eid % LATE_DAYS_MOD) * 86_400_000_000,
        (eid % JITTER_MINUTES_MOD) * 60_000_000,
    )
    arrival = pa.array(ts_us + delay_us, pa.int64())
    order = pc.sort_indices(
        pa.table({"arrival": arrival, "event_id": tbl["event_id"]}),
        sort_keys=[("arrival", "ascending"), ("event_id", "ascending")],
    )
    tbl = tbl.take(order)
    os.makedirs(out, exist_ok=True)
    n = tbl.num_rows
    step = max(1, (n + n_chunks - 1) // n_chunks)
    paths = []
    for i in range(0, n, step):
        fp = os.path.join(out, f"chunk_{i // step:04d}.parquet")
        pq.write_table(tbl.slice(i, step), fp)
        paths.append(fp)
    base = _time.time() - 2 * len(paths)
    for i, fp in enumerate(paths):
        os.utime(fp, (base + 2 * i, base + 2 * i))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    _LATE_REPLAY_DIRS[key] = out
    return out


def stream_late_arrivals_audit(
    spark: SparkSession,
    events_path: str,
    n_chunks: int = 3,
    delay_minutes: int = 10,
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
    import tempfile
    import uuid

    replay = _late_arrival_replay_dir(events_path, n_chunks)
    stream = read_events_stream(spark, replay, max_files_per_trigger=1)
    delay_us = delay_minutes * 60 * 1_000_000
    out_dir = os.path.join(
        tempfile.gettempdir(), f"late_audit_{uuid.uuid4().hex[:12]}"
    )
    # Sequential micro-batches (availableNow) make this closure-held
    # watermark state exact; a multi-query production deployment would
    # read it from StreamingQueryProgress instead. Two-deep state
    # mirrors the engine's enforcement lag: ``enforced`` is the
    # watermark base through batch N−2 (what batch N's filter uses),
    # ``pending`` is batch N−1's contribution, folded in only after the
    # current batch was filtered. Max event times are ms-truncated
    # before the delay subtraction, as the engine truncates.
    hwm = {"enforced_us": None, "pending_us": None}

    def audit(batch: DataFrame, _batch_id: int) -> None:
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

    q = (
        stream.writeStream.foreachBatch(audit)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema("minute timestamp, late_events bigint")
        .parquet(out_dir)
        .groupBy("minute")
        .agg(F.sum("late_events").cast("bigint").alias("late_events"))
    )


def stream_visits_with_late_backfill(
    spark: SparkSession,
    events_path: str,
    n_chunks: int = 3,
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
    import uuid

    replay = _late_arrival_replay_dir(events_path, n_chunks)
    late = stream_late_arrivals_audit(spark, events_path, n_chunks)
    agg = (
        read_events_stream(spark, replay, max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("minute"), "n")
    )
    name = f"backfill_{uuid.uuid4().hex}"
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    streamed = (
        _detach_memory_sink(spark, name)
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


def oracle_stream_late_arrivals(n_chunks: int = 3, delay_minutes: int = 10) -> str:
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
n AS (SELECT greatest(1, CAST(ceil(count(*) / {n_chunks}.0) AS BIGINT)) AS step FROM b),
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
            // 1000) * 1000 - {delay_minutes * 60 * 1_000_000} AS wmark_us
  FROM mx
)
SELECT date_trunc('minute', e.ts) AS minute,
       CAST(count(*) AS BIGINT) AS late_events
FROM e JOIN wm USING (chunk)
WHERE epoch_us(date_trunc('minute', e.ts)) + 60000000 <= wm.wmark_us
GROUP BY 1"""


def _chunked_docs_replay_dir(docs_path: str, n_chunks: int = 3) -> str:
    """Materialize the documents fixture as a doc_id-ordered multi-file
    replay (one micro-batch per file) — the streaming analogue of a crawl
    landing in an object-store drop folder one shipment at a time.

    Chunks are doc_id-ascending with strictly increasing mtimes so the
    file source replays them in order; a _COMPLETE marker guards against
    trusting a half-built dir (same pattern as the events replay above).

    mFPT note (r10 optimization): consumers of this dir read it with
    ``maxFilesPerTrigger=2`` — 2 micro-batches ([c0,c1],[c2]) instead of
    3, the r5 click_error/drop_audit precedent. Each consumer's output is
    batching-invariant (per-document stateless, probes of persisted/
    static artifacts, or mergeable/prefix-sum state composed over
    doc_id-ascending chunks — argued in each docstring) and every key
    stays hash-gated by its unchanged driver oracle; the cross-batch
    boundary (batch 2 probing batch 1's index/state) remains exercised.
    Measured: one micro-batch of fixed setup (source listing, store
    commits, job scheduling) saved per query — ~30-40% of replay-harness
    wall time at sf0.1.
    """
    import hashlib
    import tempfile
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = (docs_path, os.stat(docs_path).st_mtime_ns, n_chunks)
    if key in _DOCS_REPLAY_DIRS:
        return _DOCS_REPLAY_DIRS[key]
    tag = hashlib.md5(f"{docs_path}:{key[1]}:{n_chunks}".encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"docs_replay_{tag}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        _DOCS_REPLAY_DIRS[key] = out
        return out

    tbl = pq.read_table(docs_path)
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("doc_id", "ascending")]))
    os.makedirs(out, exist_ok=True)
    n = tbl.num_rows
    step = max(1, (n + n_chunks - 1) // n_chunks)
    paths = []
    for i in range(0, n, step):
        p = os.path.join(out, f"chunk_{i // step:04d}.parquet")
        pq.write_table(tbl.slice(i, step), p)
        paths.append(p)
    base = _time.time() - 2 * len(paths)
    for i, p in enumerate(paths):
        os.utime(p, (base + 2 * i, base + 2 * i))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    _DOCS_REPLAY_DIRS[key] = out
    return out


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
    spark: SparkSession, docs_path: str, n_chunks: int = 3
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
    import tempfile
    import uuid

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    index_dir = os.path.join(
        tempfile.gettempdir(), f"ingest_index_{uuid.uuid4().hex[:12]}"
    )

    q = (
        stream.writeStream.foreachBatch(IngestDedupWriter(index_dir))
        .option("checkpointLocation", f"{index_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(index_dir)


def stream_decontamination_gate(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
) -> DataFrame:
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
    import tempfile
    import uuid

    from ..operators.dedup import DECON_K, DECON_MOD, _shingle_array

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    bench_sh = (
        spark.read.parquet(docs_path)
        .where(F.col("doc_id") % DECON_MOD == 0)
        .select(F.explode(_shingle_array(DECON_K)).alias("shingle"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_dir = os.path.join(
        tempfile.gettempdir(), f"decon_clean_{uuid.uuid4().hex[:12]}"
    )

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        corpus = batch.where(F.col("doc_id") % DECON_MOD != 0)
        sh = corpus.select("doc_id", F.explode(_shingle_array(DECON_K)).alias("shingle"))
        contaminated = (
            sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
            .select("doc_id")
            .distinct()
        )
        corpus.join(contaminated, "doc_id", "left_anti").select(
            "doc_id", "lang", "source"
        ).write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_drop_audit(
    spark: SparkSession,
    docs_path: str,
    n_chunks: int = 3,
    max_files_per_trigger: int = 2,
) -> DataFrame:
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
    import tempfile
    import uuid

    from ..operators.dedup import (
        DECON_K,
        DECON_MOD,
        _norm_text,
        _shingle_array,
        drop_audit_ladder,
    )
    from ..operators.text import quality_gate_frame

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    # Replay chunking A/B'd (interleaved, one process, sf0.1, properly
    # wired — a first mis-anchored edit measured 1 vs 1 and concluded
    # "no win"): mFPT=1 12.4 s vs mFPT=2 10.7 s — one micro-batch of
    # ladder setup saved, the r5 stream_click_error_left_join pattern.
    # Cross-batch index semantics stay exercised (batch 2 probes batch
    # 1's survivor hashes) and chunks stay doc_id-ascending, so
    # first-seen == global min holds — output byte-identical (parity
    # test + unchanged oracle).
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(replay)
    )
    bench_sh = (
        spark.read.parquet(docs_path)
        .where(F.col("doc_id") % DECON_MOD == 0)
        .select(F.explode(_shingle_array(DECON_K)).alias("shingle"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tag = uuid.uuid4().hex[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"audit_out_{tag}")
    index_dir = os.path.join(tempfile.gettempdir(), f"audit_index_{tag}")

    def audit(batch: DataFrame, _batch_id: int) -> None:
        import glob as _glob

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
        contaminated = (
            # derived from the RAW batch, not ``base``: the shingle probe
            # needs only (doc_id, text), and routing it through ``base``
            # would re-run the quality-gate aggregate inside this subtree
            batch.where(F.col("doc_id") % DECON_MOD != 0)
            .select("doc_id", F.explode(_shingle_array(DECON_K)).alias("shingle"))
            .join(F.broadcast(bench_sh), "shingle", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("is_contaminated", F.lit(True))
        )
        reason, stage = drop_audit_ladder()
        (
            base.join(dup, "doc_id", "left")
            .join(contaminated, "doc_id", "left")
            .select(
                "doc_id",
                reason.alias("drop_reason"),
                stage.cast("bigint").alias("stage"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(audit)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_hierarchical_rollup(
    spark: SparkSession, events_path: str, max_files_per_trigger: int = 2
) -> DataFrame:
    # default mFPT=2 (r10): 2 micro-batches over the 3-chunk replay —
    # partials are decimal-additive, so the merged hierarchy is
    # bit-identical at any batching (see _chunked_docs_replay_dir note).
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
    import tempfile
    import uuid

    from ..sources.events import normalize_events, read_events_stream

    replay = _chunked_events_replay_dir(events_path)
    stream = normalize_events(
        read_events_stream(spark, replay, max_files_per_trigger)
    )
    store = os.path.join(tempfile.gettempdir(), f"ca_store_{uuid.uuid4().hex[:12]}")

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        (
            batch.groupBy(F.date_trunc("minute", F.col("ts")).alias("bucket"))
            .agg(
                F.count("*").alias("visits"),
                F.sum(F.col("value").cast("decimal(38,12)")).alias("vsum"),
            )
            .write.mode("append")
            .parquet(store)
        )

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{store}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    m = (
        spark.read.parquet(store)
        .groupBy("bucket")
        .agg(F.sum("visits").alias("visits"), F.sum("vsum").alias("vsum"))
    )
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


def stream_image_ingest_features(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
) -> DataFrame:
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

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    hist = image_histogram(image_blob_projection(stream))
    return _replay_to_memory_append(spark, hist, "imghist")


def stream_curated_ingest(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
) -> DataFrame:
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
    import tempfile
    import uuid

    from ..operators.text import GATE_MIN_QUALITY, quality_projection

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    index_dir = os.path.join(
        tempfile.gettempdir(), f"curated_index_{uuid.uuid4().hex[:12]}"
    )

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        kept = (
            quality_projection(batch)
            .where(F.col("quality") >= GATE_MIN_QUALITY)
            .select("doc_id")
        )
        b = (
            batch.join(kept, "doc_id")
            .select(F.md5("text").alias("content_hash"), "doc_id")
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        if os.path.isdir(index_dir):
            idx = batch.sparkSession.read.parquet(index_dir).select("content_hash")
            b = b.join(idx, "content_hash", "left_anti")
        b.write.mode("append").parquet(index_dir)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{index_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(index_dir)


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
    schema = spark.read.parquet(emb_path).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if os.path.isfile(emb_path):
        reader = reader.option("pathGlobFilter", os.path.basename(emb_path))
        path = os.path.dirname(emb_path)
    else:
        path = emb_path
    emb = (
        reader.parquet(path)
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
    return _replay_to_memory_append(spark, assigned, "ivfassign")


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

    schema = spark.read.parquet(docs_path).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if os.path.isfile(docs_path):
        reader = reader.option("pathGlobFilter", os.path.basename(docs_path))
        path = os.path.dirname(docs_path)
    else:
        path = docs_path
    docs = reader.parquet(path)
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
    return _replay_to_memory_append(spark, postings, "postings")


def stream_shard_assignment(
    spark: SparkSession,
    docs_path: str,
    n_chunks: int = 3,
    target_tokens: int = 4096,
    bucket_docs: int = 256,
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
    import tempfile

    from ..operators.sampling import (
        _persisted_shard_state,
        _two_level_tokens_before,
    )
    from ..operators.text import TOKEN_RE

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    sf_dir = os.path.dirname(docs_path)
    state = _persisted_shard_state(spark, sf_dir, bucket_docs=bucket_docs)
    corpus_total = int(
        state.agg(F.coalesce(F.sum("bucket_tokens"), F.lit(0))).first()[0]
    )
    thr = int(
        spark.read.parquet(docs_path)
        .agg(F.expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)"))
        .first()[0]
    )
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_shards_{uuid.uuid4().hex[:12]}"
    )
    total_dir = os.path.join(out_dir + "_state")

    def ingest(batch: DataFrame, _batch_id: int) -> None:
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
        scanned = _two_level_tokens_before(arrivals, bucket_docs=bucket_docs)
        out = scanned.select(
            "doc_id",
            "n_tokens",
            (F.lit(offset) + F.col("tokens_before")).alias("tokens_before"),
        ).select(
            "doc_id",
            "n_tokens",
            "tokens_before",
            F.expr(f"tokens_before div {target_tokens}").alias("shard_id"),
        )
        out.write.mode("append").parquet(out_dir)
        batch_tokens = arrivals.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0))
        ).first()[0]
        ss.createDataFrame(
            [(int(stream_total + batch_tokens),)], "t bigint"
        ).write.mode("overwrite").parquet(total_dir)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_image_ahash_probe(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
) -> DataFrame:
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

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
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
    import tempfile

    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_ahash_probe_{uuid.uuid4().hex[:12]}"
    )

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        incoming = batch.where(F.col("doc_id") % 10 == 0)
        if incoming.isEmpty():
            return
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

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_model_scores(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
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
    import tempfile

    from ..operators.classifier import (
        _persisted_center_stats,
        _persisted_model,
        score_batch_with_model,
    )

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    sf_dir = os.path.dirname(docs_path)
    weights = _persisted_model(spark, sf_dir).localCheckpoint(eager=True)
    stats = _persisted_center_stats(spark, sf_dir).localCheckpoint(eager=True)
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_scores_{uuid.uuid4().hex[:12]}"
    )

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        score_batch_with_model(batch, weights, stats).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_bpe_encode(
    spark: SparkSession,
    docs_path: str,
    n_chunks: int = 2,
    n_merges: int = 3,
    doc_mod: int = 10,
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
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.text import TOKEN_RE, _persisted_bpe_vocab

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    sf_dir = os.path.dirname(docs_path)
    vocab = _persisted_bpe_vocab(
        spark, sf_dir, n_merges=n_merges, doc_mod=doc_mod
    ).localCheckpoint(eager=True)
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_bpe_{uuid.uuid4().hex[:12]}"
    )

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        words = (
            batch.where(F.expr(f"doc_id % {doc_mod} = 0"))
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

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_entity_probe(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
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
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        ENTITY_MAX_DIST,
        ENTITY_Q,
        _ENTITY_DIRTY,
        _entity_grams,
        _persisted_entity_index,
    )

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    sf_dir = os.path.dirname(docs_path)
    names, df_tab, prefix = _persisted_entity_index(spark, sf_dir)
    names = names.select(
        F.col("id").alias("clean_id"), F.col("name").alias("cname")
    ).localCheckpoint(eager=True)
    df_tab = df_tab.localCheckpoint(eager=True)
    prefix = prefix.select(
        F.col("id").alias("clean_id"), "gram"
    ).localCheckpoint(eager=True)
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_entity_{uuid.uuid4().hex[:12]}"
    )

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        incoming = batch.where(F.expr("doc_id % 20 IN (1, 7, 13)"))
        if incoming.isEmpty():
            return
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

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_neardup_probe(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
) -> DataFrame:
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
    import tempfile

    from pyspark.sql import functions as F

    from ..operators import dedup as dd

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    sf_dir = os.path.dirname(docs_path)
    banded_ix, sig_ix = (
        ix.localCheckpoint(eager=True)
        for ix in dd._persisted_portable_index(spark, sf_dir)
    )
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_neardup_{uuid.uuid4().hex[:12]}"
    )
    # the batch twin's default threshold, hence the same integer cut
    n_perms, threshold = dd.PORTABLE_PERMS, 0.5

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        incoming = batch.where(F.col("doc_id") % 10 == 0)
        if incoming.isEmpty():
            return
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

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_constraint_report(
    spark: SparkSession, docs_path: str, n_chunks: int = 3
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
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.relational import _CONSTRAINTS

    replay = _chunked_docs_replay_dir(docs_path, n_chunks)
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # see _chunked_docs_replay_dir note
        .parquet(replay)
    )
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_constraints_{uuid.uuid4().hex[:12]}"
    )

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.agg(
                F.count("*").alias("n"),
                F.count(
                    F.when(F.col("text").isNotNull() & (F.length("text") > 0), 1)
                ).alias("c_text"),
                F.countDistinct("doc_id").alias("c_uniq"),
                F.count(
                    F.when(F.col("n_chars") == F.length("text"), 1)
                ).alias("c_len"),
                F.count(
                    F.when(F.col("lang").isin("de", "en", "es", "fr", "zh"), 1)
                ).alias("c_lang"),
                F.count(
                    F.when(F.col("source").rlike("^src[0-9]+$"), 1)
                ).alias("c_src"),
                F.count(
                    F.when(F.col("n_chars").between(1, 100000), 1)
                ).alias("c_range"),
                F.count(F.when(F.col("n_chars") >= 100, 1)).alias("c_min100"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # NOTE: per-batch countDistinct on doc_id composes by SUM only
    # because the replay chunks partition doc_id ranges disjointly (the
    # replay is doc_id-ordered); with cross-shipment id reuse the
    # distinct partial would be a sketch/set union instead — documented
    # deliberately, asserted by the parity test.
    partials = spark.read.parquet(out_dir)
    a = partials.agg(
        F.sum("n").alias("n"),
        *[
            F.sum(c).alias(c)
            for c in ["c_text", "c_uniq", "c_len", "c_lang", "c_src",
                      "c_range", "c_min100"]
        ],
    )
    counts = ["c_text", "c_uniq", "c_len", "c_lang", "c_src", "c_range", "c_min100"]
    stack = ", ".join(
        f"'{name}', CAST({c} AS DOUBLE) / CAST(n AS DOUBLE), CAST({thr} AS DOUBLE)"
        for (name, thr), c in zip(_CONSTRAINTS, counts)
    )
    return a.selectExpr(
        f"stack({len(_CONSTRAINTS)}, {stack}) AS (check_name, metric, threshold)"
    ).select(
        "check_name",
        "metric",
        "threshold",
        (F.col("metric") >= F.col("threshold")).alias("passed"),
    )


# ---------------------------------------------------------------------------
# Exactly-once vs INCRBY: the duplicate-delivery audit (SURVEY §4 delta 1)
# ---------------------------------------------------------------------------
_DUP_REPLAY_DIRS: dict[tuple, str] = {}


def _duplicate_delivery_replay_dir(
    events_path: str, n_chunks: int = 3, dup_chunk: int = 1
) -> str:
    """(ts, event_id)-ordered chunked replay where chunk ``dup_chunk`` is
    REDELIVERED — written again, byte-identical, as the final file. This
    is the at-least-once failure mode of the reference's Pub/Sub source
    (a whole bundle re-dispatched after an ack timeout), made
    deterministic: chunk membership is a pure function of the fixture
    (total order ts, event_id — unique tie-break, so the DuckDB oracle
    re-derives it exactly), and the redelivered copy always arrives
    last. Cache key carries every shaping constant (r7 lesson: a
    constant retune must never reuse a stale dir)."""
    import hashlib
    import tempfile
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = (events_path, os.stat(events_path).st_mtime_ns, n_chunks, dup_chunk)
    if key in _DUP_REPLAY_DIRS:
        return _DUP_REPLAY_DIRS[key]
    tag = hashlib.md5(
        f"{events_path}:{key[1]}:{n_chunks}:{dup_chunk}".encode()
    ).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"dup_delivery_replay_{tag}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        _DUP_REPLAY_DIRS[key] = out
        return out

    tbl = _ts_micros(pq.read_table(events_path))
    tbl = tbl.take(
        pc.sort_indices(
            tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    os.makedirs(out, exist_ok=True)
    n = tbl.num_rows
    step = max(1, (n + n_chunks - 1) // n_chunks)
    paths = []
    for i in range(0, n, step):
        fp = os.path.join(out, f"chunk_{i // step:04d}.parquet")
        pq.write_table(tbl.slice(i, step), fp)
        paths.append(fp)
    redelivered = os.path.join(out, f"redelivered_{dup_chunk:04d}.parquet")
    pq.write_table(tbl.slice(dup_chunk * step, step), redelivered)
    paths.append(redelivered)
    base = _time.time() - 2 * len(paths)
    for i, fp in enumerate(paths):
        os.utime(fp, (base + 2 * i, base + 2 * i))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    _DUP_REPLAY_DIRS[key] = out
    return out


def stream_duplicate_delivery_audit(
    spark: SparkSession,
    events_path: str,
    n_chunks: int = 3,
    dup_chunk: int = 1,
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
    import tempfile
    import uuid

    replay = _duplicate_delivery_replay_dir(events_path, n_chunks, dup_chunk)
    stream = read_events_stream(spark, replay, max_files_per_trigger=1)
    base = os.path.join(tempfile.gettempdir(), f"dupaudit_{uuid.uuid4().hex[:12]}")
    incrby_dir, store_dir, seen_dir = (
        f"{base}_incrby",
        f"{base}_store",
        f"{base}_seen",
    )
    def sink(batch: DataFrame, _batch_id: int) -> None:
        import glob as _glob

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

    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{base}_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    exact = (
        spark.read.schema("minute timestamp, n bigint")
        .parquet(store_dir)
        .groupBy("minute")
        .agg(F.sum("n").cast("bigint").alias("visits"))
    )
    incrby = (
        spark.read.schema("minute timestamp, n bigint")
        .parquet(incrby_dir)
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


def oracle_stream_duplicate_delivery(
    ev_cte: str, n_chunks: int = 3, dup_chunk: int = 1
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
