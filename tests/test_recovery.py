"""Checkpoint kill-and-restart recovery — the durability claim every
``checkpointLocation`` in the streaming surface rests on, finally
exercised (r9 verdict item 1).

Each test interrupts an availableNow replay mid-stream — either a
simulated crash INSIDE a foreachBatch (after the write, before the
offset commit: the worst-ordered failure) or a hard ``query.stop()``
between batches — then restarts a fresh query from the SAME
checkpointLocation and asserts the final outcome equals the
uninterrupted batch oracle:

* ``SketchStoreWriter`` — the store, whose every family overwrites its
  own ``batch_id=<n>`` leaf, must absorb a replayed batch without double
  counting (the leaf is rewritten, not appended). Reference analogue:
  the Dataflow runner durability the reference's deploy relies on
  (deploy_dataflow.sh:24).
* ``IngestDedupWriter`` — the index anti-join must make a replayed
  append a no-op (exactly-once without a transaction log).
* legacy ``applyInPandasWithState`` uniques — HDFS-backed state must
  resume: post-restart counts continue from pre-kill state.
* ``transformWithStateInPandas`` uniques — the same, for the RocksDB
  store (changelog/snapshot restore).
* sessions TTL through a PARQUET FILE SINK — end-to-end exactly-once:
  rows written by an uncommitted batch are invisible to readers (the
  ``_spark_metadata`` manifest lists only committed files), and the
  restarted query completes the output with no duplicates.

The replay fixtures are deliberately discriminating: the uniques tests
order events by user_id before chunking, so early chunks hold users that
NEVER reappear — a restart that lost state would undercount, and the
tests assert that precondition explicitly instead of trusting it.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from redis_dataflow_realtime_analytics_spark.operators import sessions as sess_ops
from redis_dataflow_realtime_analytics_spark.operators.metrics import minute
from redis_dataflow_realtime_analytics_spark.sources.events import (
    normalize_events,
    read_events,
    read_events_stream,
)
from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp
from redis_dataflow_realtime_analytics_spark.streaming import stateful

SF = "/root/testdata/sf0.001"
EV = f"{SF}/events.parquet"
DOCS = f"{SF}/documents.parquet"


def _stop_after(q, n_batches: int, timeout: float = 240.0) -> int:
    """Poll the running query's progress; stop it (simulated kill) once
    ``n_batches`` micro-batches have committed. Returns the committed
    count at stop time (may exceed ``n_batches`` by the in-flight batch
    racing the stop — callers only rely on a lower bound)."""
    t0 = time.time()
    while time.time() - t0 < timeout and q.isActive:
        if len(q.recentProgress) >= n_batches:
            break
        time.sleep(0.02)
    q.stop()
    q.awaitTermination()
    return len(q.recentProgress)


class _CrashOnce:
    """Wrap a foreachBatch writer: run the real write, THEN raise on the
    chosen batch's first attempt — the crash window between a completed
    side-effect and the offset commit, which a restart must replay."""

    def __init__(self, inner, crash_batch: int):
        self.inner = inner
        self.crash_batch = crash_batch
        self.crashed = False

    def __call__(self, df, batch_id: int) -> None:
        self.inner(df, batch_id)
        if batch_id == self.crash_batch and not self.crashed:
            self.crashed = True
            raise RuntimeError("injected crash: write done, commit never happened")


def _uid_ordered_replay(tmp: str, n_chunks: int = 8) -> tuple[str, int]:
    """Events replay chunked in user_id order: each uid's rows land in one
    contiguous run of chunks, so early chunks carry users that never
    reappear — the fixture shape that makes lost state observable."""
    tbl = sp._sorted(sp._ts_micros(pq.read_table(EV)), "user_id", "ts")
    out = os.path.join(tmp, "uid_replay")
    return out, len(sp._write_chunks(out, tbl, n_chunks))


def _chunk_pairs(replay: str, name: str) -> set[tuple[str, int]]:
    t = pq.read_table(
        os.path.join(replay, name), columns=["event_type", "user_id"]
    )
    return set(
        zip(t.column("event_type").to_pylist(), t.column("user_id").to_pylist())
    )


def _assert_discriminating(replay: str, n_files: int) -> None:
    """Some (variant, user) pair must live ONLY in the first chunk and
    some other pair ONLY in the last — so both a state-losing restart
    and a never-restarted phase A would miss part of the answer."""
    chunks = sorted(f for f in os.listdir(replay) if f.endswith(".parquet"))
    assert len(chunks) == n_files
    first, last = _chunk_pairs(replay, chunks[0]), _chunk_pairs(replay, chunks[-1])
    middle: set[tuple[str, int]] = set()
    for name in chunks[1:]:
        middle |= _chunk_pairs(replay, name)
    assert first - middle, "chunk 0 must hold (variant, user) pairs seen nowhere later"
    rest: set[tuple[str, int]] = set()
    for name in chunks[:-1]:
        rest |= _chunk_pairs(replay, name)
    assert last - rest, "last chunk must hold (variant, user) pairs seen nowhere earlier"


def _variant_totals(spark) -> dict[str, int]:
    ev = normalize_events(read_events(spark, SF))
    return {
        r["variant"]: r["n"]
        for r in ev.groupBy("variant")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }


# ---------------------------------------------------------------------------
# foreachBatch stores: crash AFTER the write, BEFORE the offset commit
# ---------------------------------------------------------------------------
def test_sketch_store_crash_after_write_is_exactly_once(spark, tmp_path):
    replay = sp._chunked_events_replay_dir(EV, 5)
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")

    def start(writer):
        ev = normalize_events(read_events_stream(spark, replay, 1)).withWatermark(
            "ts", sp.WATERMARK
        )
        return (
            ev.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    crash = _CrashOnce(sp.SketchStoreWriter(store), crash_batch=1)
    q = start(crash)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert crash.crashed
    # the orphaned write exists on disk even though its offset never committed
    assert os.path.isdir(f"{store}/visits/batch_id=1")

    q2 = start(sp.SketchStoreWriter(store))
    q2.awaitTermination()

    got = {
        r["minute"]: r["visits"] for r in sp.read_visits(spark, store).collect()
    }
    ev_b = normalize_events(read_events(spark, SF))
    want = {
        r["minute"]: r["n"]
        for r in ev_b.groupBy(minute()).agg(F.count("*").alias("n")).collect()
    }
    # replayed batch 1 OVERWROTE its own partition: exact, not doubled
    assert got == want
    batch_ids = {
        d for d in os.listdir(f"{store}/visits") if d.startswith("batch_id=")
    }
    assert batch_ids == {f"batch_id={i}" for i in range(5)}


def test_sketch_store_jobs_stay_in_the_query_job_group(spark, tmp_path):
    """The store's family writes run on their own threads; each must
    inherit the streaming query's run-id job group, or ``query.stop()``
    could not cancel an in-flight write."""
    replay = sp._chunked_events_replay_dir(EV, 5)
    st = spark.sparkContext.statusTracker()
    ungrouped = set(st.getJobIdsForGroup())
    ev = normalize_events(read_events_stream(spark, replay, 1)).withWatermark(
        "ts", sp.WATERMARK
    )
    q = (
        ev.writeStream.foreachBatch(sp.SketchStoreWriter(str(tmp_path / "store")))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    n_batches = sum(p.numInputRows > 0 for p in q.recentProgress)
    assert n_batches >= 2
    jobs = sorted(st.getJobIdsForGroup(str(q.runId)))
    assert len(jobs) >= 5 * n_batches, "one job per family per batch"
    # no job launched while the query ran escaped its group
    assert jobs == list(range(jobs[0], jobs[-1] + 1))
    assert set(st.getJobIdsForGroup()) <= ungrouped


def test_ingest_dedup_crash_replay_appends_nothing(spark, tmp_path):
    replay = sp._chunked_docs_replay_dir(DOCS, 4)
    schema = spark.read.parquet(DOCS).schema
    index, ck = str(tmp_path / "index"), str(tmp_path / "ck")

    def start(writer):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        return (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    crash = _CrashOnce(sp.IngestDedupWriter(index), crash_batch=1)
    q = start(crash)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert crash.crashed

    q2 = start(sp.IngestDedupWriter(index))
    q2.awaitTermination()

    got = spark.read.parquet(index)
    # exactly-once: the replayed batch's hashes were already indexed, so
    # the anti-join filtered every row — no hash appears twice
    assert got.count() == got.select("content_hash").distinct().count()
    want = (
        spark.read.parquet(DOCS)
        .select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# stateful operators: hard stop mid-replay, resume from the checkpoint
# ---------------------------------------------------------------------------
def test_legacy_uniques_kill_restart_resumes_state(spark, tmp_path):
    replay, n_files = _uid_ordered_replay(str(tmp_path))
    _assert_discriminating(replay, n_files)
    ck, upd_dir = str(tmp_path / "ck"), str(tmp_path / "updates")

    # the memory sink can't recover from a checkpoint (by design); land
    # the update stream through foreachBatch appends instead — an
    # at-least-once log the monotone per-key max is insensitive to
    def start():
        updates = stateful.uniques_updates(spark, replay, 1)
        return (
            updates.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(upd_dir)
            )
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    with sp._state_partitions(spark):
        committed_a = _stop_after(start(), 2)
        assert 2 <= committed_a < n_files, "phase A must stop mid-replay"
        qb = start()
        qb.awaitTermination()
        assert len(qb.recentProgress) > 0, "phase B must replay the remainder"

    got = {
        r["variant"]: r["n"]
        for r in spark.read.parquet(upd_dir)
        .groupBy("variant")
        .agg(F.max("unique_users").alias("n"))
        .collect()
    }
    # equality needs BOTH phases' state: chunk-0-only users are gone from
    # the input by restart time, so a state-losing resume undercounts
    assert got == _variant_totals(spark)


@pytest.mark.skipif(
    not stateful.tws_available(), reason="no protobuf runtime for TWS"
)
def test_tws_uniques_kill_restart_resumes_rocksdb_state(spark, tmp_path):
    replay, n_files = _uid_ordered_replay(str(tmp_path))
    _assert_discriminating(replay, n_files)
    ck, upd_dir = str(tmp_path / "ck"), str(tmp_path / "updates")

    def start():
        updates = stateful.tws_uniques_updates(spark, replay, 1)
        return (
            updates.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(upd_dir)
            )
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    with stateful._tws_session(spark), sp._state_partitions(spark):
        committed_a = _stop_after(start(), 2)
        assert 2 <= committed_a < n_files, "phase A must stop mid-replay"
        qb = start()
        qb.awaitTermination()
        assert len(qb.recentProgress) > 0, "phase B must replay the remainder"

    got = {
        r["variant"]: r["n"]
        for r in spark.read.parquet(upd_dir)
        .groupBy("variant")
        .agg(F.max("unique_users").alias("n"))
        .collect()
    }
    assert got == _variant_totals(spark)


def test_sessions_ttl_kill_restart_file_sink_exactly_once(spark, tmp_path):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def start():
        updates = stateful.sessions_updates(spark, EV)  # 3 chunks + 2 heartbeats
        return (
            updates.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    with sp._state_partitions(spark):
        committed_a = _stop_after(start(), 2)
        assert 2 <= committed_a < 5, "phase A must stop mid-replay"
        qb = start()
        qb.awaitTermination()
        assert len(qb.recentProgress) > 0, "phase B must replay the remainder"

    # reading through the sink's _spark_metadata manifest: only COMMITTED
    # files are visible, so an uncommitted phase-A batch can't duplicate
    got = (
        spark.read.parquet(out)
        .where(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.timestamp_micros("start_us").alias("session_start"),
            F.timestamp_micros("end_us").alias("session_end"),
            "n_events",
        )
    )
    assert got.count() == got.distinct().count(), "no duplicate sessions"
    want = sess_ops.user_sessions(spark, SF)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
