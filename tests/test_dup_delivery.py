"""Duplicate-delivery audit: the exactly-once sink claim, measured.

Pins the two contracts :func:`sp.stream_duplicate_delivery_audit` makes:

* the idempotent-store leg is UNCHANGED by the redelivered chunk — it
  equals the plain batch per-minute count of the fixture;
* the INCRBY leg over-counts by EXACTLY the redelivered chunk's rows,
  minute by minute (so ``sum(overcount)`` == chunk size).

Plus determinism (two runs byte-equal) and the replay-dir contract
(redelivered file is byte-identical to its chunk and sorts last).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

from .conftest import SF_SMOKE

EVENTS = f"{SF_SMOKE}/events.parquet"


def test_store_leg_unchanged_by_redelivery(spark):
    out = sp.stream_duplicate_delivery_audit(spark, EVENTS).cache()
    batch = (
        spark.read.parquet(EVENTS)
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count("*").alias("visits"))
    )
    got = {(r["minute"], r["visits"]) for r in out.collect()}
    want = {(r["minute"], r["visits"]) for r in batch.collect()}
    assert got == want


def test_incrby_overcount_is_exactly_the_redelivered_chunk(spark):
    n_chunks, dup_chunk = 3, 1
    out = sp.stream_duplicate_delivery_audit(
        spark, EVENTS, n_chunks=n_chunks, dup_chunk=dup_chunk
    )
    total_over = out.agg(F.sum("overcount")).first()[0]
    n = spark.read.parquet(EVENTS).count()
    step = max(1, (n + n_chunks - 1) // n_chunks)
    chunk_size = min(step, n - dup_chunk * step)
    assert total_over == chunk_size
    # and per-minute: overcount is never negative, never exceeds visits
    bad = out.where(
        (F.col("overcount") < 0) | (F.col("overcount") > F.col("visits"))
    ).count()
    assert bad == 0


def test_replay_dir_contract(spark):
    d = sp._duplicate_delivery_replay_dir(EVENTS, n_chunks=3, dup_chunk=1)
    files = sorted(os.listdir(d))
    assert "redelivered_0001.parquet" in files
    dup = pq.read_table(os.path.join(d, "redelivered_0001.parquet"))
    orig = pq.read_table(os.path.join(d, "chunk_0001.parquet"))
    assert dup.equals(orig)
    # redelivery arrives LAST (max mtime)
    mt = {f: os.path.getmtime(os.path.join(d, f)) for f in files if f.endswith(".parquet")}
    assert max(mt, key=mt.get) == "redelivered_0001.parquet"


def test_audit_deterministic(spark):
    a = sorted(map(tuple, sp.stream_duplicate_delivery_audit(spark, EVENTS).collect()))
    b = sorted(map(tuple, sp.stream_duplicate_delivery_audit(spark, EVENTS).collect()))
    assert a == b and a


def test_replay_writers_normalize_engine_written_sources(spark, tmp_path):
    """A source parquet written by THIS engine's session is INT96
    (spark.sql.parquet.outputTimestampType) — pyarrow reads that as
    timestamp[ns] and, before the r8 fix, the replay writers re-sharded
    it as INT64 TIMESTAMP(NANOS), which the streaming scan's explicit µs
    schema refuses (FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH,
    measured at the r8 soak). Pin: an engine-written source replays
    green end to end, chunks are µs, and the audit still equals the
    batch truth."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "ev_dir")
    # The fixture's ts reads back as TIMESTAMP_NTZ, which the engine
    # writes as INT64 µs; only a session TIMESTAMP is written as INT96.
    (
        spark.read.parquet(EVENTS)
        .limit(2000)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    one = str(tmp_path / "events_int96.parquet")
    shutil.move(glob.glob(f"{src_dir}/part-*.parquet")[0], one)
    # precondition: the source really is a ns-unit encoding, so the
    # replay writers' ns → µs rule is exercised, not the plain path
    assert pq.read_schema(one).field("ts").type == pa.timestamp("ns")
    out = sp.stream_duplicate_delivery_audit(spark, one)
    got = {(r["minute"], r["visits"]) for r in out.collect()}
    want = {
        (r["minute"], r["visits"])
        for r in spark.read.parquet(one)
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count("*").alias("visits"))
        .collect()
    }
    assert got == want and got
    d = sp._duplicate_delivery_replay_dir(one)
    chunk = glob.glob(f"{d}/chunk_*.parquet")[0]
    assert str(pq.read_schema(chunk).field("ts").type).startswith("timestamp[us")


def test_audits_leave_no_scratch_dirs(spark):
    """Both replay audits pin their result and remove their per-call
    output and checkpoint dirs: once a first call has built the cached
    replay dirs, further calls leave the temp dir's entry count unchanged,
    and the returned rows still collect to the first call's."""
    import tempfile

    audits = (sp.stream_duplicate_delivery_audit, sp.stream_late_arrivals_audit)
    first = [sorted(map(tuple, fn(spark, EVENTS).collect())) for fn in audits]
    n_entries = len(os.listdir(tempfile.gettempdir()))
    outs = [fn(spark, EVENTS) for fn in audits]
    assert len(os.listdir(tempfile.gettempdir())) == n_entries
    assert [sorted(map(tuple, o.collect())) for o in outs] == first
    assert all(first)


# ---------------------------------------------------------------------------
# r9: property sweep of the chunk arithmetic + duplicate-source-id modeling
# ---------------------------------------------------------------------------
# The r8 advice's find: the engine's store leg is idempotent on event_id
# while the old oracle counted every source row — green only while the
# fixture had unique ids and duplicates never straddled a chunk boundary.
# The engine now dedups within-batch too, and the oracle models the
# engine (count each event_id once, at its earliest ts within its chunk
# of first appearance). This sweep drives hand-built fixtures with exact
# (ts, event_id) copies AND cross-chunk id reuse through every integer
# edge the row_number-ceil bucketing has: n divisible by n_chunks, the
# redelivered chunk being the short LAST chunk, and a single chunk.

import datetime as _dt

import duckdb
import pyarrow as _pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from redis_dataflow_realtime_analytics_spark.registry import EV_CTE

_T0 = _dt.datetime(2024, 3, 1, 9, 0, 0)

_DUP_SCHEMA = _pa.schema(
    [
        ("event_id", _pa.int64()),
        ("ts", _pa.timestamp("us")),
        ("user_id", _pa.int64()),
        ("event_type", _pa.string()),
        ("value", _pa.float64()),
        ("props", _pa.string()),
    ]
)


def _dup_fixture(tmp_dir, n, exact_dups, later_dups) -> str:
    rows = []
    for i in range(n):
        ts = _T0 + _dt.timedelta(minutes=i % 4, seconds=(i * 13) % 60)
        rows.append(
            {
                "event_id": i,
                "ts": ts,
                "user_id": i % 3,
                "event_type": "click",
                "value": 1.0,
                "props": '{"k": "e1"}',
            }
        )
    base = list(rows)
    for i in exact_dups:  # second delivery of the identical row
        if i < n:
            rows.append(dict(base[i]))
    for i in later_dups:  # same event_id re-used at a later event time
        if i < n:
            r = dict(base[i])
            r["ts"] = r["ts"] + _dt.timedelta(minutes=7)
            rows.append(r)
    path = str(tmp_dir / f"ev_{n}_{len(rows)}.parquet")
    pq.write_table(_pa.Table.from_pylist(rows, schema=_DUP_SCHEMA), path)
    return path


def _run_both(spark, path, n_chunks, dup_chunk):
    got = {
        r["minute"].replace(tzinfo=None): (r["visits"], r["incrby_visits"], r["overcount"])
        for r in sp.stream_duplicate_delivery_audit(
            spark, path, n_chunks=n_chunks, dup_chunk=dup_chunk
        ).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    res = con.sql(
        sp.oracle_stream_duplicate_delivery(EV_CTE, n_chunks, dup_chunk)
    ).fetchall()
    con.close()
    want = {r[0]: (r[1], r[2], r[3]) for r in res}
    assert got == want, f"engine {got}\noracle {want}"


@given(
    n=st.integers(1, 24),
    n_chunks=st.integers(1, 5),
    dup_pick=st.integers(0, 4),
    exact_dups=st.sets(st.integers(0, 23), max_size=4),
    later_dups=st.sets(st.integers(0, 23), max_size=4),
)
@example(n=12, n_chunks=3, dup_pick=1, exact_dups=set(), later_dups=set())
@example(n=10, n_chunks=3, dup_pick=2, exact_dups={3}, later_dups=set())
@example(n=5, n_chunks=1, dup_pick=0, exact_dups={0, 4}, later_dups={2})
@example(n=9, n_chunks=3, dup_pick=2, exact_dups={2, 5}, later_dups={0, 8})
@example(n=1, n_chunks=5, dup_pick=3, exact_dups={0}, later_dups={0})
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dup_delivery_chunk_arithmetic_sweep(
    spark, tmp_path_factory, n, n_chunks, dup_pick, exact_dups, later_dups
):
    tmp_dir = tmp_path_factory.mktemp("dupsweep")
    path = _dup_fixture(tmp_dir, n, exact_dups, later_dups)
    _run_both(spark, path, n_chunks, dup_pick % n_chunks)
