"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q

Run from the repository root; the Spark tests import the package from there.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
from run import file_batches  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = gen.parquet_bytes(gen.history(5, 20_000, 3600, quiet_minutes=(7,)))
    b = gen.parquet_bytes(gen.history(5, 20_000, 3600, quiet_minutes=(7,)))
    c = gen.parquet_bytes(gen.history(6, 20_000, 3600, quiet_minutes=(7,)))
    assert a == b
    assert a != c
    assert gen.parquet_bytes(gen.live_file(5, 3, 500, 6.0)) == gen.parquet_bytes(
        gen.live_file(5, 3, 500, 6.0)
    )


def test_history_honours_quiet_minutes_and_schema():
    t = gen.history(1, 50_000, 3600, quiet_minutes=(10, 11))
    assert t.schema == gen.SCHEMA
    minutes = {(ts.timestamp() - gen.EPOCH_S) // 60 for ts in t["ts"].to_pylist()}
    assert not minutes & {10, 11}
    assert len(minutes) == 58


def test_live_files_never_run_backwards_in_event_time():
    a, b = gen.live_file(1, 4, 300, 6.0), gen.live_file(1, 5, 300, 6.0)
    assert max(a["ts"].to_pylist()) < min(b["ts"].to_pylist())
    assert a["event_id"].to_pylist()[-1] < b["event_id"].to_pylist()[0]


def test_publish_never_exposes_a_partial_file(tmp_path):
    """A lister that sees only what the file source would read (names not
    starting with '.' or '_') must only ever see complete files."""
    data = os.urandom(8 << 20)
    stop, seen, bad = threading.Event(), set(), []

    def lister():
        while not stop.is_set():
            for n in os.listdir(tmp_path):
                if n.startswith((".", "_")):
                    continue
                seen.add(n)
                if os.path.getsize(tmp_path / n) != len(data):
                    bad.append(n)

    t = threading.Thread(target=lister)
    t.start()
    try:
        for i in range(20):
            gen.publish(str(tmp_path / f"part-{i:05d}.parquet"), data)
    finally:
        stop.set()
        t.join(timeout=10)
    assert not t.is_alive()
    assert not bad
    assert sorted(os.listdir(tmp_path)) == [f"part-{i:05d}.parquet" for i in range(20)]


@pytest.fixture(scope="module")
def spark():
    from redis_dataflow_realtime_analytics_spark.session import get_spark

    s = get_spark(cpus=2, shuffle_partitions=2)
    yield s
    s.stop()


def test_file_source_skips_the_hidden_temp_file(spark, tmp_path):
    """The temp name ``publish`` writes under is invisible to the stream:
    a garbage temp file next to a complete one must not be read."""
    from redis_dataflow_realtime_analytics_spark.sources.events import read_events_stream

    src = tmp_path / "events.parquet"
    src.mkdir()
    gen.publish(str(src / "part-00000.parquet"), gen.parquet_bytes(gen.live_file(1, 0, 100, 6.0)))
    (src / ".part-00001.parquet.tmp").write_bytes(b"not parquet, half written")
    rows = []
    q = (
        read_events_stream(spark, str(src), 100)
        .writeStream.foreachBatch(lambda df, _: rows.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(rows) == 100


def test_checkpoint_log_maps_each_published_file_to_one_batch(spark, tmp_path):
    from redis_dataflow_realtime_analytics_spark.sources.events import read_events_stream

    src = tmp_path / "events.parquet"
    src.mkdir()
    blobs = [gen.parquet_bytes(gen.live_file(2, i, 200, 6.0)) for i in range(16)]
    gen.publish(str(src / "part-00000.parquet"), blobs[0])
    ck = str(tmp_path / "ck")
    done = set()
    q = (
        read_events_stream(spark, str(src), 10_000)
        .writeStream.foreachBatch(lambda df, bid: done.add(bid))
        .option("checkpointLocation", ck)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        for i in range(1, 16):  # more than one log compaction interval
            time.sleep(0.13)
            gen.publish(str(src / f"part-{i:05d}.parquet"), blobs[i])
        deadline = time.time() + 60
        while len(file_batches(ck)) < 16 and time.time() < deadline:
            time.sleep(0.1)
    finally:
        q.stop()
    fb = file_batches(ck)
    assert sorted(fb) == [f"part-{i:05d}.parquet" for i in range(16)]
    assert all(len(b) == 1 for b in fb.values())
    assert len({b for bs in fb.values() for b in bs}) > 1
