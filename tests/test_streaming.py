"""Streaming semantics: stream/batch parity, multi-batch incremental merge,
late/shuffled-data invariance, and the mergeable-sketch store.

The events fixture is re-written as 4 parquet files so availableNow +
maxFilesPerTrigger=1 replays it as 4 micro-batches — exercising real
incremental state, not a single-batch degenerate run.
"""

from __future__ import annotations

import pathlib
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from redis_dataflow_realtime_analytics_spark.operators import metrics
from redis_dataflow_realtime_analytics_spark.sources import (
    normalize_events,
    read_events,
    read_events_stream,
)
from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def multi_file_events(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    path = str(d / "events")
    read_events(spark, SF_SMOKE).repartition(4).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def shuffled_events(spark, tmp_path_factory):
    """Same events in deliberately scrambled order (late-data simulation)."""
    d = tmp_path_factory.mktemp("events_shuffled")
    path = str(d / "events")
    (
        read_events(spark, SF_SMOKE)
        .orderBy(F.md5(F.col("event_id").cast("string")))  # deterministic scramble
        .repartition(4)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def _batch_visits(spark):
    ev = normalize_events(read_events(spark, SF_SMOKE))
    return {r.minute: r.visits for r in metrics.visits_per_minute(ev).collect()}


def test_stream_batch_parity_visits(spark, multi_file_events):
    got = {
        r.minute: r.visits
        for r in sp.stream_visits_per_minute(spark, multi_file_events).collect()
    }
    assert got == _batch_visits(spark)


def test_late_data_lands_in_event_time_bucket(spark, shuffled_events):
    """Reference semantics: a late event still lands in its event-time
    minute (keys encode event time; Redis ops are commutative). Stream
    result must be order-invariant."""
    got = {
        r.minute: r.visits
        for r in sp.stream_visits_per_minute(spark, shuffled_events).collect()
    }
    assert got == _batch_visits(spark)


@pytest.fixture(scope="module")
def store_4(spark, multi_file_events, tmp_path_factory):
    """The events replayed through the sketch store as 4 batches."""
    store = str(tmp_path_factory.mktemp("store"))
    sp.run_sketch_ingest(spark, multi_file_events, store, str(tmp_path_factory.mktemp("ckpt")))
    return store


#: each dashboard panel's reader
READS = {
    "visits": sp.read_visits,
    "uniques_per_minute": sp.read_uniques_per_minute,
    "uniques_per_variant": sp.read_uniques_per_variant,
    "uniques_per_variant_exact": sp.read_uniques_per_variant_exact,
    "heavy_hitters": sp.read_heavy_hitters,
}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_sketch_store_merges_across_batches(spark, store_4):
    store = store_4

    # multiple batches actually happened
    n_batches = (
        spark.read.parquet(f"{store}/visits").select("batch_id").distinct().count()
    )
    assert n_batches >= 2, "expected a multi-batch replay"

    # visits partials merge to the exact batch answer
    got = {r.minute: r.visits for r in sp.read_visits(spark, store).collect()}
    assert got == _batch_visits(spark)

    # sketch merges estimate exact distincts within HLL error
    ev = normalize_events(read_events(spark, SF_SMOKE))
    exact = {r.variant: r.unique_users for r in metrics.uniques_per_variant(ev).collect()}
    est = {r.variant: r.unique_users for r in sp.read_uniques_per_variant(spark, store).collect()}
    assert set(est) == set(exact)
    for v, e in exact.items():
        assert abs(est[v] - e) <= max(3, 0.05 * e), (v, est[v], e)

    # exact twin family matches exactly
    exact_store = {
        r.variant: r.unique_users
        for r in sp.read_uniques_per_variant_exact(spark, store).collect()
    }
    assert exact_store == exact


def test_sketch_ingest_is_idempotent_on_replay(spark, multi_file_events, tmp_path_factory):
    """Re-running the same replay (fresh checkpoint → batches re-fire with
    the same ids) must overwrite, not double-count — the reference's INCRBY
    over-counts in this situation (SURVEY §4 delta 1)."""
    store = str(tmp_path_factory.mktemp("store2"))
    sp.run_sketch_ingest(spark, multi_file_events, store, str(tmp_path_factory.mktemp("c1")))
    first = {r.minute: r.visits for r in sp.read_visits(spark, store).collect()}
    sp.run_sketch_ingest(spark, multi_file_events, store, str(tmp_path_factory.mktemp("c2")))
    second = {r.minute: r.visits for r in sp.read_visits(spark, store).collect()}
    assert first == second == _batch_visits(spark)


def test_sketch_ingest_sink_receives_only_store_columns(
    spark, multi_file_events, tmp_path, monkeypatch
):
    """The ingest projects to the store's columns before the foreachBatch
    barrier: the sink's batch arrives already planned, so any wider
    column set would be scanned (and ``props`` JSON-parsed) for nothing."""
    received = []

    class Recording(sp.SketchStoreWriter):
        def __call__(self, batch_df, batch_id):
            received.append(tuple(batch_df.columns))
            super().__call__(batch_df, batch_id)

    monkeypatch.setattr(sp, "SketchStoreWriter", Recording)
    sp.run_sketch_ingest(
        spark, multi_file_events, str(tmp_path / "store"), str(tmp_path / "ck")
    )
    assert len(received) == 4
    assert set(received) == {sp.STORE_COLUMNS}


def test_store_backed_keys_leave_no_scratch_dirs(spark):
    """The two store-backed registry keys pin their result and remove
    their per-call store and checkpoint dirs: a call leaves the temp
    dir's entry count unchanged, and its rows equal the first call's."""
    import os
    import tempfile

    from redis_dataflow_realtime_analytics_spark.registry import QUERIES

    for key in ("stream_store_uniques_per_variant", "stream_heavy_hitter_users"):
        first = sorted(map(tuple, QUERIES[key](spark, SF_SMOKE).collect()))
        n_entries = len(os.listdir(tempfile.gettempdir()))
        out = QUERIES[key](spark, SF_SMOKE)
        assert len(os.listdir(tempfile.gettempdir())) == n_entries, key
        assert sorted(map(tuple, out.collect())) == first, key
        assert first, key


def test_foreach_batch_runner_removes_scratch_on_return_and_on_failure(
    spark, multi_file_events
):
    """The runner pins what the sink wrote and then removes the call's
    scratch dir; when the sink raises mid-stream (after one batch was
    written) the dir is removed as well."""
    import os

    from pyspark.errors import StreamingQueryException

    from redis_dataflow_realtime_analytics_spark import tables

    def entries() -> set[str]:
        return set(os.listdir(tables.SCRATCH)) if os.path.isdir(tables.SCRATCH) else set()

    def sink(fail_at, out, batch, batch_id):
        if batch_id == fail_at:
            raise RuntimeError("sink failed mid-stream")
        batch.write.mode("append").parquet(out)

    def run(fail_at):
        stream = read_events_stream(spark, multi_file_events, max_files_per_trigger=1)
        return tables.foreach_batch(
            stream, lambda *a: sink(fail_at, *a), spark.read.parquet
        )

    before = entries()
    assert run(None).count() == read_events(spark, SF_SMOKE).count() > 0
    assert entries() == before
    with pytest.raises(StreamingQueryException):
        run(1)
    assert entries() == before


def test_sketch_store_batch_replay_is_idempotent(spark, tmp_path):
    """The exactly-once claim (SURVEY §4 delta 1): re-delivering a
    micro-batch must NOT change any read-side result — unlike the
    reference's INCRBY legs, which over-count on Pub/Sub redelivery.
    A replayed batch_id overwrites its own partition, so writing the same
    batch twice (and one batch a third time) leaves every family's merge
    unchanged."""
    from redis_dataflow_realtime_analytics_spark.sources import (
        normalize_events,
        read_events,
    )
    from redis_dataflow_realtime_analytics_spark.streaming.pipeline import (
        SketchStoreWriter,
        read_uniques_per_variant_exact,
        read_visits,
    )

    ev = normalize_events(read_events(spark, SF_SMOKE))
    b0 = ev.where("user_id % 2 = 0")
    b1 = ev.where("user_id % 2 = 1")

    once = str(tmp_path / "once")
    w = SketchStoreWriter(once)
    w(b0, 0)
    w(b1, 1)

    replayed = str(tmp_path / "replayed")
    w2 = SketchStoreWriter(replayed)
    w2(b0, 0)
    w2(b0, 0)  # redelivery of batch 0
    w2(b1, 1)
    w2(b1, 1)  # redelivery of batch 1
    w2(b0, 0)  # and batch 0 once more

    for reader in (read_visits, read_uniques_per_variant_exact):
        a = sorted(map(tuple, reader(spark, once).collect()))
        b = sorted(map(tuple, reader(spark, replayed).collect()))
        assert a == b, f"{reader.__name__} changed under replay"


def test_sketch_store_writer_leaves_overwrite_mode_unchanged(spark, tmp_path):
    """A direct writer call must not flip the session's partition
    overwrite mode (other writers in the session rely on it)."""
    ev = normalize_events(read_events(spark, SF_SMOKE))
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        sp.SketchStoreWriter(str(tmp_path / "store"))(ev, 0)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, old)


def test_sketch_store_failed_family_raises_after_the_rest(
    spark, multi_file_events, tmp_path
):
    """One family's write fails (a regular file sits where its directory
    belongs): the call raises only after the other four writes have
    returned, releases the batch's cache, and fails a running query."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import StreamingQueryException

    store = tmp_path / "store"
    store.mkdir()
    (store / "user_cms").write_text("not a directory")
    families = ["visits", "user_sketch_minute", "user_sketch_variant", "user_set_variant"]
    ev = normalize_events(read_events(spark, SF_SMOKE))
    spark.catalog.clearCache()
    with pytest.raises(Py4JJavaError, match="user_cms"):
        sp.SketchStoreWriter(str(store))(ev, 0)
    for family in families:
        assert (store / family / "batch_id=0" / "_SUCCESS").exists(), family
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    stream = normalize_events(read_events_stream(spark, multi_file_events, 1))
    q = (
        stream.writeStream.foreachBatch(sp.SketchStoreWriter(str(store)))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()


def test_store_schemas_are_the_inferred_leaf_schemas(spark, store_4):
    """Readers pass ``STORE_SCHEMAS`` instead of inferring: each must be
    exactly what Spark infers from the leaves, nullability included."""
    assert set(sp.STORE_SCHEMAS) == {
        p.name for p in pathlib.Path(store_4).iterdir() if p.is_dir()
    }
    for family, ddl in sp.STORE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{store_4}/{family}").schema
        assert inferred == StructType.fromDDL(ddl), family


def test_each_read_serves_its_merge_plan(spark, store_4):
    for panel, read in READS.items():
        want = sp.merge_plan(spark, store_4, panel)
        got = read(spark, store_4)
        assert got.schema == want.schema, panel
        assert _rows(got) == _rows(want), panel


def test_reads_at_one_store_version_merge_once(spark, store_4, tmp_path):
    """The first read of a store version runs the merges in the caller's
    job group; every later read at that version runs no Spark job."""
    store = str(shutil.copytree(store_4, tmp_path / "store"))  # no snapshot yet
    sc, tag = spark.sparkContext, uuid.uuid4().hex
    try:
        for group in (f"first-{tag}", f"again-{tag}"):
            sc.setLocalProperty("spark.jobGroup.id", group)
            for read in READS.values():
                read(spark, store).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    assert st.getJobIdsForGroup(f"first-{tag}")
    assert st.getJobIdsForGroup(f"again-{tag}") == []


def test_read_after_a_new_batch_sees_it(spark, store_4, tmp_path):
    store = str(shutil.copytree(store_4, tmp_path / "store"))
    before = {r.minute: r.visits for r in sp.read_visits(spark, store).collect()}
    sp.SketchStoreWriter(store)(normalize_events(read_events(spark, SF_SMOKE)), 4)
    after = {r.minute: r.visits for r in sp.read_visits(spark, store).collect()}
    assert after == {m: 2 * v for m, v in before.items()}


def test_sketch_store_failed_batch_is_invisible_to_reads(spark, store_4, tmp_path):
    """A batch whose ``user_cms`` write fails leaves leaves in the other
    four families but is never committed: every read returns the rows it
    returned before the failed call."""
    from py4j.protocol import Py4JJavaError

    store = tmp_path / "store"
    shutil.copytree(store_4, store)
    before = {panel: _rows(read(spark, str(store))) for panel, read in READS.items()}
    cms, aside = store / "user_cms", tmp_path / "user_cms"
    cms.rename(aside)
    cms.write_text("not a directory")
    with pytest.raises(Py4JJavaError, match="user_cms"):
        sp.SketchStoreWriter(str(store))(normalize_events(read_events(spark, SF_SMOKE)), 4)
    cms.unlink()
    aside.rename(cms)
    assert (store / "visits" / "batch_id=4" / "_SUCCESS").exists()
    # a copy has no snapshot yet: its reads merge the leaves on disk
    fresh = str(shutil.copytree(store, tmp_path / "fresh"))
    for panel, read in READS.items():
        assert _rows(read(spark, fresh)) == before[panel], panel


def test_stream_static_enrichment_matches_batch(spark, multi_file_events):
    """Stream-static broadcast left join must equal the batch twin on the
    same data (the join is stateless — every micro-batch is enriched
    independently), and must keep events with no matching customer."""
    from redis_dataflow_realtime_analytics_spark.operators.timeseries import (
        events_enriched_with_customer,
    )
    from redis_dataflow_realtime_analytics_spark.tables import load

    customer = load(spark, SF_SMOKE, "customer")
    got = {
        tuple(r)
        for r in sp.stream_enriched_events(spark, multi_file_events, customer).collect()
    }
    want = {
        tuple(r)
        for r in events_enriched_with_customer(
            normalize_events(read_events(spark, SF_SMOKE)), customer
        ).collect()
    }
    assert got == want
    # enrichment never drops events
    assert len(got) == read_events(spark, SF_SMOKE).count()


def test_stream_left_outer_join_matches_batch_twin(spark):
    """LEFT OUTER interval join parity: the streaming result (heartbeat-
    flushed replay) must equal the batch LEFT JOIN row-for-row — including
    one NULL row per never-converting click, the part inner joins skip.
    The single-row watermark-stall regression this guards: a heartbeat
    filter pushed below the click-side watermark node withholds exactly
    the LAST real click's NULL row."""
    from redis_dataflow_realtime_analytics_spark import registry

    from .oracle import compare

    out = sp.stream_click_error_left_join(spark, f"{SF_SMOKE}/events.parquet")
    compare(out, registry.ORACLE["stream_click_error_left_join"], SF_SMOKE)
    # no heartbeat rows leak, and every unmatched click carries full NULLs
    rows = out.collect()
    assert all(r.user_id >= 0 for r in rows)
    for r in rows:
        if r.error_id is None:
            assert r.error_ts is None and r.gap_us is None


def test_stream_decontamination_gate_matches_batch(spark):
    """The streaming gate must accept exactly the batch anti-join's clean
    corpus set: stateless per-document filtering means batching cannot
    change the verdict."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp
    import pyspark.sql.functions as F

    docs_path = f"{SF_SMOKE}/documents.parquet"
    accepted = {r.doc_id for r in sp.stream_decontamination_gate(spark, docs_path).collect()}
    contaminated = {r.doc_id for r in dedup.decontamination_hits(spark, SF_SMOKE).collect()}
    corpus = {
        r.doc_id
        for r in spark.read.parquet(docs_path)
        .where(F.col("doc_id") % dedup.DECON_MOD != 0)
        .select("doc_id")
        .collect()
    }
    assert accepted == corpus - contaminated
    assert accepted  # non-degenerate


def test_stream_image_ingest_matches_batch_histogram(spark):
    """The streaming ingest-path histogram must equal the batch one —
    the synthesis projection and the Arrow extractor are stateless, so
    micro-batching cannot change any count."""
    from redis_dataflow_realtime_analytics_spark.operators import multimodal as mm
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    stream = {
        (r.doc_id, r.channel, r.bin): r.n_pixels
        for r in sp.stream_image_ingest_features(spark, f"{SF_SMOKE}/documents.parquet").collect()
    }
    batch = {
        (r.doc_id, r.channel, r.bin): r.n_pixels
        for r in mm.image_histogram(mm.with_image_blob(spark, SF_SMOKE)).collect()
    }
    assert stream == batch and stream


def test_user_gap_profile_nulls_for_single_event_users(spark):
    """Single-event users must appear with NULL gap stats (count of gaps
    0), and n_rapid never exceeds n_gaps."""
    from redis_dataflow_realtime_analytics_spark.operators import sessions
    from redis_dataflow_realtime_analytics_spark.sources import (
    normalize_events,
    read_events,
    read_events_stream,
)

    ev = normalize_events(read_events(spark, SF_SMOKE))
    rows = sessions.user_gap_profile(ev).collect()
    assert rows
    for r in rows:
        assert r.n_gaps == r.n_events - 1
        assert r.n_rapid <= max(r.n_gaps, 0)
        if r.n_gaps == 0:
            assert r.min_gap_us is None and r.avg_gap_us is None


def test_only_sources_read_streams():
    """Every stream the package reads is opened under ``sources/``: the
    streaming twins reshape the one parquet stream reader
    (``read_parquet_stream``) instead of each building its own."""
    package = pathlib.Path(sp.__file__).parents[1]
    offenders = [
        f"{path.relative_to(package)}:{n}"
        for path in sorted(package.rglob("*.py"))
        if path.relative_to(package).parts[0] != "sources"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".readStream" in line
    ]
    assert offenders == []
