"""Empty-input robustness: every core event operator must return a
schema-stable EMPTY result on an empty stream, not raise — the behavior a
deployment hits on a quiet topic or an all-filtered micro-batch."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from redis_dataflow_realtime_analytics_spark.operators import (  # noqa: E402
    metrics,
    sessions,
    timeseries,
)
from redis_dataflow_realtime_analytics_spark.sources import (  # noqa: E402
    normalize_events,
    read_events,
)

from .conftest import SF_SMOKE


def _empty_ev(spark):
    return normalize_events(read_events(spark, SF_SMOKE)).where(F.lit(False))


def test_metric_grains_empty(spark):
    ev = _empty_ev(spark)
    for fn in (
        metrics.visits_per_minute,
        metrics.uniques_per_minute,
        metrics.uniques_per_experiment_variant_minute,
        metrics.uniques_per_variant,
        metrics.experiments_per_minute,
    ):
        out = fn(ev)
        assert out.count() == 0
        assert len(out.schema.fields) > 0


def test_read_side_empty(spark):
    ev = _empty_ev(spark)
    assert timeseries.time_axis(ev).count() == 0
    assert timeseries.visits_timeseries(ev).count() == 0
    assert timeseries.variant_overlap(ev).count() == 0
    assert timeseries.variant_overlap_approx(ev).count() == 0


def test_sessions_and_windows_empty(spark):
    ev = _empty_ev(spark)
    assert ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).count().count() == 0
    # window-based operators run on the full pipeline; emptiness propagates
    from redis_dataflow_realtime_analytics_spark.operators.sessions import (
        asof_last_click_before_error,
        rolling_week_user_value,
    )

    # these take (spark, sf_dir); exercise their window logic on empty via
    # the same expressions applied to the empty frame
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = ev.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("variant") == "click", F.col("ts")), ignorenulls=True).over(
            w
        ),
    ).where(F.col("variant") == "error")
    assert out.count() == 0


def _empty_docs_dir(spark, tmp_path):
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    return str(tmp_path)


def test_corpus_diagnostics_empty(spark, tmp_path):
    """Every round-4 corpus diagnostic must return a schema-stable EMPTY
    result on an empty corpus — the quiet-source case a scheduled
    pipeline hits on a day with no new shipments."""
    from redis_dataflow_realtime_analytics_spark.operators import (
        dedup,
        sampling,
        similarity,
        text,
    )

    d = _empty_docs_dir(spark, tmp_path)
    for fn in (
        text.token_entropy,
        text.sentence_stats,
        text.collocations_pmi,
        text.corpus_quality_gate,
        text.lang_confusion_matrix,
        sampling.length_decile_profile,
        sampling.curated_corpus_pipeline,
        dedup.cluster_size_histogram,
        similarity.embedding_dim_stats,
        similarity.semantic_components,
    ):
        out = fn(spark, d)
        assert out.count() == 0, fn.__name__
        assert len(out.schema.fields) > 0, fn.__name__


def test_retention_cohorts_empty(spark, tmp_path):
    from redis_dataflow_realtime_analytics_spark.operators import sessions as sx

    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = sx.user_retention_cohorts(spark, str(tmp_path))
    assert out.count() == 0


def test_session4_operators_empty(spark, tmp_path):
    """The session-4 graph/retrieval/calibration operators must return a
    schema-stable EMPTY result on an empty corpus, not raise (quiet-source
    day). PQ is exercised separately: its codebook build legitimately
    requires seed vectors, and an empty embedding table must yield an
    empty result too (no argmin over an empty codebook blows up because
    no rows reach it)."""
    from redis_dataflow_realtime_analytics_spark.operators import (
        dedup,
        sampling,
        similarity,
        text,
    )

    d = _empty_docs_dir(spark, tmp_path)
    for fn in (
        dedup.neardup_triangles,
        dedup.containment_pairs,
        dedup.cross_source_dup_matrix,
        text.bm25_topk,
        text.hashed_features,
        sampling.quality_calibrated_by_source,
        sampling.leakage_free_split,
        similarity.ann_topk_hamming,
        similarity.ann_hamming_rerank_topk,
        similarity.ann_topk_pq,
        similarity.retrieval_eval_report,
        similarity.hybrid_rrf_topk,
    ):
        out = fn(spark, d)
        assert out.count() == 0, fn.__name__
        assert len(out.schema.fields) > 0, fn.__name__


def test_round6_operators_empty(spark, tmp_path):
    """Round-6 operators on an empty corpus: schema-stable empty (or
    for the classifier/report shapes, schema-stable with zero-count
    semantics), never a raise — the quiet-source case. The BPE / shard
    / probe artifact builders must also tolerate training on nothing."""
    from redis_dataflow_realtime_analytics_spark.operators import (
        classifier,
        dedup,
        sampling,
        text,
    )

    d = _empty_docs_dir(spark, tmp_path)
    for fn in (
        text.redact_pii,
        lambda s, sd: text.bpe_encode(s, sd, n_merges=1),
        lambda s, sd: text.bpe_compression(s, sd, n_merges=1),
        sampling.shard_assignment,
        sampling.shard_assignment_incremental,
        sampling.shard_manifest,
        lambda s, sd: sampling.pack_bpe_sequences(s, sd, n_merges=1),
        lambda s, sd: dedup.lpa_labels(
            dedup.ngram_jaccard_pairs(s, sd), rounds=2
        ),
        dedup.keep_best_by_model,
    ):
        out = fn(spark, d)
        assert out.count() == 0, getattr(fn, "__name__", fn)
        assert len(out.schema.fields) > 0

    # classifier on the empty corpus: no feature rows, no score rows
    scores = classifier.perceptron_scores(spark, d, rounds=2)
    assert scores.count() == 0
    # version diff: every class count is derived from an empty history
    diff = sampling.corpus_version_diff(spark, d)
    assert diff.count() == 0


def test_replay_audits_empty(spark, tmp_path):
    """The replay-harness keys on a zero-row events source: each runs one
    empty micro-batch and returns its usual columns with no rows, where
    the replay builders once raised or left nothing to infer a stream
    schema from."""
    import pyarrow.parquet as pq

    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    src = f"{tmp_path}/events.parquet"
    pq.write_table(pq.read_table(f"{SF_SMOKE}/events.parquet").slice(0, 0), src)
    for fn, cols in (
        (
            sp.stream_click_error_left_join,
            ["user_id", "click_id", "error_id", "click_ts", "error_ts", "gap_us"],
        ),
        (sp.stream_late_arrivals_audit, ["minute", "late_events"]),
        (
            sp.stream_duplicate_delivery_audit,
            ["minute", "visits", "incrby_visits", "overcount"],
        ),
    ):
        out = fn(spark, src)
        assert out.columns == cols, fn.__name__
        assert out.count() == 0, fn.__name__


def test_docs_stream_keys_empty(spark, tmp_path):
    """The docs-stream keys on a zero-row documents source: each runs its
    empty micro-batch and returns its usual columns with no rows, where
    sinks that skipped empty batches once left no output to read. The
    constraint reports, batch and streaming, keep their 7 rows with NULL
    metrics instead of dividing by zero."""
    import pyarrow.parquet as pq

    from redis_dataflow_realtime_analytics_spark.operators import relational
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    src = f"{tmp_path}/documents.parquet"
    pq.write_table(pq.read_table(f"{SF_SMOKE}/documents.parquet").slice(0, 0), src)
    report = ["check_name", "metric", "threshold", "passed"]
    for fn, cols, n in (
        (sp.stream_ingest_dedup, ["content_hash", "doc_id"], 0),
        (sp.stream_decontamination_gate, ["doc_id", "lang", "source"], 0),
        (sp.stream_drop_audit, ["doc_id", "drop_reason", "stage"], 0),
        (sp.stream_image_ingest_features, ["doc_id", "channel", "bin", "n_pixels"], 0),
        (sp.stream_curated_ingest, ["content_hash", "doc_id"], 0),
        (
            sp.stream_shard_assignment,
            ["doc_id", "n_tokens", "tokens_before", "shard_id"],
            0,
        ),
        (sp.stream_image_ahash_probe, ["doc_id", "match_id", "hamming"], 0),
        (sp.stream_model_scores, ["doc_id", "margin", "label", "pred", "correct"], 0),
        (sp.stream_bpe_encode, ["doc_id", "wpos", "spos", "token", "token_id"], 0),
        (sp.stream_entity_probe, ["dirty_id", "clean_id", "distance"], 0),
        (sp.stream_neardup_probe, ["doc_id", "neardup_of", "n_agree", "est_jaccard"], 0),
        (sp.stream_constraint_report, report, 7),
        (lambda s, p: relational.constraint_report(s, str(tmp_path)), report, 7),
    ):
        out = fn(spark, src)
        name = getattr(fn, "__name__", "constraint_report")
        assert out.columns == cols, name
        rows = out.collect()
        assert len(rows) == n, name
        assert all(r.metric is None for r in rows), name


#: each sketch-store panel's schema: (column, type, nullable)
STORE_PANELS = {
    "read_visits": [("minute", "timestamp", True), ("visits", "bigint", True)],
    "read_uniques_per_minute": [("minute", "timestamp", True), ("unique_users", "bigint", False)],
    "read_uniques_per_variant": [("variant", "string", True), ("unique_users", "bigint", False)],
    "read_uniques_per_variant_exact": [
        ("variant", "string", True),
        ("unique_users", "bigint", False),
    ],
    "read_heavy_hitters": [("user_id", "bigint", True), ("est_count", "bigint", True)],
}


def test_sketch_store_reads_without_a_committed_batch(spark, tmp_path):
    """A fresh store dir, and a store holding only a failed batch, have no
    committed batch: every read returns zero rows with its panel's schema
    and launches no Spark job."""
    import uuid

    from py4j.protocol import Py4JJavaError

    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    failed = tmp_path / "failed"
    failed.mkdir()
    (failed / "user_cms").write_text("not a directory")
    with pytest.raises(Py4JJavaError, match="user_cms"):
        sp.SketchStoreWriter(str(failed))(normalize_events(read_events(spark, SF_SMOKE)), 0)
    assert (failed / "visits" / "batch_id=0").exists()
    sc, group = spark.sparkContext, f"empty-store-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for store in (tmp_path / "fresh", failed):
            for name, schema in STORE_PANELS.items():
                df = getattr(sp, name)(spark, str(store))
                assert df.collect() == [], (store, name)
                got = [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]
                assert got == schema, (store, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
