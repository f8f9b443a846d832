"""Physical-plan quality gates: pushdown, pruning, broadcast, shuffle counts.

These encode the 100 TB design contract — a regression here means a plan
that works at test SF but degrades catastrophically at scale.
"""

from __future__ import annotations

import pytest

from redis_dataflow_realtime_analytics_spark import plans
from redis_dataflow_realtime_analytics_spark.operators import (
    metrics,
    relational,
    similarity,
    timeseries,
)
from redis_dataflow_realtime_analytics_spark.sources import normalize_events, read_events

from .conftest import SF_SMOKE


def test_q1_filter_pushed_to_scan(spark):
    df = relational.q1_pricing_summary(spark, SF_SMOKE)
    pf = plans.pushed_filters(df)
    assert "l_shipdate" in pf, f"shipdate filter not pushed: {pf}"


def test_q1_column_pruning(spark):
    df = relational.q1_pricing_summary(spark, SF_SMOKE)
    cols = plans.read_schema_columns(df)
    # only the referenced measures/dims are scanned
    assert "l_partkey" not in cols and "l_suppkey" not in cols and "l_orderkey" not in cols


def test_timeseries_axis_join_is_broadcast(spark):
    ev = normalize_events(read_events(spark, SF_SMOKE))
    assert plans.has_broadcast_join(timeseries.visits_timeseries(ev))


def test_q5_broadcasts_dimensions(spark):
    df = relational.q5_local_supplier_volume(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert p.count("BroadcastHashJoin") >= 2, p


def test_ann_query_side_is_broadcast(spark):
    assert plans.has_broadcast_join(similarity.ann_topk_bruteforce(spark, SF_SMOKE))


def test_visits_single_shuffle(spark):
    ev = normalize_events(read_events(spark, SF_SMOKE))
    df = metrics.visits_per_minute(ev)
    assert plans.count_exchanges(df) <= 1, plans.plan_string(df)


def test_events_scan_prunes_columns(spark):
    ev = normalize_events(read_events(spark, SF_SMOKE))
    df = metrics.uniques_per_minute(ev)
    cols = plans.read_schema_columns(df)
    assert "value" not in cols and "event_type" not in cols, cols


def test_q6_scan_only_needed_columns(spark):
    df = relational.q6_forecast_revenue(spark, SF_SMOKE)
    cols = plans.read_schema_columns(df)
    assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_q4_exists_becomes_semi_join(spark):
    df = relational.q4_order_priority(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "LeftSemi" in p, p


def test_q4_date_filter_pushed(spark):
    df = relational.q4_order_priority(spark, SF_SMOKE)
    assert "o_orderdate" in plans.pushed_filters(df)


def test_q7_nation_lookups_broadcast(spark):
    df = relational.q7_volume_shipping(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert p.count("BroadcastHashJoin") >= 3, p


def test_q19_or_predicate_pushed_to_scan(spark):
    df = relational.q19_discounted_revenue(spark, SF_SMOKE)
    pf = plans.pushed_filters(df)
    assert "Or(" in pf and "l_quantity" in pf, pf


def test_q22_not_exists_becomes_anti_join(spark):
    df = relational.q22_dormant_customers(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "LeftAnti" in p, p


def test_q18_lineitem_scan_pruned(spark):
    """The qty aggregate must read only (l_orderkey, l_quantity)."""
    df = relational.q18_large_volume_customers(spark, SF_SMOKE)
    cols = plans.read_schema_columns(df)
    assert "l_extendedprice" not in cols and "l_shipdate" not in cols, cols


def test_salted_distinct_two_phase(spark):
    """Salted W3: phase-1 shuffle on (variant, salt), phase-2 on variant —
    two exchanges, and the result is exact (oracle-gated in the registry)."""
    from redis_dataflow_realtime_analytics_spark.functions.skew import (
        salted_count_distinct,
    )

    ev = normalize_events(read_events(spark, SF_SMOKE))
    df = salted_count_distinct(ev, ["variant"], "user_id", "unique_users")
    p = plans.plan_string(df)
    assert "xxhash64" in p, p  # the value-hash salt key
    assert plans.count_exchanges(df) >= 2, p


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-bucketed orders⋈lineitem: the write-once bucket layout replaces
    the per-query join shuffle — the plan must contain NO Exchange before
    the join (the groupBy on the same key also reuses the partitioning)."""
    from redis_dataflow_realtime_analytics_spark.functions.bucketing import (
        cobucketed_order_revenue,
        write_bucketed,
    )
    from redis_dataflow_realtime_analytics_spark.tables import load

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path / 'wh'}'")
    try:
        write_bucketed(load(spark, SF_SMOKE, "orders"), "bktest.orders_b", "o_orderkey", 8)
        write_bucketed(
            load(spark, SF_SMOKE, "lineitem"), "bktest.lineitem_b", "l_orderkey", 8
        )
        df = cobucketed_order_revenue(spark, "bktest.orders_b", "bktest.lineitem_b")
        p = plans.plan_string(df)
        assert plans.count_exchanges(df) == 0, p
        assert df.count() > 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_sampling_filter_is_shuffle_free(spark):
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.hash_sample_documents(spark, SF_SMOKE)
    assert plans.count_exchanges(df) == 0, plans.plan_string(df)
    cols = plans.read_schema_columns(df)
    assert "text" not in cols, cols  # sample never reads the payload column


def test_chunking_is_shuffle_free(spark):
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.chunk_documents(spark, SF_SMOKE)
    assert plans.count_exchanges(df) == 0, plans.plan_string(df)


def test_asof_join_single_shuffle(spark):
    from redis_dataflow_realtime_analytics_spark.operators import sessions

    df = sessions.asof_last_click_before_error(spark, SF_SMOKE)
    assert plans.count_exchanges(df) == 1, plans.plan_string(df)


def test_rolling_week_single_shuffle(spark):
    from redis_dataflow_realtime_analytics_spark.operators import sessions

    df = sessions.rolling_week_user_value(spark, SF_SMOKE)
    assert plans.count_exchanges(df) == 1, plans.plan_string(df)


def test_q21_broadcasts_supplier_filter(spark):
    df = relational.q21_suppliers_kept_waiting(spark, SF_SMOKE)
    assert plans.has_broadcast_join(df)
    pf = plans.pushed_filters(df)
    assert "o_orderstatus" in pf, pf


def test_date_partitioned_layout_prunes_partitions(spark, tmp_path):
    from redis_dataflow_realtime_analytics_spark.functions import layout

    out = str(tmp_path / "events_by_date")
    layout.write_date_partitioned_events(spark, SF_SMOKE, out)
    df = layout.read_events_for_day(spark, out, "2024-01-02")
    p = plans.plan_string(df)
    # the day predicate must appear as a PartitionFilter (directory pruning),
    # NOT as a data filter / PushedFilter
    assert "PartitionFilters" in p and "event_date" in p, p
    assert "PushedFilters: [IsNotNull(event_date" not in p, p
    # physical layout is one directory per day, so pruning skips whole dirs
    day_files = spark.read.parquet(f"{out}/event_date=2024-01-02").inputFiles()
    all_files = spark.read.parquet(out).inputFiles()
    assert 0 < len(day_files) < len(all_files)
    # and the day filter is exact
    days = {r.event_date for r in df.select("event_date").distinct().collect()}
    assert days == {__import__("datetime").date(2024, 1, 2)}


def test_kmeans_has_no_single_partition_pass(spark):
    # seed init is a modulo filter + take-ordered, NOT a global
    # Window.orderBy row_number; nothing in the final plan may funnel the
    # corpus through one partition (the 10^9-row scale killer).
    df = similarity.kmeans_embedding_centroids(spark, SF_SMOKE, k=4, iters=1)
    p = plans.plan_string(df)
    assert "SinglePartition" not in p, p


def test_kmeans_float_portable_plan(spark):
    # the portable float twin keeps the float operator's scale shape:
    # no single-partition corpus pass (seeds are a global top-k,
    # TakeOrderedAndProject), and the only nested-loop join is the
    # broadcast of the ONE-ROW collected codebook (argmin runs inside
    # higher-order functions, never as a corpus x centroids join).
    df = similarity.kmeans_float_portable_centroids(spark, SF_SMOKE, iters=1)
    p = plans.plan_string(df)
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p


def test_vocabulary_topv_avoids_global_sort(spark):
    # top-V must be TakeOrderedAndProject (parallel per-partition top-k +
    # merge), never a full Sort of the vocabulary; the rank/coverage window
    # afterwards is bounded by V rows, not by data.
    from redis_dataflow_realtime_analytics_spark.operators import text

    df = text.vocabulary_coverage(spark, SF_SMOKE, v=100)
    p = plans.plan_string(df)
    assert "TakeOrderedAndProject" in p, p


def test_incremental_dedup_is_pure_equi_join(spark):
    # batch-vs-corpus classification: one hash equi-join on the content
    # hash; any nested-loop/cartesian fallback would be O(batch x corpus).
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    p = plans.plan_string(dedup.incremental_new_docs(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_funnel_conversion_no_pair_join(spark):
    # conversion attribution via the as-of window pattern - the plan must
    # not contain an interval/theta pair join of clicks x errors.
    from redis_dataflow_realtime_analytics_spark.operators import sessions

    p = plans.plan_string(sessions.funnel_conversion_by_experiment(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" in p, p


def test_decontamination_is_equi_join_with_pruned_scans(spark):
    # corpus x benchmark contamination check must be a hash equi-join on
    # the shingle (inverted index), never a pair join; the doc_id % mod
    # split predicates must reach both parquet scans.
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    df = dedup.decontamination_hits(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # both sides project only (doc_id, text) out of the documents scan
    assert set(plans.read_schema_columns(df)) <= {"doc_id", "text"}, p


def _assert_only_spread_exchange(df):
    """Decode stages are embarrassingly parallel mapInPandas — the ONLY
    allowed Exchange is the deliberate round-robin spread() of the
    single-split fixture scan (which parallelizes the codec); a hash or
    range Exchange would mean an accidental re-keying."""
    p = plans.plan_string(df)
    n = plans.count_exchanges(df)
    assert n <= 1, p
    if n == 1:
        assert "roundrobin" in p.lower() or "RoundRobinPartitioning" in p, p


def test_audio_decode_only_spread_exchange(spark):
    from redis_dataflow_realtime_analytics_spark.operators import multimodal

    _assert_only_spread_exchange(
        multimodal.decode_audio_features(multimodal.with_audio_blob(spark, SF_SMOKE))
    )


def test_video_frame_sampler_only_spread_exchange(spark):
    from redis_dataflow_realtime_analytics_spark.operators import multimodal

    _assert_only_spread_exchange(
        multimodal.sample_video_frames(multimodal.with_video_blob(spark, SF_SMOKE))
    )


def test_bloom_decontamination_probes_are_broadcast(spark):
    # every Bloom probe is a broadcast hash join of the tiny bitmap — the
    # corpus side must never shuffle before the final aggregation, and no
    # pair join may appear anywhere.
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    df = dedup.decontamination_hits_bloom(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= dedup.BLOOM_N_HASHES, p


def test_weighted_sample_is_takeordered_not_global_sort(spark):
    # the ES top-k must compile to TakeOrderedAndProject (per-partition
    # heaps + driver merge of k rows), never a full Sort + Exchange.
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.weighted_sample_documents(spark, SF_SMOKE, k=30)
    p = plans.plan_string(df)
    assert "TakeOrderedAndProject" in p, p
    assert plans.count_exchanges(df) == 0, p


def test_bmp_decode_only_spread_exchange(spark):
    from redis_dataflow_realtime_analytics_spark.operators import multimodal

    _assert_only_spread_exchange(
        multimodal.decode_bmp_features(multimodal.with_bmp_blob(spark, SF_SMOKE))
    )


def test_centroid_cosine_broadcasts_norms_and_prunes_vec_id(spark):
    # the k-row norm tables must broadcast, and the scan must not read
    # vec_id (only label + embedding feed the centroid aggregation)
    df = similarity.centroid_pairwise_cosine(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "vec_id" not in plans.read_schema_columns(df)


def test_vocab_overlap_broadcasts_size_tables(spark):
    from redis_dataflow_realtime_analytics_spark.operators import text

    df = text.vocab_overlap_between_sources(spark, SF_SMOKE)
    p = plans.plan_string(df)
    # two per-source size lookups broadcast; the vocab self-join may
    # shuffle (vocabulary-sized) but must never cross-product
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p, p


def test_zipf_scan_prunes_to_source_and_text(spark):
    from redis_dataflow_realtime_analytics_spark.operators import text

    df = text.zipf_slope_by_source(spark, SF_SMOKE)
    cols = plans.read_schema_columns(df)
    assert "doc_id" not in cols and "n_chars" not in cols, cols


def test_collocations_topk_avoids_global_sort_and_reuses_exchanges(spark):
    from redis_dataflow_realtime_analytics_spark.operators import text

    df = text.collocations_pmi(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "TakeOrderedAndProject" in p, p  # k-row heaps, never a full sort
    # totals/joins must REUSE the two explode exchanges at runtime (AQE
    # inserts the reuse nodes in the adaptive final plan, post-execution)
    df.collect()
    final = plans.plan_string(df)
    assert "ReusedExchange" in final, final


def test_sentence_stats_is_shuffle_free(spark):
    from redis_dataflow_realtime_analytics_spark.operators import text

    assert plans.count_exchanges(text.sentence_stats(spark, SF_SMOKE)) == 0


def test_embedding_dim_stats_single_shuffle_pruned_scan(spark):
    from redis_dataflow_realtime_analytics_spark.operators import similarity

    df = similarity.embedding_dim_stats(spark, SF_SMOKE)
    assert plans.count_exchanges(df) == 1  # the O(width) dim groupBy only
    assert plans.read_schema_columns(df) == ["embedding"]


def test_length_deciles_bounded_shuffles(spark):
    """r6 two-level rework: the plan pays the bucket-count aggregation
    shuffle plus the (source, n_chars)-keyed window exchanges — but no
    per-source whole-corpus sort (that contract lives in
    test_length_deciles_no_per_source_global_sort); shuffle count stays
    small and bounded."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.length_decile_profile(spark, SF_SMOKE)
    # 6 = bucket-count agg (feeding offsets AND totals), the tiny
    # bucket-frame window, the (source, n_chars) local window, and the
    # final (source, decile) agg — all keyed on uniform or tiny frames
    assert plans.count_exchanges(df) <= 6, plans.plan_string(df)


def test_retention_scan_reads_only_ts_and_user(spark):
    from redis_dataflow_realtime_analytics_spark.operators import sessions

    df = sessions.user_retention_cohorts(spark, SF_SMOKE)
    cols = set(plans.read_schema_columns(df))
    assert cols <= {"ts", "user_id"}, cols


def test_triangles_plan_is_three_joins(spark):
    """The degree-oriented triangle plan must stay the checked shape —
    the shared deg/oriented frames materialized once, NOT re-derived per
    consumer (the unchecked plan carried 50 SortMergeJoins)."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    p = plans.plan_string(dedup.neardup_triangles(spark, SF_SMOKE))
    joins = p.count("SortMergeJoin") + p.count("ShuffledHashJoin") + p.count(
        "BroadcastHashJoin"
    )
    assert joins <= 5, f"triangle plan re-deriving shared frames? {joins} joins"
    assert "CartesianProduct" not in p


def test_pq_codebook_and_queries_broadcast(spark):
    from redis_dataflow_realtime_analytics_spark.operators import similarity as S

    p = plans.plan_string(S.ann_topk_pq(spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") >= 2, p  # codebook + query subvectors
    assert "CartesianProduct" not in p


def test_bm25_no_cartesian_and_stats_broadcast(spark):
    from redis_dataflow_realtime_analytics_spark.operators import text

    p = plans.plan_string(text.bm25_topk(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    # the 1-row (n_docs, avgdl) frame must broadcast, never shuffle-join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_zorder_single_shuffle(spark):
    from redis_dataflow_realtime_analytics_spark import registry

    df = registry.QUERIES["events_zorder_layout"](spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert p.count("Exchange") <= 2, p  # one agg exchange (+AQE read)
    assert "CartesianProduct" not in p


def test_pack_boundary_single_group_shuffle(spark):
    """The boundary packer's only shuffle is the (lang, shard) grouping
    feeding the Arrow walk — a second Exchange would mean the token-count
    projection stopped being map-side."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.pack_documents_boundary(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsInArrow" in p, p
    # formatted plans repeat each node name in the detail section —
    # count tree entries ("Exchange (N)") instead of raw substrings
    assert p.count("Exchange (") == 1, p


def test_persisted_ivf_broadcasts_codebook(spark):
    """The serving-path IVF must broadcast the k-row codebook to both the
    assignment and probe scans — a shuffled codebook join would serialize
    the corpus scan behind a tiny table at scale."""
    from redis_dataflow_realtime_analytics_spark.operators import similarity as sim

    df = sim.ann_ivf_persisted_topk(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_user_gap_profile_single_exchange(spark):
    """Window and aggregation share the user_id exchange — a second one
    would mean the groupBy re-shuffled what the lag window partitioned."""
    from redis_dataflow_realtime_analytics_spark import registry

    df = registry.QUERIES["user_gap_profile"](spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert p.count("Exchange (") == 1, p


def test_shard_assignment_no_global_window_over_docs(spark):
    """The two-level prefix-sum contract: the document frame's window is
    PARTITIONED (by bucket); the only unpartitioned global-order window
    runs over the aggregated O(n/bucket_docs) bucket frame, downstream
    of a partial_sum HashAggregate."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.shard_assignment(spark, SF_SMOKE)
    p = plans.plan_string(df)
    # both windows present, and the bucket offsets side is broadcast back
    assert p.count("Window") >= 2, p
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p, p
    import re

    # every hashpartitioning-fed Sort for a window over the doc frame
    # carries the bucket key; the single-partition exchange feeds only
    # the tiny aggregated frame (it sits above a HashAggregate).
    single = re.findall(r"Exchange SinglePartition[^\n]*", p)
    assert len(single) <= 1, p


def test_remove_boilerplate_broadcasts_frequent_spans(spark):
    """The frequent-span set must come back as a broadcast semi-join
    (boilerplate is a tiny heavy-hitter tail); window text never shuffles
    (all exchange keys are md5/doc_id/pos, never the token arrays)."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    df = dedup.remove_boilerplate_spans(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p


def test_image_ahash_pairs_banded_join_no_cartesian(spark):
    """The image near-dup join must be the banded equi-join (hash keys
    only), never an all-pairs scan; the hash frame is checkpointed so
    the Arrow decode stage isn't re-run per join branch."""
    from redis_dataflow_realtime_analytics_spark.operators import multimodal

    df = multimodal.image_ahash_pairs(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Scan ExistingRDD" in p or "LocalTableScan" in p, p  # checkpointed hashes


def test_bpe_rounds_broadcast_merge_frame(spark):
    """Each BPE round's chosen pair joins in as a broadcast 1-row frame
    (BroadcastNestedLoopJoin on a LIMIT-1 input is the deliberate
    crossJoin-broadcast idiom); no plain CartesianProduct anywhere and
    the rounds run over checkpointed vocab frames, not re-derived
    corpus lineage."""
    from redis_dataflow_realtime_analytics_spark.operators import text

    df = text.bpe_merges(spark, SF_SMOKE, n_merges=2)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p
    assert "Scan ExistingRDD" in p, p

def test_length_deciles_no_per_source_global_sort(spark):
    """The decile profile computes ntile by closed form over the
    two-level exact rank — the plan must contain NO ntile window and
    no window that sorts a source partition by n_chars: the only
    corpus-sized window is the local row_number PARTITIONED BY
    (source, n_chars); offsets/totals come back as broadcasts."""
    import re

    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.length_decile_profile(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "ntile" not in p, p
    assert "BroadcastHashJoin" in p, p
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    for spec in specs:
        if "doc_id#" in spec:  # the corpus-sized local row_number
            assert "n_chars#" in spec.split("doc_id#")[0], (
                f"per-source global sort leaked back: {spec}\n{p}"
            )

def test_quality_calibration_no_per_source_global_sort(spark):
    """The two-level exact-rank contract (r5 verdict perf flag): the
    document frame's rank window is PARTITIONED BY (source, qb) — never
    a per-source sort of the whole corpus on one reducer. Any window
    spec that orders by quality must therefore also carry the qb bucket
    key in its partition spec; the per-source running-sum window (ordered
    by qb) runs only over the aggregated bucket frame, whose offsets come
    back via broadcast."""
    import re

    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.quality_calibrated_by_source(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "BroadcastHashJoin" in p, p
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    for spec in specs:
        if "quality#" in spec:
            assert "qb#" in spec, f"per-source global sort leaked back: {spec}\n{p}"

def test_bpe_encode_broadcasts_merges_and_token_ids(spark):
    """Encoding applies vocabulary-sized state only: each persisted
    merge row and the token-id table come in as broadcasts; the only
    corpus-sized work is the token explode and the final join-back.
    No plain CartesianProduct (the 1-row merge crossJoin is the
    broadcast idiom); round frames are checkpointed (Scan ExistingRDD),
    not re-derived corpus lineage."""
    from redis_dataflow_realtime_analytics_spark.operators import text

    df = text.bpe_encode(spark, SF_SMOKE, n_merges=2)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "Scan ExistingRDD" in p, p

def test_perceptron_weights_broadcast_no_cartesian(spark):
    """Each round's weight frame (65 rows) must come back as a
    broadcast join against the feature rows; round state is
    checkpointed (Scan ExistingRDD), never re-derived corpus lineage;
    no cartesian anywhere."""
    from redis_dataflow_realtime_analytics_spark.operators import classifier

    df = classifier.perceptron_scores(spark, SF_SMOKE, rounds=2)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "Scan ExistingRDD" in p, p

def test_redact_pii_is_shuffle_free(spark):
    """Redaction is a pure row-local projection — scan -> project with
    no KEYED shuffle anywhere (at 100 TB it runs partition-by-
    partition). The only allowed exchange is the fixture-only
    round-robin `spread()` of the single-split parquet."""
    from redis_dataflow_realtime_analytics_spark.operators import text

    df = text.redact_pii(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "hashpartitioning" not in p, p
    assert "rangepartitioning" not in p, p
    assert "SinglePartition" not in p, p


def test_pack_bpe_sequences_no_cartesian_bounded_exchanges(spark):
    """Sequence packing = encode + two-level offsets + in-doc windows:
    no cartesian anywhere; the bucket-offset frame comes back as a
    broadcast; the corpus-sized shuffles stay doc_id/bucket-keyed."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.pack_bpe_sequences(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_label_propagation_rounds_are_checkpointed_equi_joins(spark):
    """Each LPA round joins the checkpointed label frame on an equi-key
    (dst = node) — no cartesian, no nested-loop; rounds run over
    Scan ExistingRDD, not re-derived pair lineage."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    edges = dedup.ngram_jaccard_pairs(spark, SF_SMOKE)
    df = dedup.lpa_labels(edges, rounds=2)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Scan ExistingRDD" in p, p


def test_keep_best_by_model_no_cartesian(spark):
    """Model-canonical selection composes components x persisted scores
    through doc_id/component_id equi-joins only."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    df = dedup.keep_best_by_model(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p

def test_ivfpq_broadcasts_codebooks_no_cartesian(spark):
    """IVFPQ plan contract: both codebooks and the probe-derived query
    subvectors come in as broadcasts (the coarse-centroid crossJoin is
    the one-row broadcast idiom, never a plain CartesianProduct); the
    candidate join is a bucket equi-join."""
    from redis_dataflow_realtime_analytics_spark.operators import similarity

    df = similarity.ann_ivfpq_topk(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p

def test_entity_match_broadcasts_df_table_no_cartesian(spark):
    """The edit-distance join's plan: candidates come from the prefix
    posting-list equi-join (no CartesianProduct anywhere — the brute
    force quadratic twin lives only in the oracle); the gram df table
    comes in as a broadcast."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    df = dedup.entity_match_pairs(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_epoch_shuffle_no_global_sort_over_docs(spark):
    """The permutation rank reuses the two-level contract: the doc-frame
    window is PARTITIONED (epoch, bucket); no single-partition exchange
    ever feeds the corpus frame (the tiny 256-row bucket window is
    epoch-partitioned, so there is no SinglePartition at all)."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.epoch_shuffle(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert p.count("Window") >= 2, p
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p, p
    assert "Exchange SinglePartition" not in p, p


def test_quantile_normalized_no_per_source_or_global_doc_sort(spark):
    """Both exact ranks use the two-level contract: every doc-frame
    window is bucket-partitioned; the only single-partition exchange
    feeds the tiny aggregated global-bucket frame."""
    from redis_dataflow_realtime_analytics_spark.operators import sampling

    df = sampling.quality_quantile_normalized(spark, SF_SMOKE)
    p = plans.plan_string(df)
    import re

    single = re.findall(r"Exchange SinglePartition[^\n]*", p)
    assert len(single) <= 1, p
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p, p


def test_active_sessions_no_nested_loop_range_join(spark):
    """The concurrency curve must compile to the sweep-line (equi-join +
    axis window), never the naive non-equi interval join (nested loop /
    cartesian over axis x sessions)."""
    from redis_dataflow_realtime_analytics_spark.operators import sessions

    df = sessions.active_sessions_per_minute(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


# --- r7 portable family -------------------------------------------------------
def test_portable_minhash_pairs_no_cartesian(spark):
    """The portable banding must surface candidates ONLY through the
    (band, bucket) equi-join — a CartesianProduct/NestedLoop anywhere in
    this plan is the O(n²) formulation the banding exists to avoid."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    p = plans.plan_string(dedup.minhash_portable_pairs(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_portable_lsh_ann_is_jvm_only_and_broadcasts_queries(spark):
    """The portable LSH ANN's bucket math runs as Catalyst HOFs — no
    Python/Arrow stage may appear in the plan — and the query side
    broadcasts exactly like every other ANN strategy."""
    from redis_dataflow_realtime_analytics_spark.operators import similarity

    df = similarity.ann_lsh_portable_topk(spark, SF_SMOKE)
    p = plans.plan_string(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    assert plans.has_broadcast_join(df)


def test_keep_first_cut_no_extra_shuffle_vs_cut_all(spark):
    """Keep-first adds only a struct-min FIELD to cut-all's occurrence
    aggregate — the shuffle count must not grow."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    n_all = plans.plan_string(dedup.cut_duplicate_spans(spark, SF_SMOKE)).count(
        "Exchange"
    )
    n_k1 = plans.plan_string(
        dedup.cut_duplicate_spans_keep_first(spark, SF_SMOKE)
    ).count("Exchange")
    assert n_k1 <= n_all + 1, (n_all, n_k1)


def test_weighted_portable_no_cartesian_jvm_only_signatures(spark):
    """The weighted portable twin must band-join (never all-pairs) and
    keep the whole signature computation JVM-side: tf counting, replica
    explode, md5, and the 16 affine mins are all Catalyst expressions —
    a Python eval node in this plan would mean the construction fell
    off the codegen path."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    p = plans.plan_string(dedup.minhash_weighted_portable_pairs(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_oph_portable_single_signature_shuffle(spark):
    """OPH's whole point is ONE hash pass + ONE per-doc aggregate: the
    signature stage must contribute exactly one Exchange (the doc_id
    groupBy of 16 conditional mins); densification is pure projection."""
    from redis_dataflow_realtime_analytics_spark.operators import dedup
    from redis_dataflow_realtime_analytics_spark.tables import load

    sig = dedup.oph_portable_signatures(load(spark, SF_SMOKE, "documents"))
    assert plans.count_exchanges(sig) == 1, plans.plan_string(sig)
    p = plans.plan_string(dedup.minhash_oph_portable_pairs(spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p


def test_tws_plan_uses_transform_with_state_operator(spark):
    """The TWS twins must compile to the TransformWithState physical
    operator (not fall back to a generic Python eval): pin the node name
    so an API regression (e.g. a silent downgrade to
    applyInPandasWithState semantics) is caught at plan level."""
    from redis_dataflow_realtime_analytics_spark.sources.events import (
        normalize_events,
        read_events_stream,
    )
    from redis_dataflow_realtime_analytics_spark.streaming import stateful

    if not stateful.tws_available():
        import pytest as _pytest

        _pytest.skip("transformWithStateInPandas unavailable here")

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Noop(StatefulProcessor):
        def init(self, handle):
            pass

        def handleInputRows(self, key, rows, timerValues):
            yield from ()

        def close(self):
            pass

    ev = normalize_events(
        read_events_stream(spark, f"{SF_SMOKE}/events.parquet", 1)
    )
    out = (
        ev.select("variant", "user_id")
        .groupBy("variant")
        .transformWithStateInPandas(
            Noop(), "variant string, unique_users bigint", "Update", "None"
        )
    )
    # streaming frames can't .explain() pre-start; the logical string
    # carries the operator node
    assert "transformWithState" in out._jdf.queryExecution().logical().toString()


#: (Window, WindowGroupLimit) node counts of each top-k key's formatted
#: plan. Every per-query top-k filters ``row_number() <= k`` so Spark
#: plans a Partial + Final ``WindowGroupLimit`` before and after the
#: ``query_id`` exchange; a filter shape that loses it shuffles every
#: candidate instead of k per query and task.
_TOPK_WINDOW_NODES = {
    "ann_topk_bruteforce": (1, 2),
    "ann_topk_int8": (1, 2),
    "ann_topk_pq": (1, 2),
    "ann_topk_hamming": (1, 2),
    "ann_lsh_topk": (1, 2),
    "ann_lsh_portable_topk": (1, 2),
    "similar_documents_report": (1, 2),
    "ann_ivf_topk": (2, 3),
    "ann_ivf_kmeans_topk": (2, 3),
    "ann_ivf_exact_topk": (2, 3),
    "ann_ivf_persisted_topk": (2, 3),
    "ann_hamming_rerank_topk": (2, 3),
    "ann_ivfpq_topk": (3, 5),
    "ann_ivfpq_persisted_topk": (3, 5),
    "hybrid_rrf_topk": (3, 5),
    "ann_truncation_recall": (6, 12),
    "retrieval_eval_report": (4, 8),
}


@pytest.mark.parametrize("name", sorted(_TOPK_WINDOW_NODES))
def test_topk_keeps_window_group_limit(spark, name):
    import re

    from redis_dataflow_realtime_analytics_spark import registry

    p = plans.plan_string(registry.QUERIES[name](spark, SF_SMOKE))
    got = tuple(
        len(re.findall(rf"^\(\d+\) {node}\b", p, re.MULTILINE))
        for node in ("Window", "WindowGroupLimit")
    )
    assert got == _TOPK_WINDOW_NODES[name], p
