"""Gates for the round-4 session-3 operators: quality-canonical keep-best
selection (tests live in test_round4c_ops) and the count-min frequency
sketch family — exact HH(φ) vs its oracle plus the CMS bound/recall/
mergeability properties with a forced-collision geometry."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_dataflow_realtime_analytics_spark.operators import metrics, sampling
from redis_dataflow_realtime_analytics_spark.sources import (
    normalize_events,
    read_events,
)

from .conftest import SF_SMOKE
from .oracle import compare


def _ev(spark):
    return normalize_events(read_events(spark, SF_SMOKE))


def test_heavy_hitters_exact_matches_oracle(spark):
    compare(
        metrics.heavy_hitter_users(_ev(spark)),
        """WITH ev AS (
  SELECT event_id, ts, user_id, event_type AS variant,
         json_extract_string(props, '$.k') AS experiment_id, value
  FROM events
)
SELECT user_id, count(*) AS n_events,
       CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM ev) AS share
FROM ev GROUP BY user_id
HAVING count(*) >= 0.0075 * (SELECT count(*) FROM ev)""",
        SF_SMOKE,
    )


def test_cms_never_underestimates_and_recall_one(spark):
    ev = _ev(spark)
    exact = {r.user_id: r.n_events for r in
             ev.groupBy("user_id").agg(F.count("*").alias("n_events")).collect()}
    est = {r.user_id: r.est_count
           for r in metrics.heavy_hitter_users_cms(ev, phi=0.0).collect()}
    assert set(est) == set(exact)
    for uid, true_n in exact.items():
        assert est[uid] >= true_n, f"CMS underestimated user {uid}"
    # recall 1 vs the exact HH set at the default threshold: every exact
    # heavy hitter must survive the sketch-side filter
    hh_exact = {r.user_id for r in metrics.heavy_hitter_users(ev).collect()}
    hh_cms = {r.user_id for r in metrics.heavy_hitter_users_cms(ev).collect()}
    assert hh_exact <= hh_cms


def test_cms_forced_collisions_still_lower_bounded(spark):
    # width 16 << 150 distinct users forces every row to collide; the
    # probe must still take row MINIMA (never a sum), so estimates stay
    # >= true counts and at least one strict overestimate appears.
    ev = _ev(spark)
    exact = {r.user_id: r.n_events for r in
             ev.groupBy("user_id").agg(F.count("*").alias("n_events")).collect()}
    est = {r.user_id: r.est_count
           for r in metrics.heavy_hitter_users_cms(ev, phi=0.0, width=16).collect()}
    assert all(est[u] >= n for u, n in exact.items())
    assert any(est[u] > n for u, n in exact.items())


def test_cms_sketch_is_mergeable(spark):
    # sketch(first half) + sketch(second half), summed per cell, equals
    # sketch(whole) — the partials-then-merge contract the streaming
    # store relies on.
    ev = _ev(spark).localCheckpoint(eager=True)
    lo = ev.where(F.col("event_id") % 2 == 0)
    hi = ev.where(F.col("event_id") % 2 == 1)
    merged = (
        metrics.cms_sketch(lo).unionByName(metrics.cms_sketch(hi))
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = metrics.cms_sketch(ev)
    diff = merged.join(whole, ["row_idx", "bucket"], "full_outer").where(
        merged["cnt"].isNull()
        | whole["cnt"].isNull()
        | (merged["cnt"] != whole["cnt"])
    )
    assert diff.count() == 0


def test_cms_state_is_bounded(spark):
    sketch = metrics.cms_sketch(_ev(spark), depth=4, width=64)
    assert sketch.count() <= 4 * 64
    rng = sketch.agg(
        F.min("row_idx"), F.max("row_idx"), F.min("bucket"), F.max("bucket")
    ).first()
    assert rng[0] >= 0 and rng[1] <= 3 and rng[2] >= 0 and rng[3] <= 63


def test_stream_cms_store_equals_batch_sketch(spark, tmp_path):
    # The summed per-batch count-min cells must equal the one-shot batch
    # sketch EXACTLY (same xxhash64 cells, addition is associative) — the
    # partials-then-merge contract for the frequency family.
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    store, ckpt = f"{tmp_path}/store", f"{tmp_path}/ckpt"
    sp.run_sketch_ingest(spark, f"{SF_SMOKE}/events.parquet", store, ckpt)
    merged = (
        spark.read.parquet(f"{store}/user_cms")
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = metrics.cms_sketch(_ev(spark))
    diff = merged.join(whole, ["row_idx", "bucket"], "full_outer").where(
        merged["cnt"].isNull() | whole["cnt"].isNull() | (merged["cnt"] != whole["cnt"])
    )
    assert diff.count() == 0
    # and the read-side HH answer equals the batch sketch twin
    got = {(r.user_id, r.est_count) for r in sp.read_heavy_hitters(spark, store).collect()}
    want = {(r.user_id, r.est_count)
            for r in metrics.heavy_hitter_users_cms(_ev(spark)).collect()}
    assert want  # empty on both sides would pass the equality vacuously
    assert got == want


def test_key_skew_profile_matches_oracle(spark):
    from redis_dataflow_realtime_analytics_spark.functions.skew import (
        key_skew_profile,
        oracle_key_skew_profile,
    )

    compare(
        key_skew_profile(_ev(spark), ["user_id", "variant", "experiment_id"]),
        oracle_key_skew_profile(
            ["user_id", "variant", "experiment_id"],
            """SELECT event_id, ts, user_id, event_type AS variant,
         json_extract_string(props, '$.k') AS experiment_id, value
  FROM events""",
        ),
        SF_SMOKE,
    )


def test_key_skew_profile_flags_hot_key(spark):
    from redis_dataflow_realtime_analytics_spark.functions.skew import key_skew_profile

    # 1000 rows on one key + 1 row on each of 9 others: the hot-key
    # signature must dominate every statistic.
    df = spark.range(1009).select(
        F.when(F.col("id") < 1000, F.lit(0)).otherwise(F.col("id") - 999).alias("k")
    )
    r = key_skew_profile(df, ["k"]).first()
    assert r.n_keys == 10 and r.n_rows == 1009
    assert r.max_count == 1000
    assert r.top_share > 0.99
    assert r.skew_p99_p50 > 100


def test_apply_corpus_updates_matches_oracle(spark):
    compare(
        sampling.apply_corpus_updates(spark, SF_SMOKE),
        sampling.oracle_apply_corpus_updates(),
        SF_SMOKE,
    )


def test_apply_corpus_updates_semantics(spark):
    got = {r.doc_id: r for r in sampling.apply_corpus_updates(spark, SF_SMOKE).collect()}
    base = {r.doc_id: r.text for r in
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()}
    off = sampling.UPSERT_NEW_OFFSET
    # every 10th doc carries the re-crawled version 1
    assert got[10].version == 1 and not got[10].is_new
    # untouched docs keep version 0 with the original hash
    assert got[1].version == 0 and not got[1].is_new
    # every 25th doc spawned a brand-new id above the offset
    assert got[25 + off].version == 1 and got[25 + off].is_new
    # row count = base + new docs (replacements collapse onto their id)
    n_new = sum(1 for d in base if d % 25 == 0)
    assert len(got) == len(base) + n_new


def test_pagerank_matches_oracle(spark):
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    compare(
        dedup.neardup_pagerank(spark, SF_SMOKE),
        dedup.oracle_neardup_pagerank(dedup.oracle_ngram_jaccard_pairs(0.5)),
        SF_SMOKE,
    )


def test_pagerank_mass_and_hub(spark, tmp_path):
    from redis_dataflow_realtime_analytics_spark.operators import dedup

    # A star of near-identical docs: doc 1 shares a long base with each
    # satellite (Jaccard 0.53), satellites pair with each other only at
    # 0.36 — so threshold 0.45 keeps hub-satellite edges and drops the
    # satellite clique. The hub must outrank every satellite, and total
    # rank mass must stay ~1.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base, "en", "s", 1)] + [
        (i, base + f" tail{i} " + " ".join([f"x{i}y{j}" for j in range(6)]), "en", "s", 1)
        for i in range(2, 7)
    ] + [(99, "completely different content with no shared shingles here", "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r.doc_id: r.rank for r in
           dedup.neardup_pagerank(spark, str(tmp_path), threshold=0.45).collect()}
    assert 99 not in got  # unpaired doc is outside the graph
    assert abs(sum(got.values()) - 1.0) < 1e-6
    hub = got.pop(1)
    assert all(hub > v for v in got.values())


def test_stream_ivf_assign_matches_batch_assignment(spark):
    # The streaming array-argmax must reproduce the batch IVF assignment
    # (rank-1 window over the same fixed-point cosines) exactly —
    # stream/batch parity for the vector-index write path.
    from pyspark.sql import Window

    from redis_dataflow_realtime_analytics_spark.functions import vectors as V
    from redis_dataflow_realtime_analytics_spark.operators.similarity import (
        CENTROID_MOD,
        _quantized,
    )
    from redis_dataflow_realtime_analytics_spark.streaming import pipeline as sp

    got = {(r.vec_id, r.bucket) for r in
           sp.stream_ivf_assign(spark, f"{SF_SMOKE}/embeddings.parquet").collect()}
    emb = _quantized(spark, SF_SMOKE)
    cents = emb.where(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("qvec").alias("c_qvec"),
        F.col("n2").alias("c_n2"),
    )
    scored = (
        emb.join(F.broadcast(cents), how="cross")
        .withColumn("c_dot", V.qdot("qvec", "c_qvec"))
        .withColumn("c_cos", V.cosine("c_dot", "n2", "c_n2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), "centroid_id")
    want = {(r.vec_id, r.centroid_id) for r in
            scored.withColumn("rk", F.row_number().over(w)).where("rk = 1").collect()}
    assert got == want
