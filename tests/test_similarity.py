"""Similarity-search behavior: IVF approximate top-k recall vs the exact
brute-force baseline on the real embeddings fixture."""

from __future__ import annotations

from redis_dataflow_realtime_analytics_spark.operators import similarity

from .conftest import SF_SMOKE


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_bruteforce_topk_shape(spark):
    df = similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=10)
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 10
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, 11))
        # cosine non-increasing with rank
        cs = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert all(a >= b for a, b in zip(cs, cs[1:]))
        assert all(r.neighbor_id != q for r in rs)


def test_ivf_recall_vs_bruteforce(spark):
    exact = _topk_sets(similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=10))
    approx = _topk_sets(similarity.ann_ivf_topk(spark, SF_SMOKE, k=10, nprobe=3))
    assert set(approx) == set(exact)
    recalls = [len(exact[q] & approx[q]) / 10 for q in exact]
    mean_recall = sum(recalls) / len(recalls)
    # 3 of ~10 coarse cells probed on near-random embeddings: recall well
    # above the ~0.3 random-scan floor indicates the bucketing works
    assert mean_recall >= 0.3, f"IVF mean recall {mean_recall}"


def test_int8_recall_vs_bruteforce(spark):
    """int8 scalar quantization keeps near-exact ranking: per-vector scale
    with 7-bit mantissa loses ~0.4% per component, so top-10 recall vs the
    exact fixed-point baseline should be near 1 (far above IVF/LSH, which
    trade recall for scan fraction — int8 trades only memory)."""
    exact = _topk_sets(similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=10))
    q8 = _topk_sets(similarity.ann_topk_int8(spark, SF_SMOKE, k=10))
    assert set(q8) == set(exact)
    recalls = [len(exact[q] & q8[q]) / 10 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9, f"int8 mean recall {recalls}"
    assert min(recalls) >= 0.7, f"int8 min recall {recalls}"


def test_neardup_pairs_symmetric_threshold(spark):
    df = similarity.embedding_neardup_pairs(spark, SF_SMOKE, threshold=0.4)
    for r in df.collect():
        assert r.vec_id_a < r.vec_id_b
        assert r.cosine >= 0.4


def test_lsh_recall_vs_bruteforce(spark):
    exact = _topk_sets(similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=10))
    approx = _topk_sets(similarity.ann_lsh_topk(spark, SF_SMOKE, k=10))
    assert set(approx) <= set(exact)
    # every query must surface (its own bucket always probes)
    assert set(approx) == set(exact)
    recalls = [len(exact[q] & approx[q]) / 10 for q in exact]
    mean_recall = sum(recalls) / len(recalls)
    # 6 of 32 buckets probed ≈ 19% of the corpus scanned; recall clearly
    # above that random-scan floor indicates hyperplane locality works
    assert mean_recall >= 0.27, f"LSH mean recall {mean_recall}"


def test_lsh_bucket_deterministic(spark):
    from redis_dataflow_realtime_analytics_spark.tables import load

    udf = similarity._lsh_bucket_udf()
    emb = load(spark, SF_SMOKE, "embeddings").limit(50)
    a = {r.vec_id: r.b for r in emb.select("vec_id", udf("embedding").alias("b")).collect()}
    b = {r.vec_id: r.b for r in emb.select("vec_id", udf("embedding").alias("b")).collect()}
    assert a == b
    assert all(0 <= v < (1 << similarity.LSH_BITS) for v in a.values())


def test_lsh_neardup_recall_vs_bruteforce(spark):
    brute = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.embedding_neardup_pairs(spark, SF_SMOKE, threshold=0.4).collect()
    }
    lsh = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.embedding_neardup_pairs_lsh(spark, SF_SMOKE, threshold=0.4).collect()
    }
    assert lsh <= brute  # exact-cosine filter ⇒ no false positives
    if brute:
        recall = len(lsh & brute) / len(brute)
        assert recall >= 0.55, f"LSH near-dup recall {recall} over {len(brute)} pairs"


def test_kmeans_inertia_decreases_and_deterministic(spark):
    from redis_dataflow_realtime_analytics_spark.operators.similarity import (
        kmeans_embedding_centroids,
    )

    one = kmeans_embedding_centroids(spark, SF_SMOKE, k=4, iters=1)
    five = kmeans_embedding_centroids(spark, SF_SMOKE, k=4, iters=5)
    inertia_one = sum(r.inertia for r in one.collect())
    inertia_five = sum(r.inertia for r in five.collect())
    assert inertia_five <= inertia_one + 1e-9

    # bit-identical at different shuffle parallelism (decimal means +
    # deterministic tie-breaks)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        again = kmeans_embedding_centroids(spark, SF_SMOKE, k=4, iters=5)
        a = [(r.cluster_id, r.n_points, r.inertia, tuple(r.centroid)) for r in five.collect()]
        b = [(r.cluster_id, r.n_points, r.inertia, tuple(r.centroid)) for r in again.collect()]
        assert a == b
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    rows = five.collect()
    assert len(rows) <= 4
    assert all(len(r.centroid) == 64 for r in rows)


def test_trained_ivf_recall_within_band_of_sampled(spark):
    """Trained-codebook IVF recalls within a band of the sampled-seed
    variant at equal nprobe and codebook size (see the operator docstring
    for why strict dominance is NOT claimed on this uniform fixture)."""
    from redis_dataflow_realtime_analytics_spark.operators.similarity import (
        ann_ivf_kmeans_topk,
        ann_ivf_topk,
        ann_topk_bruteforce,
    )

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(ann_topk_bruteforce(spark, SF_SMOKE))
    sampled = pairs(ann_ivf_topk(spark, SF_SMOKE))
    trained = pairs(ann_ivf_kmeans_topk(spark, SF_SMOKE))
    recall_sampled = len(sampled & exact) / len(exact)
    recall_trained = len(trained & exact) / len(exact)
    assert recall_trained >= recall_sampled - 0.15, (
        recall_trained,
        recall_sampled,
    )
    assert recall_trained > 0.6


def test_outlier_scores_cluster_members_score_high(spark):
    """Vectors share their label's cluster structure (the generator keys
    clusters by label), so the median cosine-to-centroid must be clearly
    positive, every score sits in [-1, 1], and the scoring is
    deterministic across runs and repartitionings."""
    from redis_dataflow_realtime_analytics_spark.tables import load

    out = similarity.embedding_outlier_scores(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == load(spark, SF_SMOKE, "embeddings").count()
    scores = sorted(r.cos_centroid for r in rows)
    assert all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in scores)
    # cluster mass pulls members toward their centroid: clearly positive
    # median (random directions in 64-d would center on ~0). The smoke
    # fixture has only ~5 vectors/label, so the pull is modest.
    assert scores[len(scores) // 2] > 0.05
    again = {r.vec_id: r.cos_centroid for r in out.collect()}
    for r in rows:
        assert again[r.vec_id] == r.cos_centroid


def test_persisted_ivf_matches_train_inline(spark):
    """The persisted-codebook serving path must be bit-identical to the
    train-inline variant (the exact-k-means state is deterministic, so a
    parquet round-trip of it cannot change any downstream value)."""
    inline = similarity.ann_ivf_exact_topk(spark, SF_SMOKE).collect()
    persisted = similarity.ann_ivf_persisted_topk(spark, SF_SMOKE).collect()
    key = lambda r: (r.query_id, r.rank)
    a = {key(r): (r.neighbor_id, r.cosine) for r in inline}
    b = {key(r): (r.neighbor_id, r.cosine) for r in persisted}
    assert a == b and len(a) > 0


def test_persisted_codebook_artifact_reused(spark):
    """Second call must read the parquet artifact, not retrain: the cache
    maps the fixture key to one path and the directory's _SUCCESS marker
    survives."""
    import os

    similarity.ann_ivf_persisted_topk(spark, SF_SMOKE).count()
    n_before = len(similarity._CODEBOOK_CACHE)
    similarity.ann_ivf_persisted_topk(spark, SF_SMOKE).count()
    assert len(similarity._CODEBOOK_CACHE) == n_before
    for path in similarity._CODEBOOK_CACHE.values():
        assert os.path.isfile(os.path.join(path, "_SUCCESS"))


def test_pc1_scores_match_component_projection(spark):
    """pc1 scores must equal the dot product of each quantized vector
    with the exact component (driver-side recomputation), and their
    variance must dominate any single raw dimension's variance (the
    point of projecting onto the top component)."""
    import numpy as np

    comp = {
        r.pos: r.component
        for r in similarity.embedding_top_component_exact(spark, SF_SMOKE).collect()
    }
    v = np.array([comp[p] for p in sorted(comp)])
    emb = {r.vec_id: np.array(r.qvec, dtype=np.float64)
           for r in similarity._quantized(spark, SF_SMOKE).select("vec_id", "qvec").collect()}
    scores = {r.vec_id: r.pc1_score
              for r in similarity.embedding_pc1_scores(spark, SF_SMOKE).collect()}
    assert set(scores) == set(emb)
    for vid, x in emb.items():
        assert abs(scores[vid] - float(x @ v)) < 1e-6 * max(1.0, abs(scores[vid]))
    xs = np.stack([emb[k] for k in sorted(emb)])
    proj_var = np.var([scores[k] for k in sorted(emb)])
    assert proj_var >= np.var(xs, axis=0).max() * 0.99


def test_ivfpq_structure_and_recall(spark):
    """IVFPQ = IVF prune → ADC shortlist → exact re-rank. Structure:
    k rows per query, ranks 1..k, exact cosine non-increasing. Recall
    is bounded above by the IVF candidate pool (same nprobe buckets),
    degraded only by the ADC shortlist — with shortlist=50 » k the
    measured smoke-fixture bands are 0.62 vs brute force and 0.82
    (min 0.7) vs ann_ivf_exact_topk; asserted with safety margin."""
    out = similarity.ann_ivfpq_topk(spark, SF_SMOKE, k=10)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        cs = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert all(a >= b for a, b in zip(cs, cs[1:]))
        assert all(r.neighbor_id != q for r in rs)
    pq = {q: {r.neighbor_id for r in rs} for q, rs in by_q.items()}
    exact = _topk_sets(similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=10))
    ivf = _topk_sets(similarity.ann_ivf_exact_topk(spark, SF_SMOKE, k=10))
    rb = [len(exact[q] & pq.get(q, set())) / 10 for q in exact]
    ri = [len(ivf[q] & pq.get(q, set())) / 10 for q in ivf]
    assert sum(rb) / len(rb) >= 0.4, f"IVFPQ vs brute recall {rb}"
    assert sum(ri) / len(ri) >= 0.6, f"IVFPQ vs IVF recall {ri}"
    assert min(ri) >= 0.5, f"IVFPQ vs IVF min recall {ri}"


def test_ivfpq_rerank_cosines_are_exact(spark):
    """The re-ranked survivors' cosines must equal the exact fixed-point
    cosine the brute-force baseline computes for the same (query,
    neighbor) pair — the re-rank reads raw vectors, not codes."""
    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.ann_topk_bruteforce(spark, SF_SMOKE, k=10).collect()
    }
    hit = 0
    for r in similarity.ann_ivfpq_topk(spark, SF_SMOKE, k=10).collect():
        key = (r.query_id, r.neighbor_id)
        if key in bf:
            assert r.cosine == bf[key], key
            hit += 1
    assert hit > 0


def test_persisted_ivfpq_matches_train_inline(spark):
    """The persisted-index serving path must be bit-identical to the
    train-inline IVFPQ (deterministic index build ⇒ a parquet
    round-trip of bucket+codes cannot change any downstream value)."""
    inline = similarity.ann_ivfpq_topk(spark, SF_SMOKE).collect()
    persisted = similarity.ann_ivfpq_persisted_topk(spark, SF_SMOKE).collect()
    key = lambda r: (r.query_id, r.rank)
    a = {key(r): (r.neighbor_id, r.cosine) for r in inline}
    b = {key(r): (r.neighbor_id, r.cosine) for r in persisted}
    assert a == b and len(a) > 0


def test_truncation_recall_monotone_and_bounded(spark):
    """Recall must be in [0, 1] per dim and (on this fixture)
    non-decreasing with the truncation dimension — more components
    cannot systematically hurt exact search."""
    rows = {
        r.trunc_dim: r
        for r in similarity.ann_truncation_recall_report(spark, SF_SMOKE).collect()
    }
    assert sorted(rows) == sorted(similarity.TRUNC_DIMS)
    last = -1.0
    for d in sorted(rows):
        r = rows[d]
        assert 0.0 <= r.recall <= 1.0 and r.n_queries > 0, r
        assert r.recall >= last - 1e-9, (d, r.recall, last)
        last = r.recall


def test_rowlocal_assign_zero_cosine_tie_goes_to_min_centroid(spark):
    """A zero-norm centroid (cosine +0.0 by convention) ties a centroid
    orthogonal to the row (its negated cosine is -0.0). ``array_min`` over
    the (nv, cid) structs treats the two zeros as equal, so the tie goes
    to the min centroid_id whichever of the two holds it — the window
    formulation's ORDER BY desc(cosine), centroid_id."""
    emb = spark.createDataFrame(
        [(1, [3, 0], 9), (2, [0, 0], 0)], "vec_id long, qvec array<bigint>, n2 bigint"
    )
    schema = "centroid_id int, c_qvec array<bigint>, c_n2 bigint"
    zero_norm_low = spark.createDataFrame([(0, [0, 0], 0), (1, [0, 5], 25)], schema)
    zero_norm_high = spark.createDataFrame([(0, [0, 5], 25), (1, [0, 0], 0)], schema)
    for cents in (zero_norm_low, zero_norm_high):
        got = {
            r.vec_id: r.bucket
            for r in similarity._rowlocal_assign(emb, cents).collect()
        }
        assert got == {1: 0, 2: 0}
