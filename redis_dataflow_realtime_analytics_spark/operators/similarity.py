"""Similarity search over embedding columns (north-star extension).

Every ``ann_*`` key is one key-shaping step over a few shared stages,
the IVFADC decomposition (Jégou et al., TPAMI 2011) written once:

* **corpus + queries** — ``_quantized`` quantizes each vector ONCE to
  fixed-point int64 (``functions.vectors``), so dot products are exact
  integer sums: deterministic under any partitioning, oracle-checkable
  bit-exactly, and cheap (long multiply-adds in codegen).
  ``query_set`` is every ``QUERY_MOD``-th vector, always broadcast.
* **coarse probe** — a vector goes to its nearest cell row-locally
  against a broadcast one-row codebook (``_rowlocal_assign`` for cosine
  codebooks, ``_assign`` for the exact k-means state); a query keeps its
  ``nprobe`` nearest cells (``_probe``), LSH buckets probe their
  Hamming-1 neighbours (``_hamming1``). Candidates are an equi-join on
  the cell id — partition pruning once the corpus is written by cell.
* **PQ scan** — ``_subvectors`` splits a vector into ``PQ_M`` slices,
  ``_pq_encode`` keeps the nearest codeword per slice, ``_adc`` scores a
  query against the reconstructed vectors (asymmetric distance).
* **re-rank and top-k** — ``_rerank`` re-scores a shortlist with the
  exact cosine; ``_topk`` is the only ``row_number`` site: a window over
  ``query_id`` filtered with ``rank <= k``, the shape Spark plans as a
  Partial + Final ``WindowGroupLimit`` (state bounded by k × |queries|).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.numeric import oracle_dsum12
from ..tables import load, persisted, spread

#: Query set = every QUERY_MOD-th vector (deterministic, data-derived).
QUERY_MOD = 100


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with one-time fixed-point quantization + squared norms.

    The scan is ``spread`` across all task slots FIRST (r11): the
    embeddings fixture is a single parquet split, and every consumer
    feeds this frame into per-row-heavy scoring (broadcast-query dot
    products, the IVF assignment crossJoin) that would otherwise run on
    1-2 tasks — invisible at sf0.1 (2 k vectors) but the reason the ANN
    family showed 8→32-core ratios of 1.1-1.3× at sf1 (the r10
    embedding_neardup_pairs lesson, measured 32 s → 2.5 s then, applied
    to the whole family)."""
    return (
        spread(load(spark, sf_dir, "embeddings"))
        .select("vec_id", V.quantize("embedding").alias("qvec"))
        .withColumn("n2", V.qnorm2("qvec"))
    )


def query_set(emb: DataFrame, *extra) -> DataFrame:
    """(query_id, q_qvec, q_n2, *extra) of every QUERY_MOD-th vector."""
    return emb.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("n2").alias("q_n2"),
        *extra,
    )


def _topk(scored: DataFrame, k: int, *order) -> DataFrame:
    """The k best rows per ``query_id`` under ``order``, numbered 1..k in
    ``rank``. The filter compares the bare rank column with ``<= k`` so
    Spark keeps the Partial + Final ``WindowGroupLimit`` (it drops it for
    ``rank - 1 < k``): each task ships k rows per query, not every
    candidate."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


def _ranked(scored: DataFrame, k: int, score: str) -> DataFrame:
    """(query_id, neighbor_id, <score>, rank): top-k by descending score,
    ties broken on neighbor id so results are fully deterministic."""
    return _topk(scored, k, F.desc(score), "vec_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), score, "rank"
    )


def _cosine_topk(pairs: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """Exact fixed-point cosine of each (qvec, n2) × (q_qvec, q_n2) pair,
    then the per-query top-k."""
    scored = pairs.withColumn("dot", V.qdot("qvec", "q_qvec")).withColumn(
        score, V.cosine("dot", "n2", "q_n2")
    )
    return _ranked(scored, k, score)


def _against_queries(emb: DataFrame) -> DataFrame:
    """Every corpus vector paired with every other broadcast query."""
    return emb.join(F.broadcast(query_set(emb)), F.col("vec_id") != F.col("query_id"))


def _rerank(emb: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, vec_id) shortlist: only the
    shortlisted pairs read full-precision vectors."""
    pairs = cand.select("query_id", "vec_id").join(emb, "vec_id")
    return _cosine_topk(pairs.join(F.broadcast(query_set(emb)), "query_id"), k)


def _cents_row(cent: DataFrame, *fields) -> DataFrame:
    """A codebook as ONE row: the sorted array ``cents`` of per-centroid
    structs (default: the exact k-means state ``(cid, S, n, s2)``),
    broadcast so assignment runs inside higher-order functions."""
    fields = fields or ("cid", "S", "n", "s2")
    return cent.agg(F.sort_array(F.collect_list(F.struct(*fields))).alias("cents"))


def _rowlocal_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid corpus assignment computed ROW-LOCALLY (r11):
    returns (vec_id, qvec, n2, bucket) for a quantized corpus against a
    codebook frame (centroid_id, c_qvec, c_n2).

    The crossJoin+window formulation explodes the corpus
    |corpus|×|centroids|-fold and then SORTS that frame inside a window
    just to keep rank 1 — at sf1 an 8 M-row sort for 20 k assignments.
    Here each corpus row computes its argmax with ``array_min`` over
    negated cosines — exact same dot/cosine arithmetic as
    V.qdot/V.cosine (incl. the zero-norm → 0.0 convention); tie → min
    centroid_id, matching ORDER BY desc(c_cos), centroid_id."""
    cents_row = _cents_row(
        cents,
        F.col("centroid_id").alias("cid"),
        F.col("c_qvec").alias("cv"),
        F.col("c_n2").alias("cn2"),
    )
    best = (
        "array_min(transform(cents, c -> struct("
        " CAST(CASE WHEN n2 > 0 AND c.cn2 > 0 THEN"
        "   -(CAST(aggregate(zip_with(qvec, c.cv, (x, y) -> x * y),"
        "          CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
        "     / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))))"
        "   ELSE 0.0 END AS DOUBLE) AS nv,"
        " c.cid AS cid))).cid"
    )
    return emb.crossJoin(F.broadcast(cents_row)).select(
        "vec_id", "qvec", "n2", F.expr(best).alias("bucket")
    )


def _probed_topk(db: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact-cosine top-k over the candidates in each query's probed
    cells: db (vec_id, qvec, n2, bucket) ⋈ probes (query_id, q_qvec,
    q_n2, bucket)."""
    cand = db.join(probes, "bucket").where(F.col("vec_id") != F.col("query_id"))
    return _cosine_topk(cand, k)


def _ivf_query(emb: DataFrame, cents: DataFrame, k: int, nprobe: int) -> DataFrame:
    """IVF over a cosine codebook (centroid_id, c_qvec, c_n2): row-local
    corpus assignment, each query probes its ``nprobe`` nearest cells."""
    scored = (
        query_set(emb)
        .join(F.broadcast(cents), how="cross")
        .withColumn("c_dot", V.qdot("q_qvec", "c_qvec"))
        .withColumn("c_cos", V.cosine("c_dot", "q_n2", "c_n2"))
    )
    probes = _topk(scored, nprobe, F.desc("c_cos"), "centroid_id").select(
        "query_id", "q_qvec", "q_n2", F.col("centroid_id").alias("bucket")
    )
    return _probed_topk(_rowlocal_assign(emb, cents), probes, k)


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector: the broadcast
    query set against one streaming pass over the corpus, no shuffle
    until the top-k. O(|corpus|·|queries|).

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    """
    return _cosine_topk(_against_queries(_quantized(spark, sf_dir)), k)


def ann_topk_int8(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Compressed ANN: brute-force cosine top-k over per-vector int8
    scalar-quantized embeddings — the memory-bound scale path (1 byte per
    component, 32× smaller than float64 working form; at 100 TB of
    embeddings this is the difference between scanning 3 TB and 100 TB).

    Scores are ``dot8 / (‖a‖₈·‖b‖₈)`` computed entirely from the
    quantized ints — the per-vector scale factors cancel, so no
    dequantization step exists and the result is deterministic. Recall
    vs the exact baseline is asserted in tests/test_similarity.py.

    Output: (query_id, neighbor_id, approx_cosine, rank).
    """
    emb = (
        spread(load(spark, sf_dir, "embeddings"))
        .withColumn("ma", V.vec_maxabs("embedding"))
        .select("vec_id", V.quantize_int8("embedding", "ma").alias("qvec"))
        .withColumn("n2", V.qnorm2("qvec"))
    )
    return _cosine_topk(_against_queries(emb), k, "approx_cosine")


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.45) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_id_a < vec_id_b,
    cosine ≥ threshold) — the dedup-by-embedding primitive.

    Brute force O(n²) pairs; at scale swap the pair join for the IVF
    bucketing below (pairs only within a bucket) or random-hyperplane LSH.

    The stream side (a) is spread across all task slots: the non-equi
    pair join inherits ITS partitioning, and a small single-file
    embeddings scan would otherwise run the whole O(n²) × O(dim) scoring
    stage on 1-2 tasks (measured 32 s → 2.5 s at sf0.1 through
    ``semantic_components``; the spread now lives inside ``_quantized``
    for the whole family).
    """
    emb = _quantized(spark, sf_dir)
    a = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("qvec").alias("qa"),
        F.col("n2").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("qvec").alias("qb"),
        F.col("n2").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("dot", V.qdot("qa", "qb"))
        .withColumn("cosine", V.cosine("dot", "na", "nb"))
        .where(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b", "cosine")
    )


#: Coarse centroid seeds = every CENTROID_MOD-th vector. A production build
#: would k-means these; deterministic data-derived seeds keep the operator
#: reproducible without an iterative fit.
CENTROID_MOD = 50


#: Random-hyperplane LSH: signature width (2^LSH_BITS buckets). With
#: Hamming-1 multiprobe this scans ≈(LSH_BITS+1)/2^LSH_BITS of the corpus
#: per query (~19% at 5 bits); widen for larger corpora.
LSH_BITS = 5
LSH_SEED = 7


def _lsh_bucket_udf(n_bits: int = LSH_BITS, seed: int = LSH_SEED):
    """Vectorized Arrow UDF: embedding → hyperplane-sign bucket id.

    The hyperplane matrix is derived from a fixed seed (no fit step), so
    bucket assignment is deterministic across runs, partitions, and cluster
    sizes. One numpy matmul per Arrow batch — the idiomatic Pandas-UDF
    shape for per-row linear algebra Spark's built-ins can't express.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType
    from pyspark.sql.functions import pandas_udf

    def bucket(emb):
        if emb.empty:
            return pd.Series([], dtype="int64")
        x = np.vstack(emb.to_numpy())  # (batch, dim) float32
        planes = np.random.RandomState(seed).standard_normal((x.shape[1], n_bits))
        bits = (x @ planes) >= 0.0  # (batch, n_bits) bool
        weights = 1 << np.arange(n_bits, dtype=np.int64)
        return pd.Series(bits @ weights)

    # `from __future__ import annotations` stringifies hints module-wide,
    # which pandas_udf's type-hint inference rejects — attach real objects.
    bucket.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return pandas_udf(bucket, LongType())


def _hamming1(bucket: str, n_bits: int):
    """LSH multiprobe: the bucket and each of its n_bits Hamming-1
    neighbours, one ``probe_bucket`` row each."""
    flips = [F.col(bucket).bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_bits)]
    return F.explode(F.array(F.col(bucket), *flips)).alias("probe_bucket")


def _lsh_corpus(spark: SparkSession, sf_dir: str, n_bits: int) -> DataFrame:
    """(vec_id, qvec, bucket, n2) under the float hyperplanes, cached: it
    feeds both the probe join's corpus side and the broadcast query side,
    and without the cache the Python UDF stage runs once per consumer."""
    return (
        spread(load(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            V.quantize("embedding").alias("qvec"),
            _lsh_bucket_udf(n_bits)("embedding").alias("bucket"),
        )
        .withColumn("n2", V.qnorm2("qvec"))
        .cache()
    )


def _lsh_topk(emb: DataFrame, k: int, n_bits: int) -> DataFrame:
    """Multiprobe LSH top-k over a bucketed corpus: each query probes its
    own bucket plus every Hamming-1 neighbour (n_bits+1 probes), then the
    candidates re-rank by exact cosine. Work per query ≈
    |corpus|·(n_bits+1)/2^n_bits."""
    probes = F.broadcast(query_set(emb, _hamming1("bucket", n_bits)))
    cand = emb.join(
        probes,
        (F.col("bucket") == F.col("probe_bucket"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    return _cosine_topk(cand, k)


def ann_lsh_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, n_bits: int = LSH_BITS
) -> DataFrame:
    """Random-hyperplane LSH approximate top-k: corpus vectors hash to a
    2^n_bits bucket via sign bits against fixed float hyperplanes
    (``_lsh_bucket_udf``), then the shared multiprobe search. At scale the
    corpus is written partitioned by bucket so probing is partition
    pruning.

    Output schema matches :func:`ann_topk_bruteforce`; recall vs the exact
    baseline is asserted in tests/test_similarity.py.
    """
    return _lsh_topk(_lsh_corpus(spark, sf_dir, n_bits), k, n_bits)


#: Portable LSH: integer hyperplanes in [-1000, 1000] from a constant-seed
#: LCG, sized to the fixture embedding width. Both the Spark expressions
#: and the oracle SQL inline the SAME literals, so bucket assignment is
#: engine-portable by construction (the float-hyperplane family above is
#: rows-only: numpy RandomState is not re-derivable in SQL).
PORTABLE_LSH_DIM = 64


def _portable_planes(
    n_bits: int = LSH_BITS, dim: int = PORTABLE_LSH_DIM, seed: int = 0xA17E
) -> list[list[int]]:
    """n_bits × dim integer hyperplane matrix from the repo's constant-seed
    64-bit LCG (same generator family as ``dedup._portable_coeffs``)."""
    s = seed
    planes = []
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((s >> 33) % 2001 - 1000)
        planes.append(row)
    return planes


def ann_lsh_portable_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, n_bits: int = LSH_BITS
) -> DataFrame:
    """Random-hyperplane LSH top-k under PORTABLE integer hyperplanes —
    the fully SQL-oracled twin of :func:`ann_lsh_topk`, and incidentally
    a JVM-only formulation: the sign-bit dot products against the literal
    plane vectors run as Catalyst higher-order functions inside codegen,
    so the Arrow round-trip of the numpy bucketer disappears entirely.

    Bucket = Σ_p 2^p·[⟨plane_p, qvec⟩ ≥ 0] over the FIXED-POINT vector
    (|w| ≤ 2^10, |qx| ≤ 2^23, dim 64 ⇒ |dot| ≤ 2^39 — exact int64).

    It keeps its own banding instead of ``dedup._band``: ``_band`` keys
    ``h0..hN`` slots by ``doc_id`` and has no Hamming-1 multiprobe."""
    dots = [
        F.expr(
            f"aggregate(zip_with(qvec, array({', '.join(f'CAST({w} AS BIGINT)' for w in row)}), "
            f"(x, w) -> x * w), CAST(0 AS BIGINT), (s, v) -> s + v)"
        )
        for row in _portable_planes(n_bits)
    ]
    bucket = sum(
        F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0)) for p, d in enumerate(dots)
    ).cast("long")
    emb = _quantized(spark, sf_dir).withColumn("bucket", bucket).cache()
    return _lsh_topk(emb, k, n_bits)


def oracle_ann_lsh_portable(k: int = 10, n_bits: int = LSH_BITS) -> str:
    """DuckDB twin of :func:`ann_lsh_portable_topk`: the literal plane
    matrix as a VALUES table, per-vector sign-bit buckets via one
    (vec × plane-component) aggregation, Hamming-1 probe expansion, exact
    fixed-point cosine rerank."""
    from ..functions.vectors import oracle_qdot, oracle_quantize

    planes = _portable_planes(n_bits)
    vals = ", ".join(
        f"({p}, {1 << p}, {d + 1}, {w})"
        for p, row in enumerate(planes)
        for d, w in enumerate(row)
    )
    probes = " UNION ALL ".join(
        ["SELECT vec_id AS query_id, bucket AS probe FROM bk WHERE vec_id % "
         f"{QUERY_MOD} = 0"]
        + [
            f"SELECT vec_id, xor(bucket, {1 << i}) FROM bk WHERE vec_id % {QUERY_MOD} = 0"
            for i in range(n_bits)
        ]
    )
    return f"""WITH e AS (
  SELECT vec_id, {oracle_quantize('embedding')} AS qv FROM embeddings
),
n AS (
  SELECT vec_id, {oracle_qdot('x', 'x')} AS n2
  FROM (SELECT vec_id, unnest(qv) AS x FROM e) GROUP BY vec_id
),
pl(p, pw, d, w) AS (VALUES {vals}),
pd AS (
  SELECT e.vec_id, pl.p, max(pl.pw) AS pw, sum(e.qv[pl.d] * pl.w) AS dot
  FROM e, pl GROUP BY 1, 2
),
bk AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
  FROM pd GROUP BY vec_id
),
probes AS ({probes}),
cand AS (
  SELECT DISTINCT pr.query_id, b.vec_id AS neighbor_id
  FROM probes pr JOIN bk b ON b.bucket = pr.probe
  WHERE b.vec_id <> pr.query_id
),
z AS (
  SELECT c.query_id, c.neighbor_id, unnest(list_zip(eq.qv, en.qv)) AS z
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id
),
d AS (
  SELECT query_id, neighbor_id, {oracle_qdot('z[1]', 'z[2]')} AS dot
  FROM z GROUP BY 1, 2
),
c AS (
  SELECT d.query_id, d.neighbor_id,
         {V.oracle_cosine('d.dot', 'nq.n2', 'nn.n2')} AS cosine
  FROM d
  JOIN n nq ON nq.vec_id = d.query_id
  JOIN n nn ON nn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM c QUALIFY rank <= {k}"""


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, nprobe: int = 3
) -> DataFrame:
    """IVF approximate top-k over sampled coarse centroids (every
    ``CENTROID_MOD``-th vector): ~nprobe/n_centroids of the corpus is
    scored per query.

    Output schema matches :func:`ann_topk_bruteforce`; recall vs the exact
    baseline is asserted in tests (tests/test_similarity.py).
    """
    emb = _quantized(spark, sf_dir)
    cents = emb.where(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("qvec").alias("c_qvec"),
        F.col("n2").alias("c_n2"),
    )
    return _ivf_query(emb, cents, k, nprobe)


def embedding_neardup_pairs_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.45, n_bits: int = 3
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed: candidate pairs form only
    within a hyperplane bucket (plus Hamming-1 neighbor buckets), then the
    exact fixed-point cosine filters them.

    This is the 100 TB path for :func:`embedding_neardup_pairs`: pair count
    drops from |corpus|² to Σ_bucket |bucket|·(probes·|bucket|), and the
    bucket id is a plain column, so the corpus can be written partitioned
    by it. Recall vs the brute-force pairs is asserted in tests.

    Default bits are coarser than the ANN top-k path (3 vs 5): pair mining
    wants recall at mid-range cosines, where the sign-collision probability
    (1 − θ/π) per hyperplane decays faster than for true near-dups.
    """
    emb = _lsh_corpus(spark, sf_dir, n_bits)
    a = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("qvec").alias("qa"),
        F.col("n2").alias("na"),
        _hamming1("bucket", n_bits),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("qvec").alias("qb"),
        F.col("n2").alias("nb"),
        F.col("bucket").alias("probe_bucket"),
    )
    return (
        a.join(b, ["probe_bucket"])
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("dot", V.qdot("qa", "qb"))
        .withColumn("cosine", V.cosine("dot", "na", "nb"))
        .where(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b", "cosine")
        .distinct()
    )


# --- Distributed k-means (iterative algorithm, Lloyd's) -----------------------
#: Embedding dimensionality of the fixture corpus.
EMBED_DIM = 64


def kmeans_embedding_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 5
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus — the canonical
    driver-coordinated iterative algorithm: per iteration one broadcast of
    the k×dim centroid table (tiny) into a narrow assignment pass, then
    one groupBy computing per-dimension means. Nothing but the k centroids
    ever reaches the driver, so the pattern is unchanged at 100 TB.

    Determinism discipline (same as functions.numeric): per-dimension
    means are exact decimal sums / counts, and argmin assignment breaks
    distance ties on centroid_id — so the final centroids are
    bit-identical at any partitioning (asserted in tests). Registered
    rows-only: an iterative fixpoint has no single-statement SQL oracle.

    Empty clusters keep their previous centroid. Initialization is the
    deterministic data-derived sample (every ``n/k``-th vector by id) —
    a plain modulo FILTER on ``vec_id``, fully parallel: no global
    ``Window.orderBy`` row_number (which would funnel the whole corpus
    through one task just to pick k seeds — a single-partition pass that
    kills at 10⁹ rows). Only ``count()`` (a distributed agg) and the k
    seed rows touch the driver.

    Output: one row per cluster — (cluster_id, n_points, inertia,
    centroid array<double>).
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")

    # Seed selection assumes a reasonably dense id space: every stride-th
    # vec_id. If ids are sparse/offset (fewer than k hits), widen to the
    # first k by id — still a filter + bounded limit, never a global
    # row_number over the corpus.
    stride = max(emb.count() // k, 1)
    init = (
        emb.where(F.col("vec_id") % F.lit(stride) == 0)
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    if len(init) < k:
        init = emb.orderBy("vec_id").limit(k).collect()
    assert len(init) == k, f"need >= {k} vectors to seed kmeans, got {len(init)}"
    centroids: list[list[float]] = [list(map(float, r.embedding)) for r in init]

    def assigned_df() -> DataFrame:
        # Row-local argmin against the broadcast one-row codebook array
        # (r11, the _rowlocal_assign/_assign shape): same
        # zip_with/aggregate distance fold as the previous
        # crossJoin+window form (bit-identical doubles), tie → min
        # cluster_id, but no |corpus|×k row explosion and no sort. The
        # codebook is already a driver list, so the one-row array frame
        # is built LOCALLY — no collect_list aggregation, and the plan
        # keeps its no-SinglePartition guarantee (test_plans.py).
        cents_row = spark.createDataFrame(
            [([(int(cid), [float(x) for x in c]) for cid, c in enumerate(centroids)],)],
            "cents array<struct<cluster_id:int,centroid:array<double>>>",
        )
        best = (
            "array_min(transform(cents, c -> struct("
            " aggregate(zip_with(embedding, c.centroid,"
            "   (a, b) -> (a - b) * (a - b)),"
            "   CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS dist,"
            " c.cluster_id AS cid)))"
        )
        return (
            emb.crossJoin(F.broadcast(cents_row))
            .select("vec_id", "embedding", F.expr(best).alias("b"))
            .select(
                "vec_id",
                "embedding",
                F.col("b.cid").alias("cluster_id"),
                F.col("b.dist").alias("dist"),
            )
        )

    for _ in range(iters):
        means = (
            assigned_df()
            .groupBy("cluster_id")
            .agg(
                *[
                    (
                        F.sum(F.col("embedding")[i].cast("decimal(38,12)")).cast(
                            "double"
                        )
                        / F.count("*")
                    ).alias(f"m{i}")
                    for i in range(EMBED_DIM)
                ]
            )
            .collect()
        )
        for r in means:  # clusters with no members keep their old centroid
            centroids[r.cluster_id] = [float(r[f"m{i}"]) for i in range(EMBED_DIM)]

    return (
        assigned_df()
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("dist").cast("decimal(38,12)")).cast("double").alias("inertia"),
        )
        .join(
            F.broadcast(
                spark.createDataFrame(
                    [(cid, c) for cid, c in enumerate(centroids)],
                    "cluster_id int, centroid array<double>",
                )
            ),
            "cluster_id",
        )
        .orderBy("cluster_id")
    )


def ann_ivf_kmeans_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, nprobe: int = 3,
    n_centroids: int | None = None, train_iters: int = 3,
) -> DataFrame:
    """IVF with TRAINED coarse centroids: Lloyd's k-means fits the
    codebook (see :func:`kmeans_embedding_centroids`), then the same IVF
    query as :func:`ann_ivf_topk`; the default codebook size
    (``corpus // CENTROID_MOD``) keeps the two variants directly
    comparable. Training touches only the k×dim codebook on the driver.

    Measured honestly on the synthetic fixture: recall is comparable to
    the sampled-seed variant (0.84 vs 0.92 at sf0.001 — the fixture's
    embeddings are uniform enough that spread sampled seeds are already
    near-optimal, and k-means' L2 cells vs cosine probing costs a few
    boundary neighbors). The trained path matters on real skewed corpora,
    where sampled seeds land in dense regions and leave sparse regions
    without nearby centroids; tests gate recall within a band of the
    sampled variant rather than claiming dominance.

    The quantized codebook is trained once per embeddings version and
    shape (:func:`~..tables.persisted`); later calls run the query alone.
    """

    def codebook() -> DataFrame:
        k_cents = n_centroids
        if k_cents is None:
            k_cents = max(load(spark, sf_dir, "embeddings").count() // CENTROID_MOD, 2)
        trained = kmeans_embedding_centroids(
            spark, sf_dir, k=k_cents, iters=train_iters
        ).select("cluster_id", "centroid").collect()
        return spark.createDataFrame(
            [(int(r.cluster_id), V.quantize_py(r.centroid)) for r in trained],
            "centroid_id int, c_qvec array<bigint>",
        )

    cents = persisted(
        spark,
        "ivf_kmeans_codebook",
        f"{sf_dir}/embeddings.parquet",
        (n_centroids, train_iters, CENTROID_MOD),
        codebook,
    ).withColumn("c_n2", V.qnorm2("c_qvec"))
    return _ivf_query(_quantized(spark, sf_dir), cents, k, nprobe)


def similar_documents_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval joined back to metadata: the brute-force top-k neighbors
    per query vector, enriched with the neighbor document's language and
    source (vec_id aligns with doc_id in the fixture). The document
    dimension broadcasts — the retrieval output gains no extra shuffle.
    The everyday RAG/inspection query over an embedding index."""
    topk = ann_topk_bruteforce(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("lang").alias("neighbor_lang"),
        F.col("source").alias("neighbor_source"),
    )
    return topk.join(F.broadcast(docs), "neighbor_id").select(
        "query_id", "neighbor_id", "cosine", "rank", "neighbor_lang", "neighbor_source"
    )


def _label_centroid_sums(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared exactness core of the label-centroid family: per-(label, pos)
    integer centroid SUMS (``cent``: label, pos, s) and per-label
    DECIMAL(38,0) squared norms (``ns2``: label, ns2).

    The integer-SUM centroid (never the rational mean — cosines agree
    identically) and the decimal norm accumulator are the two invariants
    BOTH :func:`embedding_outlier_scores` and
    :func:`centroid_pairwise_cosine` — and their DuckDB oracles
    (``_ORACLE_CENTROID_CTES``) — must share bit-for-bit; keeping them in
    one place keeps a future precision fix from drifting the twins apart.
    """
    pos = emb.select("label", F.posexplode(V.quantize("embedding")).alias("pos", "v"))
    cent = pos.groupBy("label", "pos").agg(F.sum("v").alias("s"))
    ns2 = cent.groupBy("label").agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("ns2")
    )
    return cent, ns2


#: DuckDB twin of :func:`_label_centroid_sums` — q/pos/cent/ns2 CTEs shared
#: by both centroid-family oracles (pos keeps vec_id for the outlier dots).
_ORACLE_CENTROID_CTES = """q AS (
  SELECT vec_id, label, {qv} AS qv FROM embeddings
), pos AS (
  SELECT vec_id, label, i, qv[i] AS v
  FROM q, LATERAL unnest(generate_series(1, len(qv))) t(i)
), cent AS (
  SELECT label, i, CAST(sum(v) AS BIGINT) AS s FROM pos GROUP BY 1, 2
), ns2 AS (
  SELECT label, sum(CAST(s AS DECIMAL(38,0)) * s) AS ns2 FROM cent GROUP BY 1
)"""


def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality gate: cosine of every vector to its label's
    centroid — the standard "flag mislabeled / low-quality embeddings"
    filter (low cosine = the vector sits far from its cluster's mass).

    Exactness discipline: vectors quantize once to int64
    (``functions.vectors``); the centroid is represented by the per-
    dimension integer SUM vector (never the rational mean), so
    ``cos(x, mean) == cos(x, sum)`` holds identically and every dot is an
    exact int64 (|v·s| ≤ 2^55 per term, ≤2^61 over 1024 dims). Only the
    centroid's squared norm needs the DECIMAL(38,0) accumulator (sums of
    ~2^64 products). Result: bit-identical doubles at any partitioning —
    SQL-oracled, unlike a float ``avg(array)`` centroid.

    Plan: one (label, dim) aggregation builds the k×d centroid table
    (map-side partials), re-assembled into k ordered arrays and BROADCAST;
    the scoring pass is then a row-local ``zip_with`` dot inside codegen —
    no shuffle of the vector table at all. At 100 TB of embeddings the
    only data-sized exchange is the centroid partial aggregation.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    q = emb.select("vec_id", "label", V.quantize("embedding").alias("qv"))
    cent, ns2 = _label_centroid_sums(emb)
    sv = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda x: x["s"]
        ).alias("sv")
    )
    dot_xs = F.expr(
        "aggregate(zip_with(qv, sv, (x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    return (
        q.join(F.broadcast(sv), "label")
        .join(F.broadcast(ns2), "label")
        .select(
            "vec_id",
            "label",
            F.when(
                (V.qnorm2("qv") > 0) & (F.col("ns2") > 0),
                dot_xs.cast("double")
                / (
                    F.sqrt(V.qnorm2("qv").cast("double"))
                    * F.sqrt(F.col("ns2").cast("double"))
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("cos_centroid"),
        )
    )


def oracle_embedding_outliers() -> str:
    """DuckDB twin of :func:`embedding_outlier_scores` — identical integer
    centroid-sum formulation over the unnested quantized vectors."""
    ctes = _ORACLE_CENTROID_CTES.format(qv=V.oracle_quantize("embedding"))
    return f"""WITH {ctes}, dots AS (
  SELECT p.vec_id, p.label,
         CAST(sum(p.v * c.s) AS BIGINT) AS dot_xs,
         CAST(sum(p.v * p.v) AS BIGINT) AS nx2
  FROM pos p JOIN cent c USING (label, i) GROUP BY 1, 2
)
SELECT d.vec_id, d.label,
       CASE WHEN nx2 > 0 AND ns2 > 0
            THEN CAST(dot_xs AS DOUBLE) / (sqrt(CAST(nx2 AS DOUBLE)) * sqrt(CAST(ns2 AS DOUBLE)))
            ELSE 0.0 END
         AS cos_centroid
FROM dots d JOIN ns2 USING (label)"""


def centroid_pairwise_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the
    cluster-geometry report behind mixture design and label-quality
    review (two labels whose centroids sit at cosine ≈ 1 are candidates
    for merging; a label near-orthogonal to all others is isolated).

    Exactness discipline (same as :func:`embedding_outlier_scores`): the
    centroid is the per-dimension integer SUM vector of the 2^20-quantized
    components, never the rational mean — cos(mean_a, mean_b) ==
    cos(sum_a, sum_b) identically. Sums of sums overflow int64
    (|s| ≤ n·2²³, so |s_a·s_b| can pass 2⁶³ already at ~2²⁰ vectors per
    label), so BOTH the pairwise dot and the squared norms accumulate in
    DECIMAL(38,0); the int64 fast path is only safe for the per-dimension
    sums themselves (holds to ~2⁴⁰ vectors/label — beyond any real corpus).

    Plan: one (label, pos) aggregation with map-side partials is the only
    exchange that sees data-sized input; the pairwise stage self-joins the
    k·d centroid table on ``pos`` (output k²·d rows, independent of corpus
    size) and reduces to k² scalars. Nothing here grows with row count, so
    the shape is unchanged at 100 TB.

    The reference has no vector surface (north-star extension).
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    cent, ns2 = _label_centroid_sums(emb)
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(b, "pos")
        .where(F.col("a.label") < F.col("b.label"))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(
            F.sum(F.col("a.s").cast("decimal(38,0)") * F.col("b.s")).alias("dot_ab")
        )
    )
    na = ns2.select(F.col("label").alias("label_a"), F.col("ns2").alias("na2"))
    nb = ns2.select(F.col("label").alias("label_b"), F.col("ns2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.when(
                (F.col("na2") > 0) & (F.col("nb2") > 0),
                F.col("dot_ab").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("cos_centroids"),
        )
    )


def oracle_centroid_pairwise_cosine() -> str:
    """DuckDB twin of :func:`centroid_pairwise_cosine` — the shared
    centroid CTEs plus DECIMAL(38,0) pairwise accumulators."""
    ctes = _ORACLE_CENTROID_CTES.format(qv=V.oracle_quantize("embedding"))
    return f"""WITH {ctes}, dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(CAST(a.s AS DECIMAL(38,0)) * b.s) AS dot_ab
  FROM cent a JOIN cent b USING (i)
  WHERE a.label < b.label GROUP BY 1, 2
)
SELECT label_a, label_b,
       CASE WHEN na.ns2 > 0 AND nb.ns2 > 0
            THEN CAST(dot_ab AS DOUBLE)
                 / (sqrt(CAST(na.ns2 AS DOUBLE)) * sqrt(CAST(nb.ns2 AS DOUBLE)))
            ELSE 0.0 END
         AS cos_centroids
FROM dots
JOIN ns2 na ON na.label = dots.label_a
JOIN ns2 nb ON nb.label = dots.label_b"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution profile of the embedding corpus — the
    feature-normalization / dead-dimension audit every embedding pipeline
    runs before training or indexing (a dimension with ~zero variance is
    wasted index width; a wildly off-center one breaks cosine pruning).

    Output: (dim, n_vecs, sum_q, min_q, max_q, n_pos) over the fixed-point
    quantized components — ALL exact int64, so the check is bit-exact and
    the aggregation is order-independent by construction (no float sums).

    Plan: one ``posexplode`` + one groupBy(dim) — the shuffle key is the
    dimension index (uniform, cardinality = vector width), and partial
    aggregation reduces map output to O(width) per task regardless of
    corpus size. At 100 TB this is a single pass with O(width) state.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", V.quantize("embedding").alias("qvec")
    )
    return (
        emb.select(F.posexplode("qvec").alias("dim", "q"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("q").alias("sum_q"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
            F.sum(F.when(F.col("q") > 0, 1).otherwise(0)).alias("n_pos"),
        )
    )


def oracle_embedding_dim_stats() -> str:
    qv = V.oracle_quantize("embedding")
    return f"""WITH e AS (SELECT vec_id, {qv} AS qv FROM embeddings),
x AS (
  SELECT unnest(list_zip(qv, generate_series(0, len(qv) - 1))) AS z
  FROM e)
SELECT CAST(z[2] AS INTEGER) AS dim,
       count(*) AS n_vecs,
       CAST(sum(z[1]) AS BIGINT) AS sum_q,
       min(z[1]) AS min_q,
       max(z[1]) AS max_q,
       CAST(sum(CASE WHEN z[1] > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
FROM x GROUP BY 1"""


def embedding_top_component(
    spark: SparkSession, sf_dir: str, iters: int = 8
) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding
    second-moment matrix via distributed power iteration — the first step
    of PCA whitening / spectral outlier screening on an embedding corpus.

    Output: (dim int, component double, eigenvalue double) — the unit
    dominant eigenvector of X'X (over the fixed-point components) and its
    Rayleigh-quotient eigenvalue, both deterministic at any parallelism.

    Plan per iteration (the only data-sized work): the current d-vector
    ships as a broadcast ONE-ROW frame (not a literal — a literal array
    changes the generated code every iteration and the whole-stage
    codegen recompile, ~0.5-1 s/iteration, would dominate small runs;
    the crossJoin keeps one compiled plan for every iteration), one scan
    computing s_i = x_i·v row-local, then posexplode(x_i · s_i) →
    groupBy(dim) decimal-sum — shuffle state is O(d), driver traffic is
    d doubles/iteration. The corpus frame is spread + cached once;
    iterations re-use it. At 100 TB this is the classic
    one-pass-per-iteration distributed power method: no d×d matrix is
    ever materialized, so width can grow to 10⁴+ without memory pressure.
    Determinism: per-dim sums go through DECIMAL(38,6) accumulation
    (functions.numeric convention); driver-side normalization is plain
    IEEE on identical doubles — bit-identical under repartitioning
    (test-gated).
    """
    import math

    from ..tables import spread

    emb = (
        spread(load(spark, sf_dir, "embeddings"))
        .select(V.quantize("embedding").alias("qvec"))
        .persist()
    )
    try:
        d = len(emb.first().qvec)
        v = [1.0 / math.sqrt(d)] * d
        eigenvalue = 0.0
        s = F.expr(
            "aggregate(zip_with(qvec, v, (q, c) -> CAST(q AS DOUBLE) * c), "
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        )
        for _ in range(iters):
            v_df = spark.createDataFrame([(v,)], "v array<double>")
            sums = (
                emb.crossJoin(F.broadcast(v_df))
                .select(F.posexplode(F.expr("transform(qvec, q -> CAST(q AS DOUBLE))")).alias("dim", "x"), s.alias("s"))
                .groupBy("dim")
                .agg(F.sum((F.col("x") * F.col("s")).cast("decimal(38,6)")).cast("double").alias("w"))
                .collect()
            )
            w = [0.0] * d
            for r in sums:
                w[r.dim] = r.w
            # Rayleigh quotient λ = v·(X'X v) = v·w (before normalization)
            eigenvalue = sum(vi * wi for vi, wi in zip(v, w))
            norm = math.sqrt(sum(x * x for x in w))
            v = [x / norm for x in w]
    finally:
        emb.unpersist()
    return spark.createDataFrame(
        [(i, v[i], eigenvalue) for i in range(d)],
        "dim int, component double, eigenvalue double",
    )


def semantic_components(
    spark: SparkSession, sf_dir: str, threshold: float = 0.45
) -> DataFrame:
    """Semantic duplicate clusters (the SemDeDup shape: Abbas et al. 2023):
    embedding-cosine near-dup PAIRS → transitive closure → one component
    label per clustered vector — exactly the pairs→clusters step the
    textual dedup family runs, but over the embedding metric, so
    paraphrases and near-translations cluster even when they share no
    n-grams.

    Output: (vec_id, component_id), component_id = min vec_id reachable.

    The edge set is the SQL-oracled exact :func:`embedding_neardup_pairs`
    (fixed-point int64 cosines), so the whole chain — pairs → clusters —
    is differential-testable end to end; at 100 TB the edge stage swaps
    for the LSH-bucketed twin (`embedding_neardup_pairs_lsh`) with the
    identical downstream. Clustering is the shared driver-coordinated
    min-label propagation (O(diameter) rounds, one node-keyed shuffle per
    round).
    """
    from .dedup import connected_components

    edges = embedding_neardup_pairs(spark, sf_dir, threshold=threshold).select(
        F.col("vec_id_a").alias("doc_a"), F.col("vec_id_b").alias("doc_b")
    )
    return connected_components(edges).select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )


def embedding_top_subspace(
    spark: SparkSession, sf_dir: str, r: int = 4, iters: int = 12
) -> DataFrame:
    """Top-``r`` principal subspace of the uncentered embedding
    second-moment matrix via distributed BLOCK power iteration
    (orthogonal iteration): the multi-component generalization of
    :func:`embedding_top_component`, and the actual PCA front-end — rank-r
    whitening, spectral screening, low-rank compression all start here.

    Output: (dim int, component_idx int, value double, eigenvalue double)
    — r orthonormal columns (component_idx 0..r-1, ordered by descending
    Rayleigh eigenvalue) in long form.

    Plan per iteration: the current d×r block ships as a broadcast
    ONE-ROW frame of r array columns (plan shape fixed ⇒ whole-stage
    codegen compiled once, same lesson as the single-vector op); one
    cached-corpus pass computes all r row-local projections s_j = x·v_j,
    then a single posexplode + groupBy(dim) with r decimal-sum aggregates
    yields W = X'X·V in one shuffle of O(d) state; the d×r QR
    re-orthogonalization runs on the driver in numpy (d×r doubles — tiny).
    At 100 TB: one corpus pass per iteration, driver traffic d×r doubles,
    no d×d matrix ever forms. Determinism: decimal sums + a sign
    convention on Q's columns (largest-|component| entry positive) make
    the output bit-identical under any partitioning.
    """
    import math

    import numpy as np

    from ..tables import spread

    emb = (
        spread(load(spark, sf_dir, "embeddings"))
        .select(V.quantize("embedding").alias("qvec"))
        .persist()
    )
    try:
        d = len(emb.first().qvec)
        assert r <= d, f"r={r} exceeds vector width {d}"
        # deterministic orthonormal init: identity columns
        Vm = np.zeros((d, r))
        for j in range(r):
            Vm[j, j] = 1.0
        eigs = [0.0] * r
        s_cols = [
            F.expr(
                f"aggregate(zip_with(qvec, v{j}, (q, c) -> CAST(q AS DOUBLE) * c), "
                "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            ).alias(f"s{j}")
            for j in range(r)
        ]
        for _ in range(iters):
            v_df = spark.createDataFrame(
                [tuple([list(map(float, Vm[:, j])) for j in range(r)])],
                ", ".join(f"v{j} array<double>" for j in range(r)),
            )
            sums = (
                emb.crossJoin(F.broadcast(v_df))
                .select(
                    F.posexplode(
                        F.expr("transform(qvec, q -> CAST(q AS DOUBLE))")
                    ).alias("dim", "x"),
                    *s_cols,
                )
                .groupBy("dim")
                .agg(
                    *[
                        F.sum((F.col("x") * F.col(f"s{j}")).cast("decimal(38,6)"))
                        .cast("double")
                        .alias(f"w{j}")
                        for j in range(r)
                    ]
                )
                .collect()
            )
            W = np.zeros((d, r))
            for row in sums:
                for j in range(r):
                    W[row.dim, j] = row[f"w{j}"]
            # Rayleigh eigenvalues BEFORE re-orthogonalization: λ_j = v_j·w_j
            eigs = [float(Vm[:, j] @ W[:, j]) for j in range(r)]
            Q, _ = np.linalg.qr(W)
            # sign convention: make each column's largest-|entry| positive
            for j in range(r):
                i = int(np.argmax(np.abs(Q[:, j])))
                if Q[i, j] < 0:
                    Q[:, j] = -Q[:, j]
            Vm = Q
    finally:
        emb.unpersist()
    order = sorted(range(r), key=lambda j: -eigs[j])
    rows = [
        (i, rank, float(Vm[i, j]), float(eigs[j]))
        for rank, j in enumerate(order)
        for i in range(d)
    ]
    return spark.createDataFrame(
        rows, "dim int, component_idx int, value double, eigenvalue double"
    )


def embedding_subspace_projection(
    spark: SparkSession, sf_dir: str, r: int = 4, iters: int = 12
) -> DataFrame:
    """Rank-r PCA projection of the embedding corpus — the consumer of
    :func:`embedding_top_subspace`: every vector reduced to its r
    coordinates in the dominant principal subspace (low-rank compression,
    visualization, spectral outlier screening).

    Output: (vec_id, proj_0 .. proj_{r-1}) — scalar doubles, one row per
    vector, coordinates ordered by descending eigenvalue.

    Plan: the subspace fit runs first (one pass per iteration, O(d·r)
    state); the projection pass is then a single scan with r row-local
    zip_with dot products against the broadcast basis — no shuffle at
    all, so the reduction step costs one corpus read at any scale.
    Deterministic: the basis is bit-deterministic (sign convention +
    decimal sums) and each coordinate is one IEEE dot on identical
    doubles.
    """
    comp = embedding_top_subspace(spark, sf_dir, r=r, iters=iters).collect()
    basis: dict[int, dict[int, float]] = {}
    for row in comp:
        basis.setdefault(row.component_idx, {})[row.dim] = row.value
    d = max(max(c) for c in basis.values()) + 1
    v_df = spark.createDataFrame(
        [tuple([[basis[j][i] for i in range(d)] for j in range(r)])],
        ", ".join(f"v{j} array<double>" for j in range(r)),
    )
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", V.quantize("embedding").alias("qvec")
    )
    projs = [
        F.expr(
            f"aggregate(zip_with(qvec, v{j}, (q, c) -> CAST(q AS DOUBLE) * c), "
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias(f"proj_{j}")
        for j in range(r)
    ]
    return emb.crossJoin(F.broadcast(v_df)).select("vec_id", *projs)


# --- Binary (sign-bit) embedding compression ---------------------------------
def _sign_sketch(col: str) -> list[F.Column]:
    """Pack sign bits of an embedding into two 32-bit words held in
    bigints: ``sk_lo`` = dims 1–32, ``sk_hi`` = dims 33–64. Bit i is set
    iff the raw float component is > 0 — a pure sign test, so the packing
    is exact in every engine (no shift ever reaches bit 63, which would
    overflow a signed int64 left shift in ANSI mode / DuckDB).
    """
    word = (
        "aggregate(transform(slice({c}, {off}, 32),"
        " (x, i) -> IF(x > CAST(0 AS FLOAT),"
        "   shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (acc, v) -> acc | v)"
    )
    return [
        F.expr(word.format(c=col, off=1)).alias("sk_lo"),
        F.expr(word.format(c=col, off=33)).alias("sk_hi"),
    ]


def ann_topk_hamming(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Binary-compressed ANN: top-k neighbors by Hamming distance between
    1-bit sign sketches of the embeddings — the most aggressive
    compression leg of the ANN family (64 dims → 8 bytes, 32× smaller
    than the float32 corpus and 8× smaller than the int8 path; the scan
    is pure integer XOR/POPCNT inside whole-stage codegen).

    Unlike the random-hyperplane ``ann_lsh_topk`` (engine-seeded hashes →
    rows-only), the sign sketch is a DETERMINISTIC function of the data
    (bit i = embedding[i] > 0), and the distance is integer, so ranking
    (hamming ASC, neighbor_id) is exactly reproducible and the operator
    is SQL-oracled. Recall vs the exact cosine baseline is asserted in
    tests/test_similarity.py.

    Output: (query_id, neighbor_id, hamming, rank), rank 1..k.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", *_sign_sketch("embedding")
    )
    q = emb.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("sk_lo").alias("q_lo"),
        F.col("sk_hi").alias("q_hi"),
    )
    ham = (
        F.bit_count(F.expr("sk_lo ^ q_lo")) + F.bit_count(F.expr("sk_hi ^ q_hi"))
    ).cast("int")
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming")
    )
    return _topk(scored, k, "hamming", "neighbor_id").select(
        "query_id", "neighbor_id", "hamming", "rank"
    )


def oracle_ann_topk_hamming(k: int = 10, query_mod: int = QUERY_MOD) -> str:
    """DuckDB twin of :func:`ann_topk_hamming` — the same two-word sign
    packing via a generate_series unnest + bit_or."""
    sk = """SELECT vec_id,
  bit_or(CASE WHEN embedding[i] > 0
              THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)
    AS sk_lo,
  bit_or(CASE WHEN embedding[i + 32] > 0
              THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)
    AS sk_hi
FROM embeddings, LATERAL unnest(generate_series(1, 32)) t(i)
GROUP BY vec_id"""
    return f"""WITH sk AS ({sk}),
q AS (SELECT vec_id AS query_id, sk_lo AS q_lo, sk_hi AS q_hi
      FROM sk WHERE vec_id % {query_mod} = 0),
d AS (
  SELECT query_id, vec_id AS neighbor_id,
         CAST(bit_count(xor(sk_lo, q_lo)) + bit_count(xor(sk_hi, q_hi))
              AS INTEGER) AS hamming
  FROM sk CROSS JOIN q WHERE vec_id <> query_id)
SELECT query_id, neighbor_id, hamming,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, neighbor_id) AS INTEGER) AS rank
FROM d QUALIFY rank <= {k}"""


def ann_hamming_rerank_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, shortlist: int = 50
) -> DataFrame:
    """Two-stage ANN: sign-sketch Hamming SHORTLIST → exact-cosine
    re-rank — the production layout of binary-compressed retrieval (the
    ANN analogue of dedup's LSH → exact-verify). Per query the float
    work drops from |corpus| to ``shortlist`` dot products, while recall
    vs the exact baseline recovers most of what the 1-bit sketch loses
    (band-tested in tests/test_similarity.py / test_round4e_ops.py).

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    """
    cand = ann_topk_hamming(spark, sf_dir, k=shortlist).select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    return _rerank(_quantized(spark, sf_dir), cand, k)


def oracle_ann_hamming_rerank(k: int = 10, shortlist: int = 50) -> str:
    """DuckDB twin of :func:`ann_hamming_rerank_topk` — the Hamming
    oracle as the shortlist CTE, re-scored with the exact fixed-point
    cosine. ``{norms}`` / ``{qdot}`` / ``{cos}`` are spliced by the
    registry, which owns those shared SQL fragments."""
    ham = oracle_ann_topk_hamming(k=shortlist)
    return f"""WITH cand AS ({ham}),
{{norms}},
p AS (SELECT c.query_id, c.neighbor_id,
             unnest(list_zip(eq.qv, en.qv)) AS z
      FROM cand c
      JOIN e eq ON eq.vec_id = c.query_id
      JOIN e en ON en.vec_id = c.neighbor_id),
d AS (SELECT query_id, neighbor_id, {{qdot}} AS dot
      FROM p GROUP BY 1, 2),
s AS (SELECT d.query_id, d.neighbor_id, {{cos}} AS cosine
      FROM d
      JOIN n nq ON nq.vec_id = d.query_id
      JOIN n nn ON nn.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INTEGER)
         AS rank
FROM s QUALIFY rank <= {k}"""


# --- Product quantization (PQ) ANN -------------------------------------------
#: PQ geometry: M subspaces of (dim / M) components each.
PQ_M = 8

#: Every PQ_SEED_MOD-th corpus vector donates its subvectors as codewords
#: (deterministic, data-derived — same convention as the IVF centroids).
PQ_SEED_MOD = 50


def _subvectors(df: DataFrame, vec: str, out: str, *keep) -> DataFrame:
    """One row per PQ subspace m: (*keep, m, out = the m-th of the PQ_M
    equal slices of ``vec``)."""
    width = f"size({vec}) div {PQ_M}"
    return df.select(
        *keep, F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"), vec
    ).select(*keep, "m", F.expr(f"slice({vec}, m * ({width}) + 1, {width})").alias(out))


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """Per-subspace codebook: one row per subspace m holding a sorted
    array of (cid, cw, cwn2) structs — broadcast-joined to the encoding
    stage. cid = donor vec_id; cw = the donor's quantized subvector."""
    seeds = emb.where(F.col("vec_id") % PQ_SEED_MOD == 0).select(
        F.col("vec_id").alias("cid"), "qvec"
    )
    sub = _subvectors(seeds, "qvec", "cw", "cid").withColumn("cwn2", V.qdot("cw", "cw"))
    return sub.groupBy("m").agg(
        F.sort_array(F.collect_list(F.struct("cid", "cw", "cwn2"))).alias("cbook")
    )


def _pq_encode(db: DataFrame, cb: DataFrame, *keep) -> DataFrame:
    """(*keep, m, cw, cwn2): each vector's nearest codeword per subspace —
    the integer L2 argmin of (c·c − 2·x_m·c), min-cid tie-break."""
    best = F.expr(
        "array_min(transform(cbook, c -> struct("
        " c.cwn2 - 2 * aggregate(zip_with(xm, c.cw, (x, y) -> x * y),"
        "   CAST(0 AS BIGINT), (acc, v) -> acc + v) AS cost,"
        " c.cid AS cid, c.cw AS cw, c.cwn2 AS cwn2)))"
    )
    return (
        _subvectors(db, "qvec", "xm", *keep)
        .join(F.broadcast(cb), "m")
        .select(*keep, "m", best.alias("b"))
        .select(*keep, "m", "b.cw", "b.cwn2")
    )


def _adc(pairs: DataFrame) -> DataFrame:
    """Asymmetric distance per (query_id, vec_id) from per-subspace
    (qm, cw, cwn2, q_n2) rows: the query's subvectors dotted with the
    reconstructed vector, whose squared norm is Σ cwn2 — approx_cosine."""
    return (
        pairs.where(F.col("vec_id") != F.col("query_id"))
        .withColumn("d", V.qdot("qm", "cw"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum("d").alias("adc_dot"),
            F.sum("cwn2").alias("r_n2"),
            F.first("q_n2").alias("q_n2"),
        )
        .withColumn("approx_cosine", V.cosine("adc_dot", "q_n2", "r_n2"))
    )


def ann_topk_pq(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Product-quantization ANN: each vector is encoded as ``PQ_M`` small
    codes and queries score candidates by ASYMMETRIC DISTANCE — the
    full-precision query against the reconstructed (codeword) vector.
    The fourth leg of the compression family: float (exact) → int8
    (1 B/dim) → PQ (M codes/vector) → 1-bit sign sketch; at 100 TB the
    code table plus the MB-scale codebook replace the raw corpus in the
    scan. Exact integer arithmetic throughout, so it is SQL-oracled
    (codebook selection included); recall is band-tested.

    Output: (query_id, neighbor_id, approx_cosine, rank), rank 1..k.
    """
    emb = _quantized(spark, sf_dir)
    enc = _pq_encode(emb, _pq_codebook(emb), "vec_id")
    q_sub = _subvectors(query_set(emb), "q_qvec", "qm", "query_id", "q_n2")
    return _ranked(_adc(enc.join(F.broadcast(q_sub), "m")), k, "approx_cosine")


def oracle_ann_topk_pq(k: int = 10) -> str:
    """DuckDB twin of :func:`ann_topk_pq` — identical codebook selection,
    integer argmin encoding, and ADC scoring. ``{norms}`` is the shared
    quantize CTE fragment spliced by the registry."""
    dp = f"(len(qv) // {PQ_M})"
    return f"""WITH {{norms}},
ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
sub AS (
  SELECT e.vec_id, ms.m, e.qv[ms.m * {dp} + 1 : (ms.m + 1) * {dp}] AS xm
  FROM e CROSS JOIN ms),
cw AS (
  SELECT s.vec_id AS cid, s.m, s.xm AS cw
  FROM sub s WHERE s.vec_id % {PQ_SEED_MOD} = 0),
cwn AS (
  SELECT cid, m, cw,
         (SELECT COALESCE(sum(z[1] * z[2]), 0)
          FROM unnest(list_zip(cw, cw)) t(z)) AS cwn2
  FROM cw),
cost AS (
  SELECT s.vec_id, s.m, c.cid, c.cw, c.cwn2,
         c.cwn2 - 2 * (SELECT COALESCE(sum(z[1] * z[2]), 0)
                       FROM unnest(list_zip(s.xm, c.cw)) t(z)) AS cost
  FROM sub s JOIN cwn c ON c.m = s.m),
enc AS (
  SELECT vec_id, m, cw, cwn2
  FROM cost
  QUALIFY row_number() OVER (PARTITION BY vec_id, m
                             ORDER BY cost, cid) = 1),
qsub AS (
  SELECT s.vec_id AS query_id, n.n2 AS q_n2, s.m, s.xm AS qm
  FROM sub s JOIN n ON n.vec_id = s.vec_id
  WHERE s.vec_id % {QUERY_MOD} = 0),
pd AS (
  SELECT q.query_id, e.vec_id, q.q_n2, e.cwn2,
         (SELECT COALESCE(sum(z[1] * z[2]), 0)
          FROM unnest(list_zip(q.qm, e.cw)) t(z)) AS d
  FROM enc e JOIN qsub q ON q.m = e.m AND e.vec_id <> q.query_id),
sc AS (
  SELECT query_id, vec_id, sum(d) AS adc_dot, sum(cwn2) AS r_n2,
         any_value(q_n2) AS q_n2
  FROM pd GROUP BY 1, 2),
cs AS (
  SELECT query_id, vec_id AS neighbor_id,
         CASE WHEN q_n2 > 0 AND r_n2 > 0
              THEN CAST(adc_dot AS DOUBLE)
                   / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(r_n2 AS DOUBLE)))
              ELSE 0.0 END
           AS approx_cosine
  FROM sc)
SELECT query_id, neighbor_id, approx_cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_cosine DESC, neighbor_id)
            AS INTEGER) AS rank
FROM cs QUALIFY rank <= {k}"""


def retrieval_eval_report(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Sparse-vs-dense retrieval agreement report: for every query doc
    served by BOTH retrievers (vec_id aligns with doc_id in the fixture),
    compare the BM25 shingle top-k against the exact-cosine embedding
    top-k — overlap count and Jaccard of the two neighbor sets. The
    everyday retrieval-QA question ("do my lexical and vector indexes
    agree, and where?") expressed as one query; low-agreement queries are
    exactly the ones worth routing to a hybrid retriever.

    Both inputs are deterministic SQL-oracled operators, and the report
    is pure integer set arithmetic on their outputs (counts + one exact
    division), so the composition stays hash-gated end to end.

    Output: (query_id, n_sparse, n_dense, n_overlap, jaccard).
    """
    from .text import bm25_topk

    sparse = (
        bm25_topk(spark, sf_dir, k=k)
        .where(F.col("query_id") % QUERY_MOD == 0)
        .select("query_id", F.col("doc_id").alias("neighbor_id"))
    )
    dense = ann_topk_bruteforce(spark, sf_dir, k=k).select(
        "query_id", "neighbor_id"
    )
    ns = sparse.groupBy("query_id").agg(F.count("*").alias("n_sparse"))
    nd = dense.groupBy("query_id").agg(F.count("*").alias("n_dense"))
    nov = (
        sparse.join(dense, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    out = (
        ns.join(nd, "query_id")
        .join(nov, "query_id", "left")
        .select(
            "query_id",
            "n_sparse",
            "n_dense",
            F.coalesce("n_overlap", F.lit(0).cast("bigint")).alias("n_overlap"),
        )
    )
    return out.select(
        "query_id",
        "n_sparse",
        "n_dense",
        "n_overlap",
        (
            F.col("n_overlap").cast("double")
            / (F.col("n_sparse") + F.col("n_dense") - F.col("n_overlap")).cast(
                "double"
            )
        ).alias("jaccard"),
    )


def oracle_retrieval_eval(bm25_sql: str, dense_sql: str, query_mod: int = QUERY_MOD) -> str:
    """DuckDB twin of :func:`retrieval_eval_report` — both retriever
    oracles as CTE inputs, then the identical integer set arithmetic."""
    return f"""WITH sparse_full AS ({bm25_sql}),
dense AS ({dense_sql}),
sparse AS (
  SELECT query_id, doc_id AS neighbor_id FROM sparse_full
  WHERE query_id % {query_mod} = 0),
ns AS (SELECT query_id, count(*) AS n_sparse FROM sparse GROUP BY 1),
nd AS (SELECT query_id, count(*) AS n_dense FROM dense GROUP BY 1),
nov AS (
  SELECT s.query_id, count(*) AS n_overlap
  FROM sparse s JOIN dense d
    ON d.query_id = s.query_id AND d.neighbor_id = s.neighbor_id
  GROUP BY 1)
SELECT ns.query_id, ns.n_sparse, nd.n_dense,
       COALESCE(nov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
       CAST(COALESCE(nov.n_overlap, 0) AS DOUBLE)
         / CAST(ns.n_sparse + nd.n_dense - COALESCE(nov.n_overlap, 0) AS DOUBLE)
         AS jaccard
FROM ns JOIN nd ON nd.query_id = ns.query_id
LEFT JOIN nov ON nov.query_id = ns.query_id"""


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str, k: int = 10, c: int = 60) -> DataFrame:
    """Hybrid retrieval via RECIPROCAL RANK FUSION: merge the BM25
    shingle ranking and the exact-cosine dense ranking with
    ``score = Σ 1/(c + rank)`` (Cormack et al.'s standard c = 60) and
    return the fused top-k per shared query. RRF is the production
    default for hybrid search precisely because it never compares raw
    scores across retrievers — only INTEGER ranks enter the formula, so
    the fusion is scale-free and, here, exactly reproducible: each
    1/(c+rank) is one IEEE divide of small integers, summed through the
    DECIMAL(38,12) accumulator; ties break (n_lists DESC, doc_id).

    Output: (query_id, doc_id, n_lists, rrf_score, rank), rank 1..k.
    """
    from .text import bm25_topk

    sparse = (
        bm25_topk(spark, sf_dir, k=k)
        .where(F.col("query_id") % QUERY_MOD == 0)
        .select("query_id", "doc_id", "rank")
    )
    dense = ann_topk_bruteforce(spark, sf_dir, k=k).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    contrib = F.lit(1.0).cast("double") / (F.lit(c) + F.col("rank")).cast("double")
    fused = sparse.union(dense).groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_lists"),
        F.sum(contrib.cast("decimal(38,12)")).cast("double").alias("rrf_score"),
    )
    return _topk(fused, k, F.desc("rrf_score"), F.desc("n_lists"), "doc_id").select(
        "query_id", "doc_id", "n_lists", "rrf_score", "rank"
    )


def oracle_hybrid_rrf(bm25_sql: str, dense_sql: str, k: int = 10, c: int = 60,
                      query_mod: int = QUERY_MOD) -> str:
    """DuckDB twin of :func:`hybrid_rrf_topk`."""
    return f"""WITH sparse_full AS ({bm25_sql}),
dense_full AS ({dense_sql}),
both_lists AS (
  SELECT query_id, doc_id, rank FROM sparse_full
  WHERE query_id % {query_mod} = 0
  UNION ALL
  SELECT query_id, neighbor_id AS doc_id, rank FROM dense_full),
fused AS (
  SELECT query_id, doc_id, count(*) AS n_lists,
         {oracle_dsum12(f"CAST(1 AS DOUBLE) / CAST({c} + rank AS DOUBLE)")}
           AS rrf_score
  FROM both_lists GROUP BY 1, 2)
SELECT query_id, doc_id, n_lists, rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_score DESC, n_lists DESC, doc_id) AS INTEGER) AS rank
FROM fused QUALIFY rank <= {k}"""


# --- Exact (SQL-oracled) k-means ---------------------------------------------
def kmeans_exact_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> DataFrame:
    """Lloyd's k-means made EXACT — and therefore SQL-oracled, which
    float k-means cannot be: every iteration's state is the integer pair
    (S_c = Σx, n_c) per centroid instead of the float mean, so the
    assignment argmin compares d_c = (‖S_c‖² − 2·(x·S_c)·n_c) / n_c²
    with an exact DECIMAL(38,0) numerator (order-independent at any
    partitioning) and one correctly-rounded double division — identical
    in every engine — with a min-cid tie-break. Seeds are the k smallest
    vec_ids (a global top-k, TakeOrderedAndProject at scale). Empty
    clusters carry their previous state forward. The oracle unrolls the
    same ``iters`` iterations as chained CTEs with the identical
    arithmetic — the same discipline that made PageRank oracle-able.

    Per iteration: the centroid state is ONE broadcast row of k (cid, S,
    n, ‖S‖²) structs (argmin runs inside higher-order functions — no
    shuffle on the score side), then one posexplode + (cid, pos) sum for
    the update. Scale: k·dim integers of state, one corpus scan + one
    keyed sum per iteration — the same shape as the float version, with
    bit-exact semantics.

    Output: (cid, pos, mean, n) — the final centroids long-form (pos is
    1-based), driver-hashable scalars only.
    """
    cent = _kmeans_exact_state(spark, sf_dir, k=k, iters=iters)
    return cent.select(
        "cid", "n", F.posexplode("S").alias("pos0", "s")
    ).select(
        "cid",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        "n",
    )


#: The exact k-means cost of every cell of a broadcast (cid, S, n, s2)
#: codebook row for the vector column {v}, as (v, cid) structs:
#: d_c = (‖S_c‖² − 2·(x·S_c)·n_c) / n_c², exact DECIMAL(38,0) numerator.
_KMEANS_COSTS = (
    "transform(cents, c -> struct("
    " CAST(c.s2 - 2 * aggregate(zip_with({v}, c.S,"
    "        (a, b) -> CAST(a AS DECIMAL(38,0)) * b),"
    "      CAST(0 AS DECIMAL(38,0)), (acc, t) -> acc + t) * c.n"
    "      AS DOUBLE)"
    "   / CAST(c.n * c.n AS DOUBLE) AS v,"
    " c.cid AS cid))"
)


def _assign(emb: DataFrame, cents_row: DataFrame) -> DataFrame:
    """``emb`` plus ``bucket``: each vector's exact-k-means cell (min cost,
    tie → min cid), computed row-locally against the broadcast row."""
    argmin = F.expr(f"array_min({_KMEANS_COSTS.format(v='qvec')}).cid")
    return emb.crossJoin(F.broadcast(cents_row)).select(*emb.columns, argmin.alias("bucket"))


def _probe(emb: DataFrame, cents_row: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, q_qvec, q_n2, bucket) for each query's ``nprobe``
    nearest exact-k-means cells — the same cost as :func:`_assign`."""
    costs = (
        query_set(emb)
        .crossJoin(F.broadcast(cents_row))
        .select(
            "query_id", "q_qvec", "q_n2",
            F.explode(F.expr(_KMEANS_COSTS.format(v="q_qvec"))).alias("p"),
        )
        .select("query_id", "q_qvec", "q_n2", "p.*")
    )
    return _topk(costs, nprobe, "v", "cid").select(
        "query_id", "q_qvec", "q_n2", F.col("cid").alias("bucket")
    )


def _kmeans_exact_state(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> DataFrame:
    """The exact k-means fixpoint's internal state: one row per centroid,
    (cid, S = Σx int vector, n, s2 = ‖S‖² decimal) — see
    :func:`kmeans_exact_centroids` for the exactness argument."""
    emb = _quantized(spark, sf_dir)
    cent = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("qvec").alias("S"),
            F.lit(1).cast("bigint").alias("n"),
            F.col("n2").cast("decimal(38,0)").alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        asg = _assign(emb, _cents_row(cent)).withColumnRenamed("bucket", "cid")
        # n_c rides the (cid, pos) aggregation instead of a second
        # aggregate over `asg` (r10 optimization): every vector emits
        # every pos, so count(*) within any (cid, pos) group IS the
        # cluster population — the previous separate count leg re-ran
        # the whole map-side assignment pass (crossJoin + argmin, the
        # expensive stage) a second time per iteration and paid a join
        # to glue n back on. One corpus pass per iteration now.
        sums = (
            asg.select("cid", F.posexplode("qvec").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n_at_pos"))
        )
        per_cid = sums.groupBy("cid").agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, s))), t -> t.s)"
            ).alias("S"),
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("s2"),
            F.max("n_at_pos").alias("n"),
        )
        cent = (
            cent.alias("p")
            .join(per_cid.alias("u"), "cid", "left")
            .select(
                "cid",
                F.coalesce("u.S", "p.S").alias("S"),
                F.coalesce("u.n", "p.n").alias("n"),
                F.coalesce("u.s2", "p.s2").alias("s2"),
            )
            .localCheckpoint(eager=True)
        )
    return cent


def oracle_kmeans_exact(k: int = 8, iters: int = 3) -> str:
    """DuckDB twin of :func:`kmeans_exact_centroids` — the same
    iterations unrolled as chained CTEs with identical integer/decimal
    arithmetic. ``{norms}`` is spliced by the registry."""
    ctes = [
        f"""c0 AS (
  SELECT e.vec_id AS cid, e.qv AS S, CAST(1 AS BIGINT) AS n,
         CAST(n.n2 AS DECIMAL(38,0)) AS s2
  FROM e JOIN n ON n.vec_id = e.vec_id
  ORDER BY e.vec_id LIMIT {k})"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""p{i} AS (
  SELECT v.vec_id, c.cid, c.n, c.s2, unnest(list_zip(v.qv, c.S)) AS z
  FROM e v CROSS JOIN c{p} c),
d{i} AS (
  SELECT vec_id, cid, sum(CAST(z[1] AS DECIMAL(38,0)) * z[2]) AS dot,
         any_value(n) AS n, any_value(s2) AS s2
  FROM p{i} GROUP BY 1, 2),
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           CAST(s2 - 2 * dot * n AS DOUBLE) / CAST(n * n AS DOUBLE) AS v
    FROM d{i})
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY v, cid) = 1),
s{i} AS (
  SELECT a.cid, t.i AS pos, CAST(sum(e.qv[t.i]) AS BIGINT) AS s
  FROM a{i} a JOIN e ON e.vec_id = a.vec_id,
       LATERAL unnest(generate_series(1, len(e.qv))) t(i)
  GROUP BY 1, 2),
u{i} AS (
  SELECT s{i}.cid, list(s ORDER BY pos) AS S,
         sum(CAST(s AS DECIMAL(38,0)) * s) AS s2
  FROM s{i} GROUP BY 1),
m{i} AS (SELECT cid, count(*) AS n FROM a{i} GROUP BY 1),
c{i} AS (
  SELECT p.cid,
         COALESCE(u{i}.S, p.S) AS S,
         COALESCE(m{i}.n, p.n) AS n,
         COALESCE(u{i}.s2, p.s2) AS s2
  FROM c{p} p
  LEFT JOIN u{i} ON u{i}.cid = p.cid
  LEFT JOIN m{i} ON m{i}.cid = p.cid)"""
        )
    body = ",\n".join(ctes)
    return f"""WITH {{norms}},
{body}
SELECT c.cid, CAST(t.i AS INTEGER) AS pos,
       CAST(c.S[t.i] AS DOUBLE) / c.n AS mean, c.n
FROM c{iters} c, LATERAL unnest(generate_series(1, len(c.S))) t(i)"""


def kmeans_float_portable_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 2
) -> DataFrame:
    """Lloyd's k-means over the FLOAT embeddings, made portable — the
    oracled twin of the float iterative path that
    :func:`kmeans_embedding_centroids` / :func:`ann_ivf_kmeans_topk`
    run (their rows-only gap, r8 verdict item 7). Four measured pinning
    facts make the float loop cross-engine exact, each verified in
    ``test_float_portability.py``:

    * float32 → DOUBLE widening is IEEE-identical in Spark and DuckDB
      (float→DECIMAL is NOT: Spark rounds the double expansion, DuckDB
      scales in float precision — 0.1f casts to 0.100000001490 vs
      0.099999997952 — so every decimal pin here goes through DOUBLE);
    * the assignment distance is a STRICT LEFT FOLD in both engines
      (``F.aggregate`` with a 0.0 seed vs ``list_reduce`` seeded by the
      first element — equal because 0.0 + x0 == x0 in IEEE);
    * per-dimension mean state crosses engines as FIXED-POINT integers
      produced by pure IEEE double ops — ``floor(x·10¹² + 0.5)`` —
      summed exactly in DECIMAL(38,0) and divided back in one double
      expression ``CAST(s AS DOUBLE) / (n · 10¹²)``. A direct
      double→DECIMAL(38,12) pin is NOT portable (measured during r9:
      Spark rounds the double's shortest decimal representation, DuckDB
      scales in binary — 1 unit-in-the-12th-digit divergences at
      half-boundaries, one hit in 512 centroid cells at sf0.01), while
      floor/multiply/add are bit-identical everywhere;
    * argmin ties break on centroid id (total order).

    Seeds are the k smallest ``vec_id`` embeddings; empty clusters keep
    their previous centroid; the oracle unrolls the same ``iters``
    iterations as chained CTEs (the PageRank/exact-k-means discipline).
    Scale shape is identical to the float operator: one broadcast k×dim
    codebook row per iteration (argmin inside higher-order functions —
    no shuffle on the scoring side), one posexplode + (cid, pos) keyed
    sum for the update; k·dim doubles of driver state.

    Output: (cid, pos, mean, n) — final centroids long-form, pos
    1-based.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    cent = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("C"),
            F.lit(1).cast("bigint").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    argmin = F.expr(
        "array_min(transform(cents, c -> struct("
        " aggregate(zip_with(v, c.C, (a, b) -> (a - b) * (a - b)),"
        "           CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d,"
        " c.cid AS cid))).cid"
    )
    for _ in range(iters):
        asg = emb.crossJoin(F.broadcast(_cents_row(cent, "cid", "C"))).select(
            "vec_id", "v", argmin.alias("cid")
        )
        # n rides the (cid, pos) aggregation (the exact-loop r10 fix):
        # every vector emits every pos, so count(*) within any
        # (cid, pos) group IS the cluster population — the separate
        # count leg re-ran the whole assignment pass (crossJoin +
        # argmin) a second time per iteration and paid a join to glue
        # n back on. One corpus pass per iteration now.
        upd = (
            asg.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(
                    F.expr("CAST(floor(x * 1e12 + 0.5) AS DECIMAL(38,0))")
                ).alias("s"),
                F.count("*").alias("n_at_pos"),
            )
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, s))), t -> t.s)"
                ).alias("S"),
                F.max("n_at_pos").alias("n"),
            )
            .select(
                "cid",
                F.expr("transform(S, s -> CAST(s AS DOUBLE) / (n * 1e12))").alias(
                    "C"
                ),
                "n",
            )
        )
        cent = (
            cent.alias("p")
            .join(upd.alias("u"), "cid", "left")
            .select(
                "cid",
                F.coalesce("u.C", "p.C").alias("C"),
                F.coalesce("u.n", "p.n").alias("n"),
            )
            .localCheckpoint(eager=True)
        )
    return cent.select("cid", "n", F.posexplode("C").alias("pos0", "m")).select(
        "cid",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("m").alias("mean"),
        "n",
    )


def oracle_kmeans_float_portable(k: int = 8, iters: int = 2) -> str:
    """DuckDB twin of :func:`kmeans_float_portable_centroids` — the same
    float iterations unrolled as chained CTEs: double-widened vectors,
    ``list_reduce`` left-fold distances, fixed-point-pinned mean sums."""
    ctes = [
        f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, v AS C, CAST(1 AS BIGINT) AS n
  FROM e ORDER BY vec_id LIMIT {k})"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           list_reduce(list_transform(list_zip(e.v, c.C),
                                      z -> (z[1] - z[2]) * (z[1] - z[2])),
                       (acc, x) -> acc + x) AS d
    FROM e CROSS JOIN c{p} c)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
s{i} AS (
  SELECT a.cid, t.i AS pos,
         sum(CAST(floor(e.v[t.i] * 1e12 + 0.5) AS DECIMAL(38,0))) AS s
  FROM a{i} a JOIN e ON e.vec_id = a.vec_id,
       LATERAL unnest(generate_series(1, len(e.v))) t(i)
  GROUP BY 1, 2),
m{i} AS (SELECT cid, count(*) AS n FROM a{i} GROUP BY 1),
u{i} AS (
  SELECT s{i}.cid, list(CAST(s AS DOUBLE) / (m{i}.n * 1e12) ORDER BY pos) AS C,
         any_value(m{i}.n) AS n
  FROM s{i} JOIN m{i} ON m{i}.cid = s{i}.cid
  GROUP BY 1),
c{i} AS (
  SELECT p.cid, COALESCE(u{i}.C, p.C) AS C, COALESCE(u{i}.n, p.n) AS n
  FROM c{p} p LEFT JOIN u{i} ON u{i}.cid = p.cid)"""
        )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT c.cid, CAST(t.i AS INTEGER) AS pos, c.C[t.i] AS mean, c.n
FROM c{iters} c, LATERAL unnest(generate_series(1, len(c.C))) t(i)"""


def ann_ivf_exact_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    nprobe: int = 3,
    km_k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """IVF over LEARNED centroids, fully SQL-oracled — the upgrade the
    float-k-means IVF (``ann_ivf_kmeans_topk``, rows-only) cannot have:
    the coarse codebook is the exact k-means fixpoint
    (:func:`_kmeans_exact_state`), trained inline, so codebook TRAINING,
    assignment, probing, and top-k all hash-gate against DuckDB in one
    query.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    """
    cent = _kmeans_exact_state(spark, sf_dir, k=km_k, iters=iters)
    return _ivf_exact_query(spark, sf_dir, cent, k=k, nprobe=nprobe)


def _ivf_exact_query(
    spark: SparkSession,
    sf_dir: str,
    cent: DataFrame,
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """The IVF query against an exact k-means state frame (cid, S, n,
    s2) — shared by the train-inline and train-once variants."""
    cents_row = _cents_row(cent)
    emb = _quantized(spark, sf_dir)
    return _probed_topk(_assign(emb, cents_row), _probe(emb, cents_row, nprobe), k)


def _persisted_codebook(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> DataFrame:
    """Train-once / read-many coarse codebook: the exact k-means state
    (cid, S, n, s2) persisted as parquet.

    ``ann_ivf_exact_topk`` re-trains inside every hash-gated run, which
    is the right shape for the ORACLE (training is part of the gated
    semantics) but the wrong shape for the serving path — at 100 TB the
    codebook is a k×d-row artifact written by an offline job and read by
    every query. The exact discipline makes the persisted state
    bit-identical to the freshly trained one, so both variants share one
    oracle.
    """
    return persisted(
        spark, "ivf_codebook", f"{sf_dir}/embeddings.parquet", (k, iters),
        lambda: _kmeans_exact_state(spark, sf_dir, k=k, iters=iters),
    )


def ann_ivf_persisted_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    nprobe: int = 3,
    km_k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """IVF top-k over the PERSISTED codebook (:func:`_persisted_codebook`)
    — the serving-path twin of :func:`ann_ivf_exact_topk`, so the
    measured cost is the query path alone. The exact k-means fixpoint is
    deterministic, so the output is bit-identical to the train-inline
    variant and hash-gates against the SAME DuckDB oracle.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    """
    cent = _persisted_codebook(spark, sf_dir, k=km_k, iters=iters)
    return _ivf_exact_query(spark, sf_dir, cent, k=k, nprobe=nprobe)


def oracle_ann_ivf_exact(
    k: int = 10, nprobe: int = 3, km_k: int = 8, iters: int = 3
) -> str:
    """DuckDB twin of :func:`ann_ivf_exact_topk` — the unrolled exact
    k-means CTE chain, then assignment / probing / candidate cosine with
    identical arithmetic. ``{norms}`` spliced by the registry."""
    km = oracle_kmeans_exact(k=km_k, iters=iters)
    # reuse the kmeans oracle's CTE chain: strip its WITH header + final SELECT
    body = km.split("WITH {norms},\n", 1)[1].rsplit("\nSELECT", 1)[0]
    return f"""WITH {{norms}},
{body},
pf AS (
  SELECT v.vec_id, c.cid, c.n, c.s2, unnest(list_zip(v.qv, c.S)) AS z
  FROM e v CROSS JOIN c{iters} c),
df_ AS (
  SELECT vec_id, cid, sum(CAST(z[1] AS DECIMAL(38,0)) * z[2]) AS dot,
         any_value(n) AS n, any_value(s2) AS s2
  FROM pf GROUP BY 1, 2),
vf AS (
  SELECT vec_id, cid,
         CAST(s2 - 2 * dot * n AS DOUBLE) / CAST(n * n AS DOUBLE) AS v
  FROM df_),
assign AS (
  SELECT vec_id, cid AS bucket FROM vf
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY v, cid) = 1),
probes AS (
  SELECT vec_id AS query_id, cid AS bucket FROM vf
  WHERE vec_id % {QUERY_MOD} = 0
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY v, cid) <= {nprobe}),
cp AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         unnest(list_zip(eq.qv, en.qv)) AS z
  FROM probes p
  JOIN assign a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
  JOIN e eq ON eq.vec_id = p.query_id
  JOIN e en ON en.vec_id = a.vec_id),
cd AS (
  SELECT query_id, neighbor_id, sum(z[1] * z[2]) AS dot
  FROM cp GROUP BY 1, 2),
cs AS (
  SELECT cd.query_id, cd.neighbor_id,
         CASE WHEN nq.n2 > 0 AND nn.n2 > 0
              THEN CAST(cd.dot AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
              ELSE 0.0 END AS cosine
  FROM cd
  JOIN n nq ON nq.vec_id = cd.query_id
  JOIN n nn ON nn.vec_id = cd.neighbor_id)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM cs QUALIFY rank <= {k}"""


def embedding_top_component_exact(
    spark: SparkSession, sf_dir: str, iters: int = 8
) -> DataFrame:
    """Dominant principal direction via power iteration under the EXACT
    discipline — the PCA-training leg of the oracled-iterative family
    (PageRank, exact k-means, and now the spectral step): every
    matrix-vector product accumulates its double terms in exact decimal
    (order-independent at any partitioning; the array-local fold runs at
    DECIMAL(25,12) — see the inline note — and the grouped sums at
    DECIMAL(38,12)), the per-iteration rescale is
    an exact power-of-two division, and the normalization is one
    correctly-rounded sqrt + divide — so the whole fixpoint is
    bit-identical across engines and the oracle unrolls the same
    iterations as chained MATERIALIZED CTEs (materialized because each
    iterate is referenced twice; an inlined chain re-evaluates
    exponentially).

    Same plan as the float :func:`embedding_top_component` — one corpus
    pass (t = Xv) + one (pos)-keyed sum (w = X't) per iteration, the
    iterate shipped as a broadcast one-row frame — with hash-gateable
    semantics. Convergence properties are unchanged (planted-axis gate in
    tests); on a flat spectrum both variants converge equally slowly.

    Output: (pos, component) — the final unit iterate, 1-based dims.
    """
    v_row = _top_component_exact_row(spark, sf_dir, iters=iters)
    return v_row.select(
        F.posexplode("v").alias("pos0", "component")
    ).select((F.col("pos0") + 1).cast("int").alias("pos"), "component")


def _top_component_exact_row(
    spark: SparkSession, sf_dir: str, iters: int = 8
):
    """The exact power-iteration fixpoint of
    :func:`embedding_top_component_exact`, returned as its internal
    ONE-ROW array frame (column ``v array<double>``) so consumers that
    broadcast the component (:func:`embedding_pc1_scores`) skip the
    explode→re-collect round trip."""
    emb = _quantized(spark, sf_dir).select("vec_id", "qvec")
    d = len(emb.first().qvec)
    # The iterate is carried as a ONE-ROW array frame rather than (pos,
    # val) rows (r10 optimization): each iteration is then a SINGLE
    # materialized job — corpus pass → dim-keyed decimal sum →
    # normalization folded in as an unpartitioned window (64 rows; the
    # separate nrm aggregate + broadcast job it replaces computed the
    # identical DECIMAL(38,12) sum) → sorted collect back to the array.
    # The next iteration's broadcast then ships the checkpointed row
    # as-is instead of re-aggregating a (pos, val) frame — 3 jobs per
    # iteration before, 1 + a trivial broadcast after. Every arithmetic
    # step (decimal fold, grouped decimal sums, the single double
    # divide) is unchanged, so the fixpoint stays bit-identical to the
    # unrolled oracle CTEs.
    v_row = spark.createDataFrame([([1.0] * d,)], "v array<double>").localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        t = emb.crossJoin(F.broadcast(v_row)).select(
            "qvec",
            # DECIMAL(25,12), NOT (38,12): Spark types the fold's
            # ``acc + x`` as bounded(max_scale + max_int_digits + 1, ...),
            # and at precision 38 that overflows the cap, so Spark
            # silently DROPS a scale digit each step (~1e-11 drift,
            # r5 finding — the oracle's exact SUM exposed it). At (25,12)
            # the addition result type is (26,12) ≤ 38 → exact; 13
            # integer digits is 7 orders above any |t| this leg can see.
            F.expr(
                "CAST(aggregate(zip_with(qvec, v,"
                " (a, b) -> CAST(CAST(a AS DOUBLE) * b AS DECIMAL(25,12))),"
                " CAST(0 AS DECIMAL(25,12)),"
                " (acc, x) -> CAST(acc + x AS DECIMAL(25,12))) AS DOUBLE)"
            ).alias("t"),
        )
        w = (
            t.select("t", F.posexplode("qvec").alias("pos0", "x"))
            .select(
                (F.col("pos0") + 1).cast("int").alias("pos"),
                F.expr("CAST(CAST(x AS DOUBLE) * t AS DECIMAL(38,12))").alias("wx"),
            )
            .groupBy("pos")
            .agg(
                F.expr(
                    "CAST(sum(wx) AS DOUBLE) / CAST(1099511627776 AS DOUBLE)"
                ).alias("ws")
            )
        )
        v_row = (
            w.select(
                "pos",
                (
                    F.col("ws")
                    / F.expr(
                        "sqrt(CAST(sum(CAST(ws * ws AS DECIMAL(38,12)))"
                        " OVER () AS DOUBLE))"
                    )
                ).alias("val"),
            )
            .agg(
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, val))),"
                    " t -> t.val)"
                ).alias("v")
            )
            .localCheckpoint(eager=True)
        )
    return v_row


def embedding_pc1_scores(
    spark: SparkSession, sf_dir: str, iters: int = 8
) -> DataFrame:
    """Project every embedding onto the EXACT dominant component — the
    PCA feature a pipeline actually materializes after the spectral step:
    pc1 scores drive diversity-balanced sampling, coverage analysis, and
    1-D bucketing for coarse ANN. The component comes from
    :func:`embedding_top_component_exact` (bit-deterministic), and the
    projection is the same decimal-fold dot product as the iteration's
    t-leg — so the whole train-then-score path hash-gates end to end.

    Output: (vec_id, pc1_score).

    Plan: the iteration's cached scans plus ONE more corpus pass with the
    final component broadcast as a one-row frame; the fold is array-local
    (no shuffle) at DECIMAL(25,12) (see the t-leg note).
    """
    v_row = _top_component_exact_row(spark, sf_dir, iters=iters)
    emb = _quantized(spark, sf_dir).select("vec_id", "qvec")
    return emb.crossJoin(F.broadcast(v_row)).select(
        "vec_id",
        F.expr(
            "CAST(aggregate(zip_with(qvec, v,"
            " (a, b) -> CAST(CAST(a AS DOUBLE) * b AS DECIMAL(25,12))),"
            " CAST(0 AS DECIMAL(25,12)),"
            " (acc, x) -> CAST(acc + x AS DECIMAL(25,12))) AS DOUBLE)"
        ).alias("pc1_score"),
    )


def oracle_pc1_scores(iters: int = 8, d: int = 64) -> str:
    """DuckDB twin of :func:`embedding_pc1_scores` — the component's
    unrolled CTE chain plus one projection join over the quantized
    vectors. ``{norms}`` spliced by the registry."""
    base = oracle_top_component_exact(iters=iters, d=d)
    body = base[len("WITH ") : base.rindex("\nSELECT")]
    return f"""WITH {body},
px AS MATERIALIZED (
  SELECT e.vec_id, t.i AS pos, e.qv[t.i] AS x
  FROM e, LATERAL unnest(generate_series(1, len(e.qv))) t(i))
SELECT px.vec_id,
       {oracle_dsum12("CAST(px.x AS DOUBLE) * vf.val")} AS pc1_score
FROM px JOIN v{iters} vf ON vf.pos = px.pos
GROUP BY 1"""


def oracle_top_component_exact(iters: int = 8, d: int = 64) -> str:
    """DuckDB twin of :func:`embedding_top_component_exact` — the same
    iterations unrolled; per-iterate CTEs MATERIALIZED (each is consumed
    twice; inlining would re-evaluate the chain exponentially).
    ``{norms}`` spliced by the registry."""
    scale = "CAST(1099511627776 AS DOUBLE)"
    ctes = [
        f"""v0 AS (SELECT CAST(i AS INTEGER) AS pos, CAST(1 AS DOUBLE) AS val
  FROM unnest(generate_series(1, {d})) t(i))"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""x{i} AS MATERIALIZED (
  SELECT e.vec_id, t.i AS pos, e.qv[t.i] AS x
  FROM e, LATERAL unnest(generate_series(1, len(e.qv))) t(i)),
t{i} AS MATERIALIZED (
  SELECT x.vec_id,
         {oracle_dsum12("CAST(x.x AS DOUBLE) * v.val")} AS t
  FROM x{i} x JOIN v{p} v ON v.pos = x.pos GROUP BY 1),
w{i} AS MATERIALIZED (
  SELECT x.pos,
         {oracle_dsum12("CAST(x.x AS DOUBLE) * t.t")}
           / {scale} AS ws
  FROM x{i} x JOIN t{i} t ON t.vec_id = x.vec_id GROUP BY 1),
n{i} AS (SELECT sqrt({oracle_dsum12("ws * ws")}) AS nrm
         FROM w{i}),
v{i} AS MATERIALIZED (SELECT pos, ws / nrm AS val FROM w{i} CROSS JOIN n{i})"""
        )
    body = ",\n".join(ctes)
    return f"WITH {{norms}},\n{body}\nSELECT pos, val AS component FROM v{iters}"


#: IVFPQ shortlist: candidates kept per query after the ADC stage, before
#: the exact re-rank (FAISS's `nprobe`-then-`k_factor` shape).
IVFPQ_SHORTLIST = 50


def _ivfpq_codes(spark: SparkSession, sf_dir: str, km_k: int, iters: int) -> DataFrame:
    """(vec_id, bucket, m, cw, cwn2): every vector's coarse cell under the
    persisted codebook plus its PQ codewords. PQ codes quantize the RAW
    fixed-point vector (no residuals), as in :func:`ann_topk_pq`."""
    cent = _persisted_codebook(spark, sf_dir, k=km_k, iters=iters)
    emb = _quantized(spark, sf_dir)
    db = _assign(emb, _cents_row(cent))
    return _pq_encode(db, _pq_codebook(emb), "vec_id", "bucket")


def _ivfpq_query(
    spark: SparkSession, sf_dir: str, enc: DataFrame,
    k: int, nprobe: int, km_k: int, iters: int, shortlist: int,
) -> DataFrame:
    """The IVFADC query over a code table ``enc`` (vec_id, bucket, m, cw,
    cwn2): probe ``nprobe`` cells, ADC-score only their codes, keep a
    ``shortlist`` per query, exact-cosine re-rank of the shortlist."""
    emb = _quantized(spark, sf_dir)
    cents_row = _cents_row(_persisted_codebook(spark, sf_dir, k=km_k, iters=iters))
    probes = _probe(emb, cents_row, nprobe)
    q_sub = _subvectors(probes, "q_qvec", "qm", "query_id", "q_n2", "bucket")
    scored = _adc(enc.join(F.broadcast(q_sub), ["bucket", "m"]))
    return _rerank(emb, _topk(scored, shortlist, F.desc("approx_cosine"), "vec_id"), k)


def ann_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    nprobe: int = 3,
    km_k: int = 8,
    iters: int = 3,
    shortlist: int = IVFPQ_SHORTLIST,
) -> DataFrame:
    """IVF + PQ + exact re-rank — the ASSEMBLED production ANN pipeline
    (the FAISS ``IVFPQ`` index shape): coarse-prune to ``nprobe``
    learned-centroid posting lists of the persisted exact-k-means
    codebook, ADC-score the survivors' PQ codes, then exact cosine
    re-rank of a ``shortlist`` per query. Every stage is exact integer
    arithmetic with min-id tie-breaks, so the whole composition
    hash-gates against one DuckDB oracle.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k — cosine
    is the EXACT fixed-point value for the re-ranked survivors.
    """
    enc = _ivfpq_codes(spark, sf_dir, km_k, iters)
    return _ivfpq_query(spark, sf_dir, enc, k, nprobe, km_k, iters, shortlist)


def oracle_ann_ivfpq(
    k: int = 10,
    nprobe: int = 3,
    km_k: int = 8,
    iters: int = 3,
    shortlist: int = IVFPQ_SHORTLIST,
) -> str:
    """DuckDB twin of :func:`ann_ivfpq_topk` — the unrolled exact-k-means
    chain + IVF assignment/probing (shared with
    :func:`oracle_ann_ivf_exact`), the PQ codebook/encode/ADC CTEs
    (shared with :func:`oracle_ann_topk_pq`) restricted to the probed
    posting lists, then the exact re-rank of the shortlist. ``{norms}``
    spliced by the registry."""
    km = oracle_kmeans_exact(k=km_k, iters=iters)
    body = km.split("WITH {norms},\n", 1)[1].rsplit("\nSELECT", 1)[0]
    dp = f"(len(qv) // {PQ_M})"
    return f"""WITH {{norms}},
{body},
pf AS (
  SELECT v.vec_id, c.cid, c.n, c.s2, unnest(list_zip(v.qv, c.S)) AS z
  FROM e v CROSS JOIN c{iters} c),
df_ AS (
  SELECT vec_id, cid, sum(CAST(z[1] AS DECIMAL(38,0)) * z[2]) AS dot,
         any_value(n) AS n, any_value(s2) AS s2
  FROM pf GROUP BY 1, 2),
vf AS (
  SELECT vec_id, cid,
         CAST(s2 - 2 * dot * n AS DOUBLE) / CAST(n * n AS DOUBLE) AS v
  FROM df_),
assign AS (
  SELECT vec_id, cid AS bucket FROM vf
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY v, cid) = 1),
probes AS (
  SELECT vec_id AS query_id, cid AS bucket FROM vf
  WHERE vec_id % {QUERY_MOD} = 0
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY v, cid) <= {nprobe}),
ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
sub AS (
  SELECT e.vec_id, ms.m, e.qv[ms.m * {dp} + 1 : (ms.m + 1) * {dp}] AS xm
  FROM e CROSS JOIN ms),
cw AS (
  SELECT s.vec_id AS cid, s.m, s.xm AS cw
  FROM sub s WHERE s.vec_id % {PQ_SEED_MOD} = 0),
cwn AS (
  SELECT cid, m, cw,
         (SELECT COALESCE(sum(z[1] * z[2]), 0)
          FROM unnest(list_zip(cw, cw)) t(z)) AS cwn2
  FROM cw),
cost AS (
  SELECT s.vec_id, s.m, c.cid, c.cw, c.cwn2,
         c.cwn2 - 2 * (SELECT COALESCE(sum(z[1] * z[2]), 0)
                       FROM unnest(list_zip(s.xm, c.cw)) t(z)) AS cost
  FROM sub s JOIN cwn c ON c.m = s.m),
enc AS (
  SELECT vec_id, m, cw, cwn2
  FROM cost
  QUALIFY row_number() OVER (PARTITION BY vec_id, m
                             ORDER BY cost, cid) = 1),
encb AS (
  SELECT en.vec_id, a.bucket, en.m, en.cw, en.cwn2
  FROM enc en JOIN assign a ON a.vec_id = en.vec_id),
qsub AS (
  SELECT s.vec_id AS query_id, n.n2 AS q_n2, s.m, s.xm AS qm
  FROM sub s JOIN n ON n.vec_id = s.vec_id
  WHERE s.vec_id % {QUERY_MOD} = 0),
pd AS (
  SELECT q.query_id, en.vec_id, q.q_n2, en.cwn2,
         (SELECT COALESCE(sum(z[1] * z[2]), 0)
          FROM unnest(list_zip(q.qm, en.cw)) t(z)) AS d
  FROM encb en
  JOIN probes p ON p.bucket = en.bucket
  JOIN qsub q ON q.query_id = p.query_id AND q.m = en.m
  WHERE en.vec_id <> p.query_id),
sc AS (
  SELECT query_id, vec_id, sum(d) AS adc_dot, sum(cwn2) AS r_n2,
         any_value(q_n2) AS q_n2
  FROM pd GROUP BY 1, 2),
sl AS (
  SELECT query_id, vec_id,
         CASE WHEN q_n2 > 0 AND r_n2 > 0
              THEN CAST(adc_dot AS DOUBLE)
                   / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(r_n2 AS DOUBLE)))
              ELSE 0.0 END AS ac
  FROM sc
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ac DESC, vec_id) <= {shortlist}),
rp AS (
  SELECT s.query_id, s.vec_id AS neighbor_id,
         unnest(list_zip(eq.qv, en.qv)) AS z
  FROM sl s
  JOIN e eq ON eq.vec_id = s.query_id
  JOIN e en ON en.vec_id = s.vec_id),
rd AS (
  SELECT query_id, neighbor_id, sum(z[1] * z[2]) AS dot
  FROM rp GROUP BY 1, 2),
cs AS (
  SELECT rd.query_id, rd.neighbor_id,
         CASE WHEN nq.n2 > 0 AND nn.n2 > 0
              THEN CAST(rd.dot AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
              ELSE 0.0 END AS cosine
  FROM rd
  JOIN n nq ON nq.vec_id = rd.query_id
  JOIN n nn ON nn.vec_id = rd.neighbor_id)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM cs QUALIFY rank <= {k}"""


def _persisted_ivfpq_index(
    spark: SparkSession, sf_dir: str, km_k: int = 8, iters: int = 3
) -> DataFrame:
    """Build-once / serve-many IVFPQ INDEX FILE: :func:`_ivfpq_codes`
    (vec_id, bucket, m, cw, cwn2) persisted as parquet — the FAISS
    ``.index`` analogue an offline index-build job writes (M codes a
    vector); the query path reads codes and never touches raw vectors
    until the re-rank."""
    return persisted(
        spark, "ivfpq_index", f"{sf_dir}/embeddings.parquet", (km_k, iters),
        lambda: _ivfpq_codes(spark, sf_dir, km_k, iters),
    )


def ann_ivfpq_persisted_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    nprobe: int = 3,
    km_k: int = 8,
    iters: int = 3,
    shortlist: int = IVFPQ_SHORTLIST,
) -> DataFrame:
    """IVFPQ over the PERSISTED index file (:func:`_persisted_ivfpq_index`)
    — the serving-path twin of :func:`ann_ivfpq_topk`, so the measured
    cost is the query path alone. Deterministic index build ⇒
    bit-identical to the train-inline variant, so the SAME oracle gates
    it.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    """
    enc = _persisted_ivfpq_index(spark, sf_dir, km_k=km_k, iters=iters)
    return _ivfpq_query(spark, sf_dir, enc, k, nprobe, km_k, iters, shortlist)


#: Truncation prefixes evaluated by the Matryoshka recall report.
TRUNC_DIMS = (8, 16, 32)


def ann_truncation_recall_report(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: for each prefix
    length d' in ``TRUNC_DIMS``, run the exact top-k over only the FIRST
    d' components of every embedding and report its recall against the
    full-dimension exact top-k — the measurement behind choosing a
    truncation point for an MRL-trained embedding (serve 8/64 of the
    vector at 8/64 of the memory and scan cost, keep X% of recall).

    Per truncation dim, recall = Σ|top-k∩| / (k·|queries|) as one
    exact-integer pair through one double division, so the report
    hash-gates.

    Output: (trunc_dim, n_queries, recall) ordered small-to-large dims.
    """
    emb = _quantized(spark, sf_dir)
    full = ann_topk_bruteforce(spark, sf_dir, k=k).select(
        "query_id", F.col("neighbor_id").alias("full_nb")
    )
    reports = []
    for d in TRUNC_DIMS:
        t = emb.select(
            "vec_id", F.expr(f"slice(qvec, 1, {d})").alias("qvec")
        ).withColumn("n2", V.qnorm2("qvec"))
        topk = _cosine_topk(_against_queries(t), k)
        hits = topk.join(
            full,
            (topk.query_id == full.query_id) & (topk.neighbor_id == full.full_nb),
            "left_semi",
        )
        reports.append(
            hits.agg(F.lit(d).cast("int").alias("trunc_dim"), F.count("*").alias("n_hits"))
        )
    nq = full.select("query_id").distinct().count()
    return reduce(DataFrame.unionByName, reports).select(
        "trunc_dim",
        F.lit(nq).cast("bigint").alias("n_queries"),
        (F.col("n_hits").cast("double") / F.lit(float(k * nq))).alias("recall"),
    )


def _dot(a: str, b: str) -> str:
    """Exact int dot product as a PURE SCALAR expression:
    ``list_sum(list_transform(list_zip(a, b), …))``. The previous
    correlated form — ``(SELECT sum(z[1]*z[2]) FROM unnest(list_zip(…)))``
    per output row — is semantically identical, but DuckDB decorrelates
    each such subquery through a materialized delim join keyed on the
    zipped LISTS themselves; over the 200×20k brute-force pair frame of
    the sf1 fixture the six per-dim copies spilled >70 GB and died,
    while the scalar form streams row-at-a-time (sf1: 101 s, no spill).
    Same value: list_sum over BIGINT aggregates in HUGEINT exactly like
    SUM, NULL on empty list, so the caller's COALESCE(…, 0) behaves
    identically."""
    return (
        f"COALESCE(list_sum(list_transform(list_zip({a}, {b}), "
        "z -> z[1] * z[2])), 0)"
    )


def oracle_ann_truncation_recall(k: int = 10) -> str:
    """DuckDB twin of :func:`ann_truncation_recall_report` — full-dim
    exact top-k CTE + one truncated top-k CTE per dim, recall by
    semi-join counting. ``{norms}`` spliced by the registry."""
    dims = ", ".join(str(d) for d in TRUNC_DIMS)
    per_dim = []
    for d in TRUNC_DIMS:
        vq = _dot(f"v.qv[1:{d}]", f"q.qv[1:{d}]")
        vv = _dot(f"v.qv[1:{d}]", f"v.qv[1:{d}]")
        qq = _dot(f"q.qv[1:{d}]", f"q.qv[1:{d}]")
        per_dim.append(f"""t{d} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           COALESCE(CAST({vq} AS DOUBLE)
             / NULLIF(sqrt(CAST({vv} AS DOUBLE))
                * sqrt(CAST({qq} AS DOUBLE)), 0.0), 0.0)
             AS cosine
    FROM e v JOIN e q ON q.vec_id % {QUERY_MOD} = 0 AND v.vec_id <> q.vec_id)
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) <= {k}),
h{d} AS (
  SELECT CAST({d} AS INTEGER) AS trunc_dim, count(*) AS n_hits
  FROM t{d} t JOIN fullk f
    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id)""")
    body = ",\n".join(per_dim)
    hs = "\nUNION ALL\n".join(
        f"SELECT trunc_dim, n_hits FROM h{d}" for d in TRUNC_DIMS
    )
    return f"""WITH {{norms}},
fullk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           COALESCE(CAST({_dot("v.qv", "q.qv")} AS DOUBLE)
             / NULLIF(sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE)), 0.0), 0.0)
             AS cosine
    FROM e v
    JOIN e q ON q.vec_id % {QUERY_MOD} = 0 AND v.vec_id <> q.vec_id
    JOIN n nv ON nv.vec_id = v.vec_id
    JOIN n nq ON nq.vec_id = q.vec_id)
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) <= {k}),
nq_ AS (SELECT count(DISTINCT query_id) AS nq FROM fullk),
{body},
hh AS ({hs})
SELECT hh.trunc_dim, CAST(nq_.nq AS BIGINT) AS n_queries,
       CAST(hh.n_hits AS DOUBLE) / ({k} * nq_.nq) AS recall
FROM hh CROSS JOIN nq_"""
