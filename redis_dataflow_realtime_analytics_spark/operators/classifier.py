"""Distributed linear-classifier training over hashed features.

The training-data-pipeline pattern this implements: distill a cheap
heuristic label (here a length rule; in production a curated seed set or
an LLM judge) into a linear model over vocabulary-free hashed features
(`text.hashed_features`) — the CCNet/fastText-style quality-classifier
recipe, trained INSIDE the engine so corpus-scale featurization and
scoring never leave Spark.

The trainer is the batch perceptron, deliberately: every quantity is an
int64 (features are signed term counts, labels ±1, weights integer sums
of ±feat), so T unrolled rounds are BIT-EXACT and SQL-oracle-able with
no float convention at all — the strongest gate this repo has. The same
scaffold (broadcast weight frame, per-round localCheckpoint, margin =
one bucket-keyed join + doc-keyed sum) carries to averaged-perceptron /
logistic variants where floats would enter through the learning rate.

Scale: features are (doc, bucket)-sparse rows; each round is one
broadcast join (weights: 65 rows) + one (doc_id)-keyed aggregation for
margins + one (bucket)-keyed aggregation for updates — two corpus-sized
shuffles per round, both on uniform keys, nothing driver-side. Weight
state is O(FEATURE_HASH_DIM) forever, independent of corpus size.

Reference scope note: the reference app (Java/Beam + Redis) has no
model-training surface; this extends the engine along SURVEY §2's
LLM-data-pipeline axis like the ANN/dedup/BPE families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load, spread

#: Length-rule label threshold (chars); fixture median is ~306, so the
#: classes are near-balanced at sf0.01.
QUALITY_LABEL_CHARS = 300

#: Bias term lives in pseudo-bucket -1 (real buckets are 0..63).
BIAS_BUCKET = -1


def _features_with_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, feat, y): CENTERED hashed term counts + a bias
    feature per doc, joined with the ±1 length-rule label.

    Feature choices, both measured:
    * counts (``n_terms``), not the signed ``feat`` sums — the sign hash
      exists to unbias dot products BETWEEN documents; for a supervised
      model the signed sums cancel away exactly the total-volume signal
      a quality rule lives in (signed features stall at chance);
    * centered, scaled by the corpus count to STAY INTEGER:
      ``x_db = N·c_db − S_b`` (S_b = corpus bucket total). Raw counts
      leave the batch update oscillating at chance (the bias weight
      moves ±1/round against a ~60-token threshold); centered features
      put the decision boundary at the origin where a zero-initialized
      perceptron can reach it — measured 0.976 accuracy after round 1,
      0.978 at 3 rounds (sf0.01).

    Centering densifies: every doc emits FEATURE_HASH_DIM + 1 rows (the
    64-bucket grid + bias) — still O(65·N), dense-but-narrow, the shape
    a linear probe always has. Integer-exactness bound: margins grow
    like N²·T·maxcount; below ~2×10^4 docs per TRAINING shard this sits
    inside int64 (train on a shard-sized sample, score the full corpus —
    standard classifier practice anyway).

    Since r11 this dense frame is the REFERENCE formulation only: the
    production train/score paths run the exact integer reassociation
    over the sparse counts (:func:`_sparse_train_inputs` /
    :func:`_sparse_margins` — same sums regrouped, bit-identical), and
    tests/test_round6_ops.py re-derives margins from THIS frame to pin
    the two formulations against each other.
    """
    from .text import FEATURE_HASH_DIM, hashed_features

    docs = spread(load(spark, sf_dir, "documents"))
    counts = hashed_features(spark, sf_dir).select(
        "doc_id", "bucket", F.col("n_terms").cast("bigint").alias("c")
    )
    stats = counts.groupBy("bucket").agg(F.sum("c").alias("S"))
    n = docs.agg(F.count("*").alias("N"))
    buckets = spark.range(FEATURE_HASH_DIM).select(
        F.col("id").cast("int").alias("bucket")
    )
    dense = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(buckets))
        .join(counts, ["doc_id", "bucket"], "left")
        .join(F.broadcast(stats), "bucket", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "bucket",
            (
                F.col("N") * F.coalesce(F.col("c"), F.lit(0))
                - F.coalesce(F.col("S"), F.lit(0))
            )
            .cast("bigint")
            .alias("feat"),
        )
    )
    bias = docs.select(
        "doc_id",
        F.lit(BIAS_BUCKET).cast("int").alias("bucket"),
        F.lit(1).cast("bigint").alias("feat"),
    )
    y = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= QUALITY_LABEL_CHARS, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
    )
    return dense.unionByName(bias).join(y, "doc_id")


def _sparse_train_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The r11 reassociated formulation's inputs, each pinned once:

    * ``counts`` — the SPARSE hashed term counts (doc_id, bucket, c),
      only buckets a document actually hits;
    * ``stats`` — the full FEATURE_HASH_DIM-row grid (bucket, S, N) with
      corpus bucket totals (S coalesced to 0 for corpus-empty buckets,
      exactly like the dense grid's left join did) and the corpus count;
    * ``y`` — (doc_id, y) ±1 labels.

    Together these carry everything the dense (doc × (dim+1))-row
    centered frame carried, in ~dim/nnz-per-doc fewer rows — the exact
    integer reassociation ``feat = N·c − S_b`` makes every consumer
    recoverable from the sparse side plus per-bucket/ per-corpus
    constants (see :func:`_sparse_margins`)."""
    from .text import FEATURE_HASH_DIM, hashed_features

    docs = spread(load(spark, sf_dir, "documents"))
    counts = (
        hashed_features(spark, sf_dir)
        .select("doc_id", "bucket", F.col("n_terms").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    grid = spark.range(FEATURE_HASH_DIM).select(F.col("id").cast("int").alias("bucket"))
    n = docs.agg(F.count("*").cast("bigint").alias("N"))
    stats = (
        grid.join(counts.groupBy("bucket").agg(F.sum("c").alias("S")), "bucket", "left")
        .crossJoin(F.broadcast(n))
        .select("bucket", F.coalesce("S", F.lit(0)).cast("bigint").alias("S"), "N")
        .localCheckpoint(eager=True)
    )
    y = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= QUALITY_LABEL_CHARS, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(eager=True)
    return counts, stats, y


def _sparse_margins(
    y: DataFrame, counts: DataFrame, w: DataFrame, stats: DataFrame
) -> DataFrame:
    """(doc_id, margin, y) under weights ``w``, computed from the SPARSE
    counts — the exact integer reassociation of the dense margin:

        margin_d = Σ_b w_b·(N·c_db − S_b) + w_bias
                 = N·Σ_{b ∈ doc} w_b·c_db − Σ_b w_b·S_b + w_bias

    The first term touches only the sparse rows; the second is a single
    per-round constant K (64-element dot product); the bias folds in as
    another constant. Every sum is int64 over the same addends regrouped
    — bit-identical to the dense formulation by the associativity of
    integer addition (no floats anywhere).

    A weight frame without the bias row scores with ``w_bias = 0``, as
    the dense formulation does."""
    # w left-joins stats: the bias row (no stats) stays for wb and
    # drops out of K and N, whose aggregates skip its nulls
    consts = w.join(stats, "bucket", "left").agg(
        F.coalesce(F.sum(F.col("w") * F.col("S")), F.lit(0)).cast("bigint").alias("K"),
        F.coalesce(F.max("N"), F.lit(0)).cast("bigint").alias("N"),
        F.coalesce(F.sum(F.when(F.col("bucket") == BIAS_BUCKET, F.col("w"))), F.lit(0))
        .cast("bigint")
        .alias("wb"),
    )
    sdot = (
        counts.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("c")).alias("swc"))
    )
    return (
        y.join(sdot, "doc_id", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            (
                F.col("N") * F.coalesce(F.col("swc"), F.lit(0))
                - F.col("K")
                + F.col("wb")
            )
            .cast("bigint")
            .alias("margin"),
            "y",
        )
    )


def _train_perceptron(
    counts: DataFrame, stats: DataFrame, y: DataFrame, rounds: int = 3
) -> DataFrame:
    """The training loop, reassociated onto the sparse counts (r11;
    VERDICT item 7) — returns the final (bucket, w) weight frame,
    bit-identical to the dense formulation (integer sums regrouped).

    Round 1 closed form under w0 = 0 (every doc misclassified):
        w_b = Σ_d y_d·(N·c_db − S_b) = N·Σ_d y_d·c_db − S_b·Σ_d y_d
        w_bias = Σ_d y_d
    Later rounds: margins via :func:`_sparse_margins`, then the update
    restricted to misclassified docs M with Sy = Σ_{d∈M} y_d:
        dw_b = N·Σ_{d∈M} y_d·c_db − S_b·Sy,   dw_bias = Sy.

    Per round this scans the sparse rows twice (margins + update)
    instead of the dense grid twice — ~dim/nnz fewer rows through every
    exchange — plus 65-row frame arithmetic. Weights are
    localCheckpoint'ed per round (leaving the last round lazy was A/B'd
    and REJECTED in r10: evaluating the chain inside the broadcast-build
    thread measured 4.7 → 9.0 s on the scores key)."""

    def _w_frame(uyc: DataFrame, sy: DataFrame) -> DataFrame:
        """stats ⋈ sparse update sums + Sy correction, bias row appended:
        the (bucket, w-delta) frame both the closed form and the round
        updates share."""
        return (
            stats.join(uyc, "bucket", "left")
            .crossJoin(F.broadcast(sy))
            .select(
                "bucket",
                (
                    F.col("N") * F.coalesce(F.col("uyc"), F.lit(0))
                    - F.col("S") * F.col("Sy")
                )
                .cast("bigint")
                .alias("w"),
            )
            .unionByName(
                sy.select(
                    F.lit(BIAS_BUCKET).cast("int").alias("bucket"),
                    F.col("Sy").cast("bigint").alias("w"),
                )
            )
        )

    sy_all = y.agg(F.coalesce(F.sum("y"), F.lit(0)).cast("bigint").alias("Sy"))
    u1 = (
        counts.join(y, "doc_id")
        .groupBy("bucket")
        .agg(F.sum(F.col("y") * F.col("c")).alias("uyc"))
    )
    w = _w_frame(u1, sy_all).localCheckpoint(eager=True)
    for _ in range(rounds - 1):
        miscl = (
            _sparse_margins(y, counts, w, stats)
            .where(F.col("y") * F.col("margin") <= 0)
            .select("doc_id", "y")
        )
        sy_m = miscl.agg(
            F.coalesce(F.sum("y"), F.lit(0)).cast("bigint").alias("Sy")
        )
        u = (
            counts.join(miscl, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("c")).alias("uyc"))
        )
        dw = _w_frame(u, sy_m).withColumnRenamed("w", "dw")
        w = (
            w.join(dw, "bucket", "left")
            .select(
                "bucket",
                (F.col("w") + F.coalesce(F.col("dw"), F.lit(0)))
                .cast("bigint")
                .alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    return w


def perceptron_model(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> DataFrame:
    """The trained model itself — the FEATURE_HASH_DIM + 1 weight rows
    (bucket -1 is the bias). This is the artifact the serving path
    ships (broadcast-sized, like the IVF codebook and the BPE merge
    table); exposing it oracled pins the training trajectory itself,
    not just the scores, and makes the model auditable (which hash
    buckets drive quality).

    Output: (bucket, w).
    """
    counts, stats, y = _sparse_train_inputs(spark, sf_dir)
    return _train_perceptron(counts, stats, y, rounds=rounds)


def oracle_perceptron_model(rounds: int = 3) -> str:
    """DuckDB twin of :func:`perceptron_model` — the scores oracle's CTE
    chain, final select from the last weight frame."""
    scores = oracle_perceptron_scores(rounds=rounds)
    body = scores.rsplit("\nSELECT", 1)[0]
    return f"""{body}
SELECT bucket, w FROM w{rounds}"""


def perceptron_scores(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> DataFrame:
    """Train a batch perceptron for ``rounds`` rounds and score every
    document with the final weights.

    Round semantics (w0 = 0, so round 1 updates on every doc since
    y·0 <= 0):

        margin_d = Σ_b w_b · feat_{d,b}
        miscl    = { d : y_d · margin_d <= 0 }
        w_b     += Σ_{d ∈ miscl} y_d · feat_{d,b}

    All arithmetic int64 ⇒ bit-exact across engines; the oracle unrolls
    the same rounds as chained CTEs (the kmeans/BPE convention).

    Output: (doc_id, margin, label, pred, correct) — margin from the
    final weights, pred = +1 iff margin > 0.
    """
    counts, stats, y = _sparse_train_inputs(spark, sf_dir)
    w = _train_perceptron(counts, stats, y, rounds=rounds)
    scored = _sparse_margins(y, counts, w, stats).withColumnRenamed("y", "label")
    pred = F.when(F.col("margin") > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint")
    return scored.select(
        "doc_id",
        "margin",
        "label",
        pred.alias("pred"),
        (pred == F.col("label")).alias("correct"),
    )


def oracle_perceptron_scores(rounds: int = 3) -> str:
    """DuckDB twin of :func:`perceptron_scores` — the same rounds
    unrolled as chained CTEs. Integer sums CAST to BIGINT everywhere
    (DuckDB types sum(int) HUGEINT — the r3/r5 pandas-float64 lesson)."""
    from .text import oracle_hashed_features

    from .text import FEATURE_HASH_DIM

    ctes = [
        f"""hf AS (
{oracle_hashed_features()}
),
st AS (SELECT bucket, CAST(sum(n_terms) AS BIGINT) AS S FROM hf GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM documents),
grid AS (
  SELECT d.doc_id, CAST(b.bucket AS INTEGER) AS bucket
  FROM documents d
  CROSS JOIN (SELECT unnest(generate_series(0, {FEATURE_HASH_DIM - 1}))
                AS bucket) b),
xy AS (
  SELECT f.doc_id, f.bucket, f.feat, l.y
  FROM (SELECT g.doc_id, g.bucket,
               CAST(nn.N * COALESCE(hf.n_terms, 0) - COALESCE(st.S, 0)
                    AS BIGINT) AS feat
        FROM grid g
        LEFT JOIN hf ON hf.doc_id = g.doc_id AND hf.bucket = g.bucket
        LEFT JOIN st ON st.bucket = g.bucket
        CROSS JOIN nn
        UNION ALL
        SELECT doc_id, CAST({BIAS_BUCKET} AS INTEGER) AS bucket,
               CAST(1 AS BIGINT) AS feat
        FROM documents) f
  JOIN (SELECT doc_id,
               CAST(CASE WHEN n_chars >= {QUALITY_LABEL_CHARS}
                         THEN 1 ELSE -1 END AS BIGINT) AS y
        FROM documents) l USING (doc_id)),
w1 AS (
  SELECT bucket, CAST(sum(y * feat) AS BIGINT) AS w
  FROM xy GROUP BY 1)"""
    ]
    for t in range(2, rounds + 1):
        prev = f"w{t-1}"
        ctes.append(f"""m{t} AS (
  SELECT xy.doc_id, CAST(sum(w.w * xy.feat) AS BIGINT) AS margin,
         any_value(xy.y) AS y
  FROM xy JOIN {prev} w USING (bucket) GROUP BY 1),
u{t} AS (
  SELECT xy.bucket, CAST(sum(xy.y * xy.feat) AS BIGINT) AS dw
  FROM xy JOIN m{t} m USING (doc_id)
  WHERE m.y * m.margin <= 0 GROUP BY 1),
w{t} AS (
  SELECT w.bucket, CAST(w.w + COALESCE(u.dw, 0) AS BIGINT) AS w
  FROM {prev} w LEFT JOIN u{t} u USING (bucket))""")
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT xy.doc_id, CAST(sum(w.w * xy.feat) AS BIGINT) AS margin,
       any_value(xy.y) AS label,
       CAST(CASE WHEN sum(w.w * xy.feat) > 0 THEN 1 ELSE -1 END AS BIGINT)
         AS pred,
       (CASE WHEN sum(w.w * xy.feat) > 0 THEN 1 ELSE -1 END)
         = any_value(xy.y) AS correct
FROM xy JOIN w{rounds} w USING (bucket)
GROUP BY xy.doc_id"""


#: (fixture path, mtime, rounds) -> parquet path of the trained weights.
_MODEL_CACHE: dict = {}


def _persisted_model(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> DataFrame:
    """Train-once / score-many weights: :func:`perceptron_model` output
    persisted as parquet keyed by fixture path + mtime + rounds — the
    same artifact convention as the IVF codebook, BPE merge table, and
    shard state. At 100 TB the model is a 65-row artifact written by
    one training job over a sampled shard and read (broadcast) by every
    scoring pass over the full corpus."""
    import hashlib
    import os
    import tempfile

    path = os.path.join(sf_dir, "documents.parquet")
    key = (os.path.abspath(path), os.stat(path).st_mtime_ns, rounds)
    if key in _MODEL_CACHE:
        return spark.read.parquet(_MODEL_CACHE[key])
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"perceptron_model_{tag}")
    if not os.path.isfile(os.path.join(out, "_SUCCESS")):
        perceptron_model(spark, sf_dir, rounds=rounds).write.mode(
            "overwrite"
        ).parquet(out)
    _MODEL_CACHE[key] = out
    return spark.read.parquet(out)


def perceptron_persisted_scores(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> DataFrame:
    """The scoring SERVING path: featurize the corpus and apply the
    PERSISTED weights — the pass that actually runs at 100 TB (training
    happens once on a sample; scoring touches every document on every
    corpus refresh). Measured cost is featurization + one broadcast
    join + one doc-keyed sum; because exact-integer training is
    deterministic, the output is bit-identical to the train-inline
    scorer and hash-gates against the SAME oracle
    (``oracle_perceptron_scores`` — the oracle's job is semantics, not
    the train/serve cost split; the ``ann_ivf_persisted_topk``
    convention).

    Output: (doc_id, margin, label, pred, correct) — identical schema
    and values to :func:`perceptron_scores`.
    """
    w = _persisted_model(spark, sf_dir, rounds=rounds)
    counts, stats, y = _sparse_train_inputs(spark, sf_dir)
    scored = _sparse_margins(y, counts, w, stats).withColumnRenamed("y", "label")
    pred = F.when(F.col("margin") > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint")
    return scored.select(
        "doc_id",
        "margin",
        "label",
        pred.alias("pred"),
        (pred == F.col("label")).alias("correct"),
    )


#: (fixture path, mtime) -> parquet path of the centering statistics.
_STATS_CACHE: dict = {}


def _persisted_center_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FEATURE STORE half of the model artifact: per-bucket corpus
    totals S_b and the corpus count N, persisted with the same keying
    as the weights. Serving MUST center with the TRAINING corpus stats
    — recomputing them per scoring batch is the classic train/serve
    skew bug (a batch's own means differ from the corpus means the
    weights were fit against), which is why production feature stores
    version statistics alongside weights."""
    import hashlib
    import os
    import tempfile

    from .text import hashed_features

    path = os.path.join(sf_dir, "documents.parquet")
    key = (os.path.abspath(path), os.stat(path).st_mtime_ns)
    if key in _STATS_CACHE:
        return spark.read.parquet(_STATS_CACHE[key])
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"center_stats_{tag}")
    if not os.path.isfile(os.path.join(out, "_SUCCESS")):
        docs = spread(load(spark, sf_dir, "documents"))
        n = docs.count()
        (
            hashed_features(spark, sf_dir)
            .groupBy("bucket")
            .agg(F.sum(F.col("n_terms").cast("bigint")).alias("S"))
            .withColumn("N", F.lit(int(n)).cast("bigint"))
            .write.mode("overwrite")
            .parquet(out)
        )
    _STATS_CACHE[key] = out
    return spark.read.parquet(out)


def score_batch_with_model(
    batch: DataFrame, weights: DataFrame, stats: DataFrame
) -> DataFrame:
    """Score ONE document frame with persisted weights + persisted
    centering stats — the reusable serving kernel (used by the
    streaming scorer per micro-batch). Featurization is the same
    projection training used (``hashed_features_projection``); centered
    features derive from the BROADCAST training-corpus stats, never the
    batch's own, so scores are bit-identical to the batch scorer."""
    # This kernel deliberately KEEPS the dense-grid formulation (r11
    # measured both ways): it scores one MICRO-BATCH per call, so the
    # dim+1-rows-per-doc grid is batch-sized and flows through a single
    # join+aggregate — whereas the sparse reassociation's per-call
    # constant frames (stats⋈weights K, bias row) add several tiny
    # broadcast jobs PER BATCH, which the replay bench measured as a
    # +36% regression on stream_model_scores (2.85 → 3.87 s floor). The
    # corpus-sized train/score paths use the sparse formulation
    # (bit-identical, _sparse_margins); the streaming serving path pays
    # per-batch job count, not per-row volume.
    from .text import FEATURE_HASH_DIM, hashed_features_projection

    spark = batch.sparkSession
    counts = hashed_features_projection(batch).select(
        "doc_id", "bucket", F.col("n_terms").cast("bigint").alias("c")
    )
    buckets = spark.range(FEATURE_HASH_DIM).select(
        F.col("id").cast("int").alias("bucket")
    )
    dense = (
        batch.select("doc_id")
        .crossJoin(F.broadcast(buckets))
        .join(counts, ["doc_id", "bucket"], "left")
        .join(F.broadcast(stats), "bucket", "left")
        .select(
            "doc_id",
            "bucket",
            (
                F.col("N") * F.coalesce(F.col("c"), F.lit(0))
                - F.coalesce(F.col("S"), F.lit(0))
            )
            .cast("bigint")
            .alias("feat"),
        )
    )
    bias = batch.select(
        "doc_id",
        F.lit(BIAS_BUCKET).cast("int").alias("bucket"),
        F.lit(1).cast("bigint").alias("feat"),
    )
    y = batch.select(
        "doc_id",
        F.when(F.col("n_chars") >= QUALITY_LABEL_CHARS, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
    )
    xy = dense.unionByName(bias).join(y, "doc_id")
    scored = (
        xy.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("w") * F.col("feat")).alias("margin"),
            F.first("y").alias("label"),
        )
    )
    pred = F.when(F.col("margin") > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint")
    return scored.select(
        "doc_id",
        "margin",
        "label",
        pred.alias("pred"),
        (pred == F.col("label")).alias("correct"),
    )
