"""Deterministic sampling + corpus-assembly operators (training-data path).

A 100 TB training pipeline needs *reproducible* sampling: ``df.sample()``
draws from a partition-seeded RNG, so results change with partitioning and
engine. These operators sample by comparing a prefix of ``md5(key)`` against
a hex threshold instead — a pure, engine-portable filter:

* no shuffle — the predicate evaluates row-local and pushes into the scan
  stage (the parquet reader still prunes columns; md5 itself can't push to
  footer stats, but the filter runs before any wide operator);
* fraction = int(threshold, 16) / 16^len(threshold) — e.g. ``'1a'`` keeps
  26/256 ≈ 10.2% of keys;
* stable under repartitioning, AQE re-planning, speculative re-execution,
  and across engines (DuckDB's ``md5`` matches Spark's byte-for-byte on the
  same UTF-8 input), so the oracle can value-hash the sample exactly.

Chunking expands documents into fixed-width character windows — the narrow
(shuffle-free) row-explosion shape used for context-window packing; at
scale the only cost is output volume, which AQE splits across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dquant, oracle_dquant, oracle_dsum12
from ..tables import load, persisted, spread

from .text import BPE_DOC_MOD, BPE_MERGES

#: md5-prefix cut of the ~10% hash sample.
HASH_SAMPLE_CUT = "1a"
#: Rows kept per stratum (language) by the per-stratum samplers.
PER_STRATUM_K = 20
#: Rows kept by the corpus-wide weighted sample.
WEIGHTED_SAMPLE_K = 100
#: Length quantiles outside which :func:`length_clip_filter` drops docs.
LENGTH_CLIP_LO = 0.05
LENGTH_CLIP_HI = 0.95
#: Temperature-sampling exponent of the source mix.
TEMPERATURE_ALPHA = 0.3
#: Chunker: characters per chunk and the overlap stride.
CHUNK_WIDTH = 400
CHUNK_STRIDE = 300
#: Token budget of one packed training sequence.
PACK_MAX_TOKENS = 512
#: BPE-packed sequence length in tokens.
PACK_SEQ_LEN = 128
#: Quality-calibration keep floor and quantile resolution.
CALIBRATED_KEEP_FLOOR = 0.25
QUANTILE_RESOLUTION = 4096
#: Shard planning: tokens per shard and docs per prefix-sum bucket.
SHARD_TARGET_TOKENS = 4096
SHARD_BUCKET_DOCS = 256


def _hash_bucket(key: F.Column) -> F.Column:
    """First two hex chars of md5(key) — a uniform draw over 256 buckets."""
    return F.substring(F.md5(key.cast("string")), 1, 2)


def hash_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample of documents by md5(doc_id) prefix."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.where(_hash_bucket(F.col("doc_id")) < HASH_SAMPLE_CUT)
        .select("doc_id", "lang", "source", "n_chars")
    )


def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: downsample the majority language (en,
    ~6%) while keeping minority languages at ~25% — the training-mix
    reweighting move, still a pure deterministic filter."""
    docs = load(spark, sf_dir, "documents")
    threshold = F.when(F.col("lang") == "en", F.lit("10")).otherwise(F.lit("40"))
    return (
        docs.where(_hash_bucket(F.col("doc_id")) < threshold)
        .select("doc_id", "lang", "n_chars")
    )


def topk_per_stratum(
    spark: SparkSession, sf_dir: str, k: int = PER_STRATUM_K
) -> DataFrame:
    """Exact-k-per-stratum sample: for every language, the ``k`` documents
    with the smallest ``md5(doc_id)`` — a fixed PER-STRATUM BUDGET rather
    than a per-stratum rate (:func:`stratified_sample_by_lang`). This is
    the "give me exactly 10k docs per language" corpus-assembly move:
    deterministic (hash order, doc_id tie-break), engine-portable, and
    stable under any partitioning — a distributed reservoir sample with a
    reproducible reservoir.

    Scale: one shuffle keyed by the stratum column for the per-stratum
    rank window. Strata are languages (low cardinality) so the window
    partitions are large but few; with k ≪ stratum size, swap the window
    for a per-partition top-k + merge (``Window`` here keeps the plan
    declarative and lets Spark's rank-limit pushdown
    (WindowGroupLimit) prune to k rows per partition before the sort).
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("lang", "doc_id", F.col("rk").cast("int").alias("rk"))
    )


def oracle_topk_per_stratum() -> str:
    return f"""SELECT lang, doc_id, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
WHERE rk <= {PER_STRATUM_K}"""


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed ``CHUNK_WIDTH``-char chunks (context-window
    packing). Row expansion is narrow — no shuffle; chunk_idx is 0-based."""
    docs = load(spark, sf_dir, "documents")
    n_chunks = F.floor((F.col("n_chars") - 1) / F.lit(float(CHUNK_WIDTH))).cast("bigint")
    # empty docs chunk to NOTHING — without the filter, n_chunks = -1 and
    # Spark's sequence(0, -1) generates a DESCENDING sequence, emitting
    # two phantom chunks (idx 0 and -1) the oracle never produces (r7
    # adversarial-fixture find; same sequence trap as text_fingerprints)
    return (
        docs.where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks)).alias("chunk_idx"),
            "text",
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(f"substr(text, CAST(chunk_idx * {CHUNK_WIDTH} + 1 AS INT), {CHUNK_WIDTH})").alias(
                "chunk_text"
            ),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
        .drop("text")
    )


def train_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus assembly: language filter → length floor → exact
    content dedup (keep lowest doc_id per md5(text) group) → deterministic
    50% subsample. One shuffle total (the dedup groupBy); filters run
    before it so only qualifying rows shuffle."""
    docs = load(spark, sf_dir, "documents")
    filt = docs.where((F.col("lang") == "en") & (F.col("n_chars") >= 150))
    keep = (
        filt.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        filt.join(keep, "doc_id", "left_semi")
        .where(_hash_bucket(F.col("doc_id")) < "80")
        .select("doc_id", "lang", "source", "n_chars")
    )


def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-governance report: per (source, lang) document counts, total
    and mean characters, and share of the corpus — the composition table
    every training-mix decision starts from. One aggregation shuffle plus
    a 1-row broadcast for the share denominator."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("mean_chars"),
    )
    total = docs.agg(F.count("*").alias("corpus_docs"))
    return g.join(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "mean_chars",
        (F.col("n_docs").cast("double") / F.col("corpus_docs")).alias("doc_share"),
    )


def upsample_by_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing: integer-weight upsampling of low-resource
    languages (en x1, de/fr/es x2, everything else x3), the standard
    "epochs per source" corpus recipe. ``explode(sequence(1, weight))``
    multiplies rows inside whole-stage codegen — a pure per-row generator
    with no shuffle and no driver involvement, so it scales linearly: at
    100 TB the output is written straight back out partition-by-partition.

    Counterpart of the reference's workload shaping (it has none — the
    generator loggen/message_generator.py:79-88 fixes the mix at write
    time); here the mix is a declarative, re-runnable query.
    """
    docs = load(spark, sf_dir, "documents")
    weight = (
        F.when(F.col("lang") == "en", F.lit(1))
        .when(F.col("lang").isin("de", "fr", "es"), F.lit(2))
        .otherwise(F.lit(3))
        .cast("bigint")
    )
    return docs.select(
        "doc_id", "lang", "source", weight.alias("weight")
    ).select(
        "doc_id",
        "lang",
        "source",
        "weight",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("weight"))).alias(
            "copy_id"
        ),
    )


def pack_documents(
    spark: SparkSession, sf_dir: str, max_tokens: int = PACK_MAX_TOKENS
) -> DataFrame:
    """Sequence packing for LLM pre-training: assign each document to a
    fixed-capacity pack of ~``max_tokens`` whitespace tokens, deterministic
    under any partitioning. A document lands in pack
    ``floor(tokens_before_it / max_tokens)`` where ``tokens_before_it`` is
    the running token sum over earlier doc_ids in its (lang, shard) stream
    — the classic streaming bin-by-cumsum approximation of greedy packing
    (a doc may straddle a boundary; capacity is respected in expectation).

    Scale: the only shuffle is the window's hash partitioning on
    (lang, shard). Sharding doc_id into 16 streams per language bounds
    every window partition to ~1/16 of a language — no single-reducer
    bottleneck at 100 TB, unlike a global ORDER BY cumsum.
    """
    from .text import TOKEN_RE

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.pmod(F.col("doc_id"), F.lit(16)).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), TOKEN_RE)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tokens_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "lang",
        "shard",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(tokens_before / F.lit(max_tokens)).alias("pack_id"),
    )


def pack_documents_boundary(
    spark: SparkSession, sf_dir: str, max_tokens: int = PACK_MAX_TOKENS
) -> DataFrame:
    """Boundary-respecting sequence packing: documents NEVER straddle a
    pack boundary — the packing contract for training recipes that forbid
    cross-document attention bleed (the cumsum packer
    :func:`pack_documents` respects capacity only in expectation). Docs
    are walked in doc_id order within each (lang, shard) stream by a
    next-fit rule: a doc joins the current pack unless that would exceed
    ``max_tokens``, in which case it opens a new one. A doc longer than
    the capacity becomes a singleton pack and is flagged ``oversize``
    (the downstream chunker's business, not the packer's).

    The per-stream walk is inherently sequential state, so it runs as an
    Arrow-batched ``applyInPandas`` over the (lang, shard) groups — the
    sanctioned escape hatch for stateful group logic the window algebra
    cannot express (a reset-on-overflow cumsum is not a window function).
    Scale: parallelism = #langs × #shards; the shard fan-out (16 here) is
    the knob that bounds each group to executor memory at 100 TB — pack
    quality is unaffected since bins are within-stream by design. The
    oracle replays the identical walk as a DuckDB recursive CTE (one
    level per within-group rank), so assignment is fully hash-gated.

    Output: (doc_id, lang, shard, n_tokens, pack_id, oversize).
    """
    from .text import TOKEN_RE

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.pmod(F.col("doc_id"), F.lit(16)).cast("int").alias("shard"),
        F.size(F.split(F.trim(F.col("text")), TOKEN_RE)).cast("bigint").alias("n_tokens"),
    )
    cap = int(max_tokens)

    def _nextfit(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        packs = []
        fill = 0
        pack = 0
        started = False
        for t in pdf["n_tokens"]:
            t = int(t)
            if started and fill + t > cap:
                pack += 1
                fill = 0
            started = True
            packs.append(pack)
            fill += t
        pdf["pack_id"] = packs
        pdf["oversize"] = pdf["n_tokens"] > cap
        return pdf

    schema = (
        "doc_id bigint, lang string, shard int, n_tokens bigint, "
        "pack_id bigint, oversize boolean"
    )
    return base.groupBy("lang", "shard").applyInPandas(_nextfit, schema)


def oracle_pack_boundary() -> str:
    """DuckDB twin of :func:`pack_documents_boundary` — the next-fit walk
    unrolled as a recursive CTE advancing one within-group rank per level
    (depth = largest (lang, shard) group, ~n_docs/80 on the fixtures)."""
    from .text import TOKEN_SQL

    return rf"""WITH RECURSIVE t AS (
  SELECT doc_id, lang, CAST(doc_id % 16 AS INTEGER) AS shard,
         CAST(len(regexp_split_to_array(trim(text), '{TOKEN_SQL}')) AS BIGINT)
           AS n_tokens,
         CAST(row_number() OVER (PARTITION BY lang, doc_id % 16
                                 ORDER BY doc_id) AS BIGINT) AS rn
  FROM documents),
walk AS (
  SELECT lang, shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN w.fill + t.n_tokens > {PACK_MAX_TOKENS}
              THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.fill + t.n_tokens > {PACK_MAX_TOKENS}
              THEN t.n_tokens ELSE w.fill + t.n_tokens END
  FROM walk w
  JOIN t ON t.lang = w.lang AND t.shard = w.shard AND t.rn = w.rn + 1)
SELECT doc_id, lang, shard, n_tokens, pack_id,
       n_tokens > {PACK_MAX_TOKENS} AS oversize
FROM walk"""


#: Hex digits of md5 used as the uniform draw for weighted sampling.
#: 13 hex digits = 52 bits — the full significand of an IEEE double, so
#: ``(v + 1) / 16**13`` is exact in both engines and lies in (0, 1].
_U_HEX = 13


def _uniform_01(key: F.Column) -> F.Column:
    """Deterministic uniform draw in (0, 1] from md5(key) — the same
    engine-portable trick as :func:`_hash_bucket`, widened to 52 bits."""
    v = F.conv(F.substring(F.md5(key.cast("string")), 1, _U_HEX), 16, 10).cast("double")
    return (v + F.lit(1.0)) / F.lit(float(16**_U_HEX))


def weighted_sample_documents(
    spark: SparkSession, sf_dir: str, k: int = WEIGHTED_SAMPLE_K
) -> DataFrame:
    """Weighted sampling without replacement — ``k`` documents drawn with
    probability proportional to length (``n_chars``), the "sample long/
    high-quality docs preferentially" training-mix move.

    Uses the Efraimidis–Spirakis exponential-key scheme: each doc gets
    ``key = ln(u) / w`` for a uniform ``u`` (equivalent to ranking by
    ``u^(1/w)``); the ``k`` largest keys are exactly a weight-proportional
    sample without replacement. ``u`` comes from md5(doc_id), so the draw
    is deterministic, partition-invariant, and reproducible across engines
    — the oracle recomputes the identical sample in DuckDB.

    Scale: no shuffle for the keys (row-local projection); the global
    top-k compiles to ``TakeOrderedAndProject`` — per-partition heaps of
    ``k`` rows merged on the driver, never a global sort. At 100 TB this
    is the one sampling scheme where rejection/threshold tricks don't
    apply (weights are unbounded); per-partition heaps keep it one pass.
    """
    docs = load(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.log(_uniform_01(F.col("doc_id"))) / w
    return (
        docs.select("doc_id", "lang", "source", "n_chars", key.alias("es_key"))
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(k)
        .select("doc_id", "lang", "source", "n_chars")
    )


def oracle_weighted_sample() -> str:
    """DuckDB twin of :func:`weighted_sample_documents` (same md5 draw;
    hex → bigint via DuckDB's ``'0x…'::BIGINT`` parse)."""
    u = (
        f"(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, {_U_HEX})) AS BIGINT)"
        f" + 1.0) / {float(16**_U_HEX)!r}"
    )
    return f"""SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         ln({u}) / greatest(n_chars, 1) AS es_key
  FROM documents
  ORDER BY es_key DESC, doc_id
  LIMIT {WEIGHTED_SAMPLE_K})"""


def weighted_sample_per_language(
    spark: SparkSession, sf_dir: str, k: int = PER_STRATUM_K
) -> DataFrame:
    """Per-stratum weighted sampling: for every language, the ``k``
    documents drawn weight-proportionally (Efraimidis–Spirakis keys, same
    deterministic md5 draw as :func:`weighted_sample_documents`) — the
    "exactly 10k docs per language, long docs preferred" assembly move
    combining :func:`topk_per_stratum`'s budget with ES weighting.

    Scale: one shuffle keyed by the stratum column; Spark's
    WindowGroupLimit pushes the rank limit into each partition, so only
    ~k rows per stratum survive to the sort."""
    docs = load(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.log(_uniform_01(F.col("doc_id"))) / w
    win = Window.partitionBy("lang").orderBy(F.desc("es_key"), "doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars", key.alias("es_key"))
        .withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
        .select("lang", "doc_id", "n_chars", F.col("rk").cast("int").alias("rk"))
    )


def oracle_weighted_sample_per_language() -> str:
    """DuckDB twin of :func:`weighted_sample_per_language`."""
    u = (
        f"(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, {_U_HEX})) AS BIGINT)"
        f" + 1.0) / {float(16**_U_HEX)!r}"
    )
    return f"""SELECT lang, doc_id, n_chars, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ln({u}) / greatest(n_chars, 1) DESC, doc_id) AS rk
  FROM documents)
WHERE rk <= {PER_STRATUM_K}"""


def length_clip_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-derived quality gate: keep documents whose length sits
    within the per-language [p5, p95] band — the Gopher-style length
    outlier filter with thresholds DERIVED from the corpus rather than
    hard-coded. ``percentile_disc`` picks actual data values (no
    interpolation), so the thresholds — and therefore the kept set — are
    bit-identical across engines and partitionings.

    Plan: one aggregation to |languages| threshold rows, broadcast back
    into a row-local filter — the "compute the rule, then apply it in one
    scan" shape every derived-threshold filter should compile to.
    """
    docs = load(spark, sf_dir, "documents")
    # percentile_disc returns DOUBLE in Spark even over bigint input; the
    # picked values are actual n_chars data values, so the bigint cast is
    # lossless and keeps both engines' output types identical.
    bounds = docs.groupBy("lang").agg(
        F.expr(f"percentile_disc({LENGTH_CLIP_LO}) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("p_lo"),
        F.expr(f"percentile_disc({LENGTH_CLIP_HI}) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("p_hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .where(F.col("n_chars").between(F.col("p_lo"), F.col("p_hi")))
        .select("doc_id", "lang", "n_chars", "p_lo", "p_hi")
    )


def oracle_length_clip_filter() -> str:
    """DuckDB twin of :func:`length_clip_filter`."""
    return f"""WITH bounds AS (
  SELECT lang,
         CAST(quantile_disc(n_chars, {LENGTH_CLIP_LO}) AS BIGINT) AS p_lo,
         CAST(quantile_disc(n_chars, {LENGTH_CLIP_HI}) AS BIGINT) AS p_hi
  FROM documents GROUP BY 1)
SELECT doc_id, d.lang, n_chars, p_lo, p_hi
FROM documents d JOIN bounds b ON d.lang = b.lang
WHERE n_chars BETWEEN p_lo AND p_hi"""


def temperature_mix(
    spark: SparkSession, sf_dir: str, alpha: float = TEMPERATURE_ALPHA
) -> DataFrame:
    """Temperature-smoothed language mixture (the mT5/XLM-R sampling rule):
    natural share ``p_l`` = language's fraction of corpus characters;
    smoothed share ``q_l ∝ p_l^alpha``. ``alpha < 1`` upsamples
    low-resource languages toward uniform; the ``upsample_factor`` column
    (``q_l / p_l``) is the epochs-per-language multiplier that
    :func:`upsample_by_language` hard-codes — here it is *derived from the
    corpus* instead.

    Scale: one aggregation shuffle to language grain (map-side partials
    collapse to |languages| rows), then two 1-row broadcasts for the
    denominators. Cost is the scan; everything after is O(|languages|).
    """
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    tot = g.agg(F.sum("total_chars").cast("double").alias("corpus_chars"))
    p = g.join(F.broadcast(tot)).withColumn(
        "natural_share", F.col("total_chars") / F.col("corpus_chars")
    )
    # pow() is the one transcendental: quantize it to 12 dp (dquant) so the
    # Java-vs-libm 1-ulp divergence is collapsed before it feeds the sum
    # and the output ratios; the quantized doubles are 12-dp-exact, so the
    # decimal z-accumulator is exact and order-independent.
    p = p.withColumn("pq", dquant(F.pow("natural_share", F.lit(alpha))))
    z = p.agg(F.sum(F.col("pq").cast("decimal(38,12)")).cast("double").alias("z"))
    return (
        p.join(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "natural_share",
            (F.col("pq") / F.col("z")).alias("smoothed_share"),
            (F.col("pq") / F.col("z") / F.col("natural_share")).alias("upsample_factor"),
        )
    )


def oracle_temperature_mix() -> str:
    """DuckDB twin of :func:`temperature_mix`."""
    return f"""WITH g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY 1
), p AS (
  SELECT *, total_chars / (SELECT CAST(sum(total_chars) AS DOUBLE) FROM g) AS natural_share
  FROM g
), q AS (
  SELECT *, {oracle_dquant(f"pow(natural_share, {TEMPERATURE_ALPHA})")} AS pq FROM p
), z AS (SELECT {oracle_dsum12("pq")} AS z FROM q)
SELECT lang, n_docs, total_chars, natural_share,
       pq / z AS smoothed_share,
       pq / z / natural_share AS upsample_factor
FROM q CROSS JOIN z"""


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by md5(doc_id)
    bucket — the split every training pipeline needs to be REPRODUCIBLE:
    a document's split never changes under repartitioning, re-runs,
    engine swaps, or corpus growth (new docs hash into splits at the same
    rates without moving old ones — the property a random split lacks).

    Thresholds on the 256-bucket hex prefix: < 0xcd (205) → train
    (80.1%), < 0xe6 (230) → val (9.8%), else test (10.2%). Row-local
    projection, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test").alias("split"),
    )


def oracle_train_val_test_split() -> str:
    return """SELECT doc_id, lang, source,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM documents"""


def chunk_documents_overlap(
    spark: SparkSession, sf_dir: str, width: int = CHUNK_WIDTH, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding-window chunking with overlap (the retrieval/RAG chunker):
    chunk ``i`` covers characters ``[i*stride, i*stride + width)``, so
    consecutive chunks share ``width - stride`` characters and no content
    can fall on a hard boundary (the failure mode of
    :func:`chunk_documents`' disjoint windows). Same narrow row-explosion
    plan — no shuffle, output volume is the only cost (inflated by
    ``width/stride``)."""
    docs = load(spark, sf_dir, "documents")
    # last chunk index = ceil((n_chars - width) / stride): the final window
    # may be short but every character is covered (floor would leave a
    # tail of up to stride-1 chars out of every document).
    n_chunks = F.ceil(
        F.greatest(F.col("n_chars") - width, F.lit(0)) / F.lit(float(stride))
    ).cast("bigint")
    return (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks)).alias("chunk_idx"),
            "text",
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(
                f"substr(text, CAST(chunk_idx * {stride} + 1 AS INT), {width})"
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
        .drop("text")
    )


def oracle_chunk_documents_overlap() -> str:
    return f"""WITH ex AS (
  SELECT doc_id, text,
         unnest(generate_series(0,
           CAST(ceil(greatest(n_chars - {CHUNK_WIDTH}, 0) / {float(CHUNK_STRIDE)}) AS BIGINT))) AS chunk_idx
  FROM documents)
SELECT doc_id, chunk_idx,
       substr(text, CAST(chunk_idx*{CHUNK_STRIDE}+1 AS INT), {CHUNK_WIDTH}) AS chunk_text,
       length(substr(text, CAST(chunk_idx*{CHUNK_STRIDE}+1 AS INT), {CHUNK_WIDTH})) AS chunk_len
FROM ex"""


def length_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length decile profile — the length-distribution
    audit used to pick chunking widths and length-filter bounds per
    source (web scrapes and reference text have very different tails).

    Output: (source, decile 1..10, n_docs, min_chars, max_chars,
    sum_chars) — all exact ints.

    ``ntile`` is the standard SQL decile; the total order is
    (n_chars, doc_id) so ties are broken deterministically and both
    engines assign identical bucket membership.

    Scale — two-level exact rank, NOT a per-source ``ntile`` window
    (the same single-reducer sort class the r5 verdict flagged on
    :func:`quality_calibrated_by_source`; with a handful of sources a
    ``Window.partitionBy("source")`` sorts ~|corpus|/|sources| rows on
    one reducer). The sort key is already the integer ``n_chars``, so
    it IS its own quantization bucket:

    1. level 1: per-(source, n_chars) counts — one map-side-combined
       shuffle;
    2. level 2: per-source running sum over the tiny distinct-length
       frame gives each length's starting rank offset; per-source
       totals give n_src;
    3. offsets and totals broadcast back; a window PARTITIONED BY
       (source, n_chars) finishes the local row_number — every heavy
       sort partition is one length value, not one source;
    4. ``ntile(k)`` is then a closed form of (rank, n_src): with
       q = n DIV k and r = n % k, the first r tiles hold q+1 rows and
       the rest hold q, so the tile is integer arithmetic per row —
       bit-identical to the window ``ntile`` both engines run.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    partials = docs.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
    w_buckets = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = partials.select(
        "source",
        "n_chars",
        F.coalesce(F.sum("c").over(w_buckets), F.lit(0)).alias("rank_offset"),
    )
    counts = partials.groupBy("source").agg(F.sum("c").alias("n_src"))
    w_local = Window.partitionBy("source", "n_chars").orderBy("doc_id")
    ranked = (
        docs.select("source", "n_chars", "doc_id")
        .join(F.broadcast(offsets), ["source", "n_chars"])
        .join(F.broadcast(counts), "source")
        .withColumn("rn", F.col("rank_offset") + F.row_number().over(w_local))
    )
    # ntile(10) closed form; greatest() only guards the dead else-branch
    # division when n_src < 10 (there every rn lands in the first branch).
    decile = F.expr(
        "CAST(CASE WHEN rn <= (n_src % 10) * (n_src DIV 10 + 1) "
        "THEN (rn - 1) DIV (n_src DIV 10 + 1) + 1 "
        "ELSE (n_src % 10) + (rn - 1 - (n_src % 10) * (n_src DIV 10 + 1))"
        " DIV greatest(n_src DIV 10, 1) + 1 END AS INT)"
    )
    return (
        ranked.withColumn("decile", decile)
        .groupBy("source", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def oracle_length_decile_profile() -> str:
    return """WITH d AS (
  SELECT source, n_chars,
         CAST(ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS INTEGER) AS decile
  FROM documents)
SELECT source, decile, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM d GROUP BY 1, 2"""


def curated_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production training-data assembly line, with the REAL gates:
    per-gate quality verdict (quality / entropy / repetition) → exact
    content dedup among the survivors (keep lowest doc_id per normalized
    hash) → per-(source, lang) composition report. This is
    :func:`train_corpus_pipeline`'s grown-up sibling — that one documents
    the minimal shape (cheap filters + one dedup shuffle); this one runs
    the assembled corpus-curation stack end to end.

    Output: (source, lang, n_docs, total_chars).

    Plan: the gate's gram shuffle dominates; the dedup groupBy keys on
    md5 (uniform); every join is doc_id-keyed on |docs|-row frames. The
    filter runs BEFORE the dedup shuffle, so only qualifying rows
    shuffle — the same ordering the 100 TB pipeline wants.
    """
    from .text import corpus_quality_gate

    docs = load(spark, sf_dir, "documents")
    kept = corpus_quality_gate(spark, sf_dir).where(F.col("keep")).select("doc_id")
    qualified = docs.join(kept, "doc_id")
    survivors = (
        qualified.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        qualified.join(survivors, "doc_id", "left_semi")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def oracle_curated_corpus_pipeline(gate_oracle: str) -> str:
    return f"""WITH gate AS ({gate_oracle}),
kept AS (SELECT d.* FROM documents d JOIN gate g ON g.doc_id = d.doc_id
         WHERE g.keep),
survivors AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text))
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM kept JOIN survivors USING (doc_id)
GROUP BY 1, 2"""


# --- Corpus refresh (CDC latest-wins upsert) --------------------------------
#: doc_id offset marking synthesized brand-new documents in the updates
#: batch (far above any fixture id).
UPSERT_NEW_OFFSET = 1_000_000


def apply_corpus_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins snapshot refresh: merge an updates batch into the base
    corpus — the MERGE/upsert step a recurring-crawl pipeline runs per
    snapshot (re-crawled pages replace their previous version, newly
    discovered pages append). The updates batch is synthesized
    deterministically from the corpus itself (every 10th doc re-crawled
    with amended text, every 25th spawning a new doc_id above
    ``UPSERT_NEW_OFFSET``) so the merge semantics are oracle-checkable;
    in production the batch is the crawler's delivery table.

    Output: (doc_id, version, is_new, text_hash, n_chars_final).

    Plan: union + one ``max_by``-keyed aggregation on doc_id — the
    shuffle-on-primary-key upsert shape. At 100 TB the base side is a
    bucketed table on doc_id and the merge co-locates with zero base
    shuffle (or becomes a storage-layer MERGE INTO on Delta/Iceberg —
    same logical plan); versions are monotone so latest-wins is
    ``max_by(text, version)``, no window sort.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    base = docs.select("doc_id", "text", F.lit(0).alias("version"))
    recrawled = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.trim("text"), F.lit(" [recrawled]")).alias("text"),
        F.lit(1).alias("version"),
    )
    discovered = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + UPSERT_NEW_OFFSET).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
        F.lit(1).alias("version"),
    )
    merged = base.unionByName(recrawled).unionByName(discovered)
    latest = merged.groupBy("doc_id").agg(
        F.max("version").alias("version"),
        F.max_by("text", "version").alias("text"),
    )
    return latest.select(
        "doc_id",
        "version",
        (F.col("doc_id") >= UPSERT_NEW_OFFSET).alias("is_new"),
        F.md5("text").alias("text_hash"),
        F.length("text").alias("n_chars_final"),
    )


def oracle_pack_cumsum() -> str:
    """DuckDB twin of :func:`pack_documents` (moved verbatim from the
    registry so :func:`oracle_pack_efficiency` can compose it)."""
    from .text import TOKEN_SQL

    return rf"""WITH t AS (
  SELECT doc_id, lang, doc_id % 16 AS shard,
         CAST(len(regexp_split_to_array(trim(text), '{TOKEN_SQL}')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, lang, shard, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER (
         PARTITION BY lang, shard ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {PACK_MAX_TOKENS}.0) AS BIGINT)
         AS pack_id
FROM t"""


def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side packing-efficiency audit of the two packers: the
    cumsum approximation (:func:`pack_documents`, capacity in
    expectation, docs may straddle) vs the boundary-respecting next-fit
    (:func:`pack_documents_boundary`, hard capacity). The numbers a
    recipe owner needs to price the no-straddle constraint: how many
    extra packs it costs and what the realized fill rate is.

    Output per language: (lang, n_docs, total_tokens, n_packs_cumsum,
    n_packs_boundary, n_oversize, fill_boundary) where ``fill_boundary``
    = total_tokens / (n_packs_boundary × max_tokens).

    Plan: the two packers' one-shuffle plans, each collapsed to a
    per-language count — the report adds only |langs|-row aggregations
    and one broadcast-sized join.
    """
    a = pack_documents(spark, sf_dir)
    b = pack_documents_boundary(spark, sf_dir)
    ga = a.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count_distinct("shard", "pack_id").alias("n_packs_cumsum"),
    )
    gb = b.groupBy("lang").agg(
        F.count_distinct("shard", "pack_id").alias("n_packs_boundary"),
        F.sum(F.col("oversize").cast("bigint")).alias("n_oversize"),
    )
    return ga.join(gb, "lang").select(
        "lang",
        "n_docs",
        "total_tokens",
        "n_packs_cumsum",
        "n_packs_boundary",
        "n_oversize",
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_packs_boundary") * F.lit(PACK_MAX_TOKENS)).cast("double")
        ).alias("fill_boundary"),
    )


def oracle_pack_efficiency() -> str:
    return f"""WITH a AS ({oracle_pack_cumsum()}),
b AS ({oracle_pack_boundary()}),
ga AS (
  SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         count(DISTINCT (shard, pack_id)) AS n_packs_cumsum
  FROM a GROUP BY 1),
gb AS (
  SELECT lang, count(DISTINCT (shard, pack_id)) AS n_packs_boundary,
         CAST(sum(CAST(oversize AS BIGINT)) AS BIGINT) AS n_oversize
  FROM b GROUP BY 1)
SELECT lang, n_docs, total_tokens, n_packs_cumsum, n_packs_boundary, n_oversize,
       CAST(total_tokens AS DOUBLE)
         / CAST(n_packs_boundary * {PACK_MAX_TOKENS} AS DOUBLE) AS fill_boundary
FROM ga JOIN gb USING (lang)"""


def corpus_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style version history of the corpus under the same synthetic
    update stream as :func:`apply_corpus_updates` — where that operator
    keeps only the latest-wins snapshot, this one keeps EVERY version as
    a validity-interval row: the lineage table a training-data pipeline
    needs to answer "which text did the model trained in March actually
    see" (reproducibility/audit), and the delete-vector source when a
    version is retracted.

    Output: (doc_id, version, text_hash, n_chars, valid_to_version,
    is_current) — ``valid_to_version`` is the superseding version (NULL
    while current), the half-open [version, valid_to) SCD2 convention
    keyed by version number.

    Plan: union of the version stream + ONE window shuffle keyed by
    doc_id (lead over the per-doc version sequence) — no join back to
    the base. At 100 TB the history table is append-only and the window
    runs per-key over tiny per-doc version chains; bucketing by doc_id
    removes even that shuffle on refresh.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    base = docs.select("doc_id", "text", F.lit(0).alias("version"))
    recrawled = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.trim("text"), F.lit(" [recrawled]")).alias("text"),
        F.lit(1).alias("version"),
    )
    discovered = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + UPSERT_NEW_OFFSET).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
        F.lit(1).alias("version"),
    )
    hist = base.unionByName(recrawled).unionByName(discovered)
    w = Window.partitionBy("doc_id").orderBy("version")
    return hist.select(
        "doc_id",
        "version",
        F.md5("text").alias("text_hash"),
        F.length("text").alias("n_chars"),
        F.lead("version").over(w).alias("valid_to_version"),
    ).withColumn("is_current", F.col("valid_to_version").isNull())


def oracle_corpus_version_history() -> str:
    off = UPSERT_NEW_OFFSET
    return f"""WITH base AS (
  SELECT doc_id, text, 0 AS version FROM documents),
upd AS (
  SELECT doc_id, trim(text) || ' [recrawled]' AS text, 1 AS version
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {off} AS doc_id, 'new ' || text AS text, 1 AS version
  FROM documents WHERE doc_id % 25 = 0),
hist AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
SELECT doc_id, version, md5(text) AS text_hash,
       CAST(length(text) AS INTEGER) AS n_chars,
       lead(version) OVER (PARTITION BY doc_id ORDER BY version)
         AS valid_to_version,
       lead(version) OVER (PARTITION BY doc_id ORDER BY version) IS NULL
         AS is_current
FROM hist"""


def oracle_apply_corpus_updates() -> str:
    off = UPSERT_NEW_OFFSET
    return f"""WITH base AS (
  SELECT doc_id, text, 0 AS version FROM documents),
upd AS (
  SELECT doc_id, trim(text) || ' [recrawled]' AS text, 1 AS version
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {off} AS doc_id, 'new ' || text AS text, 1 AS version
  FROM documents WHERE doc_id % 25 = 0),
all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
latest AS (
  SELECT doc_id, max(version) AS version, max_by(text, version) AS text
  FROM all_rows GROUP BY doc_id)
SELECT doc_id, CAST(version AS INTEGER) AS version,
       doc_id >= {off} AS is_new,
       md5(text) AS text_hash,
       CAST(length(text) AS INTEGER) AS n_chars_final
FROM latest"""


def quality_calibrated_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: replace each document's raw
    heuristic quality score with its PERCENTILE RANK within its source,
    then gate on the calibrated rank. A single global threshold over raw
    scores silently skews the corpus toward whichever source's heuristic
    runs hot (e.g. longer average docs); ranking within source first
    makes "drop the worst quartile" mean the same thing for every source
    — the standard per-domain calibration step before corpus mixing.

    The percentile is computed explicitly as (rn − 1) / (n_src − 1) from
    a deterministic exact rank over (quality, doc_id) and a per-source
    count — integer inputs to one float division, identical in every
    engine (and well-defined for a single-doc source, where the builtin
    percent_rank's 0/0 is engine-dependent: here it is 0.0).

    Scale — two-level exact rank, NOT a per-source window. With a
    handful of sources, ``Window.partitionBy("source")`` sorts each
    ~|corpus|/|sources| partition on ONE reducer — the same canonical
    scale killer :func:`shard_assignment`'s docstring calls out. The
    rank decomposes the same way a prefix sum does, because
    ``floor(quality * QUANTILE_RESOLUTION)`` is monotone in ``quality``:

    1. quantize quality into ordered buckets ``qb`` within source;
    2. level 1: per-(source, qb) counts — one small shuffle;
    3. level 2: per-source running sum over the O(|sources| ×
       QUANTILE_RESOLUTION) bucket frame (trivial for one reducer) gives each
       bucket's starting rank offset; per-source totals give n_src;
    4. offsets and totals broadcast back; a window PARTITIONED BY
       (source, qb) finishes the local row_number — every heavy sort
       partition is one quality-bucket, not one source.

    A pathological score distribution (mass concentrated on one exact
    value) re-creates a fat (source, qb) partition; ties must sort
    together for determinism, so the mitigation is resolution (wider
    ``QUANTILE_RESOLUTION``), not salting.

    Output: (doc_id, source, quality, pct_rank, keep).
    """
    from .text import quality_projection

    docs = spread(load(spark, sf_dir, "documents"))
    q = quality_projection(docs).select("doc_id", "quality")
    scored = docs.select("doc_id", "source").join(q, "doc_id")
    base = scored.withColumn(
        "qb", F.floor(F.col("quality") * QUANTILE_RESOLUTION).cast("bigint")
    )
    # base fans out to the bucket-count aggregation AND the final join,
    # so the (row-local) quality projection runs twice — measured
    # equivalent to checkpointing it at sf0.1 (1.32 s either way), and
    # at scale recomputing a row-local projection beats materializing a
    # corpus-sized frame, so this one deliberately stays unmaterialized.
    partials = base.groupBy("source", "qb").agg(F.count("*").alias("c"))
    w_buckets = (
        Window.partitionBy("source")
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = partials.select(
        "source",
        "qb",
        F.coalesce(F.sum("c").over(w_buckets), F.lit(0)).alias("rank_offset"),
    )
    counts = partials.groupBy("source").agg(F.sum("c").alias("n_src"))
    w_local = Window.partitionBy("source", "qb").orderBy("quality", "doc_id")
    rn = F.col("rank_offset") + F.row_number().over(w_local)
    n_src = F.col("n_src")
    pct = F.when(n_src > 1, (rn - 1).cast("double") / (n_src - 1).cast("double")
                 ).otherwise(F.lit(0.0))
    return (
        base.join(F.broadcast(offsets), ["source", "qb"])
        .join(F.broadcast(counts), "source")
        .select(
            "doc_id",
            "source",
            "quality",
            pct.alias("pct_rank"),
            (pct >= CALIBRATED_KEEP_FLOOR).alias("keep"),
        )
    )


def oracle_quality_calibrated(quality_sql: str) -> str:
    """DuckDB twin of :func:`quality_calibrated_by_source`; ``quality_sql``
    is the shared quality-score oracle (``text.oracle_quality_score``)."""
    return f"""WITH q AS ({quality_sql}),
scored AS (
  SELECT d.doc_id, d.source, q.quality,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY q.quality, d.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.source) AS n_src
  FROM q JOIN documents d ON d.doc_id = q.doc_id),
pct AS (
  SELECT doc_id, source, quality,
         CASE WHEN n_src > 1
              THEN CAST(rn - 1 AS DOUBLE) / CAST(n_src - 1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS pct_rank
  FROM scored)
SELECT doc_id, source, quality, pct_rank, pct_rank >= {CALIBRATED_KEEP_FLOOR} AS keep
FROM pct"""


def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the ~80/10/10 md5 assignment of
    :func:`train_val_test_split`, but keyed on the document's NEAR-DUP
    CLUSTER label instead of its own id — every member of a duplicate
    cluster lands in the SAME split, so a test document can never have a
    near-copy sitting in train (the contamination a doc-keyed split
    silently allows; splitting by cluster/group is the standard fix).
    Unpaired documents are their own singleton cluster (label = doc_id),
    so their assignment matches the plain split exactly.

    Plan: the oracled component closure (pairs → min-label clusters) left-
    joins onto the corpus [doc_id-keyed shuffle]; the hash-threshold
    assignment stays a row-local projection. Reproducibility carries
    over: a cluster's split never changes under repartitioning or corpus
    growth — unless the cluster itself gains an edge, which is exactly
    when its membership SHOULD be re-decided.

    Output: (doc_id, split_key, lang, source, split).
    """
    from .dedup import neardup_components

    docs = load(spark, sf_dir, "documents")
    comp = neardup_components(spark, sf_dir).select(
        "doc_id", F.col("component_id")
    )
    keyed = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("split_key"),
        "lang",
        "source",
    )
    b = _hash_bucket(F.col("split_key"))
    return keyed.select(
        "doc_id",
        "split_key",
        "lang",
        "source",
        F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test").alias("split"),
    )


def oracle_leakage_free_split(components_sql: str) -> str:
    """DuckDB twin of :func:`leakage_free_split`; ``components_sql`` is
    the recursive component closure (``dedup.oracle_neardup_components``)."""
    return f"""WITH comp AS ({components_sql}),
keyed AS (
  SELECT d.doc_id, COALESCE(comp.component_id, d.doc_id) AS split_key,
         d.lang, d.source
  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id)
SELECT doc_id, split_key, lang, source,
       CASE WHEN substr(md5(CAST(split_key AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
            WHEN substr(md5(CAST(split_key AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM keyed"""


def shard_assignment(
    spark: SparkSession, sf_dir: str, bucket_docs: int = SHARD_BUCKET_DOCS
) -> DataFrame:
    """Exact order-preserving shard assignment via a distributed parallel
    prefix-sum: every document gets its EXACT global running token count
    (over doc_id order) and the contiguous shard
    ``tokens_before div SHARD_TARGET_TOKENS`` — the layout step that writes a
    100 TB corpus into fixed-token-budget training shards whose order
    matches the source order (unlike :func:`pack_documents`, whose
    per-(lang, shard) streams trade exactness for locality).

    A naive ``SUM() OVER (ORDER BY doc_id)`` plans a single-partition
    window — the canonical scale killer. This is the two-level scan
    instead:

    1. bucket = ``doc_id div bucket_docs`` (contiguous ranges of the
       global order, so per-bucket sums compose);
    2. level 1: one small shuffle computes per-bucket token sums;
    3. level 2: the global window runs only over the O(n/bucket_docs)
       bucket frame (at 100 TB you size ``bucket_docs`` so this is ~10^4
       rows — trivial for one reducer), producing each bucket's starting
       offset;
    4. the offsets broadcast-join back and a window PARTITIONED BY bucket
       finishes the local cumsum — every heavy window partition is capped
       at ``bucket_docs`` rows.

    All arithmetic is int64 — bit-exact against the oracle's flat window.

    Output: (doc_id, n_tokens, tokens_before, shard_id).
    """
    from .text import TOKEN_RE

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), TOKEN_RE)).cast("bigint").alias("n_tokens"),
        F.expr(f"doc_id div {bucket_docs}").alias("bucket"),
    )
    partials = base.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    w_buckets = (
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = partials.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_buckets), F.lit(0)).alias("bucket_offset"),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    return (
        base.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("bucket_offset") + local_before).alias("tokens_before"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "tokens_before",
            F.expr(f"tokens_before div {SHARD_TARGET_TOKENS}").alias("shard_id"),
        )
    )


def oracle_shard_assignment() -> str:
    """DuckDB twin of :func:`shard_assignment` — the flat global window
    the two-level scan must reproduce exactly."""
    from .text import TOKEN_SQL

    return f"""WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '{TOKEN_SQL}')) AS BIGINT)
           AS n_tokens
  FROM documents),
scanned AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM base)
SELECT doc_id, n_tokens, tokens_before,
       CAST(tokens_before // {SHARD_TARGET_TOKENS} AS BIGINT) AS shard_id
FROM scanned"""


def _persisted_shard_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-once / append-many state for :func:`shard_assignment_incremental`:
    the per-bucket token sums of the EXISTING corpus (doc_id below the
    arrival watermark), persisted as parquet. At 100 TB this is the
    O(n/bucket_docs)-row artifact the layout job leaves behind; every
    arrival batch reads it as a broadcast-sized scan instead of
    rescanning the corpus."""
    from .text import TOKEN_RE

    def state() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        thr = docs.agg(
            F.expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)").alias("thr")
        )
        existing = docs.crossJoin(F.broadcast(thr)).where("doc_id < thr")
        return (
            existing.select(
                F.size(F.split(F.trim(F.col("text")), TOKEN_RE))
                .cast("bigint")
                .alias("n_tokens"),
                F.expr(f"doc_id div {SHARD_BUCKET_DOCS}").alias("bucket"),
            )
            .groupBy("bucket")
            .agg(F.sum("n_tokens").alias("bucket_tokens"))
        )

    return persisted(
        spark, "shard_state", f"{sf_dir}/documents.parquet", (SHARD_BUCKET_DOCS,), state
    )


def shard_assignment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard assignment for an ARRIVAL batch against the persisted
    layout state — :func:`shard_assignment`'s append path. The arrival
    watermark is doc_id >= max(doc_id)*9/10 (the fixture's stand-in for
    the layout job's recorded high-water mark); existing-corpus tokens
    are NOT rescanned: their total folds out of the persisted per-bucket
    state (:func:`_persisted_shard_state`) with one O(n/bucket_docs)-row
    aggregation.

    The same two-level prefix-sum algebra runs over the batch alone —
    per-bucket sums, a tiny bucket window, broadcast offsets, bucket-
    local windows — shifted by the corpus total. Because prefix sums
    compose, the output is IDENTICAL to re-running the full batch layout
    and keeping the tail: the oracle is the flat global window
    restricted to arrivals, and the parity pytest checks the composed
    path against :func:`shard_assignment` row-for-row.

    Per-batch cost is O(batch) + one broadcast of the state frame —
    independent of corpus size, the property that makes nightly append
    layout feasible at 100 TB.

    Output: (doc_id, n_tokens, tokens_before, shard_id) for arrival
    docs only.
    """
    from .text import TOKEN_RE

    state = _persisted_shard_state(spark, sf_dir)
    corpus_total = state.agg(
        F.coalesce(F.sum("bucket_tokens"), F.lit(0)).cast("bigint").alias("corpus_total")
    )
    docs = load(spark, sf_dir, "documents")
    thr = docs.agg(F.expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)").alias("thr"))
    base = (
        docs.crossJoin(F.broadcast(thr))
        .where("doc_id >= thr")
        .select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), TOKEN_RE))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )
    scanned = _two_level_tokens_before(base)
    return (
        scanned.crossJoin(F.broadcast(corpus_total))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("corpus_total") + F.col("tokens_before")).alias("tokens_before"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "tokens_before",
            F.expr(f"tokens_before div {SHARD_TARGET_TOKENS}").alias("shard_id"),
        )
    )


def _two_level_tokens_before(
    base: DataFrame, bucket_docs: int = SHARD_BUCKET_DOCS
) -> DataFrame:
    """The shared two-level parallel prefix-sum over a (doc_id,
    n_tokens) frame: per-bucket partial sums → tiny global window over
    the bucket frame → broadcast offsets → bucket-local window. Used by
    the batch arrival path (:func:`shard_assignment_incremental`) and
    the streaming per-shipment layout so the composition algebra exists
    in exactly one place. Returns (doc_id, n_tokens, tokens_before)
    with tokens_before relative to the FRAME's own start."""
    b = base.withColumn("bucket", F.expr(f"doc_id div {bucket_docs}"))
    partials = b.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    w_buckets = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = partials.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_buckets), F.lit(0)).alias(
            "bucket_offset"
        ),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    return b.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "n_tokens",
        (F.col("bucket_offset") + local_before).alias("tokens_before"),
    )


def oracle_shard_assignment_incremental() -> str:
    """DuckDB twin of :func:`shard_assignment_incremental` — because
    prefix sums compose, the appended layout equals the flat global
    window restricted to the arrival tail."""
    from .text import TOKEN_SQL

    return f"""WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '{TOKEN_SQL}')) AS BIGINT)
           AS n_tokens
  FROM documents),
thr AS (SELECT CAST(max(doc_id) * 9 // 10 AS BIGINT) AS thr FROM documents),
scanned AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM base)
SELECT doc_id, n_tokens, tokens_before,
       CAST(tokens_before // {SHARD_TARGET_TOKENS} AS BIGINT) AS shard_id
FROM scanned CROSS JOIN thr WHERE doc_id >= thr"""


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest over :func:`shard_assignment`'s layout — the
    writer-side artifact every training job reads before opening a
    shard: doc range (layout is contiguous in doc_id order), document
    and token counts, and fill rate vs the token budget. One
    shard_id-keyed aggregation over the layout frame; the manifest is
    O(corpus_tokens / SHARD_TARGET_TOKENS) rows — tiny relative to the corpus
    at any scale.

    Output: (shard_id, n_docs, first_doc, last_doc, shard_tokens, fill).
    """
    layout = shard_assignment(spark, sf_dir)
    return layout.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum("n_tokens").alias("shard_tokens"),
        (F.sum("n_tokens").cast("double") / F.lit(float(SHARD_TARGET_TOKENS))).alias(
            "fill"
        ),
    )


def oracle_shard_manifest() -> str:
    """DuckDB twin of :func:`shard_manifest` — the layout oracle nested
    as a CTE, then the same aggregation (integer sums CAST to BIGINT:
    the r3/r5 HUGEINT lesson)."""
    return f"""WITH layout AS (
{oracle_shard_assignment()}
)
SELECT shard_id, count(*) AS n_docs, min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / {float(SHARD_TARGET_TOKENS)} AS fill
FROM layout GROUP BY 1"""


def pack_bpe_sequences(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    doc_mod: int = BPE_DOC_MOD,
    seq_len: int = PACK_SEQ_LEN,
) -> DataFrame:
    """The final tensor-feed artifact: BPE-encoded token ids packed into
    fixed ``seq_len`` training sequences in exact global order — the
    closure of the whole text pipeline (tokenize → encode → layout →
    pack) into the (seq_id, pos, token_id) rows a training loop consumes.

    Global token position = per-doc prefix offset (the shared two-level
    prefix sum :func:`_two_level_tokens_before`, run over the per-doc
    token COUNTS — an n_docs-sized frame, never the token stream) + the
    token's rank within its document (a doc-partitioned window, bounded
    by document length). seq_id/pos are integer div/mod of the global
    position. The offset join keys on doc_id and rides the same exchange
    the in-doc window already created — no broadcast of an
    n_docs-sized frame.

    Output: (seq_id, pos, doc_id, token_id) — one row per token;
    documents cross sequence boundaries (causal-LM packing; the
    boundary-respecting variant is :func:`pack_documents_boundary`'s
    territory).
    """
    from .text import bpe_encode

    enc = bpe_encode(
        spark, sf_dir, n_merges=n_merges, doc_mod=doc_mod
    ).localCheckpoint(eager=True)
    per_doc = enc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    offs = _two_level_tokens_before(per_doc).select(
        "doc_id", F.col("tokens_before").alias("doc_offset")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    pos_in_doc = (F.row_number().over(w_doc) - 1).cast("bigint")
    return (
        enc.select("doc_id", "wpos", "spos", "token_id")
        .withColumn("p", pos_in_doc)
        .join(offs, "doc_id")
        .select(
            F.expr(f"(doc_offset + p) div {seq_len}").alias("seq_id"),
            ((F.col("doc_offset") + F.col("p")) % seq_len).alias("pos"),
            "doc_id",
            "token_id",
        )
    )


def oracle_pack_bpe_sequences() -> str:
    """DuckDB twin of :func:`pack_bpe_sequences` — the encode oracle
    nested, per-doc counts, one flat window over the doc frame (the
    restricted frame the two-level scan reproduces), in-doc rank, then
    div/mod."""
    from .text import oracle_bpe_encode

    return f"""WITH enc AS (
{oracle_bpe_encode()}
),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM enc GROUP BY 1),
offs AS (
  SELECT doc_id,
         CAST(COALESCE(SUM(n) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS doc_offset
  FROM pd),
pos AS (
  SELECT doc_id, token_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos) - 1
              AS BIGINT) AS p
  FROM enc)
SELECT CAST((o.doc_offset + p.p) // {PACK_SEQ_LEN} AS BIGINT) AS seq_id,
       CAST((o.doc_offset + p.p) % {PACK_SEQ_LEN} AS BIGINT) AS pos,
       p.doc_id, p.token_id
FROM pos p JOIN offs o USING (doc_id)"""


def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version regression report: classify every document in the
    SCD2 history (:func:`corpus_version_history`) as added / updated /
    unchanged between the v0 snapshot and the latest state, with
    before/after character volume per class — the governance diff a
    team reads before retraining on a refreshed crawl ("how much of the
    corpus actually moved, and did it grow or shrink").

    One doc_id-keyed aggregation over the history frame (conditional
    max per version — no self-join), then a 3-row class rollup.

    Output: (change, n_docs, chars_before, chars_after).
    """
    hist = corpus_version_history(spark, sf_dir)
    per_doc = hist.groupBy("doc_id").agg(
        F.max(F.when(F.col("version") == 0, F.col("n_chars"))).alias("chars0"),
        F.max(F.when(F.col("version") == 1, F.col("n_chars"))).alias("chars1"),
    )
    change = (
        F.when(F.col("chars0").isNull(), F.lit("added"))
        .when(F.col("chars1").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return (
        per_doc.select(
            change.alias("change"),
            F.coalesce(F.col("chars0"), F.lit(0)).alias("cb"),
            F.coalesce(F.col("chars1"), F.col("chars0"), F.lit(0)).alias("ca"),
        )
        .groupBy("change")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("cb").cast("bigint").alias("chars_before"),
            F.sum("ca").cast("bigint").alias("chars_after"),
        )
    )


def oracle_corpus_version_diff() -> str:
    """DuckDB twin of :func:`corpus_version_diff` — the history oracle
    nested, the same conditional-max pivot and class rollup (sums CAST
    to BIGINT per the HUGEINT lesson)."""
    return f"""WITH hist AS (
{oracle_corpus_version_history()}
),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN version = 0 THEN n_chars END) AS chars0,
         max(CASE WHEN version = 1 THEN n_chars END) AS chars1
  FROM hist GROUP BY 1),
classed AS (
  SELECT CASE WHEN chars0 IS NULL THEN 'added'
              WHEN chars1 IS NULL THEN 'unchanged'
              ELSE 'updated' END AS change,
         COALESCE(chars0, 0) AS cb,
         COALESCE(chars1, chars0, 0) AS ca
  FROM per_doc)
SELECT change, count(*) AS n_docs,
       CAST(sum(cb) AS BIGINT) AS chars_before,
       CAST(sum(ca) AS BIGINT) AS chars_after
FROM classed GROUP BY 1"""


#: PSI length-bucket width (characters).
PSI_BUCKET_WIDTH = 50


def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor between corpus versions
    — the MLOps gate that decides whether a refreshed crawl shifted the
    data distribution enough to warrant re-validation before training:
    PSI = Σ_b (p1_b − p0_b)·ln(p1_b/p0_b) over fixed-width document-
    length buckets, comparing the v0 snapshot against the latest-wins
    merge (:func:`apply_corpus_updates`). Reported per bucket (the
    consumer sums psi_term; >0.2 conventionally flags drift).

    Determinism: bucket counts are exact integers; Laplace smoothing
    p = (c + 1)/(n + B) (B = occupied buckets) keeps every probability
    strictly positive with EXACT integer numerators/denominators into
    one double division each; the single transcendental (ln) rides the
    repo's dquant convention on the output term. Plan: two count
    aggregations + a |buckets|-row full outer join + one broadcast
    totals row — corpus-scan bound.

    Output: (bucket, n0_docs, n1_docs, p0, p1, psi_term).
    """
    from ..functions.numeric import dquant

    docs = spread(load(spark, sf_dir, "documents"))
    v0 = docs.select(F.expr(f"CAST(length(text) DIV {PSI_BUCKET_WIDTH} AS BIGINT)").alias("bucket"))
    v1 = apply_corpus_updates(spark, sf_dir).select(
        F.expr(f"CAST(n_chars_final DIV {PSI_BUCKET_WIDTH} AS BIGINT)").alias("bucket")
    )
    c0 = v0.groupBy("bucket").agg(F.count("*").alias("c0"))
    c1 = v1.groupBy("bucket").agg(F.count("*").alias("c1"))
    j = (
        c0.join(c1, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("c0", F.lit(0)).alias("c0"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
        )
    )
    totals = j.agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1"), F.count("*").alias("B")
    )
    jt = j.crossJoin(F.broadcast(totals))
    p0 = (F.col("c0") + 1).cast("double") / (F.col("n0") + F.col("B")).cast("double")
    p1 = (F.col("c1") + 1).cast("double") / (F.col("n1") + F.col("B")).cast("double")
    return jt.select(
        "bucket",
        F.col("c0").alias("n0_docs"),
        F.col("c1").alias("n1_docs"),
        p0.alias("p0"),
        p1.alias("p1"),
        dquant((p1 - p0) * F.log(p1 / p0), "psi_term"),
    )


def oracle_corpus_drift_psi() -> str:
    """DuckDB twin of :func:`corpus_drift_psi` — latest-wins CTE reused
    from the upsert oracle, identical smoothing arithmetic, dquant'd
    ln term."""
    from ..functions.numeric import oracle_dquant

    latest = oracle_apply_corpus_updates()
    p0 = "CAST(c0 + 1 AS DOUBLE) / CAST(n0 + B AS DOUBLE)"
    p1 = "CAST(c1 + 1 AS DOUBLE) / CAST(n1 + B AS DOUBLE)"
    term = oracle_dquant(f"(({p1}) - ({p0})) * ln(({p1}) / ({p0}))")
    return f"""WITH l AS ({latest}),
v0 AS (SELECT CAST(length(text) // {PSI_BUCKET_WIDTH} AS BIGINT) AS bucket FROM documents),
v1 AS (SELECT CAST(n_chars_final // {PSI_BUCKET_WIDTH} AS BIGINT) AS bucket FROM l),
c0_ AS (SELECT bucket, count(*) AS c0 FROM v0 GROUP BY 1),
c1_ AS (SELECT bucket, count(*) AS c1 FROM v1 GROUP BY 1),
j AS (
  SELECT COALESCE(c0_.bucket, c1_.bucket) AS bucket,
         COALESCE(c0, 0) AS c0, COALESCE(c1, 0) AS c1
  FROM c0_ FULL JOIN c1_ ON c1_.bucket = c0_.bucket),
t AS (SELECT sum(c0) AS n0, sum(c1) AS n1, count(*) AS B FROM j)
SELECT bucket, c0 AS n0_docs, c1 AS n1_docs,
       {p0} AS p0, {p1} AS p1,
       {term} AS psi_term
FROM j CROSS JOIN t"""


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle — seeded global training order, no global sort
# ---------------------------------------------------------------------------

EPOCH_SHUFFLE_EPOCHS = 2
EPOCH_SHUFFLE_BATCH = 32


def epoch_shuffle(
    spark: SparkSession,
    sf_dir: str,
    batch_docs: int = EPOCH_SHUFFLE_BATCH,
) -> DataFrame:
    """Deterministic per-epoch global shuffle order for training: every
    document gets an EXACT position in a seeded random permutation, one
    permutation per epoch, plus the training batch that position lands
    in. The order key is ``md5(doc_id ':' epoch)`` — engine-portable,
    partitioning-independent, and different every epoch, so a multi-epoch
    run re-shuffles without re-reading any RNG state.

    Scale — the permutation RANK is the hard part at 100 TB: a naive
    ``row_number() OVER (ORDER BY key)`` plans a single-partition sort
    over the corpus. This reuses the two-level exact-rank algebra of
    :func:`shard_assignment`: bucket = first two hex chars of the key
    (256 uniform buckets whose lexicographic order IS key-prefix order,
    so per-bucket counts compose into exact global offsets); per-bucket
    counts shuffle once; the only unpartitioned window runs over the
    256-row bucket frame; the doc-frame window is bucket-partitioned.
    Identical output to the oracle's flat per-epoch ``row_number``.

    Output: (epoch, doc_id, shuffle_pos, batch_id), all int64.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    eps = spark.range(EPOCH_SHUFFLE_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = (
        docs.crossJoin(F.broadcast(eps))
        .select(
            "epoch",
            "doc_id",
            F.md5(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.col("epoch").cast("string")
                )
            ).alias("k"),
        )
        .withColumn("bucket", F.substring("k", 1, 2))
    )
    counts = keyed.groupBy("epoch", "bucket").agg(F.count("*").alias("n"))
    w_buckets = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "epoch",
        "bucket",
        F.coalesce(F.sum("n").over(w_buckets), F.lit(0)).alias("bucket_offset"),
    )
    w_local = Window.partitionBy("epoch", "bucket").orderBy("k", "doc_id")
    pos = (
        F.col("bucket_offset") + F.row_number().over(w_local).cast("bigint") - 1
    )
    return (
        keyed.join(F.broadcast(offsets), ["epoch", "bucket"])
        .select("epoch", "doc_id", pos.alias("shuffle_pos"))
        .select(
            "epoch",
            "doc_id",
            "shuffle_pos",
            F.expr(f"shuffle_pos div {batch_docs}").alias("batch_id"),
        )
    )


def oracle_epoch_shuffle() -> str:
    """DuckDB twin of :func:`epoch_shuffle` — the flat per-epoch
    ``row_number`` the two-level rank must reproduce bit-exactly."""
    return f"""WITH e AS (SELECT unnest(range(0, {EPOCH_SHUFFLE_EPOCHS})) AS epoch),
keyed AS (
  SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS k
  FROM documents CROSS JOIN e),
ranked AS (
  SELECT epoch, doc_id,
         CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) - 1
              AS BIGINT) AS shuffle_pos
  FROM keyed)
SELECT epoch, doc_id, shuffle_pos,
       CAST(shuffle_pos // {EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id
FROM ranked"""


def quality_quantile_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of the quality score: every
    document's score is REPLACED by the global order statistic at its
    within-source percentile — the standard quantile-mapping calibration
    that makes scores from different sources directly comparable (a
    "0.7 from source A" and a "0.7 from source B" can mean different
    things; after mapping, equal normalized scores mean equal standing
    in the global distribution). :func:`quality_calibrated_by_source`
    outputs the percentile RANK; this outputs a calibrated SCORE on the
    original scale, which downstream mixture weights can consume
    unchanged.

    Exact semantics: with within-source rank ``r`` of ``n_s`` (ordered
    by (quality, doc_id)) and global corpus size ``N``, the target
    global position is ``p = (r−1)·(N−1) div (n_s−1) + 1`` (pure integer
    arithmetic — the multiplication rides DECIMAL(38,0)/HUGEINT so it
    cannot overflow int64 at 100 TB row counts) and ``norm_quality`` is
    the quality at global rank ``p``. Single-doc sources map to p = 1,
    mirroring the calibrated op's 0-percentile convention.

    Scale: BOTH ranks (within-source and global) use the two-level
    exact-rank algebra (quantized-quality buckets → per-bucket counts →
    tiny bucket window → broadcast offsets → bucket-local row_number) —
    no per-source or global single-reducer sort; the order-statistic
    lookup is one equi-join on the uniform integer position key.

    Output: (doc_id, source, quality, norm_quality).
    """
    from .text import quality_projection

    docs = spread(load(spark, sf_dir, "documents"))
    q = quality_projection(docs).select("doc_id", "quality")
    scored = docs.select("doc_id", "source").join(q, "doc_id")
    # base fans out to FIVE consumers (both bucket-count partials, both
    # rank joins, the corpus total) — unmaterialized, the scan + quality
    # projection re-runs per consumer (measured 17.8 s -> 4 s at the
    # 100 k-doc soak). The checkpointed frame is 3 narrow columns, the
    # cheapest thing on this plan to persist; at 100 TB this is the
    # scored-corpus intermediate a real pipeline would persist anyway.
    base = scored.withColumn(
        "qb", F.floor(F.col("quality") * QUANTILE_RESOLUTION).cast("bigint")
    ).localCheckpoint(eager=True)

    # within-source exact rank (two-level, as quality_calibrated_by_source)
    partials_s = base.groupBy("source", "qb").agg(F.count("*").alias("c"))
    w_src = (
        Window.partitionBy("source")
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets_s = partials_s.select(
        "source",
        "qb",
        F.coalesce(F.sum("c").over(w_src), F.lit(0)).alias("rank_offset"),
    )
    counts_s = partials_s.groupBy("source").agg(F.sum("c").alias("n_src"))
    w_local_s = Window.partitionBy("source", "qb").orderBy("quality", "doc_id")
    ranked = (
        base.join(F.broadcast(offsets_s), ["source", "qb"])
        .join(F.broadcast(counts_s), "source")
        .select(
            "doc_id",
            "source",
            "quality",
            (F.col("rank_offset") + F.row_number().over(w_local_s))
            .cast("bigint")
            .alias("rn"),
            "n_src",
        )
    )

    # global exact rank (same algebra, one bucket axis) -> order statistics
    partials_g = base.groupBy("qb").agg(F.count("*").alias("c"))
    w_glob = Window.orderBy("qb").rowsBetween(Window.unboundedPreceding, -1)
    offsets_g = partials_g.select(
        "qb", F.coalesce(F.sum("c").over(w_glob), F.lit(0)).alias("g_offset")
    )
    w_local_g = Window.partitionBy("qb").orderBy("quality", "doc_id")
    glob = base.join(F.broadcast(offsets_g), "qb").select(
        (F.col("g_offset") + F.row_number().over(w_local_g))
        .cast("bigint")
        .alias("g"),
        F.col("quality").alias("norm_quality"),
    )
    n_total = base.agg(F.count("*").cast("bigint").alias("N"))

    pos = (
        ranked.join(F.broadcast(n_total))
        .withColumn(
            "p",
            F.when(
                F.col("n_src") > 1,
                F.expr(
                    "CAST((CAST(rn - 1 AS DECIMAL(38,0)) * (N - 1))"
                    " DIV (n_src - 1) AS BIGINT) + 1"
                ),
            ).otherwise(F.lit(1).cast("bigint")),
        )
        .select("doc_id", "source", "quality", "p")
    )
    return pos.join(glob, pos.p == glob.g).select(
        "doc_id", "source", "quality", "norm_quality"
    )


def oracle_quality_quantile_normalized(quality_sql: str) -> str:
    """DuckDB twin of :func:`quality_quantile_normalized` — flat windows
    for both ranks, HUGEINT-native position arithmetic CAST back."""
    return f"""WITH q AS ({quality_sql}),
scored AS (
  SELECT d.doc_id, d.source, q.quality,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY q.quality, d.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.source) AS n_src,
         count(*) OVER () AS N
  FROM q JOIN documents d ON d.doc_id = q.doc_id),
gstat AS (
  SELECT quality AS norm_quality,
         row_number() OVER (ORDER BY quality, doc_id) AS g
  FROM q),
pos AS (
  SELECT doc_id, source, quality,
         CASE WHEN n_src > 1
              THEN CAST((rn - 1) * (N - 1) // (n_src - 1) AS BIGINT) + 1
              ELSE 1 END AS p
  FROM scored)
SELECT pos.doc_id, pos.source, pos.quality, gstat.norm_quality
FROM pos JOIN gstat ON gstat.g = pos.p"""


def chunk_documents_sentences(
    spark: SparkSession, sf_dir: str, width: int = CHUNK_WIDTH
) -> DataFrame:
    """Sentence-boundary-respecting chunking (the RAG chunker upgrade):
    documents split into sentences (maximal ``[.!?]``-delimited segments
    with content), consecutive sentences packed into chunks of ~``width``
    characters — a chunk boundary NEVER cuts a sentence, the failure
    mode of both fixed-width chunkers (:func:`chunk_documents`,
    :func:`chunk_documents_overlap`) that retrieval quality pays for.

    Chunk assignment is bin-by-cumsum (the :func:`pack_documents`
    pattern): ``chunk_id = chars_before div width`` over the in-doc
    sentence order, so a sentence longer than ``width`` still lands in
    exactly one chunk (next-fit semantics — budget is a target, the
    boundary rule is absolute).

    Plan: one (doc_id-keyed) shuffle serves the in-doc cumsum window and
    the chunk reassembly groupBy; partitions are doc-bounded. No float
    anywhere — pure integer/string logic hash-gates trivially.

    Output: (doc_id, chunk_id, n_sentences, n_chars, chunk_text).
    """
    docs = load(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        F.posexplode(
            F.expr("filter(split(text, '[.!?]+'), s -> trim(s) != '')")
        ).alias("sidx", "seg"),
    ).select("doc_id", "sidx", F.trim(F.col("seg")).alias("sentence"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("sidx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chars_before = F.coalesce(
        F.sum(F.length("sentence").cast("bigint")).over(w), F.lit(0)
    )
    assigned = sent.select(
        "doc_id", "sidx", "sentence", chars_before.alias("chars_before")
    ).select(
        "doc_id",
        "sidx",
        "sentence",
        F.expr(f"chars_before div {width}").alias("chunk_id"),
    )
    return (
        assigned.groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_sentences"),
            F.sum(F.length("sentence")).cast("bigint").alias("n_chars"),
            F.concat_ws(
                " ",
                F.array_sort(F.collect_list(F.struct("sidx", "sentence"))).sentence,
            ).alias("chunk_text"),
        )
        .select("doc_id", "chunk_id", "n_sentences", "n_chars", "chunk_text")
    )


def oracle_chunk_documents_sentences() -> str:
    """DuckDB twin of :func:`chunk_documents_sentences` — same
    segmentation, same strictly-prior cumsum binning, same ordered
    reassembly."""
    return f"""WITH segs AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[.!?]+'),
                     s -> trim(s) <> '') AS ss
  FROM documents),
sent AS (
  SELECT doc_id, i AS sidx, trim(ss[i]) AS sentence
  FROM segs, unnest(generate_series(1, len(ss))) AS t(i)),
assigned AS (
  SELECT doc_id, sidx, sentence,
         CAST(COALESCE(SUM(length(sentence)) OVER (
           PARTITION BY doc_id ORDER BY sidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) // {CHUNK_WIDTH} AS chunk_id
  FROM sent)
SELECT doc_id, chunk_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(length(sentence)) AS BIGINT) AS n_chars,
       string_agg(sentence, ' ' ORDER BY sidx) AS chunk_text
FROM assigned GROUP BY 1, 2"""
