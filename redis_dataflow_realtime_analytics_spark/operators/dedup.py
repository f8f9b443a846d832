"""Deduplication operators over the ``documents`` table (north-star
extension): exact, n-gram Jaccard, MinHash+LSH, and SimHash. The
embedding-cosine near-dup lives in ``operators.similarity``.

Scale notes (100 TB):
* ``exact_*``: hash-groupBy on ``md5(text)`` — one shuffle keyed by a
  uniformly-distributed hash (no skew), partial aggregation collapses
  duplicates map-side.
* ``ngram_jaccard_pairs``: exact pairwise Jaccard via a shingle-inverted
  index (explode → self-join on shingle). Cost scales with the number of
  co-shingled pairs, NOT |docs|² — only documents sharing a shingle meet.
  Stop-shingle skew (a shingle in millions of docs) is the scale hazard;
  cap with ``max_shingle_df``.
* ``minhash_lsh_*``: the sub-quadratic scale path. Signatures are one
  groupBy over exploded shingles (32 mins computed map-side); banding turns
  near-dup search into an equi-join on (band, bucket) — shuffle keyed by
  band hash. Pairs ≥ est. Jaccard threshold; no cross join anywhere.
* ``simhash_*``: 64-bit signature per doc from token-hash bit votes; the
  16-bit-chunk blocking join guarantees (pigeonhole) recall of every pair
  within Hamming distance 3 while only joining on 4 small keys per doc.

MinHash/SimHash use ``xxhash64`` (seeded) — deterministic across runs and
cluster sizes, but engine-specific, so these register rows-only with the
driver; their recall/precision is asserted against exact Jaccard in
tests/test_dedup.py with planted near-duplicates. The PORTABLE MinHash
family (:func:`portable_minhash_signatures` + the ``*_portable`` pair
ops) swaps xxhash64 for md5-derived affine permutations both engines can
compute, making the banded pipeline fully SQL-oracled — it exists to
externally verify the banding logic; xxhash64 stays the scale path.

Every LSH key runs one private kernel, which has two axes: the
signature family (set / weighted / one-permutation MinHash, xxhash64
or portable) and the band bucket key (``_xxhash_key`` or
``_concat_key``). A key is a signature builder, then the kernel, then
a final projection. The kernel's stages are ``_band`` (signature →
(doc_id, band, bucket)), ``_band_pairs`` / ``_band_probe`` (bucket
self-join / incoming-vs-existing probe), ``_agree`` (slot agreement
``n_agree``, of which ``est_jaccard`` / ``est_wjaccard`` are
projections), ``_best_match`` (one row per probed doc) and
``_verify_jaccard`` (exact Jaccard of candidates). SimHash blocks on
bit chunks instead of bands: ``_chunk_pairs``. The streaming probe
(``streaming.pipeline.stream_neardup_probe``) runs the same kernel per
micro-batch.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import oracle_dsum12
from ..tables import load, materialized, spread

# Explicit whitespace class — Java's \s includes \x0B, RE2's (DuckDB) does
# not, so both sides spell the class out (see operators.text.WS).
from .text import TOKEN_EXPR, TOKEN_RE, TOKEN_SQL  # noqa: E402

#: Jaccard cut of every MinHash / LSH near-dup key and its oracle.
NEARDUP_THRESHOLD = 0.5
#: Jaccard cut of the exact n-gram join (:func:`ngram_jaccard_pairs`).
NGRAM_JACCARD_THRESHOLD = 0.06
#: Containment cut of :func:`containment_pairs`.
CONTAINMENT_THRESHOLD = 0.6
#: Max differing SimHash bits of a near-dup pair.
SIMHASH_MAX_HAMMING = 3
#: Near-dup PageRank: iterations, damping, localCheckpoint cadence.
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85
PAGERANK_CHECKPOINT_EVERY = 3
#: k-core: the core order and the peeling rounds.
KCORE_K = 2
KCORE_ROUNDS = 4
#: Label-propagation rounds.
LPA_ROUNDS = 3
#: A span is boilerplate once it repeats in this many docs.
BOILERPLATE_MIN_DOCS = 2
#: Iteration caps of the two connected-components formulations.
CC_MAX_ITER = 25
CC_STAR_MAX_ITER = 50
#: Seed of the portable MinHash permutations.
PORTABLE_SEED = 0x5EED

#: Token-level shingle width for Jaccard/MinHash (3-token shingles).
NGRAM_K = 3

#: MinHash signature size and LSH banding (8 bands × 4 rows).
N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS


def _norm_text() -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), TOKEN_RE, " ")


#: Shared with the text operators — see tables.spread.
_spread = spread


# --- Exact dedup -------------------------------------------------------------
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups by content hash: (text_hash, canonical_doc_id,
    n_docs). Canonical = min doc_id in the group."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(_norm_text()).alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_docs"),
    )


def dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving doc_ids after exact dedup (first-id-wins policy)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(_norm_text()).alias("text_hash")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")


def incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an INCOMING batch of documents against
    the EXISTING corpus — the production shape where dedup runs per
    ingest batch against a persisted content-hash index, never
    all-pairs over history. The fixture splits on ``doc_id % 10 = 0``
    (incoming) vs the rest (existing).

    Output, one row per incoming doc: ``status`` = ``exact_dup`` with the
    smallest matching existing doc (``dup_of``) or ``new`` (NULL).

    Scale: a single equi-join on ``md5(normalized text)`` — uniform key,
    no skew; with the corpus index stored bucketed by hash
    (functions/bucketing.py) the join shuffles ONLY the incoming batch,
    so per-batch cost is O(batch), independent of corpus size. Near-dup
    incremental checks compose the same way with the MinHash index
    (:func:`minhash_signatures` persisted, bucket join on band/bucket).
    """
    docs = load(spark, sf_dir, "documents").withColumn("h", F.md5(_norm_text()))
    incoming = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id"), F.col("h")
    )
    existing = (
        docs.where(F.col("doc_id") % 10 != 0)
        .groupBy("h")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    return incoming.join(existing, "h", "left").select(
        "doc_id",
        F.when(F.col("dup_of").isNotNull(), F.lit("exact_dup"))
        .otherwise(F.lit("new"))
        .alias("status"),
        "dup_of",
    )


def oracle_incremental_new_docs(norm_sql: str) -> str:
    return f"""WITH d AS (SELECT doc_id, md5({norm_sql}) AS h FROM documents),
inc AS (SELECT doc_id, h FROM d WHERE doc_id % 10 = 0),
ex  AS (SELECT h, min(doc_id) AS dup_of FROM d WHERE doc_id % 10 <> 0 GROUP BY h)
SELECT inc.doc_id,
       CASE WHEN ex.dup_of IS NOT NULL THEN 'exact_dup' ELSE 'new' END AS status,
       ex.dup_of
FROM inc LEFT JOIN ex ON ex.h = inc.h"""


# --- Shingles ---------------------------------------------------------------
def _shingle_array(k: int = NGRAM_K) -> F.Column:
    """Distinct k-token shingle array for ``text`` — one map-side expression.

    Formulation note (benched at sf0.1): keep this as ONE expression and
    let each call site choose how to reference it. A pre-tokenized
    two-projection variant (materialize ``toks``, then slide) benches
    ~6× SLOWER for the explode-only path (0.5 s → 3.4 s): the split is
    cheap relative to materializing the token array between projections."""
    return F.expr(f"array_distinct({_shingle_seq(k)})")


def _shingle_seq(k: int = NGRAM_K) -> str:
    """SQL for the k-token shingle sequence of ``text``, duplicates kept."""
    return (
        f"transform(sequence(0, greatest(size(split(trim(text), '{TOKEN_EXPR}')) - {k}, 0)), "
        f"i -> concat_ws(' ', slice(split(trim(text), '{TOKEN_EXPR}'), i + 1, {k})))"
    )


def _shingle_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, arr) with arr = distinct k-token shingle array, aliased in
    its own projection — for call sites that reference the array MORE THAN
    ONCE (size + explode): the multiply-referenced alias is kept by the
    optimizer, so the array is computed once per doc (benched ~2× faster
    than inlining the expression at both references)."""
    return docs.select("doc_id", _shingle_array().alias("arr"))


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct k-token shingles per doc: (doc_id, shingle). Single
    reference → inline the array expression directly under explode (see
    the formulation note on :func:`_shingle_array`)."""
    return docs.select("doc_id", F.explode(_shingle_array()).alias("shingle"))


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = NGRAM_JACCARD_THRESHOLD,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every co-shingled doc pair
    (doc_a < doc_b) at or above ``threshold``.

    jaccard = |A∩B| / (|A| + |B| − |A∩B|) over distinct 3-token shingles —
    integer set sizes, so the double division is bit-deterministic and
    oracle-checkable.

    Exact up to hash identity: shingles are compared by their 64-bit
    ``xxhash64``, not their strings. Two different shingles with the same
    hash would over-count |A∩B|. Even odds of any such collision need
    ~2^32 distinct shingles; at sf0.1 (~10⁶ distinct) the odds are about
    3e-8, and the string-keyed SQL oracle would flag one.

    Plan shape: the per-doc set size |A| is ``size()`` of the shingle array
    (computed in the same map-side projection as the explode) and rides
    along each inverted-index row, so the whole query is ONE self-join on
    the shingle plus ONE aggregation — no separate size table, no extra
    joins, nothing cached.

    ``max_shingle_df`` is the 100 TB stop-shingle guard: shingles appearing
    in more than that many documents are dropped from the inverted index
    (a shingle with df=10⁶ alone generates ~5·10¹¹ candidate pairs).
    Set sizes |A|/|B| stay TRUE sizes, so capped Jaccard only ever
    *under*-counts the intersection: the output is a subset of the exact
    pairs (precision 1, bounded recall loss on pairs whose overlap is
    mostly stop-shingles). Default ``None`` = exact up to hash identity
    (the oracle-gated configuration).
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    # Keep the explode SINGLE-referenced: when size() and explode() both
    # reference the aliased shingle array, ExtractGenerator/CollapseProject
    # inline the array expression into the Generate and it is recomputed
    # per OUTPUT row — measured 3.7 s vs 0.45 s for the index build at
    # sf0.1. Per-doc set sizes are instead re-derived from the exploded
    # rows (arr is distinct, so count == size) and joined onto the
    # AGGREGATED pair table — tiny vs the pair stream, and AQE broadcasts
    # it when it fits (no forced hint: at 10⁹ docs the sizes table is not
    # broadcastable and this becomes an ordinary shuffle join).
    #
    # The inverted index is MATERIALIZED once (localCheckpoint): the plan
    # otherwise re-runs scan→repartition→tokenize→explode for every one of
    # its four consumers (both self-join sides + both size lookups), and —
    # worse at scale — the planner broadcasts the whole index as the
    # self-join build side (estimates after a Generate are unusable), a
    # plan that cannot exist at 10⁹ docs. Checkpointing pins the index to
    # one tokenize pass and makes the self-join a plain shuffle join on
    # the shingle key. Isolated A/B at sf0.1: 31.5 s → 3.9 s min-of-3.
    #
    # The pinned rows carry xxhash64(shingle), not the string (r11; §2.3
    # narrower types / §5 pinned bytes): downstream only equi-joins and
    # counts shingles, so identity-by-hash suffices — 8 bytes/row pinned
    # and shuffled instead of a ~(k·word) string. A 64-bit collision
    # between DIFFERENT shingles (which could over-count n_common) needs
    # ~2^32 distinct shingles for even-odds; at 10⁶ distinct (sf0.1) the
    # probability is ~3e-8, and the oracle sweep double-checks every run.
    sh = (
        docs.select("doc_id", F.explode(_shingle_array()).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    idx = sh
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        idx = sh.join(rare, "shingle", "left_semi")
    common = (
        idx.alias("a")
        .join(idx.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a")
        .join(sizes.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def oracle_ngram_jaccard_pairs(
    threshold: float = NGRAM_JACCARD_THRESHOLD, max_shingle_df: int | None = None
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_pairs` — with
    ``max_shingle_df`` set, the inverted index is df-capped exactly like
    the Spark side (set sizes stay TRUE sizes, so the capped result is a
    precision-1 subset of the exact pairs; the cap itself is a pure
    function of the data, no hashing, hence SQL-oracle-able)."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    idx = "sh"
    cap_cte = ""
    if max_shingle_df is not None:
        idx = "idx"
        cap_cte = f""",
idx AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {max_shingle_df}) rare USING (shingle)
)"""
    return f"""WITH pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {NGRAM_K - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + {NGRAM_K - 1}], ' ') AS shingle
  FROM pos
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1){cap_cte},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM {idx} a JOIN {idx} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       n_common / (sa.n + sb.n - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n + sb.n - n_common) >= {threshold}"""


# --- Decontamination (benchmark n-gram overlap) ------------------------------
#: Shingle width for decontamination — longer than the dedup width
#: (NGRAM_K=3): eval-set contamination checks key on long verbatim
#: n-grams, not topical overlap.
DECON_K = 5

#: Every ``benchmark_mod``-th doc_id stands in for the held-out eval set.
DECON_MOD = 20


def decontamination_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus decontamination: flag corpus documents sharing any
    k-token shingle with a held-out benchmark set — the standard
    eval-leakage check every LLM data pipeline runs before training.

    The benchmark set is the ``doc_id % DECON_MOD == 0`` slice (a
    deterministic stand-in for an external eval suite; swap in a real
    benchmark table at ingest). Output: one row per contaminated corpus
    doc — (doc_id, n_shared_shingles, n_benchmark_docs_hit).

    Plan shape (100 TB): shingle inverted index on the CORPUS side joined
    against the benchmark side's (much smaller) shingle set — an equi-join
    on the shingle string that AQE broadcasts when the benchmark set fits
    (typical: eval suites are MBs vs corpus TBs). Cost scales with corpus
    size × benchmark shingle hit-rate, never corpus².
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    is_bench = F.col("doc_id") % DECON_MOD == 0
    corpus_sh = docs.where(~is_bench).select(
        "doc_id", F.explode(_shingle_array(DECON_K)).alias("shingle")
    )
    bench_sh = docs.where(is_bench).select(
        F.col("doc_id").alias("bench_doc_id"),
        F.explode(_shingle_array(DECON_K)).alias("shingle"),
    )
    return (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared_shingles"),
            F.count_distinct("bench_doc_id").alias("n_benchmark_docs_hit"),
        )
    )


def oracle_decontamination_hits() -> str:
    """DuckDB twin of :func:`decontamination_hits`."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {DECON_K - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + {DECON_K - 1}], ' ') AS shingle
  FROM pos
),
corpus AS (SELECT * FROM sh WHERE doc_id % {DECON_MOD} <> 0),
bench AS (SELECT doc_id AS bench_doc_id, shingle FROM sh
          WHERE doc_id % {DECON_MOD} = 0)
SELECT c.doc_id,
       count(DISTINCT c.shingle) AS n_shared_shingles,
       count(DISTINCT b.bench_doc_id) AS n_benchmark_docs_hit
FROM corpus c JOIN bench b USING (shingle)
GROUP BY c.doc_id"""


#: Bloom filter geometry for :func:`decontamination_hits_bloom` — bits and
#: hash count. Size ``m`` at ~20+ bits per distinct benchmark shingle for a
#: sub-1% false-positive rate with 3 hashes: 2^22 bits (512 KB bitmap,
#: ≤65k int64 words — a trivial broadcast) covers ~200k benchmark
#: shingles; a 100M-shingle eval suite wants 2^31 (256 MB — still far
#: smaller than broadcasting the shingle strings). Only words with set
#: bits materialize, so a sparsely-filled bitmap broadcasts sparsely.
BLOOM_M_BITS = 1 << 22
BLOOM_N_HASHES = 3


def _bloom_word_bit(seed: int, m_bits: int):
    """(word index, bit mask) expressions for hash ``seed`` of the
    ``shingle`` column in an ``m_bits``-bit Bloom bitmap stored as 64-bit
    words. SQL expressions because ``F.shiftleft`` only takes a literal
    shift amount; build and probe share this helper, so the bit layout is
    consistent by construction."""
    pos = f"pmod(xxhash64(CAST({seed} AS INT), shingle), CAST({m_bits} AS BIGINT))"
    word = F.expr(f"{pos} DIV 64")
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({pos}, 64) AS INT))")
    return word, mask


def decontamination_hits_bloom(
    spark: SparkSession,
    sf_dir: str,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_N_HASHES,
) -> DataFrame:
    """Bloom-pruned decontamination — identical output to
    :func:`decontamination_hits` (same oracle), different plan: the
    benchmark shingle set is compressed into an ``m_bits``-bit Bloom
    bitmap (``m_bits/64`` rows of 64-bit words, built with ``xxhash64``
    and ``bit_or`` — no driver round-trip), and corpus shingles pass
    ``n_hashes`` chained broadcast probes against it BEFORE the exact
    string equi-join. False positives survive the probe but die in the
    exact join, so the result is exactly the exact-join result.

    Why this matters at 100 TB: the exact plan broadcasts every benchmark
    shingle *string* into the corpus-side join (~100s of MB for a large
    eval suite); here the broadcast is a 16 KB–16 MB bitmap and ~99% of
    corpus shingles are eliminated in-scan by integer hashing, shrinking
    the string join's probe side by the corpus hit-rate. This is the
    engine-level runtime-filter (Bloom join pruning) pattern, spelled out
    declaratively since Spark exposes no public ``bloom_filter_agg``.
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    is_bench = F.col("doc_id") % DECON_MOD == 0
    corpus_sh = docs.where(~is_bench).select(
        "doc_id", F.explode(_shingle_array(DECON_K)).alias("shingle")
    )
    bench_sh = docs.where(is_bench).select(
        F.col("doc_id").alias("bench_doc_id"),
        F.explode(_shingle_array(DECON_K)).alias("shingle"),
    )

    # Build: distinct benchmark shingles -> n_hashes (word, mask) pairs ->
    # bit_or-folded bitmap words. Map-side partial bit_or collapses to
    # <= m_bits/64 rows before the (tiny) shuffle.
    probes = []
    for seed in range(n_hashes):
        word, mask = _bloom_word_bit(seed, m_bits)
        probes.append(F.struct(word.alias("word"), mask.alias("mask")))
    # localCheckpoint materializes the (<= m_bits/64 row) bitmap ONCE —
    # the three probe joins below would otherwise each recompute the
    # benchmark shingle explode. This is the "build the runtime filter,
    # then reuse it" step a production engine does implicitly.
    bitmap = (
        bench_sh.select(F.explode(F.array(*probes)).alias("p"))
        .groupBy(F.col("p.word").alias("word"))
        .agg(F.bit_or("p.mask").alias("bits"))
        .localCheckpoint()
    )

    # Probe: n_hashes chained broadcast joins — corpus side never shuffles;
    # a missing word row means "no bit set", so inner join + mask test.
    cand = corpus_sh
    for seed in range(n_hashes):
        word, mask = _bloom_word_bit(seed, m_bits)
        bm = F.broadcast(
            bitmap.withColumnRenamed("word", f"w{seed}").withColumnRenamed(
                "bits", f"bits{seed}"
            )
        )
        cand = (
            cand.withColumn(f"probe{seed}", word)
            .join(bm, F.col(f"probe{seed}") == F.col(f"w{seed}"))
            .where(F.col(f"bits{seed}").bitwiseAND(mask) != 0)
            .drop(f"probe{seed}", f"w{seed}", f"bits{seed}")
        )

    return (
        cand.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared_shingles"),
            F.count_distinct("bench_doc_id").alias("n_benchmark_docs_hit"),
        )
    )


# --- Exact duplicate spans (substring-level dedup) ---------------------------
#: Token window width for span-level dedup. Lee et al. 2021 ("Deduplicating
#: Training Data Makes Language Models Better") use 50-BPE-token substrings
#: via a suffix array; hashed fixed-width token windows are the standard
#: distributed approximation (recall loss only for duplicates shorter than
#: the window). 8 words here so the tiny synthetic docs produce spans.
SPAN_K = 8


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate inventory: for each document, how much of
    it re-occurs verbatim elsewhere in the corpus — (doc_id, n_spans,
    n_dup_spans, dup_span_frac) over sliding ``SPAN_K``-token windows.

    Exact-dedup (:func:`exact_dedup_groups`) only removes whole-document
    copies; training corpora lose most duplicated TEXT to partial overlaps
    (quotes, boilerplate headers, syndicated paragraphs). This is the
    span-level measure used to drive substring dedup à la Lee et al. 2021.

    Plan shape (100 TB): windows are map-side expressions (same sliding
    slice as the shingle family); each (doc, window) is reduced to a
    128-bit ``md5`` key, so the two shuffles — the span-frequency groupBy
    and the span→doc join — carry 16-byte uniform keys, never the window
    text. Cost is O(total tokens), not corpus²; boilerplate heavy-hitter
    spans behave like stop-shingles and can be df-capped exactly as in
    :func:`ngram_jaccard_pairs` if a corpus needs it.
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    # _shingle_array is array_distinct → (doc_id, h) pairs are unique, so
    # the per-span count below equals the number of DOCS containing it.
    spans = docs.select("doc_id", F.explode(_shingle_array(SPAN_K)).alias("span")).select(
        "doc_id", F.md5("span").alias("h")
    )
    span_df = spans.groupBy("h").agg(F.count("*").alias("nd"))
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        spans.join(span_df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.cast("bigint").alias("n_dup_spans"),
            (dup.cast("double") / F.count("*")).alias("dup_span_frac"),
        )
    )


def oracle_duplicate_spans() -> str:
    """DuckDB twin of :func:`duplicate_spans`."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {SPAN_K - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
sh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[i : i + {SPAN_K - 1}], ' ')) AS h
  FROM pos
),
c AS (SELECT h, count(*) AS nd FROM sh GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS dup_span_frac
FROM sh JOIN c USING (h)
GROUP BY doc_id"""


def maximal_duplicate_spans(
    spark: SparkSession, sf_dir: str, k: int = SPAN_K
) -> DataFrame:
    """Per-document MAXIMAL duplicated spans — the actual Lee et al. 2021
    deliverable that :func:`duplicate_spans` only inventories: merge
    overlapping/contiguous duplicated ``k``-token windows into maximal
    token intervals, one row per (doc, interval).

    Semantics: a window (token positions ``i..i+k-1``) is *duplicated*
    when its text occurs ≥ 2 times anywhere in the corpus — across docs
    OR repeated inside one doc (stricter than :func:`duplicate_spans`'
    distinct-per-doc ≥2-docs rule: self-repetition is duplication a
    substring-deduper must also cut). Two duplicated windows at positions
    ``i < j`` of the same doc belong to one maximal span while their
    union stays contiguous (``j − i ≤ k``); the emitted interval is
    clamped to the doc's real token count.

    Output: (doc_id, span_start, span_end, span_tokens, n_windows),
    1-based inclusive token positions.

    Plan shape (100 TB): windows are one map-side ``transform`` over the
    token array; the occurrence count and the span→doc join both shuffle
    16-byte ``md5`` keys (uniform, never the window text). The interval
    merge is a ``lag`` + running-sum window PARTITIONED BY doc_id — the
    frame is bounded by a single document's window count, so no
    single-reducer sort exists anywhere (contrast the unpartitioned
    Window hazards noted in SCALE.md). Cost is O(total tokens).
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    # struct(pos, h) per sliding window; positions are 1-based. Single
    # reference -> inline under explode (formulation note on
    # _shingle_array). md5 inside the transform keeps the shuffle rows
    # fixed-width.
    wexpr = (
        f"transform(sequence(1, greatest(size(split(trim(text), '{TOKEN_EXPR}')) - {k - 1}, 1)), "
        f"i -> struct(CAST(i AS BIGINT) AS pos, "
        f"md5(concat_ws(' ', slice(split(trim(text), '{TOKEN_EXPR}'), i, {k}))) AS h))"
    )
    w = docs.select(
        "doc_id",
        F.expr(f"CAST(size(split(trim(text), '{TOKEN_EXPR}')) AS BIGINT)").alias(
            "n_toks"
        ),
        F.explode(F.expr(wexpr)).alias("w"),
    ).select("doc_id", "n_toks", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    occ = w.groupBy("h").agg(F.count("*").alias("occ"))
    dup = w.join(occ.where(F.col("occ") >= 2), "h").select("doc_id", "n_toks", "pos")
    win = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(win) > k, 1).otherwise(0)
    isl = dup.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(win)
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        F.least(F.max("pos") + (k - 1), F.min("n_toks")).alias("span_end"),
        (
            F.least(F.max("pos") + (k - 1), F.min("n_toks"))
            - F.min("pos")
            + 1
        ).alias("span_tokens"),
        F.count("*").alias("n_windows"),
    ).drop("island")


def oracle_maximal_duplicate_spans() -> str:
    """DuckDB twin of :func:`maximal_duplicate_spans` — identical window
    inventory, occurrence rule, and lag/running-sum island merge."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH base AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
pos AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
         unnest(generate_series(1, greatest(len(toks) - {SPAN_K - 1}, 1))) AS i
  FROM base
),
w AS (
  SELECT doc_id, n_toks, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i : i + {SPAN_K - 1}], ' ')) AS h
  FROM pos
),
c AS (SELECT h, count(*) AS occ FROM w GROUP BY 1),
dup AS (
  SELECT doc_id, n_toks, pos FROM w JOIN c USING (h) WHERE occ >= 2
),
flag AS (
  SELECT doc_id, n_toks, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {SPAN_K}
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, n_toks, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flag
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(least(max(pos) + {SPAN_K - 1}, min(n_toks)) AS BIGINT) AS span_end,
       CAST(least(max(pos) + {SPAN_K - 1}, min(n_toks)) - min(pos) + 1 AS BIGINT)
         AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, island"""


def cut_duplicate_spans(
    spark: SparkSession, sf_dir: str, k: int = SPAN_K
) -> DataFrame:
    """APPLY the :func:`maximal_duplicate_spans` cut list: excise every
    token covered by a maximal duplicated span and reassemble the
    remainder in order — the aggressive substring-dedup variant (cut ALL
    occurrences) Lee et al. 2021 evaluate alongside keep-one. The
    keep-one policy is a downstream choice (join the cut list against a
    canonical-owner table first); the cut mechanics are identical.

    Output: (doc_id, n_toks, removed_tokens, kept_tokens, cleaned_text).
    ``cleaned_text`` is the kept tokens joined by single spaces (token
    reassembly, like :func:`corpus_remove_boilerplate`'s ordered
    rebuild — original inter-token whitespace is not preserved).

    Plan shape (100 TB): the cut list is tiny relative to the corpus
    (per-doc maximal intervals); it aggregates to one array per doc_id
    [one small shuffle] and joins back onto the corpus [doc_id-keyed
    shuffle, AQE-broadcast when it fits]. The excision itself is one
    map-side higher-order expression (filter positions not covered by
    any interval — O(n_toks x n_intervals) per doc, both bounded by the
    document), so no per-token rows ever shuffle.
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    spans = (
        maximal_duplicate_spans(spark, sf_dir, k)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
            ).alias("iv")
        )
    )
    toks = F.split(F.trim(F.col("text")), TOKEN_RE)
    base = docs.select("doc_id", toks.alias("toks")).join(spans, "doc_id", "left")
    kept_pos = F.expr(
        "filter(sequence(1, size(toks)), p -> NOT exists(coalesce(iv, array()), "
        "x -> p >= x.s AND p <= x.e))"
    )
    return base.select(
        "doc_id",
        "toks",
        F.size("toks").cast("bigint").alias("n_toks"),
        kept_pos.alias("kp"),
    ).select(
        "doc_id",
        "n_toks",
        (F.col("n_toks") - F.size("kp")).cast("bigint").alias("removed_tokens"),
        F.size("kp").cast("bigint").alias("kept_tokens"),
        F.expr("concat_ws(' ', transform(kp, p -> toks[p - 1]))").alias(
            "cleaned_text"
        ),
    )


def oracle_cut_duplicate_spans() -> str:
    """DuckDB twin of :func:`cut_duplicate_spans` — the maximal-span
    oracle as a CTE, then per-token covered test + ordered reassembly."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH spans AS ({oracle_maximal_duplicate_spans()}),
tk AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
         unnest(t) AS tok,
         CAST(generate_subscripts(t, 1) AS BIGINT) AS pos
  FROM (SELECT doc_id, {toks} AS t FROM documents) d
),
marked AS (
  SELECT tk.doc_id, tk.n_toks, tk.tok, tk.pos,
         EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = tk.doc_id
                   AND tk.pos BETWEEN s.span_start AND s.span_end) AS covered
  FROM tk
)
SELECT doc_id,
       CAST(min(n_toks) AS BIGINT) AS n_toks,
       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
         AS removed_tokens,
       CAST(sum(CASE WHEN covered THEN 0 ELSE 1 END) AS BIGINT)
         AS kept_tokens,
       coalesce(string_agg(CASE WHEN covered THEN NULL ELSE tok END, ' '
                           ORDER BY pos), '') AS cleaned_text
FROM marked GROUP BY doc_id"""


def cut_duplicate_spans_keep_first(
    spark: SparkSession, sf_dir: str, k: int = SPAN_K
) -> DataFrame:
    """The KEEP-ONE substring-dedup policy Lee et al. 2021 evaluate
    alongside cut-all (:func:`cut_duplicate_spans`): every duplicated
    ``k``-token window keeps its CANONICAL occurrence — the first by
    ``(doc_id, pos)`` — and is excised everywhere else, so one copy of
    each duplicated passage survives in the corpus.

    Mechanics: the window inventory and ≥2-occurrence rule are exactly
    :func:`maximal_duplicate_spans`'; the per-hash aggregate additionally
    carries ``min(struct(doc_id, pos))`` (lexicographic struct min — the
    canonical owner), a window occurrence is CUT iff it is duplicated and
    not canonical, and the cut windows merge into maximal per-doc
    intervals with the same lag + running-sum island pass. Token excision
    and ordered reassembly are shared with the cut-all variant. A kept
    canonical window can still lose overlap tokens to an ADJACENT cut
    window's interval — coverage is per token, the same rule both
    engines apply.

    Output: (doc_id, n_toks, removed_tokens, kept_tokens, cleaned_text) —
    the :func:`cut_duplicate_spans` schema, so the two policies diff
    directly.

    Plan shape (100 TB): identical to cut-all plus one extra field in the
    md5-keyed occurrence aggregate (the canonical struct rides the same
    shuffle); no high-cardinality window rank — canonical selection is a
    groupBy aggregate, not a per-hash ``row_number``."""
    docs = _spread(load(spark, sf_dir, "documents"))
    wexpr = (
        f"transform(sequence(1, greatest(size(split(trim(text), '{TOKEN_EXPR}')) - {k - 1}, 1)), "
        f"i -> struct(CAST(i AS BIGINT) AS pos, "
        f"md5(concat_ws(' ', slice(split(trim(text), '{TOKEN_EXPR}'), i, {k}))) AS h))"
    )
    w = docs.select(
        "doc_id",
        F.expr(f"CAST(size(split(trim(text), '{TOKEN_EXPR}')) AS BIGINT)").alias(
            "n_toks"
        ),
        F.explode(F.expr(wexpr)).alias("w"),
    ).select("doc_id", "n_toks", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    occ = w.groupBy("h").agg(
        F.count("*").alias("occ"),
        F.min(F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))).alias(
            "canon"
        ),
    )
    cut = (
        w.join(occ.where(F.col("occ") >= 2), "h")
        .where(
            ~(
                (F.col("doc_id") == F.col("canon.d"))
                & (F.col("pos") == F.col("canon.p"))
            )
        )
        .select("doc_id", "n_toks", "pos")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(win) > k, 1).otherwise(0)
    isl = cut.withColumn("brk", brk).withColumn("island", F.sum("brk").over(win))
    spans = (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            F.least(F.max("pos") + (k - 1), F.min("n_toks")).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("iv"))
    )
    toks = F.split(F.trim(F.col("text")), TOKEN_RE)
    base = docs.select("doc_id", toks.alias("toks")).join(spans, "doc_id", "left")
    kept_pos = F.expr(
        "filter(sequence(1, size(toks)), p -> NOT exists(coalesce(iv, array()), "
        "x -> p >= x.s AND p <= x.e))"
    )
    return base.select(
        "doc_id",
        "toks",
        F.size("toks").cast("bigint").alias("n_toks"),
        kept_pos.alias("kp"),
    ).select(
        "doc_id",
        "n_toks",
        (F.col("n_toks") - F.size("kp")).cast("bigint").alias("removed_tokens"),
        F.size("kp").cast("bigint").alias("kept_tokens"),
        F.expr("concat_ws(' ', transform(kp, p -> toks[p - 1]))").alias(
            "cleaned_text"
        ),
    )


def oracle_cut_keep_first() -> str:
    """DuckDB twin of :func:`cut_duplicate_spans_keep_first` — canonical
    selection via ``row_number`` over (doc_id, pos) per hash (equivalent
    to the engine's lexicographic struct-min), then the shared island
    merge + per-token covered test."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH base AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
pos AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
         unnest(generate_series(1, greatest(len(toks) - {SPAN_K - 1}, 1))) AS i
  FROM base
),
w AS (
  SELECT doc_id, n_toks, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i : i + {SPAN_K - 1}], ' ')) AS h
  FROM pos
),
ranked AS (
  SELECT doc_id, n_toks, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY h) AS occ
  FROM w
),
cut AS (
  SELECT doc_id, n_toks, pos FROM ranked WHERE occ >= 2 AND rn >= 2
),
flag AS (
  SELECT doc_id, n_toks, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {SPAN_K}
              THEN 1 ELSE 0 END AS brk
  FROM cut
),
isl AS (
  SELECT doc_id, n_toks, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flag
),
spans AS (
  SELECT doc_id,
         min(pos) AS span_start,
         least(max(pos) + {SPAN_K - 1}, min(n_toks)) AS span_end
  FROM isl GROUP BY doc_id, island
),
tk AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
         unnest(t) AS tok,
         CAST(generate_subscripts(t, 1) AS BIGINT) AS pos
  FROM (SELECT doc_id, {toks} AS t FROM documents) d
),
marked AS (
  SELECT tk.doc_id, tk.n_toks, tk.tok, tk.pos,
         EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = tk.doc_id
                   AND tk.pos BETWEEN s.span_start AND s.span_end) AS covered
  FROM tk
)
SELECT doc_id,
       CAST(min(n_toks) AS BIGINT) AS n_toks,
       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
         AS removed_tokens,
       CAST(sum(CASE WHEN covered THEN 0 ELSE 1 END) AS BIGINT)
         AS kept_tokens,
       coalesce(string_agg(CASE WHEN covered THEN NULL ELSE tok END, ' '
                           ORDER BY pos), '') AS cleaned_text
FROM marked GROUP BY doc_id"""


# --- LSH kernel ---------------------------------------------------------------
def _xxhash_key(b: int, slots: list[F.Column]) -> F.Column:
    """Bucket key of the xxhash64 families: a band-seeded hash of the slots."""
    return F.xxhash64(F.lit(b), *slots)


def _concat_key(b: int, slots: list[F.Column]) -> F.Column:
    """Bucket key of the portable families: the slot values joined by
    ``-`` — a string both engines build identically (the values ARE the
    key, no second hash)."""
    return F.concat_ws("-", *slots)


def _band(sig: DataFrame, n_perms: int, rows: int, bucket) -> DataFrame:
    """(doc_id, band, bucket) rows: the slots ``h0..h{n_perms-1}`` cut into
    bands of ``rows`` consecutive slots, each band keyed by
    ``bucket(band, slots)``."""
    keys = [
        bucket(b, [F.col(f"h{b * rows + r}") for r in range(rows)])
        for b in range(n_perms // rows)
    ]
    return sig.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band", "bucket")
    )


def _band_pairs(banded: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, sharing a band bucket — the
    only pairs LSH ever scores; no all-pairs formulation exists."""
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _band_probe(inc: DataFrame, ex: DataFrame) -> DataFrame:
    """Distinct (doc_id, neardup_of): incoming band rows ``inc`` sharing a
    bucket with existing band rows ``ex``. The join touches only the
    (band, bucket) groups the incoming side occupies."""
    ex = ex.select(F.col("doc_id").alias("neardup_of"), "band", "bucket")
    return inc.join(ex, ["band", "bucket"]).select("doc_id", "neardup_of").distinct()


def _agree(
    cands: DataFrame,
    sig: DataFrame,
    n_perms: int,
    left: str,
    right: str,
    right_sig: DataFrame | None = None,
) -> DataFrame:
    """``cands`` joined to the signatures of its ``left`` and ``right`` doc
    columns, plus ``n_agree`` (bigint): the number of agreeing slots.
    ``right_sig`` holds the right side's signatures when they are not in
    ``sig`` (a batch probing a persisted index)."""
    a = sig.select(
        F.col("doc_id").alias(left), *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_perms)]
    )
    b = (sig if right_sig is None else right_sig).select(
        F.col("doc_id").alias(right), *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_perms)]
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(n_perms)
    )
    return cands.join(a, left).join(b, right).withColumn("n_agree", n_agree.cast("bigint"))


def _est(n_perms: int) -> F.Column:
    """Estimated (weighted) Jaccard: the agreeing fraction of the slots."""
    return F.col("n_agree").cast("double") / float(n_perms)


def _best_match(scored: DataFrame) -> DataFrame:
    """One row per doc_id: the highest ``n_agree``, then the smallest
    ``neardup_of``. Orders by the integer, never by a float."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_agree"), "neardup_of")
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)


def _verify_jaccard(cands: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for candidates whose EXACT shingle Jaccard
    is ≥ ``threshold``: one row-local ``array_intersect`` per candidate;
    integer set sizes ⇒ one correctly-rounded double division."""
    arr = _shingle_docs(docs)
    a = arr.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
    b = arr.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    union = F.size("arr_a") + F.size("arr_b") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _neardup_probe(sig: DataFrame, n_perms: int, rows: int, bucket) -> DataFrame:
    """Incoming docs (``doc_id % 10 = 0``) probing the existing corpus's
    bands: (doc_id, neardup_of, a*, b*, n_agree) per candidate."""
    banded = _band(sig, n_perms, rows, bucket)
    cands = _band_probe(
        banded.where(F.col("doc_id") % 10 == 0), banded.where(F.col("doc_id") % 10 != 0)
    )
    return _agree(cands, sig, n_perms, "doc_id", "neardup_of")


# --- Signature builders -------------------------------------------------------
def _xxhash_mins(rows: DataFrame, col: str) -> DataFrame:
    """(doc_id, h0..h31): per-doc min of ``xxhash64(seed_i, col)``. The 32
    min-aggregates stay inside whole-stage codegen (an array-fold
    formulation benches ~4× slower: higher-order-function lambdas
    evaluate interpreted), and partial aggregation collapses the rows
    back to one per doc before the shuffle."""
    return rows.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.lit(i), F.col(col))).alias(f"h{i}") for i in range(N_HASHES)]
    )


def _md5_key(col: str) -> F.Column:
    """28-bit portable key: the first 7 hex chars of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def _affine_mins(rows: DataFrame, col: str) -> DataFrame:
    """(doc_id, h0..h15): per-doc min of the portable affine permutations
    ``(a_i · x + b_i) mod (2^31 − 1)`` over ``x = _md5_key(col)`` — one md5
    per row, shared by all 16 permutations."""
    x = _md5_key(col)
    return rows.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * x + F.lit(b)) % F.lit(PORTABLE_P)).alias(f"h{i}")
            for i, (a, b) in enumerate(_PORT_COEF)
        ]
    )


def _tf_replicas(docs: DataFrame) -> DataFrame:
    """(doc_id, r) tf-replication rows: a shingle with tf = n contributes
    ``shingle#1 .. shingle#n``, so a set MinHash over ``r`` estimates the
    WEIGHTED Jaccard Σmin(tf)/Σmax(tf). One explode + a map-side-combined
    tf count, then one replica explode; replica volume equals the total
    (non-distinct) shingle count."""
    return (
        docs.select("doc_id", F.explode(F.expr(_shingle_seq())).alias("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("tf"))
        .select("doc_id", "shingle", F.explode(F.expr("sequence(1, tf)")).alias("rep"))
        .select("doc_id", F.concat_ws("#", "shingle", F.col("rep").cast("string")).alias("r"))
    )


def _oph_bins(hashed: DataFrame, bin_col: F.Column, n: int) -> DataFrame:
    """One-permutation binning of (doc_id, h) rows: ONE per-doc groupBy of
    ``n`` conditional mins ``b0..b{n-1}`` (null = empty bin)."""
    return hashed.groupBy("doc_id").agg(
        *[F.min(F.when(bin_col == i, F.col("h"))).alias(f"b{i}") for i in range(n)]
    )


def _densify(n: int) -> list[F.Column]:
    """Rotation densification (Shrivastava 2017): slot i takes the nearest
    non-empty bin clockwise — a static unrolled coalesce, pure codegen."""
    return [F.coalesce(*[F.col(f"b{(i + j) % n}") for j in range(n)]) for i in range(n)]


def _simhash(token_hash: str, bits: int) -> F.Column:
    """``bits``-bit SimHash of ``text``: per-bit majority vote over the
    distinct tokens' ``token_hash`` values (ties resolve to 1).

    Computed per row as ONE nested higher-order-function fold: token
    hashes → vote counters (array accumulator) → bit assembly. No
    explode, no shuffle, and — unlike a column-per-bit formulation — a
    small generated-code footprint, so the first run isn't dominated by
    Janino compilation."""
    return F.expr(
        f"aggregate("
        f"  zip_with("
        f"    aggregate("
        f"      transform(array_distinct(split(trim(text), '{TOKEN_EXPR}')), t -> {token_hash}),"
        f"      array_repeat(0, {bits}),"
        f"      (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        f"                           (a, i) -> a + IF(((h >> i) & 1) = 1, 1, -1))),"
        f"    sequence(0, {bits - 1}),"
        f"    (v, i) -> IF(v >= 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        f"  CAST(0 AS BIGINT),"
        f"  (s, bit) -> s | bit)"
    ).alias("simhash")


def _chunk_pairs(
    sig: DataFrame, bits: int, chunks: int, max_hamming: int, hamming_type: str
) -> DataFrame:
    """(doc_a, doc_b, hamming) for SimHash pairs within ``max_hamming``.

    Blocking: split the ``bits``-bit signature into ``chunks`` equal
    chunks and join on any equal chunk — by pigeonhole, every pair within
    Hamming distance ``chunks − 1`` shares at least one chunk, so recall
    is exact for that bound. Candidates only surface from shared chunk
    buckets, never all-pairs."""
    w = bits // chunks
    parts = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), j * w).bitwiseAND((1 << w) - 1)
                    for j in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    pairs = (
        parts.alias("a")
        .join(parts.alias("b"), ["chunk_idx", "chunk_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast(hamming_type)
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --- MinHash + LSH -----------------------------------------------------------
def minhash_signatures(docs: DataFrame) -> DataFrame:
    """32-permutation MinHash signature per doc over 3-token shingles.

    Each "permutation" is ``xxhash64(seed_i, shingle)``; the signature
    column ``h0..h31`` is the per-seed min, computed by one explode +
    groupBy (:func:`_xxhash_mins`)."""
    return _xxhash_mins(_shingles(docs), "shingle")


def minhash_lsh_candidates(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any of the
    8 band buckets (band = hash of 4 consecutive signature slots)."""
    sig = minhash_signatures(docs)
    return _band_pairs(_band(sig, N_HASHES, ROWS_PER_BAND, _xxhash_key))


def incremental_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup twin of :func:`incremental_new_docs`: flag INCOMING docs
    (``doc_id % 10 = 0``) whose MinHash signature shares an LSH band
    bucket with an EXISTING doc and whose estimated Jaccard ≥
    ``NEARDUP_THRESHOLD`` — the per-ingest-batch near-dup check against a
    persisted signature index. Output: one row per flagged incoming doc —
    (doc_id, neardup_of, est_jaccard) with the best (highest estimate,
    smallest id) existing match.

    Scale: the band join touches only (band, bucket) groups the incoming
    batch occupies — with the corpus's banded signatures stored bucketed,
    per-batch cost is O(batch × bucket occupancy), never O(corpus²).
    Rows-only (xxhash64 signatures are engine-specific); planted-replica
    recall asserted in tests.
    """
    sig = minhash_signatures(_spread(load(spark, sf_dir, "documents")))
    scored = _neardup_probe(sig, N_HASHES, ROWS_PER_BAND, _xxhash_key).where(
        F.col("n_agree") >= math.ceil(NEARDUP_THRESHOLD * N_HASHES)
    )
    return _best_match(scored).select(
        "doc_id", "neardup_of", _est(N_HASHES).alias("est_jaccard")
    )


def minhash_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """LSH candidates refined by estimated Jaccard (fraction of matching
    signature slots) ≥ threshold. Sub-quadratic: no pair outside a shared
    band bucket is ever scored."""
    # no .cache(): the references to sig share one exchange via
    # ReuseExchange; caching benched 4.3 s vs 1.1 s cold at sf0.1
    sig = minhash_signatures(_spread(load(spark, sf_dir, "documents")))
    cands = _band_pairs(_band(sig, N_HASHES, ROWS_PER_BAND, _xxhash_key))
    return (
        _agree(cands, sig, N_HASHES, "doc_a", "doc_b")
        .select("doc_a", "doc_b", _est(N_HASHES).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


# --- Portable (oracle-derivable) MinHash + LSH --------------------------------
#: Signature width and banding for the PORTABLE MinHash family (16 perms,
#: 4 bands × 4 rows). Smaller than the xxhash64 family's 32 on purpose:
#: the portable twin exists to prove the banded pipeline against an
#: external SQL engine, not to replace the scale path.
PORTABLE_PERMS = 16
PORTABLE_BANDS = 4
PORTABLE_ROWS = PORTABLE_PERMS // PORTABLE_BANDS
#: Mersenne prime 2^31 − 1 — the affine-permutation modulus. The shingle
#: key is 28 bits (7 hex chars of md5) and multipliers are < 2^31, so
#: ``a·x + b < 2^60`` never overflows a signed 64-bit integer in EITHER
#: engine — the whole computation is plain BIGINT arithmetic, no 128-bit
#: intermediates, no wraparound semantics to reconcile.
PORTABLE_P = 2_147_483_647


def _portable_coeffs() -> list[tuple[int, int]]:
    """Fixed affine coefficients (a_i, b_i) for the portable permutations,
    derived from a constant-seed 64-bit LCG at import time. Both the Spark
    expressions and the generated oracle SQL inline these as literals from
    the SAME list, so engine/oracle agreement is by construction."""
    s = PORTABLE_SEED
    out = []
    for _ in range(PORTABLE_PERMS):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (s >> 33) % (PORTABLE_P - 1) + 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (s >> 33) % PORTABLE_P
        out.append((a, b))
    return out


_PORT_COEF = _portable_coeffs()


def portable_minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signature per doc with ENGINE-PORTABLE permutations.

    The xxhash64 family (:func:`minhash_signatures`) is the scale path —
    one cheap 64-bit hash per (seed, shingle) — but its values exist only
    inside Spark, which is why those keys register rows-only. Here each
    permutation is the classic affine form over a shingle key both engines
    can derive:

        x   = first 7 hex chars of md5(shingle), parsed base-16  (28 bits)
        h_i = (a_i · x + b_i) mod (2^31 − 1)

    md5 is bit-identical everywhere, base-16 parse is ``conv`` in Spark /
    ``CAST('0x…' AS BIGINT)`` in DuckDB, and the affine step is three
    BIGINT ops — so DuckDB re-derives the exact signatures and the banded
    near-dup pipeline becomes hash-checkable end to end (prototype match
    verified cross-engine before landing).

    The md5 costs more per shingle than xxhash64 — acceptable for a
    verification twin, and it is computed once and shared by all 16
    permutations (the xxhash64 family hashes per permutation)."""
    # No materialization: consumers reference this frame 3-4× (banded
    # self-join sides + the a/b est-join projections), but the printed
    # plan's apparent duplication is collapsed at runtime by AQE's
    # ReuseExchange (the groupBy exchange is canonical-identical across
    # references). A localCheckpoint here was A/B'd in the r10
    # optimization pass and measured NEUTRAL-to-worse (min floors 2.5/2.0/
    # 2.0/1.7 s → 2.8/2.3/3.1/1.7 s across the four portable bench keys):
    # the barrier serializes what ReuseExchange already shares.
    return _affine_mins(_shingles(docs), "shingle")


def minhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via the PORTABLE MinHash + LSH banding — the fully
    SQL-oracled twin of :func:`minhash_neardup_pairs` (reference scope:
    the reference dedups nothing; this is the LLM-pipeline surface, Lee
    et al. 2021 / Broder 1997 minhash-LSH shape).

    Output: (doc_a, doc_b, n_agree, est_jaccard) for every candidate pair
    sharing ≥ 1 of the 4 band buckets whose signature agreement ≥
    ``NEARDUP_THRESHOLD``. Sub-quadratic exactly like the scale twin: pairs are
    generated ONLY inside shared band buckets — the all-pairs formulation
    exists nowhere in the engine (the oracle may do as it likes; it also
    band-joins, keeping sf0.1 checks fast).

    Differs from the scale twin in signature and bucket key only; 4 bands
    × 4 rows ⇒ P(candidate) = 1 − (1 − j^4)^4."""
    sig = portable_minhash_signatures(_spread(load(spark, sf_dir, "documents")))
    cands = _band_pairs(_band(sig, PORTABLE_PERMS, PORTABLE_ROWS, _concat_key))
    return (
        _agree(cands, sig, PORTABLE_PERMS, "doc_a", "doc_b")
        .select("doc_a", "doc_b", "n_agree", _est(PORTABLE_PERMS).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= NEARDUP_THRESHOLD)
    )


def incremental_neardup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-permutation twin of :func:`incremental_neardup_candidates`
    — the per-ingest-batch near-dup probe (incoming = ``doc_id % 10 = 0``)
    against the existing corpus's banded signature index, now externally
    hash-checkable: (doc_id, neardup_of, n_agree, est_jaccard) with the
    best (highest agreement, smallest id) existing match per incoming doc.
    The DOUBLE ``est_jaccard`` is derived from the winner's integer
    ``n_agree`` afterwards."""
    sig = portable_minhash_signatures(_spread(load(spark, sf_dir, "documents")))
    # ceil, not floor: n_agree >= ceil(t*P) <=> n_agree/P >= t for
    # integer n_agree, so this integer cutoff admits exactly the same
    # pairs as the sibling twins' est_jaccard >= threshold filter at
    # EVERY threshold, not just ones where t*P is whole.
    scored = _neardup_probe(sig, PORTABLE_PERMS, PORTABLE_ROWS, _concat_key).where(
        F.col("n_agree") >= math.ceil(NEARDUP_THRESHOLD * PORTABLE_PERMS)
    )
    return _best_match(scored).select(
        "doc_id", "neardup_of", "n_agree", _est(PORTABLE_PERMS).alias("est_jaccard")
    )


def _oracle_portable_sig_sql() -> str:
    """Shared CTE text: documents → distinct shingles → 28-bit md5 keys →
    16-column portable MinHash signature (``sig``)."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    mins = ",\n         ".join(
        f"min(({a} * x + {b}) % {PORTABLE_P}) AS h{i}"
        for i, (a, b) in enumerate(_PORT_COEF)
    )
    return f"""pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {NGRAM_K - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(array_to_string(toks[i : i + {NGRAM_K - 1}], ' ')), 1, 7))
              AS BIGINT) AS x
  FROM pos
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(bb) + " AS band, concat_ws('-', "
      + ", ".join(f"h{bb * PORTABLE_ROWS + r}" for r in range(PORTABLE_ROWS))
      + ") AS bucket FROM sig"
      for bb in range(PORTABLE_BANDS)
  )}
)"""


def oracle_minhash_portable_pairs() -> str:
    """DuckDB twin of :func:`minhash_portable_pairs` — re-derives the
    signatures from the raw text and band-joins exactly like the engine."""
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(PORTABLE_PERMS)
    )
    return f"""WITH {_oracle_portable_sig_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({agree} AS BIGINT) AS n_agree,
       CAST({agree} AS DOUBLE) / {float(PORTABLE_PERMS)} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE CAST({agree} AS DOUBLE) / {float(PORTABLE_PERMS)} >= {NEARDUP_THRESHOLD}"""


def oracle_incremental_neardup_portable() -> str:
    """DuckDB twin of :func:`incremental_neardup_portable`."""
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(PORTABLE_PERMS)
    )
    return f"""WITH {_oracle_portable_sig_sql()},
cand AS (
  SELECT DISTINCT a.doc_id, b.doc_id AS neardup_of
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
),
scored AS (
  SELECT c.doc_id, c.neardup_of, CAST({agree} AS BIGINT) AS n_agree
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_id
  JOIN sig sb ON sb.doc_id = c.neardup_of
  WHERE {agree} >= {math.ceil(NEARDUP_THRESHOLD * PORTABLE_PERMS)}
),
best AS (
  SELECT doc_id, neardup_of, n_agree,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_agree DESC, neardup_of) AS rn
  FROM scored
)
SELECT doc_id, neardup_of, n_agree,
       CAST(n_agree AS DOUBLE) / {float(PORTABLE_PERMS)} AS est_jaccard
FROM best WHERE rn = 1"""


def lsh_exact_jaccard_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage production dedup layout — LSH candidates, then EXACT
    Jaccard verification — under PORTABLE permutations, which makes the
    whole architecture SQL-oracled (its xxhash64 twin
    :func:`lsh_exact_jaccard_pairs` is rows-only): DuckDB re-derives the
    candidate set from raw text AND re-verifies each candidate's exact
    Jaccard, so both stages are externally hash-checked, not just the
    final pair list. Verification (:func:`_verify_jaccard`) is bit-equal
    across engines: integer set sizes, one double division."""
    docs = _spread(load(spark, sf_dir, "documents"))
    sig = portable_minhash_signatures(docs)
    cands = _band_pairs(_band(sig, PORTABLE_PERMS, PORTABLE_ROWS, _concat_key))
    return _verify_jaccard(cands, docs, NEARDUP_THRESHOLD)


def oracle_lsh_exact_jaccard_portable() -> str:
    """DuckDB twin of :func:`lsh_exact_jaccard_portable`: the portable
    signature/banding CTEs produce the candidate set, a separate
    shingle-STRING inventory re-verifies exact Jaccard on it (candidates
    with zero common shingles fall out of the inner join — they can't
    reach any positive threshold)."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH {_oracle_portable_sig_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
pos2 AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {NGRAM_K - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
shs AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + {NGRAM_K - 1}], ' ') AS shingle
  FROM pos2
),
sizes AS (SELECT doc_id, count(*) AS n FROM shs GROUP BY 1),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN shs a ON a.doc_id = c.doc_a
  JOIN shs b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       n_common / (sa.n + sb.n - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n + sb.n - n_common) >= {NEARDUP_THRESHOLD}"""


def _persisted_portable_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Build-once / probe-many NEAR-DUP INDEX over the existing corpus
    (``doc_id % 10 != 0``): the banded (doc_id, band, bucket) rows and
    the full 16-slot signatures, persisted as parquet. At 100 TB the
    banded frame would be WRITTEN bucketed by (band, bucket) so an
    arriving batch's probe shuffles only itself."""

    def build(out: str) -> None:
        docs = _spread(load(spark, sf_dir, "documents")).where(
            F.col("doc_id") % 10 != 0
        )
        portable_minhash_signatures(docs).write.parquet(f"{out}/sig")
        _band(
            spark.read.parquet(f"{out}/sig"),
            PORTABLE_PERMS,
            PORTABLE_ROWS,
            _concat_key,
        ).write.parquet(f"{out}/bands")

    out = materialized(
        "portable_ndx",
        f"{sf_dir}/documents.parquet",
        (PORTABLE_PERMS, PORTABLE_BANDS, NGRAM_K),
        build,
    )
    return spark.read.parquet(f"{out}/bands"), spark.read.parquet(f"{out}/sig")


# --- SimHash -----------------------------------------------------------------
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc (:func:`_simhash`) over distinct-token
    ``xxhash64`` values."""
    return docs.select("doc_id", _simhash("xxhash64(t)", SIMHASH_BITS))


def simhash_neardup_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Blocking (:func:`_chunk_pairs`): 4 × 16-bit chunks, so recall is
    exact for Hamming distance ≤ 3. ``hamming`` is an int.
    """
    sig = simhash_signatures(_spread(load(spark, sf_dir, "documents")))
    return _chunk_pairs(sig, SIMHASH_BITS, SIMHASH_CHUNKS, max_hamming, "int")


#: Portable SimHash width: 48 bits (md5-prefix-derived token keys), 4
#: chunks × 12 bits — pigeonhole recall for Hamming ≤ 3 exactly like the
#: 64-bit xxhash64 family. 32 bits was measured too coarse on the
#: fixture (Hamming ≤ 3 of 32 admitted ~11% of ALL doc pairs at
#: sf0.01 — not a near-dup notion worth the name); 48 bits brings the
#: pair list back to dup-shaped while keeping the oracle's vote-sum
#: column count and the BIGINT headroom (values < 2^48) comfortable.
SIMHASH_PORTABLE_BITS = 48
SIMHASH_PORTABLE_CHUNKS = 4
_SPB_CHUNK = SIMHASH_PORTABLE_BITS // SIMHASH_PORTABLE_CHUNKS


def simhash_portable_signatures(docs: DataFrame) -> DataFrame:
    """SimHash with ENGINE-PORTABLE token hashes — the md5-based twin of
    :func:`simhash_signatures`: the token key is the first 12 md5 hex
    chars (48 bits), per-bit majority vote with ties to 1, identical to
    what the DuckDB oracle re-derives from raw text with 48 conditional
    sums.

    Engine formulation stays the per-row nested HOF fold (no explode, no
    shuffle) — formulation and verification are independent axes: the
    oracle may explode; the engine doesn't have to."""
    token_key = "CAST(conv(substr(md5(t), 1, 12), 16, 10) AS BIGINT)"
    return docs.select("doc_id", _simhash(token_key, SIMHASH_PORTABLE_BITS))


def simhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming ≤ ``SIMHASH_MAX_HAMMING`` over the PORTABLE
    SimHash — fully SQL-oracled (the xxhash64 family stays rows-only as
    the scale path). Blocking on 4 chunks of 12 bits (48-bit signature);
    ``hamming`` is a bigint."""
    sig = simhash_portable_signatures(_spread(load(spark, sf_dir, "documents")))
    return _chunk_pairs(
        sig, SIMHASH_PORTABLE_BITS, SIMHASH_PORTABLE_CHUNKS, SIMHASH_MAX_HAMMING, "bigint"
    )


def oracle_simhash_portable_pairs() -> str:
    """DuckDB twin of :func:`simhash_portable_pairs` — explode + 32
    conditional vote sums re-derive the per-row fold's signatures exactly
    (same md5 keys, same ≥0 tie rule), then the same chunk blocking."""
    b = SIMHASH_PORTABLE_BITS
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    votes = ",\n         ".join(
        f"sum(CASE WHEN (x // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(b)
    )
    bits = " + ".join(f"CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(b))
    chunk_sel = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_idx,"
        f" (simhash // {1 << (c * _SPB_CHUNK)}) % {1 << _SPB_CHUNK} AS chunk_val"
        f" FROM sig"
        for c in range(SIMHASH_PORTABLE_CHUNKS)
    )
    return f"""WITH tk AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({toks}) AS tok FROM documents)
),
hx AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS x FROM tk
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hx GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
),
chunks AS ({chunk_sel}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}"""


# --- Connected components (pairs -> duplicate clusters) ---------------------
def _sym_edges(edges: DataFrame) -> DataFrame:
    """Symmetrize an undirected ``(doc_a, doc_b)`` edge list into a pinned
    ``(src, dst)`` frame with ONE pass over the edge subtree.

    ``union(edges.select(a,b), edges.select(b,a))`` re-RUNS the edge plan
    once per branch — for the pair-generation subtrees (quadratic
    self-joins, LSH verification) that doubles the most expensive stage of
    every graph consumer, and the localCheckpoint then materializes the
    doubled plan. posexplode of a 2-struct array emits (a,b) and (b,a)
    from a single scan (the r10 containment-pairs lesson), so the edge
    computation runs exactly once; the checkpoint pins 2|E| rows of pure
    int64 ids. Row multiset is identical to the union formulation."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=True)
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected edge list ``(doc_a, doc_b)``:
    returns ``(doc_id, component_id)`` with ``component_id`` = min doc_id
    reachable — the canonical-label convention every dedup pipeline uses to
    turn near-dup PAIRS into duplicate CLUSTERS.

    Algorithm: driver-coordinated min-label propagation — each iteration
    every node takes ``min(own label, min of neighbor labels)``; stop when
    no label changed. Per iteration: one shuffle keyed by node id (the
    neighbor-min aggregation) + one join; lineage is truncated with
    ``localCheckpoint`` so the plan doesn't grow across iterations (on a
    cluster, set a checkpoint dir and use ``checkpoint`` — same call shape).

    Scale: converges in O(graph diameter) iterations. Near-dup graphs are
    unions of near-cliques (each duplicate cluster is densely
    inter-connected because similarity is transitive-ish at high
    thresholds), so diameter is small — 2–4 in practice; ``CC_MAX_ITER`` is a
    safety bound and non-convergence raises. For adversarial long-chain
    graphs at 10⁹+ nodes, swap the body for the large-star/small-star
    alternating rounds (Kiveris et al., "Connected Components in
    MapReduce"), which converges in O(log²) — same (node, label) contract.

    Deterministic: min() over int64 labels, no floats, no randomness —
    bit-identical at any partitioning, hash-checkable against a recursive
    SQL closure.
    """
    sym = _sym_edges(edges)
    # Initial labels already fold in the direct neighborhood:
    # comp = min(own id, min neighbor id) is exactly what the first
    # propagation round would compute, but costs one groupBy on the edge
    # list instead of a join + checkpoint round — the loop below then only
    # needs (diameter - 1) rounds.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "nbr_min").alias("comp"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(CC_MAX_ITER):
        nbr_min = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # Convergence detection is folded into the update itself: the
        # update join already sees (old comp, neighbor min), so a boolean
        # ``changed`` column costs nothing, and ONE action — the
        # full-scan max(changed) aggregate — both materializes the lazy
        # localCheckpoint (every partition is computed, unlike a
        # limit(1) probe) and answers "did any label move". No separate
        # old-vs-new join, no second job per round.
        new_labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                labels.doc_id,
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("new_comp"),
                F.col("comp").alias("old_comp"),
            )
            .withColumn("changed", F.col("new_comp") != F.col("old_comp"))
            .localCheckpoint(eager=False)
        )
        any_changed = new_labels.agg(
            F.coalesce(F.max("changed"), F.lit(False)).alias("c")
        ).first()["c"]
        labels = new_labels.select("doc_id", F.col("new_comp").alias("comp"))
        if not any_changed:
            return labels.select("doc_id", F.col("comp").alias("component_id"))
    raise RuntimeError(f"connected_components did not converge in {CC_MAX_ITER} iterations")


def _star_edges_sig(edges: DataFrame) -> tuple[int, int]:
    """(count, xxhash64 xor) fingerprint of an edge set — one action; a
    64-bit xor collision between consecutive DIFFERENT edge sets is
    negligible (edges are distinct rows), so equal fingerprints mean the
    alternation reached its fixed point."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).first()
    return row["n"], row["h"]


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
    — the adversarial-topology alternative to min-label propagation
    (:func:`connected_components`): converges in O(log² n) rounds on ANY
    graph, including the long-chain/high-diameter graphs where label
    propagation needs O(diameter) rounds. Same output contract:
    ``(doc_id, component_id)`` with component_id = min reachable id, so
    the two implementations share one SQL oracle.

    large-star: every node links its strictly-larger neighbors to the
    minimum of its closed neighborhood (halves tall structures);
    small-star: every node links its ≤-neighbors and itself to their
    minimum (flattens into stars). Both are one groupBy + one equi-join —
    shuffle keyed by node id — and strictly shrink the potential function,
    so the edge multiset reaches a star forest whose centers are the
    component minima. Per round: two shuffles + one fingerprint action;
    ``localCheckpoint`` truncates lineage (use ``checkpoint`` + a
    checkpoint dir on a cluster).

    Deterministic: min() over int64 ids only — same guarantees as the
    propagation variant.
    """
    e = (
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = _star_edges_sig(e)
    for _ in range(CC_STAR_MAX_ITER):
        # large-star
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("nbr_min"))
            .select("u", F.least("u", "nbr_min").alias("m"))
        )
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star (on edges directed child=greater -> parent=smaller)
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = _star_edges_sig(e)  # materializes the checkpoint too
        if sig == prev_sig:
            # star forest: u = member, v = component min; add the centers
            roots = e.select(F.col("v").alias("u"), F.col("v"))
            return (
                e.union(roots)
                .distinct()
                .select(
                    F.col("u").alias("doc_id"), F.col("v").alias("component_id")
                )
            )
        prev_sig = sig
    raise RuntimeError(f"connected_components_star did not converge in {CC_STAR_MAX_ITER} rounds")


def neardup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`neardup_components` computed by the large-star/small-star
    rounds instead of min-label propagation — same SQL-oracled edge set
    (:func:`ngram_jaccard_pairs`), same output, same oracle; registered
    separately so the driver gates BOTH clustering algorithms."""
    edges = ngram_jaccard_pairs(spark, sf_dir, threshold=NEARDUP_THRESHOLD)
    return connected_components_star(edges)


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters from exact n-gram Jaccard pairs at ``NEARDUP_THRESHOLD``:
    (doc_id, component_id) for every document in at least one near-dup
    pair. The edge set is the SQL-oracled :func:`ngram_jaccard_pairs`, so
    the whole pipeline — shingle index → pair similarity → transitive
    clustering — is differential-testable end to end."""
    edges = ngram_jaccard_pairs(spark, sf_dir, threshold=NEARDUP_THRESHOLD)
    return connected_components(edges)


def neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents surviving near-dedup: every unpaired doc plus the minimum
    doc_id (canonical) of each duplicate cluster — the keep-list a training
    pipeline feeds downstream."""
    docs = _spread(load(spark, sf_dir, "documents"))
    comp = neardup_components(spark, sf_dir)
    keep_of_cluster = comp.groupBy("component_id").agg(F.min("doc_id").alias("doc_id"))
    unpaired = docs.join(comp.select("doc_id"), "doc_id", "left_anti")
    return unpaired.select("doc_id").union(keep_of_cluster.select("doc_id"))


def lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dedup pipeline end to end at 100 TB shape:
    MinHash-LSH candidates → exact-Jaccard verification
    (:func:`lsh_exact_jaccard_pairs`, sub-quadratic, precision 1) →
    transitive clustering (:func:`connected_components`).

    Same output contract as :func:`neardup_components` but the quadratic
    shingle self-join never runs — edge generation is bounded by LSH
    bucket collisions. Registered rows-only (edges depend on xxhash64
    banding); on corpora whose near-dup pairs sit well above the LSH
    threshold (recall ≈ 1) it equals the exact clustering — asserted on
    planted duplicates in tests/test_dedup.py."""
    edges = lsh_exact_jaccard_pairs(spark, sf_dir)
    return connected_components(edges)


def oracle_neardup_components() -> str:
    """DuckDB twin of :func:`neardup_components` — the pair CTE from
    :func:`oracle_ngram_jaccard_pairs` plus a recursive min-label closure."""
    pairs = oracle_ngram_jaccard_pairs(NEARDUP_THRESHOLD)
    return f"""WITH RECURSIVE pr AS ({pairs}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pr UNION SELECT doc_b, doc_a FROM pr),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)
SELECT n AS doc_id, min(m) AS component_id FROM reach GROUP BY n"""


def oracle_neardup_survivors() -> str:
    """DuckDB twin of :func:`neardup_survivors`."""
    comp = oracle_neardup_components()
    return f"""WITH comp AS ({comp})
SELECT min(doc_id) AS doc_id FROM comp GROUP BY component_id
UNION ALL
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp)"""


def lsh_exact_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Two-stage near-dup architecture: MinHash-LSH candidate generation
    (sub-quadratic — only bucket-colliding pairs surface), then EXACT
    Jaccard verification on the candidates via ``array_intersect`` of the
    per-doc shingle arrays.

    Output pairs carry exact similarity values (precision 1 vs the full
    quadratic :func:`ngram_jaccard_pairs` at the same threshold — asserted
    in tests); recall is bounded by the LSH banding probability, measured
    in the same test. This candidates+verify split is the production
    layout at 100 TB: the quadratic stage never runs, and the verify join
    touches |candidates| ≈ O(near-dup pairs), each verified with one
    row-local array intersection.
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    return _verify_jaccard(minhash_lsh_candidates(docs), docs, threshold)


def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes — the dedup QA report every
    corpus pipeline prints before dropping documents (a single giant
    cluster usually means a boilerplate template, not true duplication,
    and deserves eyeballing rather than blind removal).

    Output: (cluster_size, n_clusters, n_docs) over the SQL-oracled
    transitive clusters of :func:`neardup_components`, so the whole
    chain — shingles → pairs → components → histogram — stays
    differential-testable. Two tiny aggregations on top of the component
    labels; all-int output, bit-exact.
    """
    comp = neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
    )


def oracle_cluster_size_histogram() -> str:
    comp = oracle_neardup_components()
    return f"""WITH comp AS ({comp}),
sizes AS (SELECT component_id, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1"""


def bow_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive exact dedup: documents hash by their SORTED token
    multiset, so word-order shuffles — template engines emitting fields in
    different orders, CSV-ish rows re-serialized, list markup reflowed —
    collapse into one group even though byte-level exact dedup misses
    them. Sits between exact dedup (order-sensitive) and n-gram Jaccard
    (threshold-fuzzy) in the dedup ladder: still EXACT (multiset
    equality), just order-free.

    Output: (bow_hash, n_docs, keeper_doc_id) for every group with ≥2
    members.

    Plan: one md5-keyed groupBy — uniform 16-byte shuffle key with
    map-side partials, the same scale shape as ``exact_dedup_groups``;
    ``array_sort`` is per-row. Tokens sort by binary UTF-8 order in both
    engines (UTF-8 byte order == code-point order), so the hash is
    engine-portable.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    bow = F.md5(
        F.concat_ws(
            " ",
            F.array_sort(F.expr(f"split(trim(lower(text)), '{TOKEN_EXPR}')")),
        )
    )
    return (
        docs.select("doc_id", bow.alias("bow_hash"))
        .groupBy("bow_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def oracle_bow_dedup_groups() -> str:
    return f"""SELECT md5(array_to_string(list_sort(
           string_split_regex(trim(lower(text)), '{TOKEN_SQL}')), ' ')) AS bow_hash,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1 HAVING count(*) >= 2"""


# --- Quality-canonical selection (keep BEST, not first) ---------------------
def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-canonical dedup keep-list: for every near-dup cluster keep
    the HIGHEST-quality member (ties broken by min doc_id), plus every
    unpaired document — the representative-selection step modern corpus
    pipelines run instead of "keep first" (:func:`neardup_survivors`),
    because inside a duplicate cluster the members differ in boilerplate,
    truncation, and encoding damage even though their content matches.

    Output: (doc_id, component_id, cluster_size, quality, reason) where
    reason ∈ {'best_of_cluster', 'unique'}; unpaired docs carry their own
    doc_id as component_id and cluster_size 1.

    Plan: the SQL-oracled cluster labels (:func:`neardup_components`) join
    the row-local quality projection on doc_id, then two small keyed aggs
    over |clustered docs| rows — at 100 TB the joins are hash-keyed on
    doc_id/component_id (uniform int64 keys, map-side partials), and the
    unpaired leg is a left-anti join that AQE plans as broadcast once the
    cluster side collapses to the (small) duplicate population.

    Determinism: quality is the IEEE-exact int/int formula from
    ``text.quality_projection`` (bit-identical per engine), so the
    within-cluster argmax + min-doc_id tie-break is hash-checkable.

    ``scored`` is MATERIALIZED once (localCheckpoint): it feeds both
    the per-cluster argmax aggregate and the best-row join, and
    ReuseExchange does not reliably share the duplicated
    components+quality subtree at runtime (r10 interleaved A/B: cold
    run 10.3 s → 4.2 s, floor 3.35 → 3.12 s). The pinned rows are
    cluster members only — O(duplicate population).
    """
    from .text import quality_projection

    docs = _spread(load(spark, sf_dir, "documents"))
    comp = neardup_components(spark, sf_dir)
    q = quality_projection(docs).select("doc_id", "quality")
    scored = comp.join(q, "doc_id").localCheckpoint(eager=True)
    best = scored.groupBy("component_id").agg(
        F.max("quality").alias("best_q"),
        F.count("*").alias("cluster_size"),
    )
    kept = (
        scored.join(best, "component_id")
        .where(F.col("quality") == F.col("best_q"))
        .groupBy("component_id", "best_q", "cluster_size")
        .agg(F.min("doc_id").alias("doc_id"))
        .select(
            "doc_id",
            "component_id",
            "cluster_size",
            F.col("best_q").alias("quality"),
            F.lit("best_of_cluster").alias("reason"),
        )
    )
    unpaired = (
        q.join(comp.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("component_id"),
            F.lit(1).cast("long").alias("cluster_size"),
            "quality",
            F.lit("unique").alias("reason"),
        )
    )
    return kept.unionByName(unpaired)


def oracle_neardup_keep_best(comp_sql: str, quality_sql: str) -> str:
    """DuckDB twin of :func:`neardup_keep_best` — cluster closure + the
    quality projection, argmax by (quality, -doc_id) spelled as plain
    max + equality + min so both engines execute the identical plan."""
    return f"""WITH comp AS ({comp_sql}),
q AS ({quality_sql}),
scored AS (SELECT comp.doc_id, comp.component_id, q.quality
           FROM comp JOIN q ON q.doc_id = comp.doc_id),
best AS (SELECT component_id, max(quality) AS best_q,
                count(*) AS cluster_size
         FROM scored GROUP BY 1)
SELECT min(s.doc_id) AS doc_id, s.component_id, b.cluster_size,
       b.best_q AS quality, 'best_of_cluster' AS reason
FROM scored s JOIN best b ON b.component_id = s.component_id
WHERE s.quality = b.best_q
GROUP BY s.component_id, b.cluster_size, b.best_q
UNION ALL
SELECT q.doc_id, q.doc_id AS component_id, CAST(1 AS BIGINT) AS cluster_size,
       q.quality, 'unique' AS reason
FROM q WHERE q.doc_id NOT IN (SELECT doc_id FROM comp)"""


# --- PageRank centrality over the near-dup graph ----------------------------
def neardup_pagerank(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """PageRank over the near-duplicate graph — a centrality score for
    every doc that appears in at least one near-dup pair. Inside a
    duplicate cluster the highest-PageRank member is the one most
    connected to the rest: a structural canonical-selection signal that
    complements the content-quality signal of :func:`neardup_keep_best`
    (a hub shared by many variants beats a peripheral one even when
    their quality scores tie).

    Iterative fixpoint as a driver-coordinated Spark loop (the same shape
    as :func:`connected_components`): per iteration one join (ranks onto
    the edge list) + one keyed sum — both shuffles keyed by uniform int64
    doc ids, partial aggregation map-side. Lineage is truncated every
    ``PAGERANK_CHECKPOINT_EVERY`` iterations rather than every one: a bounded
    chain of lazy iterations executes as ONE job (measured 13% faster
    than per-iteration materialization at bench SF) while the periodic
    ``localCheckpoint`` still keeps the plan O(PAGERANK_CHECKPOINT_EVERY) deep at
    any iteration count. The edge list is symmetric, so every node has
    out-degree ≥ 1 (no dangling mass) and receives ≥ 1 contribution
    (inner joins are total).

    Determinism (the reason this is SQL-oracled, unusually for float
    fixpoints): neighbor sums go through the exact decimal accumulator
    convention (``functions/numeric.py``) at DECIMAL(38,12) — addition is
    order-independent, so the result is bit-identical at any
    partitioning, and the oracle unrolls the same ``PAGERANK_ITERS`` iterations as
    chained CTEs with the identical arithmetic.

    Output: (doc_id, rank) after ``PAGERANK_ITERS`` iterations; ranks over the
    graph's nodes sum to ≈ 1 (teleport mass included).
    """
    edges = ngram_jaccard_pairs(spark, sf_dir, threshold=threshold)
    sym = _sym_edges(edges)
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    total = deg.agg(F.count("*").alias("_n"))
    # (doc_id, deg, _n) — the static node frame every iteration reuses
    nodes = deg.select(F.col("src").alias("doc_id"), "deg").crossJoin(
        F.broadcast(total)
    ).localCheckpoint(eager=True)
    rank = nodes.select(
        "doc_id", "deg", "_n", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    teleport = F.lit(1 - PAGERANK_DAMPING) / F.col("_n")
    for i in range(PAGERANK_ITERS):
        contrib = sym.join(
            rank.select(F.col("doc_id").alias("src"), "deg", "rank"), "src"
        ).select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        sums = contrib.groupBy("dst").agg(
            F.sum(F.col("c").cast("decimal(38,12)")).cast("double").alias("s")
        )
        rank = nodes.join(sums, nodes["doc_id"] == sums["dst"]).select(
            "doc_id",
            "deg",
            "_n",
            (teleport + F.lit(PAGERANK_DAMPING) * F.col("s")).alias("rank"),
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and i + 1 < PAGERANK_ITERS:
            rank = rank.localCheckpoint(eager=True)
    return rank.select("doc_id", "rank")


def kcore_membership(
    spark: SparkSession, sf_dir: str, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """k-core membership of the near-duplicate graph: iteratively peel
    nodes whose degree (among survivors) is below ``KCORE_K`` — the standard
    graph-density diagnostic for duplicate clusters (a 2-core separates
    genuinely interconnected variant families from incidental pairwise
    matches that :func:`connected_components` lumps together; the core
    is where canonical-selection effort actually pays).

    ``rounds`` fixed peels instead of an until-fixpoint loop so the
    computation is finite and SQL-oracled — the fixpoint is reached
    within ``rounds`` at fixture scale (asserted in tests, the same
    convention as the star-rounds CC); each peel can only remove nodes,
    so extra rounds are no-ops once stable. All state is integer
    (degrees, ids) — no float discipline needed.

    Plan per round: one degree aggregation + two left-semi joins
    restricting the edge list to surviving endpoints — all shuffles
    keyed by uniform int64 doc ids, map-side partial counts;
    ``localCheckpoint`` per round truncates lineage exactly like the CC
    loop (`connected_components`, same cluster-mode caveat). At 100 TB
    the peel is the cheap direction: each round strictly shrinks the
    edge list, and near-dup graphs are overwhelmingly low-degree, so
    round 1 usually removes most of the graph.

    Output: (doc_id, core_deg) — nodes in the k-core with their
    within-core degree.
    """
    edges = ngram_jaccard_pairs(spark, sf_dir, threshold=NEARDUP_THRESHOLD)
    return kcore_peel(edges, rounds=rounds)


def kcore_peel(edges: DataFrame, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """The peel itself over any (doc_a, doc_b) pair frame — the same
    edges-in contract as :func:`connected_components`, so the scale path
    feeds it LSH-bucketed pairs (``lsh_exact_jaccard_pairs``) while the
    oracle-shaped wrapper above derives exact pairs. Soak methodology
    note: time THIS on a checkpointed edge list (like the CC sections) —
    an end-to-end number on uncapped exact pairs measures the quadratic
    pair generation, not the peel (r5 soak: 73 s end-to-end vs ~3 s for
    the peel on the same LSH edge list)."""
    sym = _sym_edges(edges)
    for _ in range(rounds):
        # Materialize the survivor set once per round: it feeds BOTH
        # semi-joins; unmaterialized it would recompute its degree
        # shuffle twice, and a checkpointed |nodes|-sized frame lets AQE
        # broadcast it into both probes instead of shuffling the (much
        # larger) edge list inside the round.
        keep = (
            sym.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= KCORE_K)
            .select("src")
            .localCheckpoint(eager=True)
        )
        sym = (
            sym.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return (
        sym.groupBy("src")
        .agg(F.count("*").alias("core_deg"))
        .select(F.col("src").alias("doc_id"), "core_deg")
    )


def oracle_kcore_membership(pairs_sql: str) -> str:
    """DuckDB twin of :func:`kcore_membership` — the same peels unrolled
    as chained CTEs over the symmetric edge list."""
    # every e{i} is consumed twice (by s{i+1} and e{i+1}) — MATERIALIZED,
    # or DuckDB inlines the chain and re-evaluates the pairs CTE 2^rounds
    # times (the same trap the power-iteration oracle documents)
    ctes = [
        f"""pr AS MATERIALIZED ({pairs_sql}),
e0 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pr
       UNION ALL SELECT doc_b, doc_a FROM pr)"""
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        p = i - 1
        ctes.append(
            f"""s{i} AS MATERIALIZED (SELECT src FROM e{p} GROUP BY src
         HAVING count(*) >= {KCORE_K}),
e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{p} e
         JOIN s{i} a ON a.src = e.src
         JOIN s{i} b ON b.src = e.dst)"""
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT src AS doc_id, count(*) AS core_deg FROM e{KCORE_ROUNDS} GROUP BY src"
    )


def oracle_neardup_pagerank(pairs_sql: str) -> str:
    """DuckDB twin of :func:`neardup_pagerank` — the same iterations
    unrolled as chained CTEs; damping constants embedded via ``repr`` so
    both engines evaluate the identical doubles.

    ``pr``/``sym`` carry the MATERIALIZED hint: DuckDB otherwise INLINES
    the quadratic shingle-join edge CTE into every one of its 7+
    references (sym twice, then sym in deg and each unrolled r_k), and
    at sf1 the simultaneously-live join intermediates exceeded the
    box's 78 GB spill budget. Materialized once, the identical query
    runs in ~6 s on the same fixture. Semantics unchanged — it is an
    evaluation hint, and the sibling graph oracles (connected
    components / label propagation / triangles / k-core) share the
    same edge SQL single-referenced and pass unhinted."""
    d = repr(PAGERANK_DAMPING)
    t = repr(1 - PAGERANK_DAMPING)
    ctes = [
        f"""pr AS MATERIALIZED ({pairs_sql}),
sym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pr
        UNION ALL SELECT doc_b, doc_a FROM pr),
deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
n AS (SELECT count(*) AS total FROM deg),
r0 AS (SELECT src AS doc_id, 1.0 / n.total AS rank FROM deg CROSS JOIN n)"""
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT s.dst AS doc_id,
         {t} / n.total + {d} * {oracle_dsum12(f"r{i - 1}.rank / deg.deg")}
             AS rank
  FROM sym s
  JOIN r{i - 1} ON r{i - 1}.doc_id = s.src
  JOIN deg ON deg.src = s.src
  CROSS JOIN n
  GROUP BY s.dst, n.total)"""
        )
    body = ",\n".join(ctes)
    return f"WITH {body}\nSELECT doc_id, rank FROM r{PAGERANK_ITERS}"


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    near-duplicate graph — the third graph-analytics leg beside
    :func:`connected_components` (membership) and
    :func:`neardup_pagerank` (centrality). A high clustering coefficient
    marks a doc sitting inside a tight mutual-duplicate clique (template
    spam, boilerplate families); a low one marks a bridge doc chaining
    otherwise-unrelated clusters — exactly the rows a transitive-closure
    dedup over-merges on.

    Scale shape: DEGREE-ORIENTED triangle enumeration. Every edge is
    oriented from its lower-(degree, id) endpoint to the higher one, so
    wedges form only between the out-edges of each node and per-node
    out-degree is bounded by O(√m) regardless of hub skew — the classic
    arboricity bound. The plan is three equi-joins (orient, wedge, close),
    all keyed on uniform doc ids; no vertex ever fans out by its full raw
    degree the way a naive id-ordered wedge join would on a hub. The
    DuckDB oracle enumerates the same triangle set via the simpler
    id-orientation — the triangle SET is orientation-invariant, so both
    sides agree row-for-row while the Spark side carries the
    skew-resistant plan.

    Output: (doc_id, degree, triangles, clustering) for every vertex of
    the near-dup graph (n-gram Jaccard ≥ 0.5 edges, the other graph legs'
    default); clustering = 2T / (deg·(deg−1)), 0.0 when deg < 2.
    """
    edges = ngram_jaccard_pairs(spark, sf_dir, threshold=0.5)
    e = edges.select("doc_a", "doc_b").localCheckpoint(eager=True)
    sym = e.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        e.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    # deg fans out to the two orientation joins AND the final node frame;
    # oriented (below) fans out to both wedge sides AND the closing join —
    # materialize each once or the whole edge pipeline re-runs per
    # consumer (the unchecked plan carried 50 SortMergeJoins).
    deg = sym.groupBy("u").agg(F.count("*").alias("deg")).localCheckpoint(eager=True)
    # attach each endpoint's (deg, id) order key, orient low -> high
    withk = (
        sym.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        .select(
            "u",
            "v",
            F.struct(F.col("du").alias("d"), F.col("u").alias("i")).alias("ku"),
            F.struct(F.col("dv").alias("d"), F.col("v").alias("i")).alias("kv"),
        )
    )
    oriented = (
        withk.where(F.col("ku") < F.col("kv"))
        .select(
            F.col("u").alias("src"), F.col("v").alias("dst"), F.col("kv").alias("kd")
        )
        .localCheckpoint(eager=True)
    )
    o1 = oriented.select(
        F.col("src").alias("c"), F.col("dst").alias("x"), F.col("kd").alias("kx")
    )
    o2 = oriented.select(
        F.col("src").alias("c"), F.col("dst").alias("y"), F.col("kd").alias("ky")
    )
    wedges = o1.join(o2, "c").where(F.col("kx") < F.col("ky")).select("c", "x", "y")
    closer = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(closer, ["x", "y"])
    tri = tri.localCheckpoint(eager=True)
    verts = (
        tri.select(F.col("c").alias("doc_id"))
        .union(tri.select(F.col("x").alias("doc_id")))
        .union(tri.select(F.col("y").alias("doc_id")))
    )
    tcnt = verts.groupBy("doc_id").agg(F.count("*").alias("triangles"))
    nodes = deg.select(F.col("u").alias("doc_id"), "deg")
    out = nodes.join(tcnt, "doc_id", "left").select(
        "doc_id",
        F.col("deg").alias("degree"),
        F.coalesce("triangles", F.lit(0).cast("bigint")).alias("triangles"),
    )
    pairs = F.col("degree") * (F.col("degree") - F.lit(1))
    return out.select(
        "doc_id",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            (F.lit(2).cast("double") * F.col("triangles")) / pairs.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def oracle_neardup_triangles(pairs_sql: str) -> str:
    """DuckDB twin of :func:`neardup_triangles` — id-oriented triangle
    enumeration (e1.a<e1.b chained); the triangle set is orientation-
    invariant, so it matches the degree-oriented Spark plan exactly."""
    return f"""WITH pr AS ({pairs_sql}),
e AS (SELECT doc_a AS a, doc_b AS b FROM pr),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
verts AS (
  SELECT x AS doc_id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri),
tcnt AS (SELECT doc_id, count(*) AS triangles FROM verts GROUP BY 1),
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT u AS doc_id, count(*) AS degree FROM sym GROUP BY 1)
SELECT deg.doc_id, deg.degree,
       COALESCE(tcnt.triangles, CAST(0 AS BIGINT)) AS triangles,
       CASE WHEN deg.degree >= 2
            THEN (CAST(2 AS DOUBLE) * COALESCE(tcnt.triangles, 0))
                 / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS clustering
FROM deg LEFT JOIN tcnt ON tcnt.doc_id = deg.doc_id"""


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-leakage matrix: near-dup pairs rolled up by
    the (source, source) combination of their endpoints — the corpus
    diagnostic that tells you WHICH ingestion feeds duplicate each other
    (mirror sites, re-crawls, syndication) vs which only self-duplicate.
    An off-diagonal hotspot means a source pair needs cross-source dedup
    before mixing; a hot diagonal is ordinary within-crawl redundancy.

    Plan: the oracled Jaccard pair list joins the (doc_id → source)
    projection twice — two co-partitioned equi-joins on uniform doc ids —
    then one small groupBy on the source pair (|sources|² cells). The
    pair's sources are emitted min/max-normalized so the matrix is
    upper-triangular regardless of pair orientation.

    Output: (source_a, source_b, n_pairs), source_a <= source_b.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir, threshold=NEARDUP_THRESHOLD)
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
    )
    return (
        labeled.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def oracle_cross_source_dup_matrix(pairs_sql: str) -> str:
    """DuckDB twin of :func:`cross_source_dup_matrix`."""
    return f"""WITH pr AS ({pairs_sql}),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pr
  JOIN documents da ON da.doc_id = pr.doc_a
  JOIN documents db ON db.doc_id = pr.doc_b)
SELECT source_a, source_b, count(*) AS n_pairs
FROM lab GROUP BY 1, 2"""


def containment_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """ASYMMETRIC shingle containment C(A→B) = |A∩B| / |A|: how much of
    doc A's shingle set lives inside doc B. Jaccard misses the
    aggregator/quotation pattern — a short doc fully embedded in a long
    one scores low Jaccard (the union is dominated by the long doc) but
    containment 1.0 from the short side. This is the dedup signal for
    "doc B swallowed doc A" (wrapper pages, quote farms, concatenated
    dumps), complementing :func:`duplicate_spans` (which finds the
    literal spans) with a set-level score.

    Same inverted-index plan as :func:`ngram_jaccard_pairs` — ONE
    self-join on the shingle + one aggregation, cost ∝ co-shingled pairs;
    both directions are emitted from the single undirected pair scan
    (src/dst and dst/src rows), so nothing is computed twice. Integer
    sizes → the division is bit-deterministic. Exact up to the same hash
    identity as :func:`ngram_jaccard_pairs`: shingles are compared by
    64-bit ``xxhash64`` (collision odds about 3e-8 at sf0.1).

    The exploded index is MATERIALIZED once (localCheckpoint), for the
    same reason as :func:`ngram_jaccard_pairs`: un-pinned, the planner
    re-ran scan→tokenize→explode for every consumer (both self-join
    sides + the size lookup) AND broadcast the whole inverted index as
    the self-join build side (post-Generate size estimates are
    unusable) — a plan impossible at 10⁹ docs. Both directions then
    come from ONE ``explode`` of a two-struct array over the sized pair
    row, not a union of two copies of the join subtree, so the pair
    scan genuinely runs once as the docstring promises (r10 isolated
    A/B: min-of-4 10.6 s, runs up to 36 s, → 1.6 s min, ≤2.1 s max).

    Output: (doc_src, doc_dst, containment) — doc_src's set is
    ``threshold``-contained in doc_dst; both directions may appear.
    """
    docs = _spread(load(spark, sf_dir, "documents"))
    # hashed shingle payloads, same argument as ngram_jaccard_pairs (r11)
    sh = (
        docs.select("doc_id", F.explode(_shingle_array()).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sized = common.join(
        sizes.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a"
    ).join(sizes.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b")
    both = sized.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_src"),
                    F.col("doc_b").alias("doc_dst"),
                    (F.col("n_common") / F.col("na")).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_src"),
                    F.col("doc_a").alias("doc_dst"),
                    (F.col("n_common") / F.col("nb")).alias("containment"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return both.where(F.col("containment") >= threshold)


def oracle_containment_pairs() -> str:
    """DuckDB twin of :func:`containment_pairs`."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {NGRAM_K - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + {NGRAM_K - 1}], ' ') AS shingle
  FROM pos
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (
  SELECT doc_a, doc_b, n_common, sa.n AS na, sb.n AS nb
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
),
dirs AS (
  SELECT doc_a AS doc_src, doc_b AS doc_dst, n_common / na AS containment
  FROM sized
  UNION ALL
  SELECT doc_b, doc_a, n_common / nb FROM sized
)
SELECT doc_src, doc_dst, containment FROM dirs
WHERE containment >= {CONTAINMENT_THRESHOLD}"""


# --- C4-style boilerplate span removal --------------------------------------
def remove_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL (not just detection): every ``SPAN_K``-token sliding
    window that occurs in >= ``BOILERPLATE_MIN_DOCS`` distinct documents is treated as
    boilerplate, every token position it covers is dropped, and the
    surviving tokens are re-assembled in order — the C4/"remove duplicated
    spans" cleaning step that :func:`duplicate_spans` only measures.
    Policy: boilerplate is removed from EVERY document (a shared header
    is noise wherever it appears), unlike dedup which keeps one copy.

    Plan shape (100 TB): windows and cover-positions are map-side
    expressions; the span-frequency groupBy carries 16-byte md5 keys; the
    frequent-span set (boilerplate is a tiny, heavy-hitter tail by
    nature) broadcasts back into a semi-join; the kept-token anti-join
    and the reassembly groupBy share one (doc_id)-keyed exchange. Nothing
    ever shuffles window text.

    Output: (doc_id, n_tokens, n_removed, clean_text).
    """
    docs = _spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.trim(F.col("text")), TOKEN_RE).alias("toks")
    )
    docs = docs.select("doc_id", "toks", F.size("toks").alias("n"))
    spans = docs.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.col("n") - (SPAN_K - 1), F.lit(1)))
        ).alias("start"),
        "toks",
    ).select(
        "doc_id",
        "n",
        "start",
        F.md5(F.concat_ws(" ", F.slice("toks", F.col("start"), SPAN_K))).alias("h"),
    )
    freq = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= BOILERPLATE_MIN_DOCS)
        .select("h")
    )
    covered = (
        spans.join(F.broadcast(freq), "h", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("start"), F.least(F.col("start") + (SPAN_K - 1), F.col("n"))
                )
            ).alias("p"),
        )
        .distinct()
    )
    toks = docs.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    kept = toks.join(covered, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda x: x["tok"]
            ),
        ).alias("clean_text"),
    )
    return (
        docs.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            (F.col("n") - F.coalesce("n_kept", F.lit(0))).cast("bigint").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def oracle_remove_boilerplate_spans() -> str:
    """DuckDB twin of :func:`remove_boilerplate_spans` — same 1-based
    positions, same truncated trailing windows, same remove-everywhere
    policy."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""WITH d AS (
  SELECT doc_id, {toks} AS toks, len({toks}) AS n FROM documents),
pos AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(1, greatest(n - {SPAN_K - 1}, 1))) AS start
  FROM d),
sp AS (
  SELECT doc_id, n, start,
         md5(array_to_string(toks[start : start + {SPAN_K - 1}], ' ')) AS h
  FROM pos),
freq AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
  WHERE nd >= {BOILERPLATE_MIN_DOCS}),
cov AS (
  SELECT DISTINCT sp.doc_id, p
  FROM sp JOIN freq USING (h),
       LATERAL unnest(generate_series(start, least(start + {SPAN_K - 1}, n))) AS t(p)),
tok AS (
  SELECT doc_id, toks[p] AS tok, CAST(p AS BIGINT) AS p
  FROM d, LATERAL unnest(generate_series(1, n)) AS t(p)),
kept AS (
  SELECT tok.doc_id, tok.p, tok.tok
  FROM tok
  WHERE NOT EXISTS (SELECT 1 FROM cov
                    WHERE cov.doc_id = tok.doc_id AND cov.p = tok.p)),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS clean_text
  FROM kept GROUP BY 1)
SELECT d.doc_id,
       CAST(d.n AS BIGINT) AS n_tokens,
       CAST(d.n - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.clean_text, '') AS clean_text
FROM d LEFT JOIN rebuilt r USING (doc_id)"""


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the near-duplicate graph by synchronous
    label propagation — the densest-neighborhood grouping that sits
    between :func:`connected_components` (too coarse: one bridge edge
    merges two variant families) and :func:`kcore_membership` (a
    density filter, not an assignment). LPA is the standard cheap
    community pass for duplicate-cluster splitting at corpus scale.

    Fixed ``LPA_ROUNDS`` synchronous updates with a fully deterministic
    rule — new label = the neighbor label with the highest count,
    ties broken by SMALLEST label; no RNG, no async order dependence —
    so the result is exactly reproducible and SQL-oracle-able by
    unrolling rounds (the kcore/PageRank convention; synchronous LPA
    can oscillate on bipartite structures, so the semantics are
    explicitly "labels after T rounds", not a fixpoint claim).

    Output: (doc_id, community) for every node with >= 1 edge.
    """
    edges = ngram_jaccard_pairs(spark, sf_dir, threshold=NEARDUP_THRESHOLD)
    return lpa_labels(edges)


def lpa_labels(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """The propagation itself over any (doc_a, doc_b) pair frame — the
    same edges-in contract as :func:`connected_components` /
    :func:`kcore_peel`, so the scale path feeds LSH-bucketed pairs.

    Plan per round: one (node, label)-keyed count + one per-node argmax
    window over the count frame (partitions are per-node label
    multisets — bounded by degree, never corpus-sized); the label frame
    is |nodes| rows, localCheckpoint'ed per round to truncate the
    stacked-join lineage. All state integer ids.
    """
    sym = _sym_edges(edges)
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels = labels.localCheckpoint(eager=True)
    for _ in range(rounds):
        counts = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src", "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("src").orderBy(F.desc("c"), "label")
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("community"))


def oracle_label_propagation(pairs_sql: str) -> str:
    """DuckDB twin of :func:`label_propagation` — the same synchronous
    rounds unrolled as chained CTEs (sym MATERIALIZED: it feeds every
    round; each l{i} is consumed once)."""
    ctes = [
        f"""pr AS MATERIALIZED ({pairs_sql}),
sym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pr
       UNION ALL SELECT doc_b, doc_a FROM pr),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)"""
    ]
    for i in range(1, LPA_ROUNDS + 1):
        ctes.append(
            f"""l{i} AS (
  SELECT src AS node, label
  FROM (SELECT s.src, l.label, count(*) AS c
        FROM sym s JOIN l{i-1} l ON l.node = s.dst
        GROUP BY 1, 2)
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY c DESC, label) = 1)"""
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT node AS doc_id, CAST(label AS BIGINT) AS community FROM l{LPA_ROUNDS}"
    )


def keep_best_by_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-canonical selection: for every near-dup cluster keep the
    member with the highest LEARNED quality margin (ties broken by min
    doc_id) — :func:`neardup_keep_best` with the trained classifier
    (``classifier.perceptron_persisted_scores``) replacing the
    hand-written heuristic, i.e. the composition a pipeline graduates
    to once the distilled model outperforms its seed rules. Clusters
    only (the unpaired population is untouched by selection).

    Plan: cluster labels join margins on doc_id, one per-cluster argmax
    window (partitions bounded by cluster size); the margins come off
    the persisted-model serving path, so this composes two broadcast-
    sized artifacts with corpus-sized work only in featurization.

    ``scored`` is MATERIALIZED once (localCheckpoint): it feeds both the
    per-cluster argmax aggregate and the final best-row join, and the
    duplicated subtree is the ENTIRE featurization+scoring path (28
    `documents` scans / 56 Exchange in the un-pinned plan — twice the
    serving path's 14/22). ReuseExchange does not reliably share it at
    runtime (r10 interleaved A/B: cold run 20.6 s → 8.6 s, floor
    4.94 → 4.55 s with the checkpoint). The pinned rows are cluster
    members only — O(duplicate population), tiny at any scale.

    Output: (component_id, doc_id, cluster_size, margin).
    """
    from .classifier import perceptron_persisted_scores

    comp = neardup_components(spark, sf_dir)
    scores = perceptron_persisted_scores(spark, sf_dir).select(
        "doc_id", "margin"
    )
    scored = comp.join(scores, "doc_id").localCheckpoint(eager=True)
    best = scored.groupBy("component_id").agg(
        F.max("margin").alias("best_m"),
        F.count("*").alias("cluster_size"),
    )
    return (
        scored.join(best, "component_id")
        .where(F.col("margin") == F.col("best_m"))
        .groupBy("component_id", "best_m", "cluster_size")
        .agg(F.min("doc_id").alias("doc_id"))
        .select(
            "component_id",
            "doc_id",
            "cluster_size",
            F.col("best_m").alias("margin"),
        )
    )


def oracle_keep_best_by_model(comp_sql: str, scores_sql: str) -> str:
    """DuckDB twin of :func:`keep_best_by_model` — component closure ×
    unrolled-training scores, per-cluster argmax with min-doc_id
    tie-break."""
    return f"""WITH comp AS MATERIALIZED ({comp_sql}),
sc AS MATERIALIZED ({scores_sql}),
scored AS (
  SELECT comp.component_id, comp.doc_id, sc.margin
  FROM comp JOIN sc ON sc.doc_id = comp.doc_id),
best AS (
  SELECT component_id, max(margin) AS best_m, count(*) AS cluster_size
  FROM scored GROUP BY 1)
SELECT s.component_id, min(s.doc_id) AS doc_id,
       any_value(b.cluster_size) AS cluster_size,
       any_value(b.best_m) AS margin
FROM scored s JOIN best b
  ON b.component_id = s.component_id AND s.margin = b.best_m
GROUP BY s.component_id"""


# ---------------------------------------------------------------------------
# Record linkage / fuzzy entity resolution: exact edit-distance join
# ---------------------------------------------------------------------------

#: q-gram width for the edit-distance join's prefix filter. Wider grams
#: are RARER on this small-vocabulary corpus, so they prune harder:
#: measured candidate pairs at sf0.1 (750 dirty x 5000 clean = 3.75M
#: brute-force pairs): q=3 -> 693k, q=4 -> 234k, q=5 -> 147k (25x).
#: Losslessness does not depend on q (the prefix grows as q*d+1).
ENTITY_Q = 5
#: Maximum Levenshtein distance the join returns.
ENTITY_MAX_DIST = 2
#: Entity name length (a fixed-width title slice of the document text).
ENTITY_TITLE_LEN = 40

_ENTITY_TITLE = f"substring(lower(text), 1, {ENTITY_TITLE_LEN})"
#: Deterministic dirty-registry synthesis (the fixture corpus has no
#: second noisy entity source, so — like the PII operator's synthesized
#: input — the dirty side derives from doc_id): every 20th/7th/13th doc
#: is a registry record whose title suffers one deletion, one
#: substitution, or no damage, by (doc_id div 20) mod 3.
_ENTITY_DIRTY = f"""CASE (doc_id div 20) % 3
  WHEN 0 THEN concat(substring({_ENTITY_TITLE}, 1, 4 + (doc_id % 30)),
                     substring({_ENTITY_TITLE}, 6 + (doc_id % 30)))
  WHEN 1 THEN concat(substring({_ENTITY_TITLE}, 1, 4 + (doc_id % 30)), 'z',
                     substring({_ENTITY_TITLE}, 6 + (doc_id % 30)))
  ELSE {_ENTITY_TITLE} END"""


def entity_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage by EXACT edit-distance join — the entity-resolution
    family (noisy registry records matched against a clean registry),
    distinct from the token/shingle dedup family: similarity is
    character-level Levenshtein, the workload of name/address/title
    matching.

    Semantics: ALL (dirty, clean) pairs with ``levenshtein ≤ ENTITY_MAX_DIST``
    — not an approximation. The sub-quadratic plan is the ED-Join
    prefix-filter scheme (Xiao et al., VLDB'08): an edit operation
    touches ≤ q gram positions, so d edits remove ≤ q·d distinct
    q-grams from either side's gram set; ranking every id's distinct
    grams by one global (df, gram) order and keeping each side's
    q·d + 1 RAREST grams guarantees two strings within distance d share
    at least one prefix gram. Candidates therefore come from a posting-
    list equi-join on the rare prefix grams only; Levenshtein runs on
    the candidates alone. The driver oracle is the brute-force
    quadratic join, so the hash gate PROVES the filter lossless on the
    fixture.

    Plan at 100 TB: gram df table is charset^q-bounded (broadcast);
    prefix posting lists are short by construction (the q·d+1 rarest
    grams of each record); the verify join touches candidate pairs
    only. The quadratic brute-force twin exists only inside the oracle.

    Output: (dirty_id, clean_id, distance), distance ≤ ENTITY_MAX_DIST.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    clean = docs.select(
        F.col("doc_id").alias("id"), F.expr(_ENTITY_TITLE).alias("name")
    ).withColumn("side", F.lit("c"))
    dirty = (
        docs.where(F.expr("doc_id % 20 IN (1, 7, 13)"))
        .select(F.col("doc_id").alias("id"), F.expr(_ENTITY_DIRTY).alias("name"))
        .withColumn("side", F.lit("d"))
    )
    recs = clean.unionByName(dirty)
    # The ranked prefix below is MATERIALIZED once (localCheckpoint): it
    # is consumed twice (the dirty and clean sides of the candidate join),
    # and without the checkpoint the planner re-runs the whole
    # scan→explode→df-aggregate→window subtree per side — 16 parquet
    # scans of `documents` in the unfixed physical plan, 4 after. The
    # frame is prefix-bounded (≤ q·d+1 grams per record), so the
    # materialization stays O(records) at any corpus size.
    grams = recs.select(
        "side",
        "id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, length(name) - {ENTITY_Q - 1}),"
                f" i -> substring(name, i, {ENTITY_Q})))"
            )
        ).alias("gram"),
    )
    df_tab = grams.groupBy("gram").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("side", "id").orderBy("df", "gram")
    prefix = (
        grams.join(F.broadcast(df_tab), "gram")
        .withColumn("r", F.row_number().over(w_rank))
        .where(F.col("r") <= ENTITY_Q * ENTITY_MAX_DIST + 1)
        .select("side", "id", "gram")
        .localCheckpoint(eager=True)
    )
    cand = (
        prefix.where(F.col("side") == "d")
        .select(F.col("id").alias("dirty_id"), "gram")
        .join(
            prefix.where(F.col("side") == "c").select(
                F.col("id").alias("clean_id"), "gram"
            ),
            "gram",
        )
        .select("dirty_id", "clean_id")
        .distinct()
    )
    return (
        cand.join(dirty.select(F.col("id").alias("dirty_id"),
                               F.col("name").alias("dname")), "dirty_id")
        .join(clean.select(F.col("id").alias("clean_id"),
                           F.col("name").alias("cname")), "clean_id")
        .withColumn("distance", F.levenshtein("dname", "cname"))
        .where(F.col("distance") <= ENTITY_MAX_DIST)
        .select("dirty_id", "clean_id", "distance")
    )


def oracle_entity_match() -> str:
    """DuckDB twin of :func:`entity_match_pairs` — deliberately the
    BRUTE-FORCE quadratic join: the oracle states the semantics (all
    pairs within distance d) so the hash gate proves the engine's
    prefix filter lossless."""
    title = f"substr(lower(text), 1, {ENTITY_TITLE_LEN})"
    dirty = f"""CASE (doc_id // 20) % 3
    WHEN 0 THEN concat(substr({title}, 1, 4 + (doc_id % 30)),
                       substr({title}, 6 + (doc_id % 30)))
    WHEN 1 THEN concat(substr({title}, 1, 4 + (doc_id % 30)), 'z',
                       substr({title}, 6 + (doc_id % 30)))
    ELSE {title} END"""
    return f"""WITH clean AS (
  SELECT doc_id AS clean_id, {title} AS cname FROM documents),
dirty AS (
  SELECT doc_id AS dirty_id, {dirty} AS dname
  FROM documents WHERE doc_id % 20 IN (1, 7, 13))
SELECT d.dirty_id, c.clean_id,
       CAST(levenshtein(d.dname, c.cname) AS INTEGER) AS distance
FROM dirty d JOIN clean c ON levenshtein(d.dname, c.cname) <= {ENTITY_MAX_DIST}"""


def entity_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESOLUTION step over :func:`entity_match_pairs` — every dirty
    registry record assigned to its best clean match (minimum edit
    distance, min clean_id among ties), unmatched records kept with a
    NULL assignment: the linkage report a master-data pipeline actually
    consumes (match → resolve → merge).

    Plan: the argmin is a row_number window keyed by dirty_id (high-
    cardinality — one record's candidate list per partition); the
    unmatched audit is a broadcast-able left join of the dirty id set
    against the winners.

    Output: (dirty_id, clean_id nullable, distance nullable, matched).
    """
    matches = entity_match_pairs(spark, sf_dir)
    w = Window.partitionBy("dirty_id").orderBy("distance", "clean_id")
    best = (
        matches.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("dirty_id", "clean_id", "distance")
    )
    docs = spread(load(spark, sf_dir, "documents"))
    dirty_ids = docs.where(F.expr("doc_id % 20 IN (1, 7, 13)")).select(
        F.col("doc_id").alias("dirty_id")
    )
    return (
        dirty_ids.join(best, "dirty_id", "left")
        .select(
            "dirty_id",
            "clean_id",
            "distance",
            F.col("clean_id").isNotNull().alias("matched"),
        )
    )


def oracle_entity_resolve() -> str:
    """DuckDB twin of :func:`entity_resolve` — brute-force match set,
    per-dirty argmin, left join for the unmatched audit."""
    return f"""WITH m AS ({oracle_entity_match()}),
best AS (
  SELECT dirty_id, clean_id, distance FROM m
  QUALIFY row_number() OVER (PARTITION BY dirty_id
                             ORDER BY distance, clean_id) = 1),
d AS (SELECT doc_id AS dirty_id FROM documents WHERE doc_id % 20 IN (1, 7, 13))
SELECT d.dirty_id, b.clean_id, b.distance,
       b.clean_id IS NOT NULL AS matched
FROM d LEFT JOIN best b ON b.dirty_id = d.dirty_id"""


def _entity_grams(recs: DataFrame) -> DataFrame:
    """(id, gram) — each record's DISTINCT character q-grams."""
    return recs.select(
        "id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, length(name) - {ENTITY_Q - 1}),"
                f" i -> substring(name, i, {ENTITY_Q})))"
            )
        ).alias("gram"),
    )


def _persisted_entity_index(
    spark: SparkSession, sf_dir: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build-once / probe-many LINKAGE INDEX over the clean registry:
    (names, gram-df table, prefix posting lists) persisted as parquet.

    The df table is the load-bearing artifact: the prefix filter's
    losslessness proof needs BOTH sides' prefixes under ONE total order,
    so the probe side must rank its grams by this PINNED (df, gram)
    order — re-deriving df from an arriving batch would be the ordering
    analogue of train/serve skew (a batch-local order can evict the one
    shared gram from a prefix and silently drop a true match). Grams
    the index has never seen rank first (df 0) — they extend the pinned
    order consistently and can match no clean prefix gram anyway.
    """

    def build(out: str) -> None:
        docs = spread(load(spark, sf_dir, "documents"))
        clean = docs.select(
            F.col("doc_id").alias("id"), F.expr(_ENTITY_TITLE).alias("name")
        )
        grams = _entity_grams(clean)
        df_tab = grams.groupBy("gram").agg(F.count("*").alias("df"))
        w = Window.partitionBy("id").orderBy("df", "gram")
        prefix = (
            grams.join(F.broadcast(df_tab), "gram")
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= ENTITY_Q * ENTITY_MAX_DIST + 1)
            .select("id", "gram")
        )
        clean.write.parquet(f"{out}/names")
        df_tab.write.parquet(f"{out}/df")
        prefix.write.parquet(f"{out}/prefix")

    out = materialized(
        "entity_index", f"{sf_dir}/documents.parquet", (ENTITY_Q, ENTITY_MAX_DIST), build
    )
    return tuple(spark.read.parquet(f"{out}/{leg}") for leg in ("names", "df", "prefix"))


# --- Pipeline drop audit ------------------------------------------------------
def corpus_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document provenance audit for the assembled curation pipeline:
    ONE row per corpus document with the FIRST stage that dropped it —
    the "why is my document gone?" table every production data pipeline
    ends up needing, and the artifact a curator diffs between pipeline
    versions to see which knob moved which documents.

    Stage order (first hit wins, mirroring the pipeline's execution
    order):

    0. ``benchmark``    — the held-out eval slice (``doc_id % DECON_MOD``)
       never enters the training corpus;
    1. ``too_short``    — below the quality gate's 2-token domain (no
       verdict row exists);
    2. ``quality``      — failed the assembled quality gate;
    3. ``exact_dup``    — not the canonical (min doc_id) copy of its
       normalized text among gate SURVIVORS (dedup runs downstream of
       the gate, so a duplicate of a dropped doc is NOT a duplicate);
    4. ``contaminated`` — shares a k-token shingle with the benchmark;
    5. ``kept``.

    Output: (doc_id, drop_reason, stage) — stage is the int64 index above.

    Scale: the heavy lifting is the reused operators (gate = one gram
    shuffle; decontamination = benchmark-bounded shingle join); the audit
    itself adds one md5-keyed groupBy over gate survivors plus three
    doc_id-keyed left joins — all uniform keys, no new skew surface, and
    every join side is already doc_id-partitioned so AQE coalesces the
    exchanges.
    """
    from .text import corpus_quality_gate

    docs = _spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    gate = corpus_quality_gate(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("pass_gate")
    )
    # The audit spine (flags + content hash, NO raw text) is MATERIALIZED
    # once: `base` has four consumers (the survivor filter feeding both
    # the canonical groupBy and the dup join, plus the final ladder), and
    # without the checkpoint the planner re-runs the whole gate evaluation
    # per consumer — 22 parquet scans / 44 exchanges in the unfixed plan.
    # Hashing the normalized text here (instead of carrying `text` into
    # the survivor branch) keeps the materialized frame O(docs)×~50 B —
    # the same rows-not-payload discipline the spine would need at 100 TB.
    base = docs.join(gate, "doc_id", "left").select(
        "doc_id",
        (F.col("doc_id") % DECON_MOD == 0).alias("is_benchmark"),
        F.col("pass_gate").isNull().alias("too_short"),
        F.coalesce(F.col("pass_gate"), F.lit(False)).alias("pass_gate"),
        F.md5(_norm_text()).alias("h"),
    ).localCheckpoint(eager=True)
    survivors = base.where(~F.col("is_benchmark") & F.col("pass_gate")).select(
        "doc_id", "h"
    )
    canon = survivors.groupBy("h").agg(F.min("doc_id").alias("canonical_doc_id"))
    dup_flag = survivors.join(canon, "h").select(
        "doc_id", (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_exact_dup")
    )
    hits = decontamination_hits(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("is_contaminated")
    )
    reason, stage = drop_audit_ladder()
    return (
        base.join(dup_flag, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            reason.alias("drop_reason"),
            stage.cast("bigint").alias("stage"),
        )
    )


def drop_audit_ladder() -> tuple[F.Column, F.Column]:
    """The first-failing-stage CASE ladder over the audit flag columns
    (is_benchmark, too_short, pass_gate, is_exact_dup, is_contaminated)
    — shared by :func:`corpus_drop_audit` and the streaming arrival-path
    twin so the two paths cannot drift."""
    reason = (
        F.when(F.col("is_benchmark"), F.lit("benchmark"))
        .when(F.col("too_short"), F.lit("too_short"))
        .when(~F.col("pass_gate"), F.lit("quality"))
        .when(F.col("is_exact_dup"), F.lit("exact_dup"))
        .when(F.col("is_contaminated"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    stage = (
        F.when(F.col("is_benchmark"), F.lit(0))
        .when(F.col("too_short"), F.lit(1))
        .when(~F.col("pass_gate"), F.lit(2))
        .when(F.col("is_exact_dup"), F.lit(3))
        .when(F.col("is_contaminated"), F.lit(4))
        .otherwise(F.lit(5))
    )
    return reason, stage


def oracle_corpus_drop_audit(norm_sql: str) -> str:
    """DuckDB twin of :func:`corpus_drop_audit` — composes the gate and
    decontamination oracles and replays the identical CASE ladder."""
    from .text import oracle_corpus_quality_gate

    return f"""WITH g AS ({oracle_corpus_quality_gate()}),
d AS (SELECT doc_id, md5({norm_sql}) AS h FROM documents),
surv AS (
  SELECT d.doc_id, d.h FROM d JOIN g ON g.doc_id = d.doc_id
  WHERE d.doc_id % {DECON_MOD} <> 0 AND g.keep),
canon AS (SELECT h, min(doc_id) AS c FROM surv GROUP BY h),
dup AS (SELECT surv.doc_id, surv.doc_id <> canon.c AS is_exact_dup
        FROM surv JOIN canon USING (h)),
hits AS (SELECT doc_id FROM ({oracle_decontamination_hits()})),
audit AS (
  SELECT documents.doc_id,
         documents.doc_id % {DECON_MOD} = 0 AS is_benchmark,
         g.doc_id IS NULL AS too_short,
         COALESCE(g.keep, FALSE) AS pass_gate,
         dup.is_exact_dup,
         hits.doc_id IS NOT NULL AS is_contaminated
  FROM documents
  LEFT JOIN g ON g.doc_id = documents.doc_id
  LEFT JOIN dup ON dup.doc_id = documents.doc_id
  LEFT JOIN hits ON hits.doc_id = documents.doc_id)
SELECT doc_id,
       CASE WHEN is_benchmark THEN 'benchmark'
            WHEN too_short THEN 'too_short'
            WHEN NOT pass_gate THEN 'quality'
            WHEN is_exact_dup THEN 'exact_dup'
            WHEN is_contaminated THEN 'contaminated'
            ELSE 'kept' END AS drop_reason,
       CAST(CASE WHEN is_benchmark THEN 0
            WHEN too_short THEN 1
            WHEN NOT pass_gate THEN 2
            WHEN is_exact_dup THEN 3
            WHEN is_contaminated THEN 4
            ELSE 5 END AS BIGINT) AS stage
FROM audit"""


# --- Weighted MinHash (bag similarity) ----------------------------------------
def weighted_minhash_signatures(docs: DataFrame) -> DataFrame:
    """Integer-weight MinHash by tf-replication (:func:`_tf_replicas`):
    the per-seed min over replicas ``shingle#1 .. shingle#tf`` estimates
    WEIGHTED Jaccard Σmin(tf)/Σmax(tf) — the bag-similarity near-dup
    signal plain (set) MinHash is blind to (keyword-stuffed or
    loop-generated docs share the vocabulary of their source but not its
    token distribution).

    Plan: explode shingles → tf count (map-side combined) → explode
    replicas → 32 codegen min-aggregates. Replica volume is the same row
    count :func:`duplicate_spans` already explodes — not a new cost
    class. Seeded xxhash64 ⇒ engine-specific ⇒ rows-only; gated by the
    recall/bag-sensitivity suite in tests/test_dedup.py.
    """
    return _xxhash_mins(_tf_replicas(docs), "r")


def weighted_minhash_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Near-dup pairs under WEIGHTED Jaccard: the set-MinHash pipeline
    over the tf-replicated signatures.

    Output: (doc_a, doc_b, est_wjaccard).
    """
    sig = weighted_minhash_signatures(_spread(load(spark, sf_dir, "documents")))
    cands = _band_pairs(_band(sig, N_HASHES, ROWS_PER_BAND, _xxhash_key))
    return (
        _agree(cands, sig, N_HASHES, "doc_a", "doc_b")
        .select("doc_a", "doc_b", _est(N_HASHES).alias("est_wjaccard"))
        .where(F.col("est_wjaccard") >= threshold)
    )


# --- One-permutation MinHash (OPH) --------------------------------------------
def oph_minhash_signatures(docs: DataFrame) -> DataFrame:
    """One-permutation MinHash (Li et al. 2012) with rotation
    densification (Shrivastava 2017): ONE xxhash64 per shingle, binned
    into 32 buckets by ``pmod``; each bucket keeps its min; an empty
    bucket borrows the nearest non-empty bucket clockwise. Estimator
    quality matches 32 independent permutations while hashing 32× less
    — the production MinHash shape when the shingle explode dominates
    signature cost.

    Plan: one explode → ONE hash per shingle → a SINGLE per-doc groupBy
    of 32 conditional min-aggregates (same one-shuffle shape as the
    32-perm path) → rotation densification as a static unrolled
    coalesce (pure codegen, no UDF).

    MEASURED finding (100 k-doc soak, min of 3): 32-perm 3.9 s, OPH
    4.8 s — and a two-shuffle (doc, bin) pre-agg formulation was worse
    still (4.3 s vs 3.7 s same run). Spark's codegen'd xxhash64 is so
    cheap that signature cost here is AGGREGATION-bound, not hash-bound,
    so the folklore 32× hashing win does not materialize at this shingle
    shape; 32-perm stays the default path. OPH earns its keep where the
    hash genuinely dominates — long byte-string inputs, expensive hash
    families, or hash-heavy pipelines fusing more work per row — and
    this implementation documents the correct Spark formulation for that
    case (single shuffle, codegen densification).

    Output: (doc_id, sig array<long> of length 32, n_filled).
    """
    n = N_HASHES
    hashed = _shingles(docs).select(
        "doc_id", F.xxhash64(F.lit(0), F.col("shingle")).alias("h")
    )
    raw = _oph_bins(hashed, F.pmod(F.col("h"), F.lit(n)), n)
    n_filled = sum(
        F.when(F.col(f"b{i}").isNotNull(), 1).otherwise(0) for i in range(n)
    )
    return raw.select(
        "doc_id", F.array(*_densify(n)).alias("sig"), n_filled.cast("bigint").alias("n_filled")
    )


def oph_minhash_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Near-dup pairs from the OPH signatures: the 32-perm pipeline with
    only the signature construction changed (1 hash per shingle).

    Output: (doc_a, doc_b, est_jaccard).
    """
    sig = oph_minhash_signatures(_spread(load(spark, sf_dir, "documents"))).select(
        "doc_id", *[F.col("sig").getItem(i).alias(f"h{i}") for i in range(N_HASHES)]
    )
    cands = _band_pairs(_band(sig, N_HASHES, ROWS_PER_BAND, _xxhash_key))
    return (
        _agree(cands, sig, N_HASHES, "doc_a", "doc_b")
        .select("doc_a", "doc_b", _est(N_HASHES).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


# --- Portable twins of the weighted / OPH families (r8) ----------------------
# The tf-replication (weighted) and one-permutation (OPH) constructions
# compose with the portable affine permutations exactly as VERDICT r7
# item 3 predicted: only the per-replica / per-shingle KEY changes, the
# banding and estimator are the shared portable machinery. These twins
# make the last two architecture-bearing rows-only families externally
# hash-checkable; the xxhash64 originals stay the scale path.


def weighted_portable_signatures(docs: DataFrame) -> DataFrame:
    """PORTABLE weighted (bag) MinHash via tf-replication: replica
    ``shingle#r`` (r = 1..tf) → 28-bit md5 key → the same 16 affine
    permutations as :func:`portable_minhash_signatures`. Estimates
    weighted Jaccard Σmin(tf)/Σmax(tf) with values DuckDB re-derives
    bit-identically (md5 + BIGINT affine, no engine hash): ONE md5 per
    replica, shared by all 16 permutations."""
    return _affine_mins(_tf_replicas(docs), "r")


def minhash_weighted_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs under WEIGHTED Jaccard via the portable replicated
    signatures — the SQL-oracled twin of :func:`weighted_minhash_pairs`,
    on the portable set family's pipeline.

    Output: (doc_a, doc_b, n_agree, est_wjaccard)."""
    sig = weighted_portable_signatures(_spread(load(spark, sf_dir, "documents")))
    cands = _band_pairs(_band(sig, PORTABLE_PERMS, PORTABLE_ROWS, _concat_key))
    return (
        _agree(cands, sig, PORTABLE_PERMS, "doc_a", "doc_b")
        .select("doc_a", "doc_b", "n_agree", _est(PORTABLE_PERMS).alias("est_wjaccard"))
        .where(F.col("est_wjaccard") >= NEARDUP_THRESHOLD)
    )


def _oracle_portable_weighted_sig_sql() -> str:
    """Shared CTE text for the weighted portable family: documents →
    shingles WITH tf → replicas → 28-bit md5 keys → 16-column signature
    (``sig``) → band buckets (``bands``). Mirrors
    :func:`_oracle_portable_sig_sql` with the replica step added."""
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    mins = ",\n         ".join(
        f"min(({a} * x + {b}) % {PORTABLE_P}) AS h{i}"
        for i, (a, b) in enumerate(_PORT_COEF)
    )
    return f"""pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {NGRAM_K - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
shtf AS (
  SELECT doc_id, s, count(*) AS tf
  FROM (SELECT doc_id, array_to_string(toks[i : i + {NGRAM_K - 1}], ' ') AS s FROM pos)
  GROUP BY 1, 2
),
reps AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s || '#' || CAST(rep AS VARCHAR)), 1, 7))
              AS BIGINT) AS x
  FROM (SELECT doc_id, s, unnest(generate_series(1, tf)) AS rep FROM shtf)
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM reps GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(bb) + " AS band, concat_ws('-', "
      + ", ".join(f"h{bb * PORTABLE_ROWS + r}" for r in range(PORTABLE_ROWS))
      + ") AS bucket FROM sig"
      for bb in range(PORTABLE_BANDS)
  )}
)"""


def oracle_minhash_weighted_portable_pairs() -> str:
    """DuckDB twin of :func:`minhash_weighted_portable_pairs`."""
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(PORTABLE_PERMS)
    )
    return f"""WITH {_oracle_portable_weighted_sig_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({agree} AS BIGINT) AS n_agree,
       CAST({agree} AS DOUBLE) / {float(PORTABLE_PERMS)} AS est_wjaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE CAST({agree} AS DOUBLE) / {float(PORTABLE_PERMS)} >= {NEARDUP_THRESHOLD}"""


def oph_portable_signatures(docs: DataFrame) -> DataFrame:
    """PORTABLE one-permutation MinHash with rotation densification:
    ONE affine permutation (the family's coefficient 0) over the 28-bit
    md5 shingle keys, binned into ``PORTABLE_PERMS`` buckets by
    ``h % PORTABLE_PERMS`` (h ≥ 0, so ``%`` agrees across engines);
    each bucket keeps its min; an empty bucket borrows the nearest
    non-empty bucket clockwise (Shrivastava 2017), exactly like the
    xxhash64 OPH (:func:`oph_minhash_signatures`) — whose MEASURED
    finding stands: at this shingle shape signature cost is
    aggregation-bound, so OPH is the documented formulation for
    hash-dominated inputs, not the default path.

    Output: (doc_id, h0..h15) — densified, column-per-slot so the
    shared banding/estimator machinery applies unchanged."""
    a0, b0 = _PORT_COEF[0]
    n = PORTABLE_PERMS
    h = (F.lit(a0) * _md5_key("shingle") + F.lit(b0)) % F.lit(PORTABLE_P)
    raw = _oph_bins(_shingles(docs).select("doc_id", h.alias("h")), F.col("h") % n, n)
    return raw.select("doc_id", *[c.alias(f"h{i}") for i, c in enumerate(_densify(n))])


def minhash_oph_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from the portable OPH signatures — the SQL-oracled
    twin of :func:`oph_minhash_pairs`, on the portable set family's
    pipeline (one permutation + densification instead of 16
    permutations).

    Output: (doc_a, doc_b, n_agree, est_jaccard)."""
    sig = oph_portable_signatures(_spread(load(spark, sf_dir, "documents")))
    cands = _band_pairs(_band(sig, PORTABLE_PERMS, PORTABLE_ROWS, _concat_key))
    return (
        _agree(cands, sig, PORTABLE_PERMS, "doc_a", "doc_b")
        .select("doc_a", "doc_b", "n_agree", _est(PORTABLE_PERMS).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= NEARDUP_THRESHOLD)
    )


def oracle_minhash_oph_portable_pairs() -> str:
    """DuckDB twin of :func:`minhash_oph_portable_pairs` — re-derives the
    one-permutation bins and the clockwise densification as an unrolled
    coalesce, then the same band join."""
    a0, b0 = _PORT_COEF[0]
    n = PORTABLE_PERMS
    k = NGRAM_K
    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    bins = ",\n         ".join(
        f"min(CASE WHEN h % {n} = {i} THEN h END) AS b{i}" for i in range(n)
    )
    slots = ",\n         ".join(
        "coalesce(" + ", ".join(f"b{(i + j) % n}" for j in range(n)) + f") AS h{i}"
        for i in range(n)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(n)
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, " + str(bb) + " AS band, concat_ws('-', "
        + ", ".join(f"h{bb * PORTABLE_ROWS + r}" for r in range(PORTABLE_ROWS))
        + ") AS bucket FROM sig"
        for bb in range(PORTABLE_BANDS)
    )
    return f"""WITH pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d
),
sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(array_to_string(toks[i : i + {k - 1}], ' ')), 1, 7))
              AS BIGINT) AS x
  FROM pos
),
hv AS (SELECT doc_id, ({a0} * x + {b0}) % {PORTABLE_P} AS h FROM sh),
raw AS (
  SELECT doc_id,
         {bins}
  FROM hv GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {slots}
  FROM raw
),
bands AS (
  {bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({agree} AS BIGINT) AS n_agree,
       CAST({agree} AS DOUBLE) / {float(n)} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE CAST({agree} AS DOUBLE) / {float(n)} >= {NEARDUP_THRESHOLD}"""
