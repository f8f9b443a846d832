"""Query catalog: every operator exposed to the driver's correctness gate.

Each entry pairs a Spark query builder ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI-SQL oracle string DuckDB runs on the same parquet tables.
Column names/aliases are kept identical on both sides (the driver sorts
columns by name before value-hashing). Approx/sketch queries have no oracle
entry — the driver records a rows-only check for those.

The ``ev`` CTE mirrors ``sources.normalize_events``'s dimension mapping
(FIXTURES.md §1): uid→user_id, variant→event_type,
experiment_id→json ``props.k``, timestamp→ts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.numeric import oracle_davg, oracle_dsum
from .functions.vectors import (
    oracle_cosine,
    oracle_qdot,
    oracle_quantize,
    oracle_quantize_int8,
)
from .operators import (
    classifier,
    dedup,
    metrics,
    multimodal,
    relational,
    sampling,
    sessions,
    similarity,
    text,
    timeseries,
)
from .sources import normalize_events, read_events
from .streaming import pipeline, redis_sink, state_reader, stateful
from .tables import load, pinned

QueryFn = Callable[[SparkSession, str], DataFrame]

#: DuckDB twin of sources.normalize_events (dimension mapping, FIXTURES.md §1).
EV_CTE = """WITH ev AS (
  SELECT event_id, ts, user_id, event_type AS variant,
         json_extract_string(props, '$.k') AS experiment_id, value
  FROM events
)"""

#: DuckDB twin of operators.timeseries.time_axis (R1).
AXIS_CTE = """axis AS (
  SELECT unnest(generate_series(date_trunc('minute', b.t0),
                                date_trunc('minute', b.t1),
                                INTERVAL 1 MINUTE)) AS minute
  FROM (SELECT min(ts) AS t0, max(ts) AS t1 FROM ev) b
)"""


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_events(read_events(spark, sf_dir))


QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def q(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    # a dropped name argument would otherwise register a function OBJECT
    # as the key and silently corrupt the catalog (bitten once in r4)
    if not isinstance(name, str):
        raise TypeError(f"registry key must be a str, got {type(name)}: {name!r}")
    if not callable(fn):
        raise TypeError(f"query fn for {name!r} is not callable: {type(fn)}")
    if name in QUERIES:
        raise ValueError(f"duplicate registry entry: {name}")
    QUERIES[name] = fn
    if oracle is not None:
        ORACLE[name] = oracle


def _stream(
    stream_fn: Callable[..., DataFrame], table: str, *frames: str, **kw
) -> QueryFn:
    """The query fn calling ``stream_fn`` with the fixture path
    ``<sf_dir>/<table>.parquet``, then each fixture table named in
    ``frames`` loaded, then ``kw``."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return stream_fn(
            spark,
            f"{sf_dir}/{table}.parquet",
            *(load(spark, sf_dir, t) for t in frames),
            **kw,
        )

    return run


# ---------------------------------------------------------------------------
# Reference-parity metric grains (SURVEY §2.2, W1–W12)
# ---------------------------------------------------------------------------
q(
    "w1_visits_per_minute",
    lambda s, d: metrics.visits_per_minute(_ev(s, d)),
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute, count(*) AS visits
FROM ev GROUP BY 1""",
)
q(
    "w2_uniques_per_experiment_variant_minute",
    lambda s, d: metrics.uniques_per_experiment_variant_minute(_ev(s, d)),
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute, experiment_id, variant,
       count(DISTINCT user_id) AS unique_users
FROM ev GROUP BY 1, 2, 3""",
)
q(
    "w2_uniques_per_experiment_variant_minute_approx",
    lambda s, d: metrics.uniques_per_experiment_variant_minute(_ev(s, d), exact=False),
)
q(
    "w3_uniques_per_variant",
    lambda s, d: metrics.uniques_per_variant(_ev(s, d)),
    f"""{EV_CTE}
SELECT variant, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)
q(
    "w3_uniques_per_variant_approx",
    lambda s, d: metrics.uniques_per_variant(_ev(s, d), exact=False),
)
# Streaming twins of the batch sliding/session windows — same oracles
# (stream/batch parity is the correctness claim).
q(
    "stream_sliding_visits",
    _stream(pipeline.stream_sliding_visits, "events"),
    sessions.oracle_sliding_visits(EV_CTE),
)
q(
    "stream_user_sessions",
    _stream(pipeline.stream_user_sessions, "events"),
    sessions.oracle_user_sessions(EV_CTE),
)


def _ev_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        _ev(spark, sf_dir)
        .cube("experiment_id", "variant")
        .agg(F.count_distinct("user_id").alias("unique_users"))
    )


# The reference computes exp-grain (W5), variant-grain (W3) and
# exp×variant-grain (W2) uniques as three hand-built legs — i.e. a manual
# cube (SURVEY §2.5). One cube() covers all four grouping sets.
q(
    "ev_cube_uniques",
    _ev_cube,
    f"""{EV_CTE}
SELECT experiment_id, variant, count(DISTINCT user_id) AS unique_users
FROM ev GROUP BY CUBE (experiment_id, variant)""",
)


def _ev_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ev(spark, sf_dir).createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """SELECT date_trunc('minute', ts) AS minute, variant,
                  count(DISTINCT user_id) AS unique_users
           FROM _ev_gs
           GROUP BY GROUPING SETS ((date_trunc('minute', ts)),
                                   (variant),
                                   (date_trunc('minute', ts), variant))"""
    )


# The reference computes minute-grain (W11), variant-grain (W3) and
# minute×variant uniques as separate pipeline legs; GROUPING SETS folds all
# three grains into ONE pass over the events (single expand + aggregate).
q(
    "ev_grouping_sets_uniques",
    _ev_grouping_sets,
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute, variant,
       count(DISTINCT user_id) AS unique_users
FROM ev
GROUP BY GROUPING SETS ((date_trunc('minute', ts)), (variant),
                        (date_trunc('minute', ts), variant))""",
)


def _w3_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.skew import salted_count_distinct

    return salted_count_distinct(
        _ev(spark, sf_dir), ["variant"], "user_id", "unique_users"
    )


# W3 under the skew-resilient salted two-phase plan — same oracle as the
# naive grain proves the salting is exact (functions/skew.py).
q(
    "w3_uniques_per_variant_salted",
    _w3_salted,
    f"""{EV_CTE}
SELECT variant, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)


def _w4_user_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return metrics.user_sets_per_variant(_ev(spark, sf_dir)).select(
        "variant",
        F.concat_ws(",", F.sort_array("user_set")).alias("user_set"),
        F.size("user_set").cast("long").alias("set_size"),
    )


# W4/W6 set legs materialize the SET ITSELF (SADD/SMEMBERS), not just its
# cardinality; sorted + serialized to a scalar string so the value-hash
# comparator (pandas sort over object columns) never sees an unhashable list.
q(
    "w4_user_sets_per_variant",
    _w4_user_sets,
    f"""{EV_CTE}
SELECT variant,
       array_to_string(list_sort(list(DISTINCT user_id)), ',') AS user_set,
       count(DISTINCT user_id) AS set_size
FROM ev GROUP BY 1""",
)
q(
    "w5_uniques_per_experiment",
    lambda s, d: metrics.uniques_per_experiment(_ev(s, d)),
    f"""{EV_CTE}
SELECT experiment_id, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)
q(
    "w5_uniques_per_experiment_approx",
    lambda s, d: metrics.uniques_per_experiment(_ev(s, d), exact=False),
)
q(
    "w7_experiments_per_minute",
    lambda s, d: metrics.experiments_per_minute(_ev(s, d)),
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute,
       count(DISTINCT experiment_id) AS active_experiments
FROM ev GROUP BY 1""",
)
q(
    "w9_variants_per_minute",
    lambda s, d: metrics.variants_per_minute(_ev(s, d)),
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute,
       count(DISTINCT variant) AS active_variants
FROM ev GROUP BY 1""",
)
q(
    "w11_uniques_per_minute",
    lambda s, d: metrics.uniques_per_minute(_ev(s, d)),
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute,
       count(DISTINCT user_id) AS unique_users
FROM ev GROUP BY 1""",
)
q(
    "w11_uniques_per_minute_approx",
    lambda s, d: metrics.uniques_per_minute(_ev(s, d), exact=False),
)

# ---------------------------------------------------------------------------
# Read-side dashboard queries (SURVEY §2.3, R1–R7)
# ---------------------------------------------------------------------------
q(
    "r1_time_axis",
    lambda s, d: timeseries.times(_ev(s, d)),
    f"""{EV_CTE}, {AXIS_CTE}
SELECT minute FROM axis""",
)
q(
    "r2_visits_timeseries",
    lambda s, d: timeseries.visits_timeseries(_ev(s, d)),
    f"""{EV_CTE}, {AXIS_CTE},
g AS (SELECT date_trunc('minute', ts) AS minute, count(*) AS visits FROM ev GROUP BY 1)
SELECT a.minute, CAST(coalesce(g.visits, 0) AS DOUBLE) AS metric
FROM axis a LEFT JOIN g USING (minute)""",
)
q(
    "r3_users_timeseries",
    lambda s, d: timeseries.users_timeseries(_ev(s, d)),
    f"""{EV_CTE}, {AXIS_CTE},
g AS (SELECT date_trunc('minute', ts) AS minute,
             count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1)
SELECT a.minute, CAST(coalesce(g.unique_users, 0) AS DOUBLE) AS metric
FROM axis a LEFT JOIN g USING (minute)""",
)
q(
    "r3_users_timeseries_approx",
    lambda s, d: timeseries.users_timeseries(_ev(s, d), exact=False),
)
q(
    "r4_experiments_timeseries",
    lambda s, d: timeseries.experiments_timeseries(_ev(s, d)),
    f"""{EV_CTE}, {AXIS_CTE},
g AS (SELECT date_trunc('minute', ts) AS minute,
             count(DISTINCT experiment_id) AS active_experiments FROM ev GROUP BY 1)
SELECT a.minute, CAST(coalesce(g.active_experiments, 0) AS DOUBLE) AS metric
FROM axis a LEFT JOIN g USING (minute)""",
)
q(
    "r5_variant_overlap",
    lambda s, d: timeseries.variant_overlap(_ev(s, d)),
    f"""{EV_CTE},
uv AS (SELECT DISTINCT variant, user_id FROM ev)
SELECT a.variant AS variant_a, b.variant AS variant_b, count(*) AS overlap
FROM uv a JOIN uv b ON a.user_id = b.user_id AND a.variant < b.variant
GROUP BY 1, 2""",
)

q(
    "r2_visits_timeseries_last10",
    lambda s, d: timeseries.visits_timeseries_last(_ev(s, d)),
    f"""{EV_CTE},
b AS (SELECT date_trunc('minute', max(ts)) AS t1 FROM ev),
axis AS (
  SELECT unnest(generate_series(t1 - INTERVAL 9 MINUTE, t1, INTERVAL 1 MINUTE)) AS minute
  FROM b
),
g AS (SELECT date_trunc('minute', ts) AS minute, count(*) AS visits FROM ev GROUP BY 1)
SELECT a.minute, CAST(coalesce(g.visits, 0) AS DOUBLE) AS metric
FROM axis a LEFT JOIN g USING (minute)""",
)


def _w11_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    # estimate from the mergeable per-minute sketches (binary sketches are
    # engine-specific → rows-only; the exact twin w11 gates correctness)
    return (
        metrics.hll_sketches_per_minute(_ev(spark, sf_dir))
        .select(
            "minute",
            F.hll_sketch_estimate("sketch").alias("unique_users_est"),
        )
    )


q("w11_hll_sketch_estimates", _w11_sketches)

# ---------------------------------------------------------------------------
# Relational surface (SURVEY §2.5 / Phase 3) — TPC-H-ish operator coverage
# ---------------------------------------------------------------------------
_REV = "l_extendedprice * (1 - l_discount)"

q(
    "q1_pricing_summary",
    relational.q1_pricing_summary,
    f"""SELECT l_returnflag, l_linestatus,
  {oracle_dsum('l_quantity')} AS sum_qty,
  {oracle_dsum('l_extendedprice')} AS sum_base_price,
  {oracle_dsum(_REV)} AS sum_disc_price,
  {oracle_dsum(_REV + ' * (1 + l_tax)')} AS sum_charge,
  {oracle_davg('l_quantity')} AS avg_qty,
  {oracle_davg('l_extendedprice')} AS avg_price,
  {oracle_davg('l_discount')} AS avg_disc,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2""",
)
q(
    "q3_shipping_priority",
    relational.q3_shipping_priority,
    f"""SELECT l_orderkey, o_orderdate, o_orderpriority,
  {oracle_dsum(_REV)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10""",
)
q(
    "q5_local_supplier_volume",
    relational.q5_local_supplier_volume,
    f"""SELECT n_name, {oracle_dsum(_REV)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY revenue DESC, n_name""",
)
q(
    "q6_forecast_revenue",
    relational.q6_forecast_revenue,
    f"""SELECT {oracle_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24""",
)
q(
    "top_orders_by_value",
    relational.top_orders_by_value,
    """SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
q(
    "cube_quantity_by_flag_status",
    relational.cube_quantity_by_flag_status,
    f"""SELECT l_returnflag, l_linestatus,
  {oracle_dsum('l_quantity')} AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
q(
    "rollup_orders_by_status_priority",
    relational.rollup_orders_by_status_priority,
    f"""SELECT o_orderstatus, o_orderpriority,
  {oracle_dsum('o_totalprice')} AS sum_price, count(*) AS n_orders
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
)
q(
    "top_orders_per_customer",
    relational.top_orders_per_customer,
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
  FROM orders) t
WHERE rn <= 3""",
)
q(
    "running_revenue_per_supplier",
    relational.running_revenue_per_supplier,
    f"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
  CAST(CAST(SUM(CAST({_REV} AS DECIMAL(38,6))) OVER (
    PARTITION BY l_suppkey
    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_discount
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
    AS running_revenue
FROM lineitem""",
)
q(
    "customers_with_orders",
    relational.customers_with_orders,
    """SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
q(
    "customers_without_orders",
    relational.customers_without_orders,
    """SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
q(
    "active_entity_keys_union",
    relational.active_entity_keys_union,
    """SELECT c_custkey AS key FROM customer
UNION
SELECT o_custkey AS key FROM orders""",
)
q(
    "customer_keys_minus_orders",
    relational.customer_keys_minus_orders,
    """SELECT c_custkey AS key FROM customer
EXCEPT
SELECT o_custkey AS key FROM orders""",
)
q(
    "customer_keys_intersect_orders",
    relational.customer_keys_intersect_orders,
    """SELECT c_custkey AS key FROM customer
INTERSECT
SELECT o_custkey AS key FROM orders""",
)
q(
    "customers_by_nation_segment_pivot",
    relational.customers_by_nation_segment_pivot,
    """SELECT n_name,
  count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS "AUTOMOBILE",
  count(*) FILTER (WHERE c_mktsegment = 'BUILDING')   AS "BUILDING",
  count(*) FILTER (WHERE c_mktsegment = 'FURNITURE')  AS "FURNITURE",
  count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD')  AS "HOUSEHOLD",
  count(*) FILTER (WHERE c_mktsegment = 'MACHINERY')  AS "MACHINERY"
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1""",
)
q(
    "order_scalar_projections",
    relational.order_scalar_projections,
    """SELECT o_orderkey,
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
  strftime(o_orderdate, '%Y-%m') AS order_month_str,
  concat_ws('-', o_orderstatus, o_orderpriority) AS status_priority,
  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
  abs(o_totalprice - 1000.0) AS price_abs_delta,
  CAST(length(o_orderpriority) AS INTEGER) AS priority_len,
  upper(o_orderstatus) AS status_upper,
  substring(o_orderpriority, 1, 1) AS priority_code
FROM orders""",
)
q(
    "monthly_order_revenue",
    relational.monthly_order_revenue,
    f"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
  {oracle_dsum('o_totalprice')} AS revenue, count(*) AS n_orders
FROM orders GROUP BY 1""",
)

q(
    "priciest_parts_per_brand",
    relational.priciest_parts_per_brand,
    """SELECT p_brand, p_partkey, p_retailprice FROM part
QUALIFY p_retailprice = max(p_retailprice) OVER (PARTITION BY p_brand)""",
)
q(
    "returnflag_discount_profile",
    relational.returnflag_discount_profile,
    f"""SELECT l_returnflag, count(*) AS n_rows,
  {oracle_dsum('l_quantity')} AS sum_qty,
  count(*) FILTER (WHERE l_discount > 0.05) AS n_high_discount
FROM lineitem
WHERE l_returnflag IN ('A', 'R', 'N')
  AND l_quantity BETWEEN 1 AND 40
  AND l_linestatus LIKE '%F%'
GROUP BY 1 HAVING count(*) > 100""",
)

# ---------------------------------------------------------------------------
# Event-time window extensions (sliding, session, grouped-pandas features)
# ---------------------------------------------------------------------------
q("sliding_visits", sessions.sliding_visits, sessions.oracle_sliding_visits(EV_CTE))
q("user_sessions", sessions.user_sessions, sessions.oracle_user_sessions(EV_CTE))
# Interval concurrency (active sessions per minute) via SWEEP-LINE:
# boundary deltas + one axis-bounded running sum instead of the naive
# O(axis x sessions) BETWEEN join — which is exactly what the oracle
# runs, so the driver hash-gates sweep-line == quadratic semantics.
q(
    "active_sessions_per_minute",
    sessions.active_sessions_per_minute,
    sessions.oracle_active_sessions_per_minute(EV_CTE),
)
q(
    "user_event_features",
    sessions.user_event_features,
    sessions.oracle_user_event_features(EV_CTE),
)
# Pure-Catalyst inter-arrival twin: exact integer gap stats + rapid-fire
# count in one user_id-keyed shuffle (window + agg share the exchange).
def _user_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions.user_gap_profile(_ev(spark, sf_dir))


q(
    "user_gap_profile",
    _user_gap_profile,
    sessions.oracle_user_gap_profile(EV_CTE),
)

# ---------------------------------------------------------------------------
# Text analysis (north-star: LLM-data pipeline, documents table)
# ---------------------------------------------------------------------------
q("text_token_stats", text.token_stats, text.oracle_token_stats())
q("text_quality_score", text.quality_score, text.oracle_quality_score())
q("text_lang_id", text.lang_id, text.oracle_lang_id())
# Classifier-eval report: confusion matrix of the lang-ID heuristic vs the
# ground-truth label (|langs|^2 cells, row-normalized recall).
q(
    "lang_confusion_matrix",
    text.lang_confusion_matrix,
    text.oracle_lang_confusion_matrix(),
)
q("text_fingerprints", text.fingerprints, text.oracle_fingerprints())
q("text_normalize_mask", text.normalize_mask, text.oracle_normalize_mask())
# Gopher-style repetition filters (top-bigram fraction, duplicated-trigram
# fraction, distinct-token ratio) — one prefixed-gram explode serves both
# gram sizes; fractions are int/int doubles, bit-exact vs the oracle.
q("text_repetition_signals", text.repetition_signals, text.oracle_repetition_signals())
# Vocabulary building (tokenizer-training precursor): top-V types +
# cumulative token-stream coverage.
q(
    "text_vocabulary_coverage",
    text.vocabulary_coverage,
    text.oracle_vocabulary_coverage(),
)
# Perplexity-proxy quality filter: mean token log-prob under the corpus's
# own unigram LM.
q(
    "text_unigram_logprob_scores",
    text.unigram_logprob_scores,
    text.oracle_unigram_logprob_scores(),
)
# Second-order twin: mean ADD-α-SMOOTHED BIGRAM log-prob — scores token
# order, catching shuffled/templated text the unigram gate passes.
q(
    "text_bigram_logprob_scores",
    text.bigram_logprob_scores,
    text.oracle_bigram_logprob_scores(),
)
# Lexical-diversity gates: per-doc token Shannon entropy + type-token
# ratio (decimal-summed c·ln c terms — order-independent float path).
q("text_token_entropy", text.token_entropy, text.oracle_token_entropy())
# Sentence segmentation stats — pure per-row higher-order array exprs.
q("text_sentence_stats", text.sentence_stats, text.oracle_sentence_stats())
# Collocation mining (word2phrase precursor): top-k bigrams by INTEGER
# count (ulp-proof membership) with PMI carried as a value column.
q("text_collocations_pmi", text.collocations_pmi, text.oracle_collocations_pmi())
# RAKE keyphrases: stopword-delimited candidate runs scored by word
# degree/frequency — phrase MEMBERSHIP is integer-decided (run length,
# doc support) and the float score folds through DECIMAL(38,12), so the
# report hash-gates despite being score-bearing (the tfidf lesson).
q("text_rake_keyphrases", text.rake_keyphrases, text.oracle_rake_keyphrases())
# The assembled filter stack: one verdict row per doc with a boolean per
# gate (quality / entropy / repetition) — the curator's audit table.
q("corpus_quality_gate", text.corpus_quality_gate, text.oracle_corpus_quality_gate())

# ---------------------------------------------------------------------------
# Deduplication (north-star: exact, n-gram Jaccard, MinHash LSH, SimHash)
# ---------------------------------------------------------------------------
_NORM_MD5 = f"md5(regexp_replace(lower(trim(text)), '{text.TOKEN_SQL}', ' ', 'g'))"
q(
    "dedup_exact_groups",
    dedup.exact_dedup_groups,
    f"""SELECT {_NORM_MD5} AS text_hash,
  min(doc_id) AS canonical_doc_id, count(*) AS n_docs
FROM documents GROUP BY 1""",
)
q(
    "dedup_documents",
    dedup.dedup_documents,
    f"""SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_NORM_MD5}""",
)
# Incremental dedup: incoming batch vs existing corpus via the content-hash
# index join — the per-ingest-batch production shape (O(batch), not O(corpus)).
q(
    "dedup_incremental_new_docs",
    dedup.incremental_new_docs,
    dedup.oracle_incremental_new_docs(
        f"regexp_replace(lower(trim(text)), '{text.TOKEN_SQL}', ' ', 'g')"
    ),
)
q(
    "dedup_ngram_jaccard_pairs",
    dedup.ngram_jaccard_pairs,
    dedup.oracle_ngram_jaccard_pairs(),
)
# Decontamination (r4): corpus docs sharing any 5-token shingle with the
# held-out benchmark slice — the eval-leakage gate of a training pipeline.
q(
    "dedup_decontamination",
    dedup.decontamination_hits,
    dedup.oracle_decontamination_hits(),
)
# Bloom-pruned scale twin (r4): benchmark shingles compressed to a 16 KB
# bitmap, corpus shingles pre-filtered by 3 chained broadcast probes before
# the exact string join. Bloom false positives die in the exact join, so
# the output — and the oracle — are IDENTICAL to dedup_decontamination.
q(
    "dedup_decontamination_bloom",
    dedup.decontamination_hits_bloom,
    dedup.oracle_decontamination_hits(),
)
# Substring-level duplicate inventory (Lee et al. 2021 shape): md5'd
# sliding k-token windows → per-doc duplicated-span fraction.
q(
    "dedup_duplicate_spans",
    dedup.duplicate_spans,
    dedup.oracle_duplicate_spans(),
)
# r7 depth upgrade: maximal duplicated spans — overlapping/contiguous
# duplicated windows merged into per-doc maximal token intervals (the
# substring-dedup cut list itself, not just the coverage measure). The
# interval merge is a lag + running-sum window partitioned by doc_id, so
# the frame is bounded by one doc's windows.
q(
    "dedup_maximal_spans",
    dedup.maximal_duplicate_spans,
    dedup.oracle_maximal_duplicate_spans(),
)
# ... and the cut list APPLIED: every covered token excised, remainder
# reassembled in order (cut-all-occurrences variant; keep-one is a
# downstream join against a canonical-owner table). Map-side excision —
# per-token rows never shuffle.
q(
    "corpus_cut_duplicate_spans",
    dedup.cut_duplicate_spans,
    dedup.oracle_cut_duplicate_spans(),
)
# The KEEP-ONE policy twin: each duplicated window keeps its canonical
# (first by doc_id, pos) occurrence — one copy of every duplicated
# passage survives. Canonical selection is a struct-min field on the
# SAME md5-keyed occurrence aggregate (the oracle's row_number twin is
# equivalent); everything downstream is shared with cut-all.
q(
    "corpus_cut_spans_keep_first",
    dedup.cut_duplicate_spans_keep_first,
    dedup.oracle_cut_keep_first(),
)
# Near-dup twin of the incremental batch-vs-corpus check (LSH band join
# against the persisted signature index) — rows-only: the band keys are
# seeded Spark ``xxhash64``, a primitive DuckDB does not expose (its
# ``hash()`` is a different function family), so no SQL oracle can
# re-derive the candidate set; planted-replica recall asserted in tests.
q(
    "dedup_incremental_neardup",
    lambda s, d: dedup.incremental_neardup_candidates(s, d),
)
# PORTABLE MinHash + LSH (md5-derived 28-bit shingle keys, affine
# permutations mod 2^31−1): the fully SQL-oracled twins of the two
# xxhash64 keys above — DuckDB re-derives the signatures from raw text
# and band-joins exactly like the engine, so the banded near-dup
# pipeline is externally hash-checked end to end (answers the r6
# "can the band join be oracle-derived?" question: yes, with a
# portable permutation family; xxhash64 remains the scale path).
q(
    "dedup_minhash_portable_pairs",
    dedup.minhash_portable_pairs,
    dedup.oracle_minhash_portable_pairs(),
)
q(
    "dedup_incremental_neardup_portable",
    dedup.incremental_neardup_portable,
    dedup.oracle_incremental_neardup_portable(),
)
# Hash-family dedup ops are engine-specific (xxhash64) → rows-only checks;
# recall/precision vs exact Jaccard is asserted in tests/test_dedup.py.
q("dedup_minhash_neardup_pairs", dedup.minhash_neardup_pairs)
q("dedup_simhash_neardup_pairs", dedup.simhash_neardup_pairs)
# Portable SimHash (md5-derived SIMHASH_PORTABLE_BITS=48-bit token keys):
# the second hash family's SQL-oracled twin — the oracle re-derives the
# per-row fold's signatures with 48 conditional vote sums, then the same
# 4 × 12-bit pigeonhole chunk blocking. xxhash64/64-bit stays the scale
# path.
q(
    "dedup_simhash_portable_pairs",
    dedup.simhash_portable_pairs,
    dedup.oracle_simhash_portable_pairs(),
)
# Weighted (bag) MinHash via tf-replication — estimates weighted Jaccard
# Sum-min(tf)/Sum-max(tf), the repetition-sensitive signal set-MinHash is
# blind to; seeded xxhash64 => rows-only, gated by the bag-contrast +
# recall suite in tests/test_dedup.py.
q("dedup_minhash_weighted_pairs", dedup.weighted_minhash_pairs)
# ... and its PORTABLE twin (r8): tf-replication composes with the md5 +
# affine-permutation family — replica key md5(shingle#r) — so the bag
# near-dup architecture is externally hash-checked end to end, same as
# the set family was in r7. xxhash64 stays the scale path.
q(
    "dedup_minhash_weighted_portable_pairs",
    dedup.minhash_weighted_portable_pairs,
    dedup.oracle_minhash_weighted_portable_pairs(),
)
# One-permutation MinHash (OPH, rotation-densified): 1 hash/shingle in
# the same one-shuffle shape. Honest soak verdict in the docstring:
# AGG-bound at this shape, 32-perm stays the default; OPH is the
# documented formulation for hash-dominated inputs. rows-only (seeded).
q("dedup_minhash_oph_pairs", dedup.oph_minhash_pairs)
# ... and its PORTABLE twin (r8): one affine permutation over the md5
# keys, % 16 binning, clockwise rotation densification — DuckDB
# re-derives bins, densified slots, bands, and estimator exactly.
q(
    "dedup_minhash_oph_portable_pairs",
    dedup.minhash_oph_portable_pairs,
    dedup.oracle_minhash_oph_portable_pairs(),
)

# ---------------------------------------------------------------------------
# Similarity search (north-star: embeddings table)
# ---------------------------------------------------------------------------
_ORACLE_NORMS = f"""e AS (SELECT vec_id, {oracle_quantize('embedding')} AS qv FROM embeddings),
n AS (
  SELECT vec_id, {oracle_qdot('x', 'x')} AS n2
  FROM (SELECT vec_id, unnest(qv) AS x FROM e) GROUP BY vec_id
)"""

#: Brute-force exact-cosine oracle — also a CTE input to the retrieval
#: evaluation report below, so it is built once and reused.
_ORACLE_ANN_BRUTEFORCE = f"""WITH {_ORACLE_NORMS},
q AS (SELECT vec_id AS query_id, qv AS qq FROM e
      WHERE vec_id % {similarity.QUERY_MOD} = 0),
p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             unnest(list_zip(q.qq, e.qv)) AS z
      FROM q JOIN e ON e.vec_id <> q.query_id),
d AS (SELECT query_id, neighbor_id, {oracle_qdot('z[1]', 'z[2]')} AS dot
      FROM p GROUP BY 1, 2),
c AS (SELECT d.query_id, d.neighbor_id,
             {oracle_cosine('d.dot', 'nq.n2', 'nn.n2')} AS cosine
      FROM d
      JOIN n nq ON nq.vec_id = d.query_id
      JOIN n nn ON nn.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM c QUALIFY rank <= 10"""
q("ann_topk_bruteforce", similarity.ann_topk_bruteforce, _ORACLE_ANN_BRUTEFORCE)
# Compressed-ANN path: int8 scalar-quantized brute force. floor(x·s + 0.5)
# quantization and the scale-cancelling int-dot cosine are bit-exact across
# engines, so unlike IVF/LSH this approximate index is fully SQL-oracled;
# recall vs the exact baseline is additionally asserted in tests.
_ORACLE_NORMS8 = f"""e AS (SELECT vec_id, {oracle_quantize_int8('embedding')} AS qv FROM embeddings),
n AS (
  SELECT vec_id, {oracle_qdot('x', 'x')} AS n2
  FROM (SELECT vec_id, unnest(qv) AS x FROM e) GROUP BY vec_id
)"""
q(
    "ann_topk_int8",
    similarity.ann_topk_int8,
    f"""WITH {_ORACLE_NORMS8},
q AS (SELECT vec_id AS query_id, qv AS qq FROM e
      WHERE vec_id % {similarity.QUERY_MOD} = 0),
p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             unnest(list_zip(q.qq, e.qv)) AS z
      FROM q JOIN e ON e.vec_id <> q.query_id),
d AS (SELECT query_id, neighbor_id, {oracle_qdot('z[1]', 'z[2]')} AS dot
      FROM p GROUP BY 1, 2),
c AS (SELECT d.query_id, d.neighbor_id,
             {oracle_cosine('d.dot', 'nq.n2', 'nn.n2')} AS approx_cosine
      FROM d
      JOIN n nq ON nq.vec_id = d.query_id
      JOIN n nn ON nn.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, approx_cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY approx_cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM c QUALIFY rank <= 10""",
)
q(
    "embedding_neardup_pairs",
    similarity.embedding_neardup_pairs,
    f"""WITH {_ORACLE_NORMS},
p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             unnest(list_zip(a.qv, b.qv)) AS z
      FROM e a JOIN e b ON a.vec_id < b.vec_id),
d AS (SELECT vec_id_a, vec_id_b, {oracle_qdot('z[1]', 'z[2]')} AS dot
      FROM p GROUP BY 1, 2)
SELECT vec_id_a, vec_id_b,
       {oracle_cosine('d.dot', 'na.n2', 'nb.n2')} AS cosine
FROM d
JOIN n na ON na.vec_id = vec_id_a
JOIN n nb ON nb.vec_id = vec_id_b
WHERE {oracle_cosine('d.dot', 'na.n2', 'nb.n2')} >= 0.45""",
)
# IVF is approximate vs brute force but fully DETERMINISTIC internally
# (modulo-seeded centroids, exact int64 dots, explicit tie-breaks), so the
# whole plan — assignment, probing, candidate top-k — is SQL-expressible
# and hash-gated; recall vs the exact baseline stays asserted in
# tests/test_similarity.py. (r4: converted from rows-only.)
q(
    "ann_ivf_topk",
    similarity.ann_ivf_topk,
    f"""WITH {_ORACLE_NORMS},
ev AS (SELECT e.vec_id, e.qv, n.n2 FROM e JOIN n USING (vec_id)),
cents AS (SELECT vec_id AS centroid_id, qv AS cqv, n2 AS cn2
          FROM ev WHERE vec_id % {similarity.CENTROID_MOD} = 0),
cp AS (SELECT v.vec_id, v.n2, c.centroid_id, c.cn2,
              unnest(list_zip(v.qv, c.cqv)) AS z
       FROM ev v CROSS JOIN cents c),
cd AS (SELECT vec_id, centroid_id,
              {oracle_qdot('z[1]', 'z[2]')} AS dot,
              any_value(n2) AS n2, any_value(cn2) AS cn2
       FROM cp GROUP BY 1, 2),
cs AS (SELECT vec_id, centroid_id,
              {oracle_cosine('dot', 'n2', 'cn2')} AS c_cos
       FROM cd),
assign AS (
  SELECT vec_id, centroid_id AS bucket FROM cs
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY c_cos DESC, centroid_id) = 1),
probes AS (
  SELECT vec_id AS query_id, centroid_id AS probe_bucket FROM cs
  WHERE vec_id % {similarity.QUERY_MOD} = 0
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY c_cos DESC, centroid_id) <= 3),
pairs AS (
  SELECT p.query_id, a.vec_id, unnest(list_zip(cv.qv, qv2.qv)) AS z
  FROM probes p
  JOIN assign a ON a.bucket = p.probe_bucket AND a.vec_id <> p.query_id
  JOIN e cv ON cv.vec_id = a.vec_id
  JOIN e qv2 ON qv2.vec_id = p.query_id),
pd AS (SELECT query_id, vec_id, {oracle_qdot('z[1]', 'z[2]')} AS dot
       FROM pairs GROUP BY 1, 2),
ps AS (SELECT pd.query_id, pd.vec_id,
              {oracle_cosine('pd.dot', 'na.n2', 'nb.n2')} AS cosine
       FROM pd JOIN n na ON na.vec_id = pd.vec_id
       JOIN n nb ON nb.vec_id = pd.query_id)
SELECT query_id, vec_id AS neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
FROM ps
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, vec_id) <= 10""",
)

# Semantic duplicate clusters (SemDeDup shape): the SQL-oracled exact
# embedding near-dup pairs fed through the shared transitive closure —
# the whole pairs→clusters chain differential-tested over the embedding
# metric. (nodes/reach aliases avoid the e/n CTEs from the norms block.)
q(
    "dedup_semantic_components",
    similarity.semantic_components,
    f"""WITH RECURSIVE {_ORACLE_NORMS},
p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             unnest(list_zip(a.qv, b.qv)) AS z
      FROM e a JOIN e b ON a.vec_id < b.vec_id),
d AS (SELECT vec_id_a, vec_id_b, {oracle_qdot('z[1]', 'z[2]')} AS dot
      FROM p GROUP BY 1, 2),
pr AS (SELECT vec_id_a AS a, vec_id_b AS b
       FROM d
       JOIN n na ON na.vec_id = vec_id_a
       JOIN n nb ON nb.vec_id = vec_id_b
       WHERE {oracle_cosine('d.dot', 'na.n2', 'nb.n2')} >= 0.45),
edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
nodes AS (SELECT DISTINCT a AS nn FROM edges),
reach(nn, m) AS (
  SELECT nn, nn FROM nodes
  UNION
  SELECT r.nn, e2.b FROM reach r JOIN edges e2 ON e2.a = r.m
)
SELECT nn AS vec_id, min(m) AS component_id FROM reach GROUP BY nn""",
)

# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns + metadata; decode stage stubbed)
# ---------------------------------------------------------------------------
q(
    "multimodal_blob_stats",
    multimodal.blob_stats,
    """SELECT doc_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
  sha256(text) AS content_sha256
FROM documents""",
)
q(
    "multimodal_frame_sample_offsets",
    multimodal.frame_sample_offsets,
    """WITH b AS (
  SELECT doc_id,
         CAST(floor(octet_length(encode(text)) / 1024.0) AS BIGINT) + 1
           AS duration_s
  FROM documents
)
SELECT doc_id, duration_s,
       unnest(generate_series(0, duration_s - 1, 10)) AS sample_second,
       unnest(generate_series(0, duration_s - 1, 10)) * 24 AS frame_index
FROM b""",
)
# Arrow-batched decode plumbing with the deterministic fake decoder —
# engine-side mapInPandas, rows-only check.
q(
    "multimodal_decode_features_fake",
    lambda s, d: multimodal.decode_features(multimodal.with_blob(s, d), fake=True),
)
# REAL codec: binary-PPM (P6) blobs synthesized with pure Catalyst
# expressions (geometry from doc_id, payload = repeated SHA-256 stream),
# decoded by the pure-numpy P6 decoder inside mapInPandas. Fully
# SQL-oracled: DuckDB re-derives the payload hex stream and aggregates
# per-channel byte means — a hash-gated differential test of an actual
# image decode path. The registered projection flattens the
# ``channel_means array<double>`` into scalar mean_r/mean_g/mean_b: the
# driver's pandas value-hasher cannot hash list cells (r3 ERR), and the
# three scalars carry the identical information.
# Per-channel intensity histogram over the decoded P6 raster: integer
# binning inside the same Arrow decode stage; oracled via the shared
# hex-expanded SHA-256 pixel-stream synthesis.
q(
    "multimodal_image_histogram",
    lambda s, d: multimodal.image_histogram(multimodal.with_image_blob(s, d)),
    multimodal.oracle_image_histogram(),
)
q(
    "multimodal_decode_features",
    lambda s, d: multimodal.decode_features(multimodal.with_image_blob(s, d))
    .select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "n_channels",
        "mean_byte",
        F.col("channel_means")[0].alias("mean_r"),
        F.col("channel_means")[1].alias("mean_g"),
        F.col("channel_means")[2].alias("mean_b"),
    ),
    r"""WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 24 + 8 AS INTEGER) AS w,
         CAST((doc_id * 7) % 16 + 8 AS INTEGER) AS h,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), geom AS (
  SELECT doc_id, w, h, w*h*3 AS n_pay,
         substring(repeat(hx, CAST(ceil((w*h*3) / 32.0) AS INTEGER)), 1, w*h*3*2) AS ph
  FROM img
), b AS (
  SELECT doc_id, w, h, n_pay, i,
         (strpos('0123456789abcdef', substring(ph, 2*i-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 2*i, 1)) - 1) AS byte,
         (i - 1) % 3 AS ch
  FROM geom, LATERAL unnest(generate_series(1, n_pay)) AS t(i)
)
SELECT doc_id,
       CAST(length('P6 ' || w || ' ' || h || ' 255') + 1 + n_pay AS INTEGER) AS n_bytes,
       w AS width, h AS height, 3 AS n_channels,
       avg(byte) AS mean_byte,
       avg(CASE WHEN ch=0 THEN byte END) AS mean_r,
       avg(CASE WHEN ch=1 THEN byte END) AS mean_g,
       avg(CASE WHEN ch=2 THEN byte END) AS mean_b
FROM b GROUP BY doc_id, w, h, n_pay""",
)
# Second real codec (r4): binary-PGM "P5" grayscale — same Catalyst blob
# synthesis and the same mapInPandas decode stage, exercising the
# single-channel leg of the Netpbm decoder. SQL-oracled like the P6 key.
q(
    "multimodal_decode_gray",
    lambda s, d: multimodal.decode_features(multimodal.with_gray_blob(s, d))
    .select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "n_channels",
        "mean_byte",
        F.col("channel_means")[0].alias("mean_gray"),
    ),
    r"""WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 24 + 8 AS INTEGER) AS w,
         CAST((doc_id * 7) % 16 + 8 AS INTEGER) AS h,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), geom AS (
  SELECT doc_id, w, h, w*h AS n_pay,
         substring(repeat(hx, CAST(ceil((w*h) / 32.0) AS INTEGER)), 1, w*h*2) AS ph
  FROM img
), b AS (
  SELECT doc_id, w, h, n_pay, i,
         (strpos('0123456789abcdef', substring(ph, 2*i-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 2*i, 1)) - 1) AS byte
  FROM geom, LATERAL unnest(generate_series(1, n_pay)) AS t(i)
)
SELECT doc_id,
       CAST(length('P5 ' || w || ' ' || h || ' 255') + 1 + n_pay AS INTEGER) AS n_bytes,
       w AS width, h AS height, 1 AS n_channels,
       avg(byte) AS mean_byte,
       avg(byte) AS mean_gray
FROM b GROUP BY doc_id, w, h, n_pay""",
)
# Windows BMP (BITMAPINFOHEADER, 24-bit BI_RGB) — the first codec with
# non-trivial container math: little-endian header fields, bottom-up row
# order, per-row 4-byte padding (non-zero for 75% of the synthesized
# geometries). first_px_* is the TOP-LEFT pixel after the un-flip, so a
# decoder that skips the row flip or the stride hash-fails; the oracle
# re-derives every feature from the unpadded hash stream.
q(
    "multimodal_decode_bmp",
    lambda s, d: multimodal.decode_bmp_features(multimodal.with_bmp_blob(s, d)),
    r"""WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 24 + 8 AS INTEGER) AS w,
         CAST((doc_id * 7) % 16 + 8 AS INTEGER) AS h,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), geom AS (
  SELECT doc_id, w, h, w*h*3 AS n_pay,
         CAST((4 - (w*3) % 4) % 4 AS INTEGER) AS pad,
         substring(repeat(hx, CAST(ceil((w*h*3) / 32.0) AS INTEGER)), 1, w*h*3*2) AS ph
  FROM img
), b AS (
  SELECT doc_id, w, h, pad, i,
         (strpos('0123456789abcdef', substring(ph, 2*i-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 2*i, 1)) - 1) AS byte,
         (i - 1) % 3 AS ch,
         i - (h-1)*w*3 AS fp_off
  FROM geom, LATERAL unnest(generate_series(1, n_pay)) AS t(i)
)
SELECT doc_id,
       CAST(54 + (w*3 + pad) * h AS INTEGER) AS n_bytes,
       w AS width, h AS height, pad AS row_pad,
       avg(byte) AS mean_byte,
       avg(CASE WHEN ch=0 THEN byte END) AS mean_b,
       avg(CASE WHEN ch=1 THEN byte END) AS mean_g,
       avg(CASE WHEN ch=2 THEN byte END) AS mean_r,
       CAST(max(CASE WHEN fp_off=1 THEN byte END) AS INTEGER) AS first_px_b,
       CAST(max(CASE WHEN fp_off=2 THEN byte END) AS INTEGER) AS first_px_g,
       CAST(max(CASE WHEN fp_off=3 THEN byte END) AS INTEGER) AS first_px_r
FROM b GROUP BY doc_id, w, h, pad""",
)
# Third real codec (r4): RIFF/WAV PCM s16le mono audio — the header is
# assembled byte-for-byte with Catalyst expressions, the pure-numpy
# decoder parses it strictly, and every output aggregate is an EXACT
# int64 over the decoded samples so DuckDB can re-derive the identical
# numbers from the synthesized byte stream. A hash-gated differential
# test of a real audio decode path.
# Framewise audio front-end (20 ms windows): integer power sums + peak +
# zero crossings per frame, inside the same Arrow decode pass; oracled
# over the shared WAV sample-stream synthesis with lag()-based crossings.
q(
    "multimodal_audio_frames",
    lambda s, d: multimodal.audio_frame_features(multimodal.with_audio_blob(s, d)),
    multimodal.oracle_audio_frame_features(),
)
q(
    "multimodal_decode_audio",
    lambda s, d: multimodal.decode_audio_features(multimodal.with_audio_blob(s, d)),
    r"""WITH a AS (
  SELECT doc_id, CAST(doc_id % 480 + 160 AS INTEGER) AS n_samples,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), g AS (
  SELECT doc_id, n_samples, n_samples*2 AS ds,
         substring(repeat(hx, CAST(ceil((n_samples*2) / 32.0) AS INTEGER)), 1, n_samples*4) AS ph
  FROM a
), s AS (
  SELECT doc_id, n_samples, ds, i,
         (strpos('0123456789abcdef', substring(ph, 4*i-3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 4*i-2, 1)) - 1) AS lo,
         (strpos('0123456789abcdef', substring(ph, 4*i-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 4*i, 1)) - 1) AS hi
  FROM g, LATERAL unnest(generate_series(1, n_samples)) AS t(i)
), v AS (
  SELECT doc_id, n_samples, ds,
         (lo + 256*hi) - CASE WHEN lo + 256*hi >= 32768 THEN 65536 ELSE 0 END AS val
  FROM s
)
SELECT doc_id,
       CAST(44 + ds AS INTEGER) AS n_bytes,
       8000 AS sample_rate,
       n_samples,
       CAST(max(abs(val)) AS INTEGER) AS peak_abs,
       CAST(sum(abs(val)) AS BIGINT) AS sum_abs,
       CAST(sum(val*val) AS BIGINT) AS sum_sq
FROM v GROUP BY doc_id, n_samples, ds""",
)
# Audio resample (r4): decimation by 2, byte-exact oracle — DuckDB
# re-derives the kept samples AND reassembles the full output WAV
# (rebuilt header with halved rates + decimated payload) hex-for-hex;
# projected as content_hex for the driver hasher (binary is unhashable).
q(
    "multimodal_resample_audio",
    lambda s, d: multimodal.resample_audio(multimodal.with_audio_blob(s, d))
    .select(
        "doc_id",
        F.hex("content").alias("content_hex"),
        "n_samples_in",
        "n_samples_out",
        "sample_rate_in",
        "sample_rate_out",
    ),
    r"""WITH a AS (
  SELECT doc_id, CAST(doc_id % 480 + 160 AS INTEGER) AS n_in,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), g AS (
  SELECT doc_id, n_in, CAST((n_in + 1) // 2 AS INTEGER) AS n_out,
         substring(repeat(hx, CAST(ceil((n_in*2) / 32.0) AS INTEGER)), 1, n_in*4) AS ph
  FROM a
), sel AS (
  SELECT doc_id, n_in, n_out, j,
         substring(ph, 4*(2*j-1)-3, 4) AS shex
  FROM g, LATERAL unnest(generate_series(1, n_out)) AS t(j)
), agg AS (
  SELECT doc_id, n_in, n_out, string_agg(shex, '' ORDER BY j) AS payload_hex
  FROM sel GROUP BY 1, 2, 3
), le AS (
  SELECT doc_id, n_in, n_out, payload_hex,
         printf('%08x', n_out*2 + 36) AS cs, printf('%08x', n_out*2) AS ds
  FROM agg
)
SELECT doc_id,
       upper('52494646'
         || substring(cs,7,2) || substring(cs,5,2) || substring(cs,3,2) || substring(cs,1,2)
         || '57415645666d74201000000001000100a00f0000401f000002001000'
         || '64617461'
         || substring(ds,7,2) || substring(ds,5,2) || substring(ds,3,2) || substring(ds,1,2)
         || payload_hex) AS content_hex,
       n_in AS n_samples_in, n_out AS n_samples_out,
       8000 AS sample_rate_in, 4000 AS sample_rate_out
FROM le""",
)
# Video tier (r4): YUV4MPEG2 (Y4M) container — Catalyst-synthesized
# multi-frame uncompressed video, REAL container parse + frame seek +
# plane decomposition in numpy; sampled frames' per-plane byte sums are
# exact int64, re-derived by DuckDB from the same byte stream.
# Shot-boundary detection: Y-plane SAD between consecutive frames +
# threshold flag, integer-exact; oracled over the shared Y4M plane
# synthesis with a pixel-index self-join.
q(
    "multimodal_video_scene_cuts",
    lambda s, d: multimodal.video_scene_cuts(multimodal.with_video_blob(s, d)),
    multimodal.oracle_video_scene_cuts(),
)
# Perceptual average-hash (aHash) over content-keyed P5 graymaps:
# 8x8 block-mean bits by exact integer cross-multiplication inside the
# Arrow decode stage; the oracle re-derives the hash from the chunked
# SHA-256 synthesis. The pairs leg joins on four 16-bit bands (LSH — the
# SimHash contract applied to images) and verifies exact Hamming.
q(
    "multimodal_image_ahash",
    multimodal.image_ahash_features,
    multimodal.oracle_image_ahash(),
)
q(
    "dedup_image_ahash_pairs",
    multimodal.image_ahash_pairs,
    multimodal.oracle_image_ahash_pairs(),
)
# Index/probe split of the aHash near-dup (the incremental_new_docs
# shape for images): the banded hash table of existing images persists
# as a parquet artifact; an incoming batch decodes/hashes only itself
# and probes via the SAME shared banding — output equals the batch
# twin restricted to (incoming, existing) pairs.
q(
    "dedup_image_ahash_probe",
    multimodal.image_ahash_probe,
    multimodal.oracle_image_ahash_probe(),
)
q(
    "multimodal_sample_video_frames",
    lambda s, d: multimodal.sample_video_frames(multimodal.with_video_blob(s, d)),
    r"""WITH a AS (
  SELECT doc_id, CAST(doc_id % 8 + 2 AS INTEGER) AS n_frames,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), g AS (
  SELECT doc_id, n_frames,
         substring(repeat(hx, CAST(ceil((n_frames*384) / 32.0) AS INTEGER)), 1, n_frames*768) AS ph
  FROM a
), fr AS (
  SELECT doc_id, n_frames, ph, f
  FROM g, LATERAL unnest(generate_series(0, n_frames - 1, 2)) AS t(f)
), b AS (
  SELECT doc_id, n_frames, f, j,
         (strpos('0123456789abcdef', substring(ph, 2*(f*384+j)-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 2*(f*384+j), 1)) - 1) AS byte
  FROM fr, LATERAL unnest(generate_series(1, 384)) AS u(j)
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_index,
       n_frames,
       CAST(sum(CASE WHEN j <= 128 THEN byte END) AS BIGINT) AS sum_y,
       CAST(sum(CASE WHEN j > 128 AND j <= 256 THEN byte END) AS BIGINT) AS sum_u,
       CAST(sum(CASE WHEN j > 256 THEN byte END) AS BIGINT) AS sum_v
FROM b GROUP BY doc_id, f, n_frames""",
)


# ---------------------------------------------------------------------------
# Structured Streaming (SURVEY §2.5 streaming / Phase 2) — availableNow
# replays through the real streaming engine; oracles prove stream/batch parity
# ---------------------------------------------------------------------------
def _sketch_store_read(spark: SparkSession, sf_dir: str, panel: str) -> DataFrame:
    """``panel``'s merge plan over a sketch store the events fixture is
    ingested into, both in one per-call scratch dir. The key runs its one
    panel, not the five-panel snapshot the ``read_*`` functions serve."""

    def run(d: str) -> DataFrame:
        store = f"{d}/store"
        pipeline.run_sketch_ingest(spark, f"{sf_dir}/events.parquet", store, f"{d}/checkpoint")
        return pipeline.merge_plan(spark, store, panel)

    return pinned(run)


def _stream_store_variant_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sketch_store_read(spark, sf_dir, "uniques_per_variant_exact")


q(
    "stream_visits_per_minute",
    _stream(pipeline.stream_visits_per_minute, "events"),
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute, count(*) AS visits
FROM ev GROUP BY 1""",
)
q(
    "stream_uniques_per_minute_approx",
    _stream(pipeline.stream_uniques_per_minute_approx, "events"),
)


# Streaming corpus ingestion: the stateless quality prefilter applied on
# arrival (scan → project → filter, no state store); oracle = the batch
# projection + threshold, proving stream/batch parity for the filter path.
q(
    "stream_quality_filtered_docs",
    _stream(pipeline.stream_quality_filtered_docs, "documents"),
    f"""SELECT * FROM ({text.oracle_quality_score()})
WHERE quality >= {text.GATE_MIN_QUALITY}""",
)


# Streaming incremental exact dedup: shipments anti-join the accumulated
# content-hash index store (foreachBatch), appending only first-seen
# hashes; doc_id-ascending shipments make first-seen == min(doc_id), so
# the batch dedup is the exact oracle (stream/batch parity).
q(
    "stream_ingest_dedup",
    _stream(pipeline.stream_ingest_dedup, "documents"),
    """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id
FROM documents GROUP BY 1""",
)


# The fused production ingest: quality prefilter + incremental dedup in
# ONE foreachBatch — rejected docs never cost an md5 or an index probe.
q(
    "stream_curated_ingest",
    _stream(pipeline.stream_curated_ingest, "documents"),
    f"""WITH q AS ({text.oracle_quality_score()})
SELECT md5(d.text) AS content_hash, min(d.doc_id) AS doc_id
FROM documents d JOIN q ON q.doc_id = d.doc_id
WHERE q.quality >= {text.GATE_MIN_QUALITY}
GROUP BY 1""",
)
# Streaming decontamination gate: each shipment screened against the
# static benchmark shingle set (broadcast semi-join + anti-join, no
# state); output = accepted clean corpus docs, batch-parity oracle.
q(
    "stream_decontamination_gate",
    _stream(pipeline.stream_decontamination_gate, "documents"),
    f"""WITH hits AS ({dedup.oracle_decontamination_hits()})
SELECT doc_id, lang, source
FROM documents
WHERE doc_id % {dedup.DECON_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM hits)""",
)
# Streaming drop audit: the arrival-path twin of corpus_drop_audit —
# per-shipment first-failing-stage verdicts (gate signals per-batch,
# survivor-hash index probe-then-append, broadcast benchmark shingles);
# byte-exact stream/batch parity against the UNCHANGED batch oracle
# because shipments replay doc_id-ascending (first-seen == global min).
q(
    "stream_drop_audit",
    _stream(pipeline.stream_drop_audit, "documents"),
    dedup.oracle_corpus_drop_audit(
        f"regexp_replace(lower(trim(text)), '{text.TOKEN_SQL}', ' ', 'g')"
    ),
)


# Watermark/late-data observability (r7, SURVEY §2.5's semantic delta made
# measurable): per-minute count of events a watermarked streaming agg
# drops, over a deterministic out-of-order arrival replay. The arrival
# order, chunk boundaries, and watermark sequence are pure functions of
# the fixture, so the DuckDB oracle re-derives the drop set exactly;
# engine parity (append-mode windowed count drops exactly these rows) is
# pinned in tests/test_streaming_late.py.
q(
    "stream_late_arrivals_audit",
    _stream(pipeline.stream_late_arrivals_audit, "events"),
    pipeline.oracle_stream_late_arrivals(),
)


# ... and the REPAIR: update-mode watermarked count (drops the audited
# rows) merged with the audited late counts = the batch W1 series
# exactly — so the oracle is the plain per-minute count, no replay
# modeling. The Lambda-style late-backfill correction as a first-class,
# hash-gated op.
q(
    "stream_visits_late_backfill",
    _stream(pipeline.stream_visits_with_late_backfill, "events"),
    """SELECT date_trunc('minute', ts) AS minute,
       CAST(count(*) AS BIGINT) AS visits
FROM events GROUP BY 1""",
)


# SURVEY §4 delta 1 made measurable (r8, the delivery-semantics sibling
# of the late-data pair above): one chunk of the replay is REDELIVERED
# and two sink disciplines run side by side in the same foreachBatch —
# the reference's blind INCRBY (counts the duplicate) vs the engine's
# idempotent seen-index store (provably unchanged). Chunk membership is
# a pure function of (ts, event_id), so the oracle re-derives the exact
# per-minute overcount. Duplicate repair ON THE STREAM itself is the
# separate stream_deduped_visits key; this one audits the SINK contract.
q(
    "stream_duplicate_delivery_audit",
    _stream(pipeline.stream_duplicate_delivery_audit, "events"),
    pipeline.oracle_stream_duplicate_delivery(EV_CTE),
)
# Streaming multimodal ingest: the Catalyst blob synthesis + Arrow
# histogram per micro-batch (stateless); batch-parity histogram oracle.
q(
    "stream_image_ingest_features",
    _stream(pipeline.stream_image_ingest_features, "documents"),
    multimodal.oracle_image_histogram(),
)
# Streaming arrival-path shard layout: per-shipment two-level prefix
# sum (the SAME sampling._two_level_tokens_before the batch path uses)
# composed over the persisted corpus state + a running stream total;
# doc_id-ascending shipments + prefix-sum composition => bit-identical
# to the batch incremental layout, same flat-window oracle.
q(
    "stream_shard_assignment",
    _stream(pipeline.stream_shard_assignment, "documents"),
    sampling.oracle_shard_assignment_incremental(),
)
# Streaming image near-dup probe: per-shipment decode+aHash of incoming
# images probed against the persisted banded index (stateless filter
# => exact stream/batch parity, same oracle as the batch probe).
q(
    "stream_image_ahash_probe",
    _stream(pipeline.stream_image_ahash_probe, "documents"),
    multimodal.oracle_image_ahash_probe(),
)
q(
    "stream_store_uniques_per_variant",
    _stream_store_variant_uniques,
    f"""{EV_CTE}
SELECT variant, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)


def _stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sketch_store_read(spark, sf_dir, "heavy_hitters")


# All-time heavy hitters from the streaming count-min family: per-batch
# depth×width cell partials summed at read, probed with row minima.
# Rows-only (xxhash64 bucketing); stream-vs-batch cell equality and the
# batch twin's bounds are asserted in tests/test_round4d_ops.py.
q("stream_heavy_hitter_users", _stream_heavy_hitters)


# Streaming vector-index ingestion: stateless stream-static assignment of
# arriving embeddings to IVF coarse centroids via a broadcast codebook row
# and an array-argmax (no rank window — streaming-safe). Fixed-point dots
# make stream, batch window plan, and the DuckDB oracle bit-identical.
q(
    "stream_ivf_assign",
    _stream(pipeline.stream_ivf_assign, "embeddings"),
    f"""WITH {_ORACLE_NORMS},
ev AS (SELECT e.vec_id, e.qv, n.n2 FROM e JOIN n USING (vec_id)),
cents AS (SELECT vec_id AS centroid_id, qv AS cqv, n2 AS cn2
          FROM ev WHERE vec_id % {similarity.CENTROID_MOD} = 0),
cp AS (SELECT v.vec_id, v.n2, c.centroid_id, c.cn2,
              unnest(list_zip(v.qv, c.cqv)) AS z
       FROM ev v CROSS JOIN cents c),
cd AS (SELECT vec_id, centroid_id,
              {oracle_qdot('z[1]', 'z[2]')} AS dot,
              any_value(n2) AS n2, any_value(cn2) AS cn2
       FROM cp GROUP BY 1, 2),
cs AS (SELECT vec_id, centroid_id,
              {oracle_cosine('dot', 'n2', 'cn2')} AS c_cos
       FROM cd)
SELECT vec_id, centroid_id AS bucket, c_cos FROM cs
QUALIFY row_number() OVER (PARTITION BY vec_id
                           ORDER BY c_cos DESC, centroid_id) = 1""",
)


# Stream-static dimension join (stateless broadcast enrichment per
# micro-batch) — same oracle as the batch twin events_enriched_with_customer.
q(
    "stream_enriched_events",
    _stream(pipeline.stream_enriched_events, "events", "customer"),
    f"""{EV_CTE}
SELECT event_id, e.user_id, ts, variant, c_nationkey, c_mktsegment
FROM ev e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
)


# custom stateful operator (applyInPandasWithState) — exact, so oracle-gated
q(
    "stream_stateful_uniques_per_variant",
    _stream(stateful.stream_exact_uniques_per_variant, "events"),
    f"""{EV_CTE}
SELECT variant, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)


# The same op on Spark 4's transformWithStateInPandas (SPARK-49564) — the
# API Structured Streaming steers new stateful code to: a named MapState
# of uids probed per batch with delta writes (the legacy tuple state
# rewrites the whole uid set every batch), RocksDB-backed. Same oracle; the two
# twins prove the engine's stateful surface covers both entry points.
q(
    "stream_stateful_uniques_tws",
    _stream(stateful.stream_exact_uniques_per_variant_tws, "events"),
    f"""{EV_CTE}
SELECT variant, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)


# TWS initialState bootstrap (r10): the backfill-then-stream migration of
# the all-time membership store — seed each variant's MapState from the
# batch aggregate over the history half via handleInitialState, stream
# only the live tail, serve max(sink, seed counts). Same exact oracle as
# the from-scratch twins; the planted-fixture pytest proves the seed is
# load-bearing (history-only uids appear in no live batch).
q(
    "stream_stateful_uniques_bootstrap",
    _stream(stateful.stream_uniques_tws_bootstrapped, "events"),
    f"""{EV_CTE}
SELECT variant, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)


# Offline state-store audit (r10): Spark 4's `statestore` data source
# scans the legacy op's checkpoint FILES — a code path fully independent
# of the processor that wrote them — and counts what each variant's
# membership set actually PERSISTED. Every other streaming gate checks
# the sink; this one checks the store (the reference answers the same
# question with redis-cli SCARD against the live keyspace).
q(
    "stream_state_reader_uniques",
    _stream(state_reader.state_reader_uniques, "events"),
    f"""{EV_CTE}
SELECT variant, count(DISTINCT user_id) AS unique_users FROM ev GROUP BY 1""",
)


# State time-travel (r10): the same store read AS OF every committed
# micro-batch (`batchId` option — provider delta-replay from the nearest
# snapshot). The oracle re-derives chunk membership under the replay's
# (ts, event_id) total order and counts distinct uids over each chunk
# prefix; variants first seen in a later chunk are absent from earlier
# snapshots, so the three per-batch images genuinely differ.
q(
    "stream_state_time_travel",
    _stream(state_reader.state_time_travel_uniques, "events"),
    f"""{EV_CTE},
n AS (SELECT greatest(1, CAST(ceil(count(*) / 3.0) AS BIGINT)) AS step FROM ev),
e AS (
  SELECT variant, user_id,
         (row_number() OVER (ORDER BY ts, event_id) - 1)
           // (SELECT step FROM n) AS chunk
  FROM ev
),
b AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS batch_id)
SELECT b.batch_id, e.variant,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS unique_users
FROM b JOIN e ON e.chunk <= b.batch_id
GROUP BY 1, 2""",
)


# State CHANGE FEED (r10): `readChangeFeed` — one row per state write,
# i.e. per (batch, variant) with input that batch; the delta view where
# time-travel is the snapshot view. A variant idle in chunk k has live
# state but NO row at batch k (planted pytest pins the hole). The
# oracle derives per-chunk presence and counts each present variant's
# chunk-prefix distinct uids — the post-image the write persisted.
q(
    "stream_state_changelog",
    _stream(state_reader.state_changelog_uniques, "events"),
    f"""{EV_CTE},
n AS (SELECT greatest(1, CAST(ceil(count(*) / 3.0) AS BIGINT)) AS step FROM ev),
e AS (
  SELECT variant, user_id,
         (row_number() OVER (ORDER BY ts, event_id) - 1)
           // (SELECT step FROM n) AS chunk
  FROM ev
),
present AS (SELECT DISTINCT chunk AS batch_id, variant FROM e)
SELECT CAST(p.batch_id AS BIGINT) AS batch_id,
       'update' AS change_type, p.variant,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS unique_users
FROM present p JOIN e ON e.variant = p.variant AND e.chunk <= p.batch_id
GROUP BY 1, 2, 3""",
)


# TWS store audit (r10): read BOTH named state variables of the
# transformWithStateInPandas twin's RocksDB checkpoint — the `seen`
# MapState's per-variant entry count and the `n` ValueState counter —
# and require each to equal the batch distinct count, catching the
# set/counter drift class no sink gate can see. The read is JVM-only
# (no Python worker, no protobuf shim), so the audit stays runnable
# even where TWS queries themselves cannot start.
q(
    "stream_state_reader_tws",
    _stream(state_reader.state_reader_tws_uniques, "events"),
    f"""{EV_CTE}
SELECT variant,
       count(DISTINCT user_id) AS unique_users,
       count(DISTINCT user_id) AS counter_users
FROM ev GROUP BY 1""",
)


# TTL-EVICTING stateful sessionization (applyInPandasWithState +
# EventTimeTimeout): open sessions live in the state store and are
# evicted-and-emitted when the watermark passes last_event + gap —
# state bounded by OPEN sessions, the production shape the NoTimeout
# uniques op deliberately isn't. r7: converted rows-only -> SQL-oracled —
# the heartbeat replay advances the watermark past every real session, so
# the emitted set deterministically equals batch ``sessions.user_sessions``
# (the equality the parity pytest has pinned since r4); the batch oracle
# therefore gates it directly, same as stream_user_sessions.
# mFPT=2 halves the replay's micro-batch count ([c0,c1],[c2,hb0],
# [hb1]) — the r5 click_error precedent; mid-replay watermark
# advancement and the heartbeat eviction batch are still exercised,
# and the batch-parity pytest pins output equality at mFPT=1 too.
q(
    "stream_sessions_ttl",
    _stream(stateful.stream_sessions_ttl, "events", max_files_per_trigger=2),
    sessions.oracle_user_sessions(EV_CTE),
)


# TTL sessionization on transformWithStateInPandas: explicit EVENT-TIME
# TIMERS (register/delete per extension, handleExpiredTimer evicts) where
# the legacy op has the one implicit GroupStateTimeout — the Spark-4-native
# shape of the same bounded-by-open-sessions contract. Identical heartbeat
# replay and batch oracle; a parity pytest additionally pins TWS == legacy.
q(
    "stream_sessions_ttl_tws",
    _stream(stateful.stream_sessions_ttl_tws, "events", max_files_per_trigger=2),
    sessions.oracle_user_sessions(EV_CTE),
)

# ---------------------------------------------------------------------------
# Wire-level parity: the reference's literal Redis key/command catalog
# (S1/S2/S4 key builders + all 12 legs), and the G1 generator
# ---------------------------------------------------------------------------
_MINUTE_KEY = "strftime(ts, '%Y_%m_%dT%H_%M')"


def _redis_commands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redis_sink.metric_commands(_ev(spark, sf_dir))


def _oracle_pairs(method: str, key_sql: str, member_sql: str) -> str:
    return f"""SELECT DISTINCT '{method}' AS method, {key_sql} AS key,
  CAST({member_sql} AS VARCHAR) AS member, CAST(NULL AS BIGINT) AS delta FROM ev"""


q(
    "sink_redis_command_catalog",
    _redis_commands,
    f"""{EV_CTE}
SELECT 'INCRBY' AS method, concat('visitCounter_', {_MINUTE_KEY}) AS key,
       CAST(NULL AS VARCHAR) AS member, count(*) AS delta
FROM ev GROUP BY 2
UNION ALL {_oracle_pairs('PFADD', f"concat('evcounter_e_', experiment_id, '_v_', variant, '_', {_MINUTE_KEY})", 'user_id')}
UNION ALL {_oracle_pairs('PFADD', "concat('hll_var_', variant)", 'user_id')}
UNION ALL {_oracle_pairs('SADD', "concat('set_var_', variant)", 'user_id')}
UNION ALL {_oracle_pairs('PFADD', "concat('hll_exp_', experiment_id)", 'user_id')}
UNION ALL {_oracle_pairs('SADD', "concat('set_exp_', experiment_id)", 'user_id')}
UNION ALL {_oracle_pairs('PFADD', f"concat('hll_experiments_experiments_', {_MINUTE_KEY})", 'experiment_id')}
UNION ALL {_oracle_pairs('SADD', f"concat('set_experiments_experiments_', {_MINUTE_KEY})", 'experiment_id')}
UNION ALL {_oracle_pairs('PFADD', f"concat('hll_variants_variants_', {_MINUTE_KEY})", 'variant')}
UNION ALL {_oracle_pairs('SADD', f"concat('set_variants_variants_', {_MINUTE_KEY})", 'variant')}
UNION ALL {_oracle_pairs('PFADD', f"concat('hll_dthr_', {_MINUTE_KEY})", 'user_id')}
UNION ALL {_oracle_pairs('SADD', f"concat('set_dthr_', {_MINUTE_KEY})", 'user_id')}""",
)


def _g1_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.generator import generate_events

    return generate_events(spark)


# generator distribution is engine-hash-specific → rows-only; invariants
# asserted in tests/test_generator.py
q("g1_generated_events", _g1_events)

# Random-hyperplane LSH ANN (third strategy next to brute force / IVF) —
# bucket ids are engine-hash-specific, so rows-only; recall vs the exact
# baseline is asserted in tests/test_similarity.py.
q("ann_lsh_topk", similarity.ann_lsh_topk)
# ... and its PORTABLE twin: integer hyperplanes (constant-seed LCG
# literals inlined into both engines), JVM-only sign-bit buckets — the
# embedding-domain member of the r7 portable-conversion family; DuckDB
# re-derives buckets, probes, and the exact-cosine rerank end to end.
q(
    "ann_lsh_portable_topk",
    similarity.ann_lsh_portable_topk,
    similarity.oracle_ann_lsh_portable(),
)

# LSH-bucketed embedding near-dup (the 100 TB path for
# embedding_neardup_pairs) — bucket ids engine-specific → rows-only;
# recall vs the brute-force pairs asserted in tests/test_similarity.py.
q("embedding_neardup_pairs_lsh", similarity.embedding_neardup_pairs_lsh)

# resize plumbing (Arrow mapInPandas, stubbed codec) — rows-only
q(
    "multimodal_resize_fake",
    lambda s, d: multimodal.resize_images(multimodal.with_blob(s, d), fake=True),
)
# REAL nearest-neighbor resize of the P6 blobs (decode → index-sample →
# re-encode valid P6), SQL-oracled BYTE-EXACT: DuckDB re-derives the
# payload hex stream, computes the same nearest-neighbor source index per
# target pixel, and reassembles the full resized blob. The registered
# projection emits the blob as ``content_hex`` (uppercase hex of every
# output byte) because the driver's pandas value-hasher cannot hash
# bytearray cells (r3 ERR) — byte-exactness is preserved: the hex string
# is a bijection of the binary content.
q(
    "multimodal_resize",
    lambda s, d: multimodal.resize_images(
        multimodal.with_image_blob(s, d), width=32, height=32
    ).select(
        "doc_id",
        F.hex("content").alias("content_hex"),
        "n_bytes",
        "width",
        "height",
        "target_width",
        "target_height",
    ),
    r"""WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 24 + 8 AS INTEGER) AS w,
         CAST((doc_id * 7) % 16 + 8 AS INTEGER) AS h,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), geom AS (
  SELECT doc_id, w, h, w*h*3 AS n_pay,
         substring(repeat(hx, CAST(ceil((w*h*3) / 32.0) AS INTEGER)), 1, w*h*3*2) AS ph
  FROM img
), px AS (
  SELECT doc_id, w, h, n_pay, ph, ty, tx, c,
         ((CAST(floor(ty * h / 32) AS INTEGER) * w
           + CAST(floor(tx * w / 32) AS INTEGER)) * 3 + c) AS bidx
  FROM geom,
       LATERAL unnest(generate_series(0, 31)) t1(ty),
       LATERAL unnest(generate_series(0, 31)) t2(tx),
       LATERAL unnest(generate_series(0, 2)) t3(c)
)
SELECT doc_id,
       hex(encode('P6 32 32 255' || chr(10))) ||
         upper(string_agg(substring(ph, 2*bidx+1, 2), '' ORDER BY ty, tx, c)) AS content_hex,
       CAST(length('P6 ' || w || ' ' || h || ' 255') + 1 + n_pay AS INTEGER) AS n_bytes,
       w AS width, h AS height,
       32 AS target_width, 32 AS target_height
FROM px GROUP BY doc_id, w, h, n_pay, ph""",
)

q(
    "full_outer_nation_counts",
    relational.nation_customer_supplier_counts,
    """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
  coalesce(n_customers, 0) AS n_customers,
  coalesce(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
USING (nationkey)""",
)
# Gap-filled per-variant minute series with LINEAR interpolation — the
# dashboard upgrade of the zero-filled grid (a zero claims "no traffic";
# the honest fill between sparse observations is the line through them).
# Engine-portable bracketing: running max/min over a CASE column + value
# join-back — no IGNORE-NULLS dialect dependence; the lerp is one double
# division of exact integer second-offsets.
q(
    "variant_minute_interpolated",
    lambda s, d: timeseries.variant_minute_interpolated(_ev(s, d)),
    f"""{EV_CTE}, {AXIS_CTE},
v AS (SELECT DISTINCT variant FROM ev),
o AS (SELECT date_trunc('minute', ts) AS minute, variant,
             {oracle_davg('value')} AS obs
      FROM ev GROUP BY 1, 2),
g AS (SELECT a.minute, v.variant, o.obs
      FROM axis a CROSS JOIN v
      LEFT JOIN o ON o.minute = a.minute AND o.variant = v.variant),
b AS (SELECT minute, variant, obs,
        max(CASE WHEN obs IS NOT NULL THEN minute END) OVER
          (PARTITION BY variant ORDER BY minute
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
        min(CASE WHEN obs IS NOT NULL THEN minute END) OVER
          (PARTITION BY variant ORDER BY minute
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm
      FROM g),
j AS (SELECT b.minute, b.variant, b.obs, b.pm, b.nm, p.obs AS pv, n2.obs AS nv
      FROM b LEFT JOIN o p ON p.variant = b.variant AND p.minute = b.pm
             LEFT JOIN o n2 ON n2.variant = b.variant AND n2.minute = b.nm)
SELECT minute, variant,
  CASE WHEN obs IS NOT NULL THEN obs
       WHEN pm IS NOT NULL AND nm IS NOT NULL THEN
         pv + (nv - pv) *
           (CAST(CAST(epoch(minute) AS BIGINT) - CAST(epoch(pm) AS BIGINT) AS DOUBLE)
            / CAST(CAST(epoch(nm) AS BIGINT) - CAST(epoch(pm) AS BIGINT) AS DOUBLE))
       ELSE NULL END AS metric,
  CASE WHEN obs IS NOT NULL THEN 'obs'
       WHEN pm IS NOT NULL AND nm IS NOT NULL THEN 'lerp'
       ELSE 'edge' END AS src
FROM j""",
)
q(
    "r2b_variant_minute_grid",
    lambda s, d: timeseries.variant_minute_grid(_ev(s, d)),
    f"""{EV_CTE}, {AXIS_CTE},
v AS (SELECT DISTINCT variant FROM ev),
g AS (SELECT date_trunc('minute', ts) AS minute, variant, count(*) AS visits
      FROM ev GROUP BY 1, 2)
SELECT a.minute, v.variant, CAST(coalesce(g.visits, 0) AS DOUBLE) AS metric
FROM axis a CROSS JOIN v
LEFT JOIN g ON g.minute = a.minute AND g.variant = v.variant""",
)
q(
    "price_percentiles_by_flag",
    relational.price_percentiles_by_flag,
    """SELECT l_returnflag,
  min(l_extendedprice) AS min_price,
  quantile_disc(l_extendedprice, 0.5) AS p50_price,
  quantile_disc(l_extendedprice, 0.9) AS p90_price,
  max(l_extendedprice) AS max_price
FROM lineitem GROUP BY 1""",
)
q(
    "part_name_functions",
    relational.part_name_functions,
    r"""SELECT p_partkey,
  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
  list_aggregate(list_transform(string_split(p_name, ' '),
    w -> upper(w[1]) || lower(w[2:])), 'string_agg', ' ') AS name_title,
  reverse(p_name) AS name_rev,
  lpad(p_brand, 12, '_') AS brand_padded,
  translate(p_name, 'aeiou', 'AEIOU') AS vowels_upper,
  string_split(p_name, ' ')[2] AS second_word,
  CAST(levenshtein(p_name, p_brand) AS INTEGER) AS name_brand_dist,
  CAST(instr(p_name, 'widget') AS INTEGER) AS widget_pos,
  repeat(p_name[1:2], 2) AS prefix_x2
FROM part""",
)

# ---------------------------------------------------------------------------
# TPC-H query shapes Q4–Q22 adapted to the testdata schema (operators/
# relational.py bottom half). Decimal-sum convention on every double measure.
# ---------------------------------------------------------------------------
q(
    "q4_order_priority",
    relational.q4_order_priority,
    """SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY 1""",
)
q(
    "q7_volume_shipping",
    relational.q7_volume_shipping,
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year, {oracle_dsum(_REV)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3""",
)
q(
    "q8_market_share",
    relational.q8_market_share,
    f"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                THEN CAST({_REV} AS DECIMAL(38,6))
                ELSE CAST(0 AS DECIMAL(38,6)) END) AS VARCHAR) AS DOUBLE)
  / CAST(CAST(SUM(CAST({_REV} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1""",
)
q(
    "q9_product_profit",
    relational.q9_product_profit,
    f"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  {oracle_dsum(_REV)} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2""",
)
q(
    "q10_returned_items",
    relational.q10_returned_items,
    f"""SELECT c_custkey, c_name, c_acctbal, n_name, {oracle_dsum(_REV)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20""",
)
q(
    "q12_late_shipments",
    relational.q12_late_shipments,
    """SELECT l_linestatus,
  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1""",
)
q(
    "q13_customer_distribution",
    relational.q13_customer_distribution,
    """SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY 1) t
GROUP BY 1""",
)
q(
    "q14_promo_revenue",
    relational.q14_promo_revenue,
    f"""SELECT 100.0
  * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST({_REV} AS DECIMAL(38,6))
             ELSE CAST(0 AS DECIMAL(38,6)) END) AS VARCHAR) AS DOUBLE)
  / CAST(CAST(SUM(CAST({_REV} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""",
)
q(
    "q15_top_supplier",
    relational.q15_top_supplier,
    f"""WITH rev AS (
  SELECT l_suppkey, {oracle_dsum(_REV)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
)
q(
    "q17_small_quantity_revenue",
    relational.q17_small_quantity_revenue,
    f"""WITH pa AS (
  SELECT l_partkey AS pa_key, {oracle_davg('l_quantity')} AS avg_qty
  FROM lineitem GROUP BY 1)
SELECT {oracle_dsum('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON l_partkey = pa_key
WHERE p_brand = 'Brand#23' AND l_quantity < CAST(0.2 AS DOUBLE) * avg_qty""",
)
q(
    "q18_large_volume_customers",
    relational.q18_large_volume_customers,
    f"""WITH big AS (
  SELECT l_orderkey, {oracle_dsum('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY 1 HAVING {oracle_dsum('l_quantity')} > 300)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100""",
)
q(
    "q19_discounted_revenue",
    relational.q19_discounted_revenue,
    f"""SELECT {oracle_dsum(_REV)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""",
)
q(
    "q2_best_supplier_per_part",
    relational.q2_best_supplier_per_part,
    """WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
cand AS (
  SELECT DISTINCT p_partkey, p_name, s_name, n_name, s_acctbal
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN eur ON l_suppkey = s_suppkey
  WHERE p_size = 15 AND p_type = 'LARGE')
SELECT p_partkey, p_name, s_name, n_name, s_acctbal
FROM cand c
WHERE s_acctbal = (SELECT max(s_acctbal) FROM cand c2 WHERE c2.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100""",
)
q(
    "q11_important_part_values",
    relational.q11_important_part_values,
    f"""WITH pv AS (
  SELECT l_partkey, {oracle_dsum(_REV)} AS part_value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 7
  GROUP BY 1)
SELECT l_partkey, part_value
FROM pv
WHERE part_value > (SELECT CAST(CAST(SUM(CAST(part_value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) * 0.001 FROM pv)
ORDER BY part_value DESC, l_partkey""",
)
q(
    "q16_part_supplier_diversity",
    relational.q16_part_supplier_diversity,
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#23' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
)
q(
    "q20_heavy_part_suppliers",
    relational.q20_heavy_part_suppliers,
    f"""SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING {oracle_dsum('l_quantity')} > 50)
ORDER BY s_suppkey""",
)
q(
    "q21_suppliers_kept_waiting",
    relational.q21_suppliers_kept_waiting,
    """SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F' AND s_nationkey = 3
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 100""",
)
q(
    "q22_dormant_customers",
    relational.q22_dormant_customers,
    f"""SELECT c_nationkey, count(*) AS numcust, {oracle_dsum('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT {oracle_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1""",
)

# ---------------------------------------------------------------------------
# Deterministic sampling + corpus assembly (training-data path)
# ---------------------------------------------------------------------------
q(
    "sample_documents_hash",
    sampling.hash_sample_documents,
    """SELECT doc_id, lang, source, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'""",
)
q(
    "sample_documents_stratified",
    sampling.stratified_sample_by_lang,
    """SELECT doc_id, lang, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < CASE WHEN lang = 'en' THEN '10' ELSE '40' END""",
)
# Exact-k-per-stratum budgeted sample (deterministic reservoir by hash rank).
q(
    "sample_topk_per_language",
    sampling.topk_per_stratum,
    sampling.oracle_topk_per_stratum(),
)
# Weight-proportional sampling without replacement (Efraimidis–Spirakis
# exponential keys over a deterministic md5 draw; global top-k compiles to
# TakeOrderedAndProject — per-partition heaps, never a full sort).
q(
    "sample_documents_weighted",
    sampling.weighted_sample_documents,
    sampling.oracle_weighted_sample(),
)
# Per-stratum variant: exactly-k weight-proportional docs per language
# (WindowGroupLimit prunes to ~k rows per stratum before the sort).
q(
    "sample_weighted_per_language",
    sampling.weighted_sample_per_language,
    sampling.oracle_weighted_sample_per_language(),
)
# Distribution-derived length gate: per-language [p5, p95] percentile_disc
# bounds broadcast back into a row-local filter.
q(
    "corpus_length_clip",
    sampling.length_clip_filter,
    sampling.oracle_length_clip_filter(),
)
# Per-source length-decile profile (ntile with deterministic tie-break).
q(
    "corpus_length_deciles",
    sampling.length_decile_profile,
    sampling.oracle_length_decile_profile(),
)
# Reproducible ~80/10/10 split — assignment is a pure function of doc_id,
# so it survives repartitioning, re-runs, and corpus growth.
q(
    "corpus_train_val_test_split",
    sampling.train_val_test_split,
    sampling.oracle_train_val_test_split(),
)
# Leakage-free variant: the same hash assignment keyed on the near-dup
# CLUSTER label, so duplicates never straddle train/test (group split —
# the standard contamination fix); singletons key on doc_id and match the
# plain split exactly.
q(
    "corpus_leakage_free_split",
    sampling.leakage_free_split,
    sampling.oracle_leakage_free_split(dedup.oracle_neardup_components()),
)
# RAG-style sliding-window chunking (width 400, stride 300 — consecutive
# chunks share 100 chars so no content falls on a hard boundary).
q(
    "chunk_documents_overlap",
    sampling.chunk_documents_overlap,
    sampling.oracle_chunk_documents_overlap(),
)
# Temperature-smoothed language mixture (mT5/XLM-R sampling rule): derives
# the epochs-per-language multipliers upsample_by_language hard-codes.
q(
    "corpus_temperature_mix",
    sampling.temperature_mix,
    sampling.oracle_temperature_mix(),
)
q(
    "chunk_documents",
    sampling.chunk_documents,
    """WITH ex AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(floor((n_chars-1)/400.0) AS BIGINT))) AS chunk_idx
  FROM documents)
SELECT doc_id, chunk_idx,
       substr(text, CAST(chunk_idx*400+1 AS INT), 400) AS chunk_text,
       length(substr(text, CAST(chunk_idx*400+1 AS INT), 400)) AS chunk_len
FROM ex""",
)
q(
    "train_corpus_pipeline",
    sampling.train_corpus_pipeline,
    """WITH filt AS (
  SELECT * FROM documents WHERE lang = 'en' AND n_chars >= 150),
keep AS (
  SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(text))
SELECT doc_id, lang, source, n_chars
FROM filt
WHERE doc_id IN (SELECT doc_id FROM keep)
  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'""",
)
# The grown-up sibling: quality-gate verdict → exact dedup among the
# survivors → per-(source, lang) composition — the assembled curation
# stack as one differential-tested pipeline.
q(
    "corpus_curated_pipeline",
    sampling.curated_corpus_pipeline,
    sampling.oracle_curated_corpus_pipeline(text.oracle_corpus_quality_gate()),
)
# CDC latest-wins upsert: re-crawled docs replace their prior version, newly
# discovered docs append — union + one max_by-keyed agg on the primary key
# (the MERGE INTO logical plan, bucketing co-locates at 100 TB).
q(
    "corpus_apply_updates",
    sampling.apply_corpus_updates,
    sampling.oracle_apply_corpus_updates(),
)
q(
    "corpus_upsample_by_language",
    sampling.upsample_by_language,
    """WITH wtd AS (
  SELECT doc_id, lang, source,
         CAST(CASE WHEN lang = 'en' THEN 1
                   WHEN lang IN ('de', 'fr', 'es') THEN 2
                   ELSE 3 END AS BIGINT) AS weight
  FROM documents)
SELECT doc_id, lang, source, weight,
       unnest(generate_series(1, weight)) AS copy_id
FROM wtd""",
)
q(
    "pack_documents_512",
    sampling.pack_documents,
    sampling.oracle_pack_cumsum(),
)
# Packing-efficiency audit: cumsum vs boundary packer, per language —
# the price of the no-straddle constraint (extra packs, realized fill).
q(
    "pack_efficiency_report",
    sampling.pack_efficiency_report,
    sampling.oracle_pack_efficiency(),
)
# SCD2 version history: every corpus version as a validity-interval row
# (lead() over the per-doc version chain; latest-wins twin keeps only
# the snapshot).
q(
    "corpus_version_history",
    sampling.corpus_version_history,
    sampling.oracle_corpus_version_history(),
)

# Boundary-respecting next-fit packing: hard-capacity bins, docs never
# straddle; applyInPandas walk hash-gated by a recursive-CTE oracle.
q(
    "pack_documents_boundary",
    sampling.pack_documents_boundary,
    sampling.oracle_pack_boundary(),
)
# C4-style boilerplate REMOVAL: k-token spans occurring in >= 2 distinct
# docs are dropped from every document and the survivors re-assembled in
# order — the cleaning step dedup_duplicate_spans only measures.
q(
    "corpus_remove_boilerplate",
    dedup.remove_boilerplate_spans,
    dedup.oracle_remove_boilerplate_spans(),
)
# Exact global shard layout via two-level parallel prefix-sum (bucket
# partials + broadcast offsets) — bit-equal to the oracle's flat
# single-window cumsum without ever planning a single-partition window
# over the document frame.
q(
    "corpus_shard_assignment",
    sampling.shard_assignment,
    sampling.oracle_shard_assignment(),
)
# INCREMENTAL shard layout — the arrival path: per-bucket token sums of
# the existing corpus persist as a parquet artifact; an arrival batch
# composes its own two-level prefix sum on top of the folded corpus
# total without rescanning history (prefix sums compose, so the output
# equals the full relayout's tail — which is exactly what the oracle's
# flat window computes).
q(
    "corpus_shard_incremental",
    sampling.shard_assignment_incremental,
    sampling.oracle_shard_assignment_incremental(),
)
# The tensor-feed closure: BPE token ids packed into fixed-length
# training sequences in exact global order (two-level prefix over
# per-doc counts + doc-bounded in-doc rank windows).
q(
    "pack_bpe_sequences",
    sampling.pack_bpe_sequences,
    sampling.oracle_pack_bpe_sequences(),
)
# Per-shard writer manifest over the exact layout (doc range, counts,
# fill vs the token budget) — O(tokens/target) rows at any scale.
q(
    "corpus_shard_manifest",
    sampling.shard_manifest,
    sampling.oracle_shard_manifest(),
)
# Sentence-boundary-respecting RAG chunker: bin-by-cumsum over in-doc
# sentence order — a chunk boundary never cuts a sentence. NOTE: the
# synthetic fixture has no sentence punctuation (1 segment/doc), so the
# fixture rows are 1 chunk/doc; the multi-sentence behavior is pinned
# by the planted-corpus pytest. Window-slotted (round-3 policy:
# never-green keys outrank re-checks) — builder-green at both SFs.
q(
    "chunk_documents_sentences",
    sampling.chunk_documents_sentences,
    sampling.oracle_chunk_documents_sentences(),
)
# Deterministic per-epoch global shuffle order (training permutation):
# md5(doc_id ':' epoch) order key ranked by the same two-level exact
# rank as the shard layout — no single-partition sort ever touches the
# corpus frame, yet the output is bit-equal to the oracle's flat
# per-epoch row_number.
q(
    "corpus_epoch_shuffle",
    sampling.epoch_shuffle,
    sampling.oracle_epoch_shuffle(),
)
# Pipeline drop audit: one row per document with the FIRST curation
# stage that dropped it (benchmark holdout -> quality gate -> exact
# dedup among survivors -> decontamination) — the "why is my document
# gone" provenance table, composed from the same operators the pipeline
# runs so the oracle proves the composition exact.
q(
    "corpus_drop_audit",
    dedup.corpus_drop_audit,
    dedup.oracle_corpus_drop_audit(
        f"regexp_replace(lower(trim(text)), '{text.TOKEN_SQL}', ' ', 'g')"
    ),
)

# ---------------------------------------------------------------------------
# As-of join, time-range window frame, streaming dedup
# ---------------------------------------------------------------------------
q(
    "asof_last_click_before_error",
    sessions.asof_last_click_before_error,
    sessions.oracle_asof_last_click_before_error(EV_CTE),
)
q(
    "rolling_week_user_value",
    sessions.rolling_week_user_value,
    sessions.oracle_rolling_week_user_value(EV_CTE),
)
# Funnel rollup of the as-of pattern: click→error conversion within 5 min,
# per experiment — the batch twin of stream_click_error_join as a report.
q(
    "funnel_conversion_by_experiment",
    sessions.funnel_conversion_by_experiment,
    sessions.oracle_funnel_conversion_by_experiment(EV_CTE),
)
# Cohort-retention matrix: users cohorted by first-event day, cells count
# returning users per day offset — the canonical product-analytics rollup.
q(
    "user_retention_cohorts",
    sessions.user_retention_cohorts,
    sessions.oracle_user_retention_cohorts(EV_CTE),
)
# Day-of-week × hour load profile (≤168 cells; capacity-planning report).
q(
    "events_activity_heatmap",
    sessions.events_activity_heatmap,
    sessions.oracle_events_activity_heatmap(EV_CTE),
)

# Join/agg-key skew diagnostic: per-candidate-key hot-key report (top
# share, p99/p50 count ratio) — the measurement that decides salting vs
# AQE skew handling vs nothing before a 100 TB run; one map-side-partial
# count shuffle per key, never concentrating rows.
def _events_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.skew import key_skew_profile

    return key_skew_profile(_ev(spark, sf_dir), ["user_id", "variant", "experiment_id"])


def _oracle_events_skew_profile() -> str:
    from .functions.skew import oracle_key_skew_profile

    return oracle_key_skew_profile(
        ["user_id", "variant", "experiment_id"],
        """SELECT event_id, ts, user_id, event_type AS variant,
         json_extract_string(props, '$.k') AS experiment_id, value
  FROM events""",
    )


q("events_key_skew_profile", _events_skew_profile, _oracle_events_skew_profile())


# Z-order layout diagnostic: Morton-interleave (minute, user bucket), split
# the code space into files, report per-file row counts + BOTH dims' min/max
# — the footer stats a data-skipping reader consults; quantifies why a
# two-dimensional dashboard workload wants Z-ORDER over a single-column
# sort. Pure literal-shift bit arithmetic ⇒ the layout math is SQL-oracled.
def _events_zorder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.layout import zorder_locality_report

    return zorder_locality_report(spark, sf_dir)


def _oracle_events_zorder() -> str:
    from .functions.layout import zorder_key_sql

    z = zorder_key_sql("minute_idx", "user_bucket")
    return f"""WITH k AS (
  SELECT CAST(floor(epoch_us(ts) / 60000000) AS BIGINT) & 65535 AS minute_idx,
         user_id % 65536 AS user_bucket
  FROM events),
zc AS (SELECT {z} AS z, minute_idx, user_bucket FROM k)
SELECT z // 4194304 AS z_file, count(*) AS n_events,
       min(minute_idx) AS min_minute, max(minute_idx) AS max_minute,
       min(user_bucket) AS min_ub, max(user_bucket) AS max_ub
FROM zc GROUP BY 1"""


q("events_zorder_layout", _events_zorder_report, _oracle_events_zorder())

# Heavy hitters — the frequency-sketch leg of the sketch family (HLL =
# distincts, Theta = set overlap, KLL = quantiles, CMS = per-key counts).
# Exact support-threshold HH(φ) is SQL-oracled; the count-min twin answers
# the same question from depth×width bounded mergeable state (rows-only:
# xxhash64 bucketing; ≥-exact + recall-1 properties in tests).
q(
    "events_heavy_hitter_users",
    lambda s, d: metrics.heavy_hitter_users(_ev(s, d)),
    f"""{EV_CTE}
SELECT user_id, count(*) AS n_events,
       CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM ev) AS share
FROM ev GROUP BY user_id
HAVING count(*) >= 0.0075 * (SELECT count(*) FROM ev)""",
)
q(
    "events_heavy_hitter_users_cms",
    lambda s, d: metrics.heavy_hitter_users_cms(_ev(s, d)),
)


# Doubled (at-least-once) input + dropDuplicatesWithinWatermark == the plain
# batch W1 count: the oracle proves redelivery does not over-count here,
# unlike the reference's INCRBY leg (SURVEY §4 delta 1).
q(
    "stream_deduped_visits",
    _stream(pipeline.stream_deduped_visits, "events"),
    # Dedup by id FIRST (keep min(ts) per event_id), THEN group by
    # minute — not count(DISTINCT event_id) per minute: the op's
    # contract is redelivery repair keyed on event_id, so each id must
    # count exactly ONCE overall, not once per distinct minute it
    # appears in (r8 hardening of the r7 adversarial-fixture find — a
    # per-minute DISTINCT would double-count an id re-emitted into a
    # different minute). The engine's keep-first is arrival-order;
    # because the replay harness redelivers the SAME file, every copy
    # carries the original event time and min(ts) = the kept row, so
    # minute attribution matches exactly. Cross-minute SOURCE
    # duplicates (distinct events sharing an id) are out of contract —
    # documented here so the assumption is explicit.
    f"""{EV_CTE}
SELECT date_trunc('minute', min_ts) AS minute,
       count(*) AS visits
FROM (SELECT event_id, min(ts) AS min_ts FROM ev GROUP BY event_id)
GROUP BY 1""",
)


# Streaming EXACT distinct via watermarked dropDuplicates + windowed count —
# same oracle as batch w2 (stream/batch parity).
q(
    "stream_uniques_per_ev_minute",
    _stream(pipeline.stream_uniques_per_ev_minute, "events"),
    f"""{EV_CTE}
SELECT date_trunc('minute', ts) AS minute, experiment_id, variant,
       count(DISTINCT user_id) AS unique_users
FROM ev GROUP BY 1, 2, 3""",
)

# Watermarked stream-stream interval join (funnel/attribution shape) —
# oracled against the identical batch self-join (stream/batch parity).
q(
    "stream_click_error_join",
    _stream(pipeline.stream_click_error_join, "events"),
    f"""{EV_CTE}
SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
       c.ts AS click_ts, e.ts AS error_ts,
       epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
FROM ev c JOIN ev e
  ON c.user_id = e.user_id
 AND c.variant = 'click' AND e.variant = 'error'
 AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE""",
)


# LEFT OUTER watermarked interval join — the strictly harder semantics
# (a NULL row only emits once the watermark proves no match can still
# arrive, so the replay is capped by watermark-heartbeat files; see
# pipeline._heartbeat_replay_dir). Oracled against the batch LEFT JOIN.
q(
    "stream_click_error_left_join",
    _stream(pipeline.stream_click_error_left_join, "events"),
    f"""{EV_CTE}
SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
       c.ts AS click_ts, e.ts AS error_ts,
       epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
FROM ev c LEFT JOIN ev e
  ON c.user_id = e.user_id
 AND e.variant = 'error'
 AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE
WHERE c.variant = 'click'""",
)

# Stop-shingle-capped Jaccard — the 100 TB scale path (precision-preserving
# subset of the exact result; subset/ordering asserted in tests/test_dedup.py).
# r7: converted rows-only -> SQL-oracled — the df cap is a pure function of
# the data (no hashing), so the oracle df-caps its own inverted index.
q(
    "dedup_ngram_jaccard_pairs_capped",
    lambda s, d: dedup.ngram_jaccard_pairs(s, d, max_shingle_df=20),
    dedup.oracle_ngram_jaccard_pairs(max_shingle_df=20),
)

# Pairs -> clusters: iterative min-label connected components (the step that
# turns near-dup pairs into duplicate groups); oracled against a recursive
# SQL transitive closure over the same SQL-oracled edge set.
q(
    "dedup_connected_components",
    dedup.neardup_components,
    dedup.oracle_neardup_components(),
)
# The same clustering by large-star/small-star alternation (Kiveris et al.
# 2014) — O(log² n) rounds on ANY topology vs propagation's O(diameter);
# identical output contract, so it shares the recursive-CTE oracle.
q(
    "dedup_connected_components_star",
    dedup.neardup_components_star,
    dedup.oracle_neardup_components(),
)
q(
    "dedup_neardup_survivors",
    dedup.neardup_survivors,
    dedup.oracle_neardup_survivors(),
)
# PageRank centrality over the near-dup graph: iterative float fixpoint,
# SQL-oracled anyway — neighbor sums run through the DECIMAL(38,12) exact
# accumulator so the result is partitioning-invariant and the oracle
# unrolls the identical iterations as chained CTEs.
q(
    "dedup_pagerank_centrality",
    dedup.neardup_pagerank,
    dedup.oracle_neardup_pagerank(dedup.oracle_ngram_jaccard_pairs(0.5)),
)
# k-core of the near-dup graph: iterative degree peel, integer state
# only, fixed rounds unrolled in the oracle (fixpoint asserted in tests).
# Synchronous label-propagation communities over the near-dup graph
# (deterministic argmax-count rule, smallest-label tie-break, fixed
# rounds) — the density-aware grouping between CC (too coarse) and
# k-core (a filter, not an assignment); same edges-in contract.
q(
    "dedup_label_propagation",
    dedup.label_propagation,
    dedup.oracle_label_propagation(dedup.oracle_ngram_jaccard_pairs(0.5)),
)
q(
    "dedup_kcore_membership",
    dedup.kcore_membership,
    dedup.oracle_kcore_membership(dedup.oracle_ngram_jaccard_pairs(0.5)),
)
# Quality-canonical selection: keep the HIGHEST-quality member of each
# cluster (not the first) — the representative-selection step; oracled by
# composing the recursive component closure with the quality projection.
q(
    "dedup_keep_best_per_cluster",
    dedup.neardup_keep_best,
    dedup.oracle_neardup_keep_best(
        dedup.oracle_neardup_components(), text.oracle_quality_score()
    ),
)
# Model-canonical selection: keep-best by LEARNED margin (the
# persisted perceptron) instead of the heuristic — the composition a
# pipeline graduates to once the distilled model beats its seed rules.
q(
    "dedup_keep_best_by_model",
    dedup.keep_best_by_model,
    dedup.oracle_keep_best_by_model(
        dedup.oracle_neardup_components(), classifier.oracle_perceptron_scores()
    ),
)
# Record linkage (entity resolution): EXACT Levenshtein-join of a noisy
# registry against the clean one via the ED-Join prefix q-gram filter —
# candidates only from each record's q·d+1 RAREST grams under one global
# (df, gram) order; the oracle is the brute-force quadratic join, so the
# hash gate proves the filter lossless on the fixture.
q(
    "dedup_entity_matches",
    dedup.entity_match_pairs,
    dedup.oracle_entity_match(),
)
# The resolution step: every dirty record assigned to its best clean
# match (min distance, min clean_id tie-break), unmatched kept with a
# NULL assignment — the match -> resolve -> merge linkage report.
q(
    "dedup_entity_resolved",
    dedup.entity_resolve,
    dedup.oracle_entity_resolve(),
)
# Streaming record linkage: each shipment's noisy records probe the
# PERSISTED linkage index (names + PINNED gram-df order + prefix
# posting lists); unseen grams coalesce to df 0 (a batch-local order
# could evict the shared prefix gram — the ordering analogue of pinned
# centering stats). Stateless per batch; same brute-force oracle proves
# the filter lossless on the arrival path too.
q(
    "stream_entity_probe",
    _stream(pipeline.stream_entity_probe, "documents"),
    dedup.oracle_entity_match(),
)


# Streaming near-dup probe: incoming docs (doc_id % 10 = 0) compute
# portable MinHash signatures batch-locally and probe the persisted
# banded index of the existing corpus — stateless per batch, union of
# shipments = the batch probe exactly, so it shares
# oracle_incremental_neardup_portable; portable permutations mean DuckDB
# re-derives every signature from raw text: the stream path is
# externally hash-checked end to end.
q(
    "stream_neardup_probe",
    _stream(pipeline.stream_neardup_probe, "documents"),
    dedup.oracle_incremental_neardup_portable(),
)
# Deequ-style data-validation suite: completeness/uniqueness/consistency/
# containment/pattern/range verdicts from ONE corpus scan of conditional
# counts; min_length_100 is strict enough to FAIL on the fixture (a gate
# that cannot fail proves nothing).
q(
    "corpus_constraint_report",
    relational.constraint_report,
    relational.oracle_constraint_report(),
)
# Streaming validation with MERGEABLE metric state: per-shipment partial
# conditional COUNTS (associative; fractions do NOT compose — a twin
# averaging per-shipment fractions would weight a 10-doc shipment equal
# to a 10M-doc one), folded to the exact batch report; same oracle.
q(
    "stream_constraint_report",
    _stream(pipeline.stream_constraint_report, "documents"),
    relational.oracle_constraint_report(),
)
# Dedup QA report: cluster-size histogram over the oracled components.
q(
    "dedup_cluster_size_histogram",
    dedup.cluster_size_histogram,
    dedup.oracle_cluster_size_histogram(),
)
# Order-insensitive exact dedup: sorted-token-multiset hash — catches
# word-order shuffles between exact dedup and n-gram Jaccard.
q("dedup_bow_groups", dedup.bow_dedup_groups, dedup.oracle_bow_dedup_groups())
# Per-node triangle count + local clustering coefficient — the third
# graph-analytics leg (CC = membership, PageRank = centrality, this =
# cohesion): clique members vs bridge docs in the near-dup graph. The
# Spark plan is degree-oriented (O(√m) wedge bound under hub skew); the
# oracle enumerates the same orientation-invariant triangle set id-ordered.
q(
    "dedup_graph_triangles",
    dedup.neardup_triangles,
    dedup.oracle_neardup_triangles(dedup.oracle_ngram_jaccard_pairs(0.5)),
)
# BM25 lexical retrieval: every 50th doc as a query, Lucene-style term
# scores summed through the DECIMAL(38,12) accumulator, top-5 per query
# via an inverted-index equi-join (cost follows posting lists, not |docs|²).
q("text_bm25_topk", text.bm25_topk, text.oracle_bm25_topk())


# The df-capped scale twin (same contract as dedup's capped Jaccard):
# stop-terms above the cap leave SCORING entirely — near-zero idf, but
# they dominate candidate volume on stop-heavy/replicated corpora
# (~9× candidate growth measured at the 300 k-doc soak).
def _bm25_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_topk(spark, sf_dir, max_term_df=100)


q("text_bm25_topk_capped", _bm25_capped, text.oracle_bm25_topk(max_term_df=100))
# Per-source quality calibration: percentile-rank the heuristic quality
# score within each source before gating, so one source's hot-running
# heuristic can't skew the corpus mix; explicit (rn-1)/(n-1) percentile
# from integer window inputs — engine-portable, single-doc source = 0.0.
q(
    "quality_calibrated_by_source",
    sampling.quality_calibrated_by_source,
    sampling.oracle_quality_calibrated(text.oracle_quality_score()),
)
# Cross-source quantile NORMALIZATION: replaces each score with the
# global order statistic at its within-source percentile (quantile
# mapping) — a calibrated SCORE on the original scale, where
# quality_calibrated_by_source outputs the percentile rank. Both ranks
# ride the two-level exact-rank algebra; the position arithmetic runs
# in DECIMAL(38,0)/HUGEINT so (r-1)*(N-1) cannot overflow int64.
q(
    "quality_quantile_normalized",
    sampling.quality_quantile_normalized,
    sampling.oracle_quality_quantile_normalized(text.oracle_quality_score()),
)
# Binary sign-sketch ANN: 1-bit-per-dimension compression (8 bytes/vector),
# integer Hamming ranking — deterministic (bit i = embedding[i] > 0), so
# SQL-oracled unlike the seeded random-hyperplane ann_lsh_topk; recall vs
# the exact cosine baseline is banded in tests/test_similarity.py.
q(
    "ann_topk_hamming",
    similarity.ann_topk_hamming,
    similarity.oracle_ann_topk_hamming(),
)
# Two-stage binary ANN: Hamming shortlist (integer scan over the 8-byte
# sketch index) → exact fixed-point cosine re-rank of only the shortlist
# — the production layout (the ANN analogue of LSH → exact-verify);
# deterministic both stages, so SQL-oracled.
q(
    "ann_hamming_rerank_topk",
    similarity.ann_hamming_rerank_topk,
    similarity.oracle_ann_hamming_rerank().format(
        norms=_ORACLE_NORMS,
        qdot=oracle_qdot("z[1]", "z[2]"),
        cos=oracle_cosine("d.dot", "nq.n2", "nn.n2"),
    ),
)
# Product-quantization ANN (FAISS-style ADC): M=8 integer-argmin codes per
# vector, asymmetric query·codeword scoring — the fourth compression leg
# (float → int8 → PQ → 1-bit). Deterministic end to end (fixed-point
# subvectors, min-cid tie-breaks), so codebook selection, encoding, and
# top-k are all SQL-oracled.
q(
    "ann_topk_pq",
    similarity.ann_topk_pq,
    similarity.oracle_ann_topk_pq().format(norms=_ORACLE_NORMS),
)
# Exact k-means: Lloyd's with integer (Σx, n) centroid state — the
# assignment argmin runs on exact DECIMAL(38,0) numerators + one
# correctly-rounded double division, so the iterative fixpoint is
# bit-identical at any partitioning and SQL-oracled via unrolled CTE
# iterations (float k-means cannot be; the rows-only float variant keeps
# its determinism/inertia pytest gates).
q(
    "kmeans_exact_centroids",
    similarity.kmeans_exact_centroids,
    similarity.oracle_kmeans_exact().format(norms=_ORACLE_NORMS),
)
# The FLOAT iterative path, made portable (r8 verdict item 7): Lloyd's
# over double-widened float32 embeddings where the assignment distance
# is the genuine IEEE left-fold Σ(a−b)² (F.aggregate ≡ list_reduce) and
# only the per-dim mean STATE crosses engines as fixed-point integers
# built from pure double ops (floor(x·1e12+0.5) — double→DECIMAL casts
# measurably diverge between engines; floor/mul/add never do). Two
# unrolled iterations prove the float feedback loop itself, closing the
# last architecture-bearing rows-only gap (kmeans_embedding_centroids /
# ann_ivf_kmeans_topk keep their true-float formulation as the scale
# path, now with this twin oracling the construction).
q(
    "kmeans_float_portable_iterations",
    lambda s, d: similarity.kmeans_float_portable_centroids(s, d),
    similarity.oracle_kmeans_float_portable(),
)
# Exact-discipline power iteration — the spectral (PCA-training) member of
# the oracled-iterative family: decimal-accumulated matrix-vector terms,
# power-of-two rescale, one correctly-rounded sqrt+divide per iteration;
# unrolled MATERIALIZED-CTE oracle (each iterate is consumed twice).
q(
    "embedding_top_component_exact",
    similarity.embedding_top_component_exact,
    similarity.oracle_top_component_exact().format(norms=_ORACLE_NORMS),
)
# Train-then-score: every embedding projected onto the exact dominant
# component (the PCA feature) — the spectral CTE chain + one projection
# join, hash-gated end to end.
q(
    "embedding_pc1_scores",
    similarity.embedding_pc1_scores,
    similarity.oracle_pc1_scores().format(norms=_ORACLE_NORMS),
)
# Learned-centroid IVF, fully oracled: codebook TRAINING (exact k-means),
# db assignment, query probing, and in-bucket cosine top-k hash-gate as
# one query — the upgrade the float-kmeans IVF (rows-only) cannot have.
q(
    "ann_ivf_exact_topk",
    similarity.ann_ivf_exact_topk,
    similarity.oracle_ann_ivf_exact().format(norms=_ORACLE_NORMS),
)
# Serving-path twin: the same IVF query arithmetic over the train-once
# PERSISTED codebook parquet (bit-identical state, so the same oracle
# gates it); the measured cost is assignment + probe + bucket join only.
q(
    "ann_ivf_persisted_topk",
    similarity.ann_ivf_persisted_topk,
    similarity.oracle_ann_ivf_exact().format(norms=_ORACLE_NORMS),
)
# The ASSEMBLED production ANN pipeline (FAISS IVFPQ shape): persisted
# coarse codebook → nprobe posting-list prune → PQ asymmetric-distance
# shortlist over M integer codes per vector → exact fixed-point cosine
# re-rank of the shortlist only. Every stage deterministic (the coarse
# chain is ann_ivf_exact's, the ADC chain is ann_topk_pq's), so the whole
# composition hash-gates against one oracle.
q(
    "ann_ivfpq_topk",
    similarity.ann_ivfpq_topk,
    similarity.oracle_ann_ivfpq().format(norms=_ORACLE_NORMS),
)
# Serving-path twin: the same probe/ADC/re-rank arithmetic over the
# PERSISTED IVFPQ index file (per-vector bucket + codes — the FAISS
# .index analogue); bit-identical state, same oracle; measured cost is
# the query path alone.
q(
    "ann_ivfpq_persisted_topk",
    similarity.ann_ivfpq_persisted_topk,
    similarity.oracle_ann_ivfpq().format(norms=_ORACLE_NORMS),
)
# Matryoshka-style truncation evaluation: exact top-k over the FIRST d'
# fixed-point components per truncation dim vs the full-dim exact top-k
# — the recall-vs-memory curve behind choosing an MRL serving dimension;
# |TRUNC_DIMS|-row report, exact-integer recall numerators.
q(
    "ann_truncation_recall",
    similarity.ann_truncation_recall_report,
    similarity.oracle_ann_truncation_recall().format(norms=_ORACLE_NORMS),
)
# Retrieval-QA report: sparse (BM25 shingle) vs dense (exact cosine)
# top-k agreement per shared query — overlap + Jaccard; both inputs are
# SQL-oracled operators and the report is integer set arithmetic, so the
# composition hash-gates end to end.
q(
    "retrieval_eval_report",
    similarity.retrieval_eval_report,
    similarity.oracle_retrieval_eval(
        text.oracle_bm25_topk(k=10), _ORACLE_ANN_BRUTEFORCE
    ),
)
# Hybrid retrieval: reciprocal-rank fusion of the BM25 and dense top-k
# lists (score = Σ 1/(60+rank)) — only integer ranks cross retrievers, so
# the fusion is scale-free and exactly reproducible (decimal-summed IEEE
# divides, n_lists/doc_id tie-breaks).
q(
    "hybrid_rrf_topk",
    similarity.hybrid_rrf_topk,
    similarity.oracle_hybrid_rrf(
        text.oracle_bm25_topk(k=10), _ORACLE_ANN_BRUTEFORCE
    ),
)
# Cross-source duplicate-leakage matrix: which ingestion feeds duplicate
# each other (off-diagonal) vs merely self-duplicate (diagonal) — the
# pre-mixing cross-source-dedup diagnostic over the oracled pair list.
q(
    "dedup_cross_source_matrix",
    dedup.cross_source_dup_matrix,
    dedup.oracle_cross_source_dup_matrix(dedup.oracle_ngram_jaccard_pairs(0.5)),
)
# Asymmetric containment C(A→B) = |A∩B|/|A|: the doc-B-swallowed-doc-A
# signal Jaccard misses (short doc embedded in a long one); same
# inverted-index plan, both directions off one undirected pair scan.
q(
    "dedup_containment_pairs",
    dedup.containment_pairs,
    dedup.oracle_containment_pairs(),
)
# Feature hashing (the hashing trick): vocabulary-free 64-bucket signed
# featurization for linear classifiers — md5-derived bucket + sign
# (engine-portable, never xxhash), long-form sparse output.
q("text_hashed_features", text.hashed_features, text.oracle_hashed_features())
# Distributed BPE tokenizer training (first 3 merge rounds): corpus
# collapses to a word-frequency table, every round is vocab-sized; the
# greedy leftmost merge is pure window functions (gaps-and-islands
# parity for lhs==rhs) — no fold, no UDF, no driver state; oracled by
# unrolling the same rounds as CTEs.
q("text_bpe_merges", text.bpe_merges, text.oracle_bpe_merges())
# BPE ENCODING over the persisted merge table — the train→apply pair
# closed (the ann_ivf_persisted_topk convention): merges come from the
# train-once parquet artifact and apply to the distinct-word vocabulary
# via the SAME shared window walk training used (_bpe_apply), then the
# token-id sequences join back onto the doc subset. Deterministic
# training makes the output bit-identical to inline training, so the
# oracle unrolls training as CTEs and hash-gates the encoded rows.
q("text_bpe_encode", text.bpe_encode, text.oracle_bpe_encode())
# Tokenizer-efficiency diagnostic: per-doc chars-per-BPE-token over the
# encoded frame (out-of-domain / corrupt text raises it).
q("text_bpe_compression", text.bpe_compression, text.oracle_bpe_compression())
# Tokenizer round-trip QA: decode the encoded corpus (position-ordered
# symbol reassembly) and verify every word reproduces exactly — the
# check run after swapping tokenizer versions; completes the
# train -> encode -> decode closure.
q("text_bpe_roundtrip", text.bpe_roundtrip_report, text.oracle_bpe_roundtrip())
# PII scrubbing (emails / phones / IPv4 -> typed tags) over
# deterministically synthesized doc_id-keyed PII (the fixture corpus is
# digit-free, so like the multimodal blobs the input derives from the
# fixture); row-local regex in codegen, dialect-portable patterns, the
# redacted text hash-gated byte-exact.
q("text_redact_pii", text.redact_pii, text.oracle_redact_pii())
# Distributed BATCH-PERCEPTRON training of a quality classifier over
# hashed features (the CCNet/fastText distillation recipe, in-engine):
# all-integer state makes T unrolled rounds bit-exact with NO float
# convention — weights broadcast per round, margins/updates are two
# uniform-key shuffles, O(64) driver-free state. Oracled by unrolled
# CTEs (the kmeans/BPE convention).
q(
    "quality_perceptron_scores",
    classifier.perceptron_scores,
    classifier.oracle_perceptron_scores(),
)
# The trained model artifact itself (bucket -> weight, bias at -1):
# broadcast-sized like the IVF codebook / BPE merge table; oracling it
# pins the training trajectory, not just the scores.
q(
    "quality_perceptron_model",
    classifier.perceptron_model,
    classifier.oracle_perceptron_model(),
)
# The scoring SERVING path over the persisted weights (train-once /
# score-many — the ann_ivf_persisted_topk convention): featurize +
# one broadcast join + one doc-keyed sum; bit-identical to the
# train-inline scorer, same oracle.
q(
    "quality_perceptron_persisted_scores",
    classifier.perceptron_persisted_scores,
    classifier.oracle_perceptron_scores(),
)
# Streaming model inference with the persisted weights AND persisted
# training-corpus centering stats (the feature-store discipline:
# centering with a batch's own means would be train/serve skew);
# stateless per batch, exact stream/batch parity, same oracle.
q(
    "stream_model_scores",
    _stream(pipeline.stream_model_scores, "documents"),
    classifier.oracle_perceptron_scores(),
)
# Streaming tokenizer application: each shipment encoded by joining the
# persisted COMPILED-VOCABULARY artifact (w, pos, sym, token_id) — the
# tokenizer file the offline training job wrote; stateless per batch
# (one explode + one broadcast join, no merge-walk rounds on the hot
# path), exact stream/batch parity, same unrolled-training oracle.
q(
    "stream_bpe_encode",
    _stream(pipeline.stream_bpe_encode, "documents"),
    text.oracle_bpe_encode(),
)
# Corpus-version regression report over the SCD2 history: added /
# updated / unchanged with before/after char volume per class.
# PSI drift monitor: population-stability index of the document-length
# distribution between the v0 snapshot and the latest-wins merge —
# exact-integer Laplace-smoothed bucket probabilities, dquant'd ln term;
# the re-validation gate run after every corpus refresh.
q(
    "corpus_drift_psi",
    sampling.corpus_drift_psi,
    sampling.oracle_corpus_drift_psi(),
)
q(
    "corpus_version_diff",
    sampling.corpus_version_diff,
    sampling.oracle_corpus_version_diff(),
)


# Streaming lexical-index ingestion — the sparse twin of stream_ivf_assign:
# per-doc (term, tf, dl) posting rows emitted on arrival, row-local tf via
# higher-order functions (no groupBy — append-safe). Oracle = the batch
# index derivation: stream/batch parity for the BM25 index build.
q(
    "stream_postings_ingest",
    _stream(pipeline.stream_postings_ingest, "documents"),
    f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '{text.TOKEN_SQL}') AS t
  FROM documents),
terms AS (
  SELECT doc_id, array_to_string(t[i : i + {text.BM25_SHINGLE_K - 1}], ' ') AS term
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, greatest(len(t) - {text.BM25_SHINGLE_K - 1}, 1))) AS i
        FROM toks)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1)
SELECT tf.doc_id, tf.term, tf.tf, dl.dl
FROM tf JOIN dl ON dl.doc_id = tf.doc_id""",
)

# The production 100 TB pipeline: LSH candidates -> exact verify -> cluster
# (quadratic stage never runs). Rows-only: edges depend on xxhash64 banding;
# equality with the exact clustering on planted dups asserted in tests.
q("dedup_lsh_components", dedup.lsh_components)

# Market-basket affinity (A-priori first pass): co-purchased part pairs
# with support + lift; pair membership integer-decided, lift dquant'd;
# order-keyed self-join with basket-size-bounded fan-out. Window-slotted (never-green
# outranks re-checks) — builder-green at sf0.01 AND sf0.1.
q(
    "basket_part_pairs",
    relational.basket_part_pairs,
    relational.oracle_basket_part_pairs(),
)

# ---------------------------------------------------------------------------
# Histogram, distributed moments, unpivot
# ---------------------------------------------------------------------------
q(
    "order_price_histogram",
    relational.order_price_histogram,
    """SELECT CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 500000 THEN 21
            ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1 END AS bucket,
       count(*) AS n_orders
FROM orders GROUP BY 1 ORDER BY 1""",
)
q(
    "price_moments_by_flag",
    relational.price_moments_by_flag,
    """WITH a AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,6))
                            * CAST(l_extendedprice AS DECIMAL(38,6)) AS DECIMAL(38,6)))
                 AS VARCHAR) AS DOUBLE) AS sxx
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, n, sx / n AS mean_price,
       sqrt(sxx / n - (sx / n) * (sx / n)) AS stddev_pop_price
FROM a ORDER BY 1""",
)
q(
    "part_measures_unpivot",
    relational.part_measures_unpivot,
    """SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS value FROM part""",
)

# ---------------------------------------------------------------------------
# Corpus n-gram statistics and TF-IDF
# ---------------------------------------------------------------------------
q("text_top_bigrams", text.top_bigrams, text.oracle_top_bigrams())
q("text_tfidf_top_terms", text.tfidf_top_terms, text.oracle_tfidf_top_terms())

# R5's scale path: sketch-based overlap (rows-only; accuracy vs the exact
# self-join asserted in tests/test_metrics_fanout.py).
q(
    "r5_variant_overlap_approx",
    lambda s, d: timeseries.variant_overlap_approx(_ev(s, d)),
)

# R5 on Theta sketches — native set-intersection estimates (the true
# SINTERSTORE+SCARD analogue; supports the full SINTER/SDIFF/SUNION algebra
# on bounded mergeable state). Rows-only; accuracy asserted in tests.
q(
    "r5_variant_overlap_theta",
    lambda s, d: timeseries.variant_overlap_theta(_ev(s, d)),
)

# Mergeable per-group quantiles (DataSketches KLL) beside the exact
# percentile_disc twin. Rows-only; rank-error bound asserted in tests.
q("price_quantiles_kll", relational.price_quantiles_kll)

# Navigation/distribution window functions (lag/lead/first_value/ntile/
# percent_rank/cume_dist) over a total per-customer ordering.
q(
    "order_window_functions",
    relational.order_window_functions,
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       first_value(o_orderdate) OVER w AS first_order_date,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
)


def _events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.events_enriched_with_customer(
        _ev(spark, sf_dir), load(spark, sf_dir, "customer")
    )


# Streaming-enrichment shape: broadcast dimension left-join on the event
# stream (shuffle-free on the event side).
q(
    "events_enriched_with_customer",
    _events_enriched,
    f"""{EV_CTE}
SELECT event_id, e.user_id, ts, variant, c_nationkey, c_mktsegment
FROM ev e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
)

# Iterative algorithm surface: driver-coordinated Lloyd's k-means (rows-only —
# an iterative fixpoint has no single-statement SQL oracle; determinism and
# inertia descent are asserted in tests/test_similarity.py).
q(
    "kmeans_embedding_centroids",
    lambda s, d: similarity.kmeans_embedding_centroids(s, d),
)

# The same Q4 through the spark.sql() entry point (identical oracle —
# SQL and DataFrame collapse to one Catalyst plan).
q(
    "sql_q4_order_priority",
    relational.sql_q4_order_priority,
    """SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY 1""",
)

# IVF with a k-means-trained codebook (rows-only; recall dominance over the
# sampled-seed IVF is asserted in tests/test_similarity.py).
q(
    "ann_ivf_kmeans_topk",
    lambda s, d: similarity.ann_ivf_kmeans_topk(s, d),
)

# Cross-series similarity: Pearson correlation between variant visit
# series from exact integer power sums (engine-portable determinism).
q(
    "variant_series_correlation",
    lambda s, d: timeseries.variant_series_correlation(_ev(s, d)),
    f"""{EV_CTE},
mv AS (
  SELECT date_trunc('minute', ts) AS minute, variant, count(*) AS visits
  FROM ev GROUP BY 1, 2),
j AS (
  SELECT a.variant AS variant_a, b.variant AS variant_b,
         a.visits AS x, b.visits AS y
  FROM mv a JOIN mv b ON a.minute = b.minute AND a.variant < b.variant),
g AS (
  SELECT variant_a, variant_b, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         sum(x*x) AS sxx, sum(y*y) AS syy
  FROM j GROUP BY 1, 2)
SELECT variant_a, variant_b, n,
       CASE WHEN sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)) <> 0
            THEN CAST(n*sxy - sx*sy AS DOUBLE)
                 / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
       END AS pearson_corr
FROM g""",
)

# Hierarchical time rollup (the continuous-aggregate / hypertable-rollup
# shape): hour rolls up from MINUTE PARTIALS and day from hour partials —
# never from raw — while the oracle aggregates each grain directly from
# raw events, so the hash gate proves the partial-composition algebra
# exact (decimal sums associative). Window-slotted (round-3 policy:
# never-green keys outrank re-checks) — builder-green at both SFs.
q(
    "events_hierarchical_rollup",
    lambda s, d: metrics.hierarchical_time_rollup(_ev(s, d)),
    metrics.oracle_hierarchical_time_rollup(EV_CTE),
)
# Streaming twin — the continuous-aggregate REFRESH path: per-shipment
# minute partials appended to the store (ts-chunked replay makes minutes
# straddle shipments), merged + rolled up at read; same oracle. Window-slotted
# (never-green outranks re-checks) — builder-green at both SFs.
q(
    "stream_hierarchical_rollup",
    _stream(pipeline.stream_hierarchical_rollup, "events"),
    metrics.oracle_hierarchical_time_rollup(EV_CTE),
)
# Monitoring extension: trailing z-score anomaly flags on the visit series
# (strictly-prior ROWS frame; integer power sums -> deterministic doubles).
q(
    "visit_anomalies",
    lambda s, d: timeseries.visit_anomalies(_ev(s, d)),
    f"""{EV_CTE},
mv AS (
  SELECT date_trunc('minute', ts) AS minute, count(*) AS visits
  FROM ev GROUP BY 1),
t AS (
  SELECT minute, visits,
         count(visits) OVER w AS n_trail,
         sum(visits) OVER w AS sx,
         sum(visits*visits) OVER w AS sxx
  FROM mv
  WINDOW w AS (ORDER BY minute ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING))
SELECT minute, visits,
       CAST(sx AS DOUBLE) / n_trail AS trail_mean,
       sqrt(CAST(n_trail*sxx - sx*sx AS DOUBLE) / CAST(n_trail*n_trail AS DOUBLE)) AS trail_std,
       (CAST(visits AS DOUBLE) - CAST(sx AS DOUBLE) / n_trail)
         > 3.0 * sqrt(CAST(n_trail*sxx - sx*sx AS DOUBLE) / CAST(n_trail*n_trail AS DOUBLE)) AS is_anomaly
FROM t WHERE n_trail = 30""",
)

# W9/W10 read twin: active variants per minute over the axis (was
# implemented in timeseries.py but previously unregistered).
q(
    "r4b_variants_timeseries",
    lambda s, d: timeseries.variants_timeseries(_ev(s, d)),
    f"""{EV_CTE}, {AXIS_CTE},
g AS (SELECT date_trunc('minute', ts) AS minute,
             count(DISTINCT variant) AS active_variants FROM ev GROUP BY 1)
SELECT a.minute, CAST(coalesce(g.active_variants, 0) AS DOUBLE) AS metric
FROM axis a LEFT JOIN g USING (minute)""",
)

# Dataset-governance composition report over (source, lang).
q(
    "corpus_mix_report",
    sampling.corpus_mix_report,
    """WITH g AS (
  SELECT source, lang, count(*) AS n_docs,
         -- BIGINT cast: DuckDB types sum(int) as HUGEINT which lands in
         -- pandas as float64 and hash-mismatches Spark's int64 (r3 lesson)
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
  FROM documents GROUP BY 1, 2),
t AS (SELECT count(*) AS corpus_docs FROM documents)
SELECT source, lang, n_docs, total_chars, mean_chars,
       CAST(n_docs AS DOUBLE) / corpus_docs AS doc_share
FROM g CROSS JOIN t""",
)

# Two-stage dedup: LSH candidates + exact-Jaccard verification (rows-only;
# precision-1 vs the full quadratic exact pairs asserted in tests).
q(
    "dedup_lsh_exact_jaccard_pairs",
    lambda s, d: dedup.lsh_exact_jaccard_pairs(s, d),
)
# ... and its PORTABLE-permutation twin: both stages (candidate banding
# AND exact-Jaccard verify) re-derived by DuckDB from raw text — the
# two-stage production layout, externally hash-checked end to end.
q(
    "dedup_lsh_exact_jaccard_portable",
    dedup.lsh_exact_jaccard_portable,
    dedup.oracle_lsh_exact_jaccard_portable(),
)

# Retrieval + metadata join: top-k neighbors enriched with the neighbor
# document's language/source (broadcast dimension join on the ANN output).
q(
    "similar_documents_report",
    similarity.similar_documents_report,
    f"""WITH {_ORACLE_NORMS},
q AS (SELECT vec_id AS query_id, qv AS qq FROM e
      WHERE vec_id % {similarity.QUERY_MOD} = 0),
p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             unnest(list_zip(q.qq, e.qv)) AS z
      FROM q JOIN e ON e.vec_id <> q.query_id),
d AS (SELECT query_id, neighbor_id, {oracle_qdot('z[1]', 'z[2]')} AS dot
      FROM p GROUP BY 1, 2),
c AS (SELECT d.query_id, d.neighbor_id,
             {oracle_cosine('d.dot', 'nq.n2', 'nn.n2')} AS cosine
      FROM d
      JOIN n nq ON nq.vec_id = d.query_id
      JOIN n nn ON nn.vec_id = d.neighbor_id),
topk AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM c QUALIFY rank <= 10)
SELECT t.query_id, t.neighbor_id, t.cosine, t.rank,
       dd.lang AS neighbor_lang, dd.source AS neighbor_source
FROM topk t JOIN documents dd ON dd.doc_id = t.neighbor_id""",
)

# Column-level table profile (Deequ/dbt-style ingest gate) in ONE pass:
# multi-distinct via a single Expand + shuffle, stack-unpivoted; the HLL
# twin replaces the distincts with mergeable sketch partials at scale.
q(
    "profile_documents",
    relational.profile_documents,
    relational.oracle_profile_documents(),
)
q("profile_documents_approx", relational.profile_documents_approx)

# Embedding quality gate: cosine of every vector to its label centroid —
# the integer centroid-SUM formulation keeps it exact (cos(x, mean) ==
# cos(x, sum)); the scoring pass is a broadcast zip_with, no vector-table
# shuffle.
q(
    "embedding_outlier_scores",
    similarity.embedding_outlier_scores,
    similarity.oracle_embedding_outliers(),
)

# Per-dimension embedding profile: all-int64 fixed-point stats — the
# feature-normalization / dead-dimension audit; O(width) aggregate state.
q(
    "embedding_dim_stats",
    similarity.embedding_dim_stats,
    similarity.oracle_embedding_dim_stats(),
)
# Distributed power iteration for the dominant principal direction —
# iterative (one scan per iteration, O(d) shuffle state), rows-only like
# kmeans; Rayleigh ascent/eigenpair residual/determinism test-gated.
q("embedding_top_component", similarity.embedding_top_component)
# Block (orthogonal) power iteration — the top-r PCA subspace; same
# one-pass-per-iteration shape with a d×r driver-side QR. Rows-only like
# the single-vector op; planted-axes, orthonormality, determinism, and
# spectral-mass-vs-numpy tests gate it.
q("embedding_top_subspace", similarity.embedding_top_subspace)
# Its consumer: rank-r PCA coordinates per vector (shuffle-free
# projection pass against the broadcast basis). Rows-only — the basis is
# iterative; variance-ordering and norm-bound tests gate it.
q("embedding_subspace_projection", similarity.embedding_subspace_projection)

# Cluster-geometry report: pairwise cosine between per-label integer-SUM
# centroids — k²·d pairwise stage, independent of corpus size; only the
# (label, pos) partial aggregation sees data-sized input.
q(
    "embedding_centroid_cosines",
    similarity.centroid_pairwise_cosine,
    similarity.oracle_centroid_pairwise_cosine(),
)

# Corpus-mixing diagnostics over the documents table: pairwise source
# vocabulary Jaccard (vocabulary-sized self-join, never corpus-sized) and
# a per-source Zipf log-log OLS fit (hapax-pruned, top-256-capped window).
q(
    "vocab_overlap_sources",
    text.vocab_overlap_between_sources,
    text.oracle_vocab_overlap(),
)
q(
    "zipf_slope_by_source",
    text.zipf_slope_by_source,
    text.oracle_zipf_slope(),
)


# ---------------------------------------------------------------------------
# Driver-window policy (current; rotation HISTORY lives in COVERAGE.md
# under "Driver-window rotation log"). The driver's correctness gate
# walks ``queries()`` in insertion order under a ~50-key budget, so
# ``_PRIORITY`` below IS the round's external-check window. Ordering
# rules, in priority order:
#   1. Any key red in the previous round, now fixed.
#   2. Keys whose (query, oracle) pairing changed this round — a green
#     row must postdate the change.
#   3. Never-checked oracled keys (the overflow queue).
#   4. Re-checks whose last green predates their operator file's last
#     source change, oldest staleness first.
# Rows-only keys never take a slot (the driver can only record
# ``no_oracle`` for them); their gates are the recall/determinism/
# error-band pytest suites. Keys that do not fit rotate to the next
# round's pool — every rotation is logged in COVERAGE.md with the key
# that carries its coverage in the meantime.
# ---------------------------------------------------------------------------
_PRIORITY = [
    # ===================== ROUND 10 WINDOW =====================
    # VERDICT r9 item 2 executed: 7 slots go to this round's new/changed
    # pairings, the ENTIRE 28-key r4-stale tier rotates in, and 15 slots
    # go to the front of the r5 tier (the verdict's named priorities
    # first). The remaining 15 r5-tier keys are the R11 pool. Rotation
    # history lives in COVERAGE.md "Driver-window rotation log".
    # --- 2. (query, oracle) pairings new or changed this round ---
    # NEW: the TWS initialState backfill-then-stream bootstrap (verdict
    # item 8)
    "stream_stateful_uniques_bootstrap",
    # NEW (r10, late-round): the offline state-store audit family —
    # `statestore`/`state-metadata` reads over the engine's own
    # checkpoints (final-state audit, per-batch time-travel, TWS
    # MapState+ValueState cross-check). Three r5-tier keys rotate to
    # the R11 pool to keep the 50-slot budget.
    "stream_state_reader_uniques",
    "stream_state_time_travel",
    "stream_state_reader_tws",
    "stream_state_changelog",
    # oracle changed: empty-fixture step guard greatest(1, …) (r9 advice)
    "stream_duplicate_delivery_audit",
    "stream_late_arrivals_audit",
    # engine changed: updates-builder extraction for the recovery suite
    # (uniques_updates / sessions_updates / tws_uniques_updates /
    # IngestDedupWriter) — behavior-neutral, but a green row must
    # postdate the refactor
    "stream_stateful_uniques_per_variant",
    "stream_stateful_uniques_tws",
    "stream_sessions_ttl",
    "stream_ingest_dedup",
    # --- 4b. the ENTIRE r4-stale tier (28 keys, oldest first) ---
    "ann_topk_int8",
    "chunk_documents_overlap",
    "corpus_apply_updates",
    "corpus_curated_pipeline",
    "corpus_length_clip",
    "corpus_mix_report",
    "corpus_train_val_test_split",
    "dedup_bow_groups",
    "dedup_cluster_size_histogram",
    "dedup_connected_components_star",
    "dedup_keep_best_per_cluster",
    "embedding_centroid_cosines",
    "embedding_dim_stats",
    "embedding_outlier_scores",
    "events_activity_heatmap",
    "events_heavy_hitter_users",
    "events_key_skew_profile",
    "lang_confusion_matrix",
    "multimodal_decode_audio",
    "multimodal_decode_gray",
    "multimodal_resample_audio",
    "multimodal_sample_video_frames",
    "profile_documents",
    "sample_documents_weighted",
    "sample_weighted_per_language",
    "text_repetition_signals",
    "text_sentence_stats",
    "vocab_overlap_sources",
    # --- 4c. the front of the r5-stale tier (15 keys; verdict-named
    # priorities first) ---
    "ann_ivf_exact_topk",
    "ann_topk_pq",
    "kmeans_exact_centroids",
    "embedding_top_component_exact",
    "text_bm25_topk",
    "ann_hamming_rerank_topk",
    "ann_ivf_persisted_topk",
    "ann_topk_hamming",
    "corpus_leakage_free_split",
    "corpus_remove_boilerplate",
    "corpus_temperature_mix",
    # R11 POOL (the remaining 19 r5-tier keys; the last four displaced
    # by the r10 state-reader family, all four sf1-sweep-green this
    # round): dedup_containment_pairs, dedup_cross_source_matrix,
    # dedup_graph_triangles,
    # dedup_pagerank_centrality, embedding_pc1_scores,
    # events_zorder_layout, hybrid_rrf_topk, multimodal_audio_frames,
    # multimodal_image_histogram, retrieval_eval_report,
    # rolling_week_user_value, stream_decontamination_gate,
    # stream_image_ingest_features, stream_ivf_assign,
    # stream_postings_ingest, text_bigram_logprob_scores,
    # text_bm25_topk_capped, text_hashed_features,
    # text_unigram_logprob_scores.
]


def _reorder_registry() -> None:
    missing = [k for k in _PRIORITY if k not in QUERIES]
    assert not missing, f"_PRIORITY names unknown keys: {missing}"
    rest_sql = [k for k in QUERIES if k not in _PRIORITY and k in ORACLE]
    rest_rows = [k for k in QUERIES if k not in _PRIORITY and k not in ORACLE]
    order = [*_PRIORITY, *rest_sql, *rest_rows]
    for d in (QUERIES, ORACLE):
        items = {k: d[k] for k in order if k in d}
        d.clear()
        d.update(items)


_reorder_registry()
