"""Text analysis over the ``documents`` table (north-star extension).

Language-ID (stopword heuristic) + its confusion-matrix evaluation,
quality scoring and the assembled per-gate quality verdict, token
counting, lexical diversity (entropy/TTR), sentence stats, document
fingerprinting, corpus bigrams / PMI collocations, tf-idf, vocabulary
coverage, and n-gram LM scoring — all pure Catalyst expressions (split /
higher-order array functions / regexp / md5), no Python UDFs: the hot
paths stay inside whole-stage codegen; the only shuffles are keyed token/
gram counts with map-side partial aggregation.

Determinism: ratios are int/int double divisions (IEEE-exact), score
formulas use only +,*,/ on those, and fingerprints are md5 — so every query
here is oracle-checkable bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dquant, oracle_dquant, oracle_dsum12
from ..tables import load, persisted, spread

#: Top-k sizes: bigrams / PMI collocations, TF-IDF terms per doc, BM25 hits.
BIGRAM_TOP_K = 50
TFIDF_TOP_K = 3
BM25_K = 5
#: Min bigram count of a PMI collocation.
PMI_MIN_COUNT = 5
#: Vocabulary size of the coverage report.
VOCAB_SIZE = 1000
#: Additive smoothing of the bigram language model.
BIGRAM_ALPHA = 0.5
#: BPE: merge rounds and the doc sample (every BPE_DOC_MOD-th doc).
BPE_MERGES = 3
BPE_DOC_MOD = 10

#: Explicit whitespace class, spelled identically for Java (Spark) and RE2
#: (DuckDB). Java's ``\s`` is ``[ \t\n\x0B\f\r]`` but RE2's ``\s`` omits
#: ``\x0B`` (vertical tab), so no pattern here may use bare ``\s`` — the
#: class is written out on both sides (round-1 ADVICE; verified divergence
#: on \x0B-bearing text).
WS = r" \t\n\x0B\f\r"  # class body, Java spelling (upper-hex \x0B)
WS_SQL = r" \t\n\x0b\f\r"  # class body, RE2/DuckDB spelling

#: Tokenization shared by all text operators (and their SQL oracles):
#: whitespace split of trimmed text.
TOKEN_RE = rf"[{WS}]+"
#: TOKEN_RE with backslashes doubled for embedding in F.expr SQL literals
#: (the SQL string parser consumes one level of escaping).
TOKEN_EXPR = TOKEN_RE.replace("\\", "\\\\")
#: TOKEN_RE for DuckDB oracle SQL (single-quoted literals pass through to
#: RE2 unmodified — no extra escaping level).
TOKEN_SQL = rf"[{WS_SQL}]+"

#: Stopword marker lists for the language-ID heuristic. Scores count
#: *distinct* tokens appearing in each list; argmax with a fixed
#: priority order (EN > DE > ES > FR > ZH) on ties.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "mit", "für", "von", "auf", "ein"],
    "es": ["el", "la", "de", "y", "en", "es", "por", "con", "para", "un"],
    "fr": ["le", "la", "de", "et", "en", "est", "pour", "que", "dans", "un"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这"],
}

#: Generic stopword list for the quality score's stopword ratio.
QUALITY_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]


def _member_count(tokens: Column, words: list[str], distinct: bool) -> Column:
    arr = F.array_distinct(tokens) if distinct else tokens
    lit_list = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(arr, lambda t: F.array_contains(lit_list, t)))


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, mean token
    length, and a BPE-ish regex unit count (letter runs / single digits /
    single punctuation — a cheap proxy for subword token count)."""
    docs = spread(load(spark, sf_dir, "documents"))
    # tokenize once per row in its own projection (see fingerprints note)
    tokd = docs.select(
        "doc_id", "text", F.expr(f"split(trim(text), '{TOKEN_EXPR}')").alias("t")
    )
    return tokd.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct_tokens"),
        (
            F.expr("aggregate(transform(t, x -> length(x)), 0, (a, x) -> a + x)")
            / F.size("t")
        ).alias("avg_token_len"),
        F.regexp_count(F.col("text"), F.lit(rf"[a-z]+|[0-9]|[^a-z0-9{WS}]")).alias("n_bpe_units"),
    )


def quality_projection(docs: DataFrame) -> DataFrame:
    """Row-local quality-score projection over any frame with
    (doc_id, text) — shared by the batch operator and its streaming twin
    (stateless, so it drops into a streaming plan unchanged).

    score = 0.5·min(n_tokens,100)/100 + 0.3·(1 − punct_ratio)
          + 0.2·stopword_ratio
    """
    docs = docs.select(
        "doc_id", "text", F.expr(f"split(trim(text), '{TOKEN_EXPR}')").alias("t")
    )
    toks = F.col("t")
    n_tokens = F.size(toks)
    punct = F.regexp_count(F.col("text"), F.lit(rf"[^a-z0-9{WS}]"))
    stop_hits = _member_count(toks, QUALITY_STOPWORDS, distinct=False)
    # empty text -> punct_ratio 0.0 (no character evidence), NOT a crash:
    # ANSI division by length('') = 0 took down every quality consumer on
    # the r7 adversarial fixture, and empty docs exist in any real corpus
    punct_ratio = F.when(
        F.length("text") > 0, punct / F.length("text")
    ).otherwise(F.lit(0.0))
    stop_ratio = stop_hits / n_tokens
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (
            F.least(n_tokens, F.lit(100)) / 100.0 * 0.5
            + (F.lit(1.0) - punct_ratio) * 0.3
            + stop_ratio * 0.2
        ).alias("quality"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality over the ``documents`` table — see
    :func:`quality_projection` for the formula."""
    return quality_projection(spread(load(spark, sf_dir, "documents")))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-list language ID with deterministic argmax tie-break.

    Output: (doc_id, lang, lang_pred, plus one score column per language).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    docs = docs.select(
        "doc_id", "lang", F.expr(f"split(trim(text), '{TOKEN_EXPR}')").alias("t")
    )
    toks = F.col("t")
    scores = {
        lang: _member_count(toks, words, distinct=True).alias(f"score_{lang}")
        for lang, words in LANG_STOPWORDS.items()
    }
    df = docs.select("doc_id", "lang", *scores.values())
    langs = list(LANG_STOPWORDS)
    pred = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return df.withColumn("lang_pred", F.coalesce(pred, F.lit(langs[-1])))


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text, plus the
    minimum md5 over all 5-token shingles (a winnowing-style rolling
    fingerprint — equal for documents sharing their most-extreme shingle).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), TOKEN_RE, " ")
    # tokenize ONCE in its own projection: referencing split() inside the
    # transform lambda re-splits per shingle position (benched 0.44 s vs
    # 0.28 s at sf0.1 for the pre-tokenized form)
    tokd = docs.select(
        "doc_id", "text", F.expr(f"split(trim(text), '{TOKEN_EXPR}')").alias("t")
    )
    # <5 tokens -> NULL (no 5-token shingle exists; row is kept). The
    # unguarded form CRASHED on short docs: Spark sequence(0, n) with
    # n < 0 generates a DESCENDING sequence, so slice() saw start 0.
    shingle_min = F.expr(
        "CASE WHEN size(t) >= 5 THEN "
        "array_min(transform(sequence(0, size(t) - 5), "
        "i -> md5(concat_ws(' ', slice(t, i + 1, 5))))) "
        "ELSE NULL END"
    )
    return tokd.select(
        "doc_id", F.md5(norm).alias("fingerprint"), shingle_min.alias("min_shingle_fp")
    )


# ---------------------------------------------------------------------------
# Oracle SQL builders (kept next to the Spark logic so the two stay in sync)
# ---------------------------------------------------------------------------
_SQL_TOKENS = f"string_split_regex(trim(text), '{TOKEN_SQL}')"


def oracle_token_stats() -> str:
    return f"""SELECT doc_id,
  CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct({_SQL_TOKENS})) AS INTEGER) AS n_distinct_tokens,
  CAST(list_aggregate(list_transform({_SQL_TOKENS}, t -> length(t)), 'sum') AS INTEGER)
    / CAST(len({_SQL_TOKENS}) AS INTEGER) AS avg_token_len,
  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9{WS_SQL}]')) AS INTEGER) AS n_bpe_units
FROM documents"""


def oracle_quality_score() -> str:
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars_measured,
  CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
  CASE WHEN length(text) > 0
       THEN CAST(len(regexp_extract_all(text, '[^a-z0-9{WS_SQL}]')) AS INTEGER)
            / CAST(length(text) AS INTEGER) ELSE 0.0 END AS punct_ratio,
  CAST(len(list_filter({_SQL_TOKENS}, t -> t IN ({stop}))) AS INTEGER)
    / CAST(len({_SQL_TOKENS}) AS INTEGER) AS stopword_ratio,
  least(CAST(len({_SQL_TOKENS}) AS INTEGER), 100) / 100.0 * 0.5
    + (1.0 - CASE WHEN length(text) > 0
              THEN CAST(len(regexp_extract_all(text, '[^a-z0-9{WS_SQL}]')) AS INTEGER)
                   / CAST(length(text) AS INTEGER) ELSE 0.0 END) * 0.3
    + CAST(len(list_filter({_SQL_TOKENS}, t -> t IN ({stop}))) AS INTEGER)
        / CAST(len({_SQL_TOKENS}) AS INTEGER) * 0.2 AS quality
FROM documents"""


def oracle_lang_id() -> str:
    score_exprs = []
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"CAST(len(list_filter(list_distinct({_SQL_TOKENS}), t -> t IN ({lst}))) AS INTEGER) AS score_{lang}"
        )
    langs = list(LANG_STOPWORDS)
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""WITH scored AS (
  SELECT doc_id, lang, {', '.join(score_exprs)} FROM documents
)
SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
       {case_sql} AS lang_pred
FROM scored"""


def oracle_fingerprints() -> str:
    # NOTE the short-doc rule matches the engine: <5 tokens -> NULL min
    # shingle, row KEPT (the old unnest() formulation silently DROPPED
    # short docs while the engine crashed — two different wrongs).
    return f"""WITH toks AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '{TOKEN_SQL}', ' ', 'g')) AS fingerprint,
         {_SQL_TOKENS} AS tokens
  FROM documents
)
SELECT doc_id, fingerprint,
       CASE WHEN len(tokens) >= 5 THEN
         list_aggregate(list_transform(generate_series(1, len(tokens) - 4),
           i -> md5(array_to_string(tokens[i : i + 4], ' '))), 'min')
       ELSE NULL END AS min_shingle_fp
FROM toks"""


# --- Corpus-wide n-gram statistics -------------------------------------------
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``BIGRAM_TOP_K`` most frequent lowercased token bigrams across the corpus
    (count = total occurrences, not distinct-per-doc). Explode → one
    count shuffle keyed by the bigram → TakeOrderedAndProject top-k; at
    any corpus size the shuffle carries per-partition partial counts.
    Deterministic tie-break on the bigram string."""
    docs = spread(load(spark, sf_dir, "documents"))
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], so docs with
    # <2 tokens must short-circuit to an empty array, not hit the transform
    bigram = F.explode(
        F.expr(
            f"CASE WHEN size(split(trim(lower(text)), '{TOKEN_EXPR}')) >= 2 THEN "
            f"transform(sequence(1, size(split(trim(lower(text)), '{TOKEN_EXPR}')) - 1), "
            f"i -> concat_ws(' ', slice(split(trim(lower(text)), '{TOKEN_EXPR}'), i, 2))) "
            "ELSE array() END"
        )
    ).alias("bigram")
    return (
        docs.select(bigram)
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(BIGRAM_TOP_K)
    )


def oracle_top_bigrams() -> str:
    return f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '{TOKEN_SQL}') AS t FROM documents),
bg AS (
  SELECT array_to_string(t[i : i + 1], ' ') AS bigram
  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i FROM toks)
  WHERE len(t) >= 2)
SELECT bigram, count(*) AS n FROM bg
GROUP BY 1 ORDER BY n DESC, bigram LIMIT {BIGRAM_TOP_K}"""


# --- TF-IDF ------------------------------------------------------------------
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP_K`` characteristic terms per document by tf-idf.

    tf = occurrences of the term in the doc; idf = ln(N / df) with df =
    number of docs containing the term. Ranking uses the INTEGER pair
    (tf, -df) with a term-string tie-break — fully deterministic across
    engines — so the float tfidf is a reported value, never a sort key
    (a 1-ulp ln() difference can never flip row membership).

    Plan: explode → (doc, term) counts [shuffle 1] → term df [shuffle 2,
    carries one row per distinct term] broadcast back → per-doc top-k via
    ranking window [shuffle 3 keyed by doc_id]. N is a 1-row broadcast.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "df", "term")
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            dquant(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), "tfidf"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


def oracle_tfidf_top_terms() -> str:
    return f"""WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
ranked AS (
  SELECT doc_id, term, tf, df, n_docs,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df, term) AS rn
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df,
       {oracle_dquant("tf * ln(CAST(n_docs AS DOUBLE) / df)")} AS tfidf,
       CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= {TFIDF_TOP_K}"""


# --- Vocabulary building -----------------------------------------------------
def vocabulary_coverage(
    spark: SparkSession, sf_dir: str, v: int = VOCAB_SIZE
) -> DataFrame:
    """Top-``v`` corpus vocabulary with cumulative token coverage — the
    tokenizer-training precursor (how many types cover what fraction of
    the token stream). Output: (rank, token, freq, cum_coverage).

    Plan: explode → one count shuffle keyed by token (map-side partial
    counts) → TakeOrderedAndProject top-v (parallel; no global sort of
    the vocabulary) → rank/running-sum window over the V-ROW result —
    that window is single-partition by construction but bounded by ``v``,
    never by data size. Total token count is a 1-row broadcast.
    Deterministic tie-break on the token string; coverage is an exact
    int/int division reported as double.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("freq"))
    total = toks.agg(F.count("*").alias("total_tokens"))
    top = freq.orderBy(F.desc("freq"), "token").limit(v)
    w = Window.orderBy(F.desc("freq"), "token")
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "token",
            "freq",
            (
                F.sum("freq")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double")
                / F.col("total_tokens")
            ).alias("cum_coverage"),
        )
    )


def oracle_vocabulary_coverage() -> str:
    return f"""WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS token
  FROM documents),
freq AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS total_tokens FROM toks),
top AS (SELECT token, freq FROM freq ORDER BY freq DESC, token LIMIT {VOCAB_SIZE})
SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS INTEGER) AS rank,
       token, freq,
       CAST(SUM(freq) OVER (ORDER BY freq DESC, token
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / (SELECT total_tokens FROM tot) AS cum_coverage
FROM top"""


# --- Unigram-LM quality scoring ----------------------------------------------
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram LM — the classical perplexity-proxy quality filter (gibberish
    and boilerplate score low; fluent text scores high). Output:
    (doc_id, n_tokens, avg_logp).

    Plan: explode → token counts [shuffle keyed by token] → join the
    frequency table back to the token stream (AQE picks broadcast while
    the vocabulary fits; at web-corpus vocab sizes it becomes a shuffle
    join on the uniform token key) → per-doc aggregate. Determinism: the
    per-token logs go through the decimal-sum convention
    (functions.numeric) so the per-doc mean is order-independent and
    engine-portable.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias("token"),
    )
    freq = terms.groupBy("token").agg(F.count("*").alias("freq"))
    total = terms.agg(F.count("*").alias("total_tokens"))
    logp = F.log(F.col("freq").cast("double") / F.col("total_tokens"))
    return (
        terms.join(freq, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.sum(logp.cast("decimal(38,12)")).cast("double") / F.count("*")
            ).alias("avg_logp"),
        )
    )


def oracle_unigram_logprob_scores() -> str:
    return f"""WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS token
  FROM documents),
freq AS (SELECT token, count(*) AS freq FROM terms GROUP BY 1),
tot AS (SELECT count(*) AS total_tokens FROM terms)
SELECT doc_id, count(*) AS n_tokens,
       {oracle_dsum12("ln(CAST(freq AS DOUBLE) / total_tokens)")}
         / count(*) AS avg_logp
FROM terms JOIN freq USING (token) CROSS JOIN tot
GROUP BY doc_id"""


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-α-smoothed bigram LM — the second-order perplexity-proxy filter
    (:func:`unigram_logprob_scores` scores token frequency; this scores
    token ORDER, so shuffled/templated text that fools the unigram gate
    scores low here). ``P(w2|w1) = (c(w1,w2)+α) / (ctx(w1)+α·V)`` with
    ``ctx(w1)`` = occurrences of w1 as a bigram context and ``V`` the
    corpus vocabulary size. Output: (doc_id, n_bigrams, avg_logp).

    Plan: bigram pairs are a row-local array transform (no shuffle to
    build), then two count aggregations and a frequency join back to the
    pair stream (AQE broadcasts while the bigram table fits; at web scale
    it is a shuffle join on the uniform pair key) + a 1-row broadcast for
    V. Decimal-sum mean keeps the per-doc score order-independent and
    engine-portable — same discipline as the unigram scorer.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE).alias("toks")
    ).where(F.size("toks") >= 2)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        docs.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias("t"))
        .agg(F.count_distinct("t").alias("v"))
    )
    logp = F.log(
        (F.col("c12") + F.lit(BIGRAM_ALPHA)) / (F.col("c1") + F.lit(BIGRAM_ALPHA) * F.col("v"))
    )
    return (
        pairs.join(c12, ["w1", "w2"])
        .join(ctx, "w1")
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum(logp.cast("decimal(38,12)")).cast("double") / F.count("*")
            ).alias("avg_logp"),
        )
    )


def oracle_bigram_logprob_scores() -> str:
    return f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '{TOKEN_SQL}') AS t
  FROM documents),
pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) u(i)
  WHERE len(t) >= 2),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
v AS (SELECT count(DISTINCT token) AS v
      FROM (SELECT unnest(t) AS token FROM toks))
SELECT doc_id, count(*) AS n_bigrams,
       {oracle_dsum12(f"ln((c12 + {BIGRAM_ALPHA}) / (c1 + {BIGRAM_ALPHA} * v))")}
         / count(*) AS avg_logp
FROM pairs JOIN c12 USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
GROUP BY doc_id"""


#: Masking patterns for :func:`normalize_mask` — whitespace spelled as an
#: explicit class (see ``WS``/``WS_SQL``); everything else is in the regex
#: subset Java and RE2 interpret identically, so the oracle is bit-exact.
URL_RE = rf"https?://[^{WS}]+"
URL_SQL = rf"https?://[^{WS_SQL}]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM_RE = r"[0-9]{4,}"


def normalize_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training text normalization: mask URLs / emails / long digit
    runs, lowercase, collapse runs of whitespace — with per-document mask
    counts for corpus-quality telemetry. Pure per-row ``regexp_replace`` /
    ``regexp_count`` projections: no shuffle, stays in whole-stage codegen,
    scales linearly to any corpus size.

    Each count is taken on the progressively-masked intermediate (URLs on
    raw text, emails on URL-masked text, digit runs on URL+email-masked
    text), so ``n_*`` equals the number of replacements actually performed
    — a digit run inside a URL is not double-counted (round-1 ADVICE).

    The reference has no cleaning stage (its generator emits clean JSON,
    loggen/message_generator.py:79-88); this is north-star surface for the
    documents table.
    """
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    url_masked = F.regexp_replace(t, URL_RE, "<URL>")
    email_masked = F.regexp_replace(url_masked, EMAIL_RE, "<EMAIL>")
    num_masked = F.regexp_replace(email_masked, LONGNUM_RE, "<NUM>")
    clean = F.trim(F.regexp_replace(F.lower(num_masked), TOKEN_RE, " "))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).alias("clean_chars"),
        F.regexp_count(t, F.lit(URL_RE)).cast("bigint").alias("n_urls"),
        F.regexp_count(url_masked, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(email_masked, F.lit(LONGNUM_RE)).cast("bigint").alias("n_longnums"),
    )


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction
    of the token stream consumed by the single most frequent bigram
    (``top_bigram_frac``), the fraction of trigram occurrences whose gram
    repeats within the document (``dup_trigram_frac``), and the distinct-
    token ratio — the standard filters for boilerplate / degenerate /
    looping text in a pre-training corpus (Rae et al. 2021, §A1.1).

    Plan: tokenize once, synthesize 2- and 3-grams as ONE prefixed array
    (``"2:w1 w2"`` / ``"3:w1 w2 w3"``) so a single explode + one
    (doc_id, gram) count shuffle serves both gram sizes; the per-doc
    rollup re-shuffles only (doc_id, 4 longs). Both shuffles carry
    map-side partial aggregates; keys are uniformly distributed (doc_id
    crossed with gram text), so no skew at any corpus size. Fractions are
    int/int double divisions — IEEE-exact, oracle-checkable bit-exactly.

    The reference has no document-quality surface (north-star extension);
    tokenization is shared with :func:`top_bigrams` (lowercased trimmed
    whitespace split).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    tokd = docs.select(
        "doc_id", F.expr(f"split(trim(lower(text)), '{TOKEN_EXPR}')").alias("t")
    )
    # sequence(1, 0) yields a DESCENDING [1, 0] — guard short docs to an
    # empty array (same footgun as top_bigrams).
    grams = tokd.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat("
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
                "  i -> concat('2:', concat_ws(' ', slice(t, i, 2)))) ELSE array() END, "
                "CASE WHEN size(t) >= 3 THEN transform(sequence(1, size(t) - 2), "
                "  i -> concat('3:', concat_ws(' ', slice(t, i, 3)))) ELSE array() END)"
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count("g").alias("cnt"))
    is2 = F.col("g").startswith("2:")
    is3 = F.col("g").startswith("3:")
    per_doc = counts.groupBy("doc_id").agg(
        F.coalesce(F.sum(F.when(is2, F.col("cnt"))), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.max(F.when(is2, F.col("cnt"))), F.lit(0)).alias("top_bigram_count"),
        F.coalesce(F.sum(F.when(is3, F.col("cnt"))), F.lit(0)).alias("n_trigrams"),
        F.coalesce(
            F.sum(F.when(is3 & (F.col("cnt") > 1), F.col("cnt"))), F.lit(0)
        ).alias("dup_trigram_occurrences"),
    )
    stats = tokd.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias(
            "distinct_token_ratio"
        ),
    )
    return stats.join(per_doc, "doc_id").select(
        "doc_id",
        "n_tokens",
        "distinct_token_ratio",
        "n_bigrams",
        "top_bigram_count",
        F.when(
            F.col("n_bigrams") > 0,
            F.col("top_bigram_count").cast("double") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        "n_trigrams",
        F.when(
            F.col("n_trigrams") > 0,
            F.col("dup_trigram_occurrences").cast("double") / F.col("n_trigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    ).select(
        "doc_id",
        "n_tokens",
        "distinct_token_ratio",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("top_bigram_count").cast("bigint").alias("top_bigram_count"),
        "top_bigram_frac",
        F.col("n_trigrams").cast("bigint").alias("n_trigrams"),
        "dup_trigram_frac",
    )


def oracle_repetition_signals() -> str:
    return f"""WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '{TOKEN_SQL}') AS tk
  FROM documents),
g AS (
  SELECT doc_id, unnest(list_concat(
    CASE WHEN len(tk) >= 2 THEN
      list_transform(generate_series(1, len(tk) - 1),
                     i -> '2:' || array_to_string(tk[i : i + 1], ' '))
    ELSE [] END,
    CASE WHEN len(tk) >= 3 THEN
      list_transform(generate_series(1, len(tk) - 2),
                     i -> '3:' || array_to_string(tk[i : i + 2], ' '))
    ELSE [] END)) AS gm
  FROM t),
c AS (SELECT doc_id, gm, count(*) AS cnt FROM g GROUP BY 1, 2),
a AS (
  SELECT doc_id,
    CAST(coalesce(sum(CASE WHEN gm LIKE '2:%' THEN cnt END), 0) AS BIGINT) AS n_bigrams,
    CAST(coalesce(max(CASE WHEN gm LIKE '2:%' THEN cnt END), 0) AS BIGINT) AS top_bigram_count,
    CAST(coalesce(sum(CASE WHEN gm LIKE '3:%' THEN cnt END), 0) AS BIGINT) AS n_trigrams,
    CAST(coalesce(sum(CASE WHEN gm LIKE '3:%' AND cnt > 1 THEN cnt END), 0) AS BIGINT) AS dup3
  FROM c GROUP BY 1)
SELECT t.doc_id,
  CAST(len(tk) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_token_ratio,
  a.n_bigrams,
  a.top_bigram_count,
  CASE WHEN a.n_bigrams > 0
       THEN CAST(a.top_bigram_count AS DOUBLE) / a.n_bigrams ELSE 0.0 END
    AS top_bigram_frac,
  a.n_trigrams,
  CASE WHEN a.n_trigrams > 0
       THEN CAST(a.dup3 AS DOUBLE) / a.n_trigrams ELSE 0.0 END
    AS dup_trigram_frac
FROM t JOIN a USING (doc_id)"""


def oracle_normalize_mask() -> str:
    email = EMAIL_RE
    longnum = LONGNUM_RE
    return f"""WITH staged AS (
  SELECT doc_id, text,
    regexp_replace(text, '{URL_SQL}', '<URL>', 'g') AS url_masked
  FROM documents),
staged2 AS (
  SELECT *, regexp_replace(url_masked, '{email}', '<EMAIL>', 'g') AS email_masked
  FROM staged)
SELECT doc_id,
  trim(regexp_replace(lower(
    regexp_replace(email_masked, '{longnum}', '<NUM>', 'g')),
    '{TOKEN_SQL}', ' ', 'g')) AS clean_text,
  CAST(length(clean_text) AS BIGINT) AS clean_chars,
  CAST(len(regexp_extract_all(text, '{URL_SQL}')) AS BIGINT) AS n_urls,
  CAST(len(regexp_extract_all(url_masked, '{email}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(email_masked, '{longnum}')) AS BIGINT) AS n_longnums
FROM staged2"""


def vocab_overlap_between_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap (token-set Jaccard) between document
    sources — the standard corpus-mixing diagnostic: two sources with
    near-identical vocabularies are redundant in a data mixture, and a
    source whose vocabulary overlaps nothing is a likely encoding/quality
    problem.

    Plan: explode to (source, token), collapse to the DISTINCT vocabulary
    (a partial-aggregating shuffle over vocabulary-sized — not corpus-
    sized — data), then self-join the vocab table on ``token``. Each token
    contributes at most |sources|² pair rows, so the join output is
    O(vocab · s²) with s = #sources (tiny); per-source vocab sizes are an
    s-row table, broadcast to both ends of the final projection. No stage
    ever materializes corpus-sized intermediates, so the shape holds at
    100 TB. Jaccard is an int/int double division — IEEE-exact and
    SQL-oracled bit-exactly.

    The reference has no corpus surface (north-star extension);
    tokenization is shared with :func:`top_bigrams`.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    vocab = (
        docs.select(
            "source",
            F.explode(F.expr(f"split(trim(lower(text)), '{TOKEN_EXPR}')")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("vocab"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(b, "tok")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b"))
    # EVERY unordered source pair appears in the output — a fully disjoint
    # (e.g. mojibake) source is the operator's headline finding, so its
    # pairs must show up as jaccard = 0, not vanish from the inner join.
    # The pair grid is the s²-row cross of the tiny sizes table (broadcast
    # nested-loop, corpus-size-independent), left-joined to intersections.
    pairs = sa.join(F.broadcast(sb), F.col("source_a") < F.col("source_b"))
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0)))
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def oracle_vocab_overlap() -> str:
    return f"""WITH vocab AS (
  SELECT DISTINCT source, tok
  FROM (SELECT source,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS tok
        FROM documents)
  WHERE tok <> ''),
sizes AS (SELECT source, count(*) AS vocab FROM vocab GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM vocab a JOIN vocab b USING (tok)
  WHERE a.source < b.source GROUP BY 1, 2),
pairs AS (
  SELECT sa.source AS source_a, sb.source AS source_b,
         sa.vocab AS vocab_a, sb.vocab AS vocab_b
  FROM sizes sa JOIN sizes sb ON sa.source < sb.source)
SELECT p.source_a, p.source_b,
       CAST(p.vocab_a AS BIGINT) AS vocab_a,
       CAST(p.vocab_b AS BIGINT) AS vocab_b,
       CAST(coalesce(i.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(coalesce(i.n_shared, 0) AS DOUBLE)
         / (p.vocab_a + p.vocab_b - coalesce(i.n_shared, 0)) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b"""


#: Zipf fit: ranks past this depth are dropped before the log-log OLS —
#: the head of the frequency curve is where the Zipf exponent lives, and
#: the cap bounds the per-source float summation (≤256 terms) so the
#: slope is stable to far below the 1e-6 comparison grain.
ZIPF_TOP_RANKS = 256


def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: OLS slope/intercept of ln(term frequency)
    against ln(frequency rank) over each source's top-256 terms. Natural
    text follows slope ≈ −1; a much flatter slope flags templated or
    machine-generated sources, a much steeper one flags degenerate
    repetition — a cheap whole-source quality gate for mixture design.

    Plan: (source, term) counts shuffle once with map-side partials
    (vocabulary-sized, uniformly keyed). Hapax terms (count 1) are
    dropped BEFORE the per-source ranking window — at web scale the
    hapax tail is the majority of the vocabulary, so the single-partition
    window each source pays only sees the surviving head, and the window
    itself is cut to ``ZIPF_TOP_RANKS`` rows. The OLS closed form
    ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` runs as one tiny aggregation.
    Rank ties are broken by term text so both engines rank identically.

    The reference has no corpus surface (north-star extension).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            "source",
            F.explode(F.expr(f"split(trim(lower(text)), '{TOKEN_EXPR}')")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("term"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ZIPF_TOP_RANKS)
        .select(
            "source",
            # quantize the ln values to 12 dp (dquant): collapses the
            # 1-ulp Math.log-vs-libm divergence AND makes the per-term
            # doubles exactly representable at scale 12, so the decimal
            # accumulators below are exact and order-independent
            dquant(F.log(F.col("rank").cast("double")), "x"),
            dquant(F.log(F.col("cnt").cast("double")), "y"),
        )
    )
    agg = ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).cast("double").alias("sxx"),
    # a single ranked term makes the OLS denominator exactly 0 (0/0 is
    # engine-dependent: Spark NaN vs DuckDB error) — drop degenerate
    # sources on BOTH sides instead
    ).where(F.col("n_terms") >= 2)
    slope = (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        "source",
        "n_terms",
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n_terms")).alias("zipf_intercept"),
    )


def oracle_zipf_slope() -> str:
    return f"""WITH counts AS (
  SELECT source, term, count(*) AS cnt
  FROM (SELECT source,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS term
        FROM documents)
  WHERE term <> ''
  GROUP BY 1, 2
  HAVING count(*) > 1),
ranked AS (
  SELECT source,
         {oracle_dquant("ln(CAST(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS DOUBLE))")} AS x,
         {oracle_dquant("ln(CAST(cnt AS DOUBLE))")} AS y
  FROM counts
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term)
          <= {ZIPF_TOP_RANKS}),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
         {oracle_dsum12("x")} AS sx,
         {oracle_dsum12("y")} AS sy,
         {oracle_dsum12("x * y")} AS sxy,
         {oracle_dsum12("x * x")} AS sxx
  FROM ranked GROUP BY 1
  HAVING count(*) >= 2)
SELECT source, n_terms,
       (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) AS zipf_slope,
       (sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) * sx) / n_terms
         AS zipf_intercept
FROM agg"""


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy (nats) and type-token ratio —
    two classic lexical-diversity quality gates for training-data
    filtering: near-zero entropy flags boilerplate/keyword-stuffed spam,
    low TTR flags repetitive machine-generated text.

    Output: (doc_id, n_tokens, n_types, type_token_ratio, entropy).

    Entropy is computed as ``ln(n) - sum(c*ln(c))/n`` over per-doc token
    counts c — one explode + two keyed aggregations, all inside codegen.
    Determinism: the float ``c*ln(c)`` terms go through the decimal-sum
    convention (functions.numeric) so the per-doc sum is
    order-independent; the FINAL ``ln(n) - sum/n`` expression is
    additionally quantized to decimal(38,12) on both engine and oracle
    sides, because ``ln`` itself is only correctly-rounded to within
    1 ulp and Java's Math.log and libm disagree in the last bit on some
    inputs (observed: 8/500 sf0.01 docs). Scale: the shuffle key is
    (doc_id, token) — uniform
    by construction; partial aggregation collapses repeated tokens
    map-side, so reducer input is O(types), not O(tokens).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    clnc = F.col("c").cast("double") * F.log(F.col("c").cast("double"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(clnc.cast("decimal(38,12)")).cast("double").alias("sum_clnc"),
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        (F.col("n_types").cast("double") / n).alias("type_token_ratio"),
        dquant(F.log(n) - F.col("sum_clnc") / n, "entropy"),
    )


def oracle_token_entropy() -> str:
    return f"""WITH counts AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS token
        FROM documents)
  WHERE token <> ''
  GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
         {oracle_dsum12("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")}
           AS sum_clnc
  FROM counts GROUP BY 1)
SELECT doc_id, n_tokens, n_types,
       CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
       {oracle_dquant("ln(CAST(n_tokens AS DOUBLE)) - sum_clnc / CAST(n_tokens AS DOUBLE)")}
         AS entropy
FROM per_doc"""


def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence segmentation stats — mean sentence length is
    a standard fluency signal (wall-of-text and fragment spam both sit in
    the tails). Sentences are maximal segments between ``[.!?]`` runs with
    at least one token after trimming.

    Output: (doc_id, n_sentences, n_sentence_tokens, avg_sentence_tokens).

    Pure per-row higher-order array expressions (split / filter /
    transform / aggregate) — no shuffle at all; scales embarrassingly.
    """
    docs = load(spark, sf_dir, "documents")
    segs = F.expr(r"filter(split(text, '[.!?]+'), s -> trim(s) != '')")
    tok_counts = F.expr(
        f"transform(filter(split(text, '[.!?]+'), s -> trim(s) != ''), "
        f"s -> size(split(trim(s), '{TOKEN_EXPR}')))"
    )
    n_sent = F.size(segs)
    n_tok = F.expr(
        f"aggregate(transform(filter(split(text, '[.!?]+'), s -> trim(s) != ''), "
        f"s -> size(split(trim(s), '{TOKEN_EXPR}'))), 0, (a, v) -> a + v)"
    )
    return docs.select(
        "doc_id",
        n_sent.cast("int").alias("n_sentences"),
        n_tok.cast("int").alias("n_sentence_tokens"),
        F.when(
            n_sent > 0, n_tok.cast("double") / n_sent.cast("double")
        ).alias("avg_sentence_tokens"),
    )


def oracle_sentence_stats() -> str:
    return f"""WITH s AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[.!?]+'),
                     s -> trim(s) <> '') AS segs
  FROM documents),
t AS (
  SELECT doc_id,
         CAST(len(segs) AS INTEGER) AS n_sentences,
         CAST(list_sum(list_transform(segs,
              s -> len(string_split_regex(trim(s), '{TOKEN_SQL}'))))
           AS INTEGER) AS n_sentence_tokens
  FROM s)
SELECT doc_id, n_sentences,
       COALESCE(n_sentence_tokens, 0) AS n_sentence_tokens,
       CASE WHEN n_sentences > 0
            THEN CAST(n_sentence_tokens AS DOUBLE) / n_sentences END
         AS avg_sentence_tokens
FROM t"""


def collocations_pmi(
    spark: SparkSession, sf_dir: str, k: int = BIGRAM_TOP_K, min_count: int = PMI_MIN_COUNT
) -> DataFrame:
    """Collocation mining (word2phrase precursor): the ``k`` most frequent
    token bigrams with their pointwise mutual information —
    ``PMI = ln(p(ab) / (p(a)·p(b)))`` under corpus unigram/bigram
    frequencies. High-PMI entries are multi-word units worth merging
    before tokenizer training; frequent low-PMI entries are syntactic
    glue.

    Membership and ordering are decided by INTEGER counts (desc) with a
    bigram-string tie-break — float ulps cannot flip the top-k (the same
    rule as :func:`tfidf_top_terms`); PMI is carried as a value column.

    Plan: TWO scans of the text column total (token explode, bigram
    explode) — the stream totals n1/n2 re-aggregate the (much smaller)
    count frames instead of rescanning the corpus; two count shuffles
    (token / bigram keys, both uniform with map-side partials), the two
    1-row totals broadcast, and the unigram joins hit the k-row top-k
    frame (AQE broadcasts). Output: (bigram, n, pmi).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.expr(f"split(trim(lower(text)), '{TOKEN_EXPR}')")).alias("w")
    ).where(F.col("w") != "")
    uni = toks.groupBy("w").agg(F.count("*").alias("cw"))
    n1 = uni.agg(F.sum("cw").alias("n1"))

    bigram_arr = F.expr(
        f"CASE WHEN size(filter(split(trim(lower(text)), '{TOKEN_EXPR}'), x -> x != '')) >= 2 THEN "
        f"transform(sequence(1, size(filter(split(trim(lower(text)), '{TOKEN_EXPR}'), x -> x != '')) - 1), "
        f"i -> concat_ws(' ', slice(filter(split(trim(lower(text)), '{TOKEN_EXPR}'), x -> x != ''), i, 2))) "
        "ELSE array() END"
    )
    bgc = (
        docs.select(F.explode(bigram_arr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    n2 = bgc.agg(F.sum("n").alias("n2"))
    top = (
        bgc.where(F.col("n") >= min_count)
        .orderBy(F.desc("n"), "bigram")
        .limit(k)
    )
    a = F.element_at(F.split("bigram", " "), 1)
    b = F.element_at(F.split("bigram", " "), 2)
    ua = uni.select(F.col("w").alias("wa"), F.col("cw").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("cw").alias("cb"))
    return (
        top.withColumn("wa", a)
        .withColumn("wb", b)
        .join(ua, "wa")
        .join(ub, "wb")
        .join(F.broadcast(n1))
        .join(F.broadcast(n2))
        .select(
            "bigram",
            "n",
            dquant(
                F.log(
                    (F.col("n").cast("double") / F.col("n2"))
                    / (
                        (F.col("ca").cast("double") / F.col("n1"))
                        * (F.col("cb").cast("double") / F.col("n1"))
                    )
                ),
                "pmi",
            ),
        )
    )


def oracle_collocations_pmi() -> str:
    return f"""WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS w
  FROM documents),
tk AS (SELECT w FROM toks WHERE w <> ''),
uni AS (SELECT w, count(*) AS cw FROM tk GROUP BY 1),
n1 AS (SELECT count(*) AS n1 FROM tk),
ta AS (SELECT list_filter(string_split_regex(trim(lower(text)), '{TOKEN_SQL}'),
                          x -> x <> '') AS t
       FROM documents),
bg AS (
  SELECT array_to_string(t[i : i + 1], ' ') AS bigram
  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i FROM ta)
  WHERE len(t) >= 2),
n2 AS (SELECT count(*) AS n2 FROM bg),
top AS (
  SELECT bigram, count(*) AS n FROM bg GROUP BY 1
  HAVING count(*) >= {PMI_MIN_COUNT}
  ORDER BY n DESC, bigram LIMIT {BIGRAM_TOP_K})
SELECT bigram, n,
       {oracle_dquant("ln((CAST(n AS DOUBLE) / n2) / ((CAST(ua.cw AS DOUBLE) / n1) * (CAST(ub.cw AS DOUBLE) / n1)))")} AS pmi
FROM top
JOIN uni ua ON ua.w = string_split(bigram, ' ')[1]
JOIN uni ub ON ub.w = string_split(bigram, ' ')[2]
CROSS JOIN n1 CROSS JOIN n2"""


#: corpus_quality_gate thresholds — calibrated on the sf0.01 fixture so
#: each gate actually rejects a non-trivial slice (see test_round4c_ops).
GATE_MIN_QUALITY = 0.55
GATE_MIN_ENTROPY = 2.0
GATE_MAX_TOP_BIGRAM_FRAC = 0.20
GATE_MAX_DUP_TRIGRAM_FRAC = 0.50


def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled filter stack: every per-doc quality signal this
    module computes, in one verdict row per document with an explicit
    boolean per gate — the audit table a data curator reads to see WHY a
    document was dropped (opaque combined scores hide exactly the
    information that matters when tuning thresholds).

    Output: (doc_id, quality, entropy, top_bigram_frac, dup_trigram_frac,
    pass_quality, pass_entropy, pass_repetition, keep).

    Plan — FUSED, not composed: running :func:`quality_score` +
    :func:`token_entropy` + :func:`repetition_signals` separately costs
    four corpus scans and four shuffles; here the token-entropy leg rides
    the repetition explode as a ``1:``-prefixed gram (the same trick that
    already serves 2- and 3-grams from one explode), so the whole gate is
    ONE corpus scan on the gram path + one (doc_id, gram) count shuffle +
    one per-doc rollup, joined with the purely row-local quality
    projection on the shared doc_id key. Semantics are UNCHANGED — the
    oracle still composes the three signal oracles, so the driver's hash
    gate proves the fusion exact (including the domain rule: a verdict
    row exists iff the doc has ≥2 tokens, the composed inner-join
    behavior). Measured 100 k docs: 11.3 s composed → see BASELINE.md.
    """
    return quality_gate_frame(spread(load(spark, sf_dir, "documents")))


def quality_gate_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of :func:`corpus_quality_gate` — every signal is
    a per-document aggregate of the document's own grams, so the SAME
    expression tree runs unchanged over a micro-batch frame (the
    streaming drop audit) and over the full corpus (the batch gate):
    stream/batch gate parity is structural, not re-implemented."""
    tokd = docs.select(
        "doc_id",
        "text",
        F.expr(f"split(trim(lower(text)), '{TOKEN_EXPR}')").alias("t"),
    )
    grams = tokd.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat("
                "transform(filter(t, x -> x != ''), w -> concat('1:', w)), "
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
                "  i -> concat('2:', concat_ws(' ', slice(t, i, 2)))) ELSE array() END, "
                "CASE WHEN size(t) >= 3 THEN transform(sequence(1, size(t) - 2), "
                "  i -> concat('3:', concat_ws(' ', slice(t, i, 3)))) ELSE array() END)"
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count("g").alias("cnt"))
    is1 = F.col("g").startswith("1:")
    is2 = F.col("g").startswith("2:")
    is3 = F.col("g").startswith("3:")
    clnc = F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(is1, F.col("cnt"))).alias("n_tok"),
        F.sum(F.when(is1, clnc.cast("decimal(38,12)"))).cast("double").alias("sum_clnc"),
        F.coalesce(F.sum(F.when(is2, F.col("cnt"))), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.max(F.when(is2, F.col("cnt"))), F.lit(0)).alias("top_bg"),
        F.coalesce(F.sum(F.when(is3, F.col("cnt"))), F.lit(0)).alias("n_trigrams"),
        F.coalesce(
            F.sum(F.when(is3 & (F.col("cnt") > 1), F.col("cnt"))), F.lit(0)
        ).alias("dup_tg"),
    )
    signals = per_doc.where(F.col("n_bigrams") > 0).select(
        "doc_id",
        dquant(
            F.log(F.col("n_tok").cast("double")) - F.col("sum_clnc") / F.col("n_tok"),
            "entropy",
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("top_bg").cast("double") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(
            F.col("n_trigrams") > 0,
            F.col("dup_tg").cast("double") / F.col("n_trigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )
    q = quality_projection(docs).select("doc_id", "quality")
    pass_quality = F.col("quality") >= GATE_MIN_QUALITY
    pass_entropy = F.col("entropy") >= GATE_MIN_ENTROPY
    pass_repetition = (F.col("top_bigram_frac") <= GATE_MAX_TOP_BIGRAM_FRAC) & (
        F.col("dup_trigram_frac") <= GATE_MAX_DUP_TRIGRAM_FRAC
    )
    return q.join(signals, "doc_id").select(
        "doc_id",
        "quality",
        "entropy",
        "top_bigram_frac",
        "dup_trigram_frac",
        pass_quality.alias("pass_quality"),
        pass_entropy.alias("pass_entropy"),
        pass_repetition.alias("pass_repetition"),
        (pass_quality & pass_entropy & pass_repetition).alias("keep"),
    )


def oracle_corpus_quality_gate() -> str:
    return f"""WITH q AS ({oracle_quality_score()}),
e AS ({oracle_token_entropy()}),
r AS ({oracle_repetition_signals()})
SELECT q.doc_id, q.quality, e.entropy, r.top_bigram_frac, r.dup_trigram_frac,
       q.quality >= {GATE_MIN_QUALITY} AS pass_quality,
       e.entropy >= {GATE_MIN_ENTROPY} AS pass_entropy,
       (r.top_bigram_frac <= {GATE_MAX_TOP_BIGRAM_FRAC}
        AND r.dup_trigram_frac <= {GATE_MAX_DUP_TRIGRAM_FRAC}) AS pass_repetition,
       (q.quality >= {GATE_MIN_QUALITY} AND e.entropy >= {GATE_MIN_ENTROPY}
        AND r.top_bigram_frac <= {GATE_MAX_TOP_BIGRAM_FRAC}
        AND r.dup_trigram_frac <= {GATE_MAX_DUP_TRIGRAM_FRAC}) AS keep
FROM q JOIN e ON e.doc_id = q.doc_id JOIN r ON r.doc_id = q.doc_id"""


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the fixture's
    ground-truth ``lang`` label — the evaluation report run after any
    classifier change (per-cell counts plus each cell's share of its true
    language, i.e. row-normalized recall; the diagonal is per-language
    accuracy).

    Output: (lang, lang_pred, n_docs, share_of_lang).

    Plan: the row-local scoring projection of :func:`lang_id` followed by
    one (lang, lang_pred) count shuffle — the matrix is |langs|² rows, so
    state is constant; the per-language denominator joins back on the
    tiny matrix frame, not the corpus.
    """
    pred = lang_id(spark, sf_dir).select("lang", "lang_pred")
    cells = pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n_docs"))
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_pred",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("lang_total")).alias(
                "share_of_lang"
            ),
        )
    )


def oracle_lang_confusion_matrix() -> str:
    return f"""WITH pred AS ({oracle_lang_id()}),
cells AS (
  SELECT lang, lang_pred, count(*) AS n_docs FROM pred GROUP BY 1, 2),
totals AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total
           FROM cells GROUP BY 1)
SELECT lang, lang_pred, n_docs,
       CAST(n_docs AS DOUBLE) / lang_total AS share_of_lang
FROM cells JOIN totals USING (lang)"""


# --- BM25 lexical retrieval --------------------------------------------------
#: Every BM25_QMOD-th document stands in as a retrieval query.
BM25_QMOD = 50

#: BM25 term unit = 3-token shingles (not unigrams). Two reasons: (a) the
#: fixture corpus draws from a ~31-word vocabulary, so every unigram is a
#: stopword — posting lists are corpus-length and "retrieval" degenerates
#: to scoring all pairs (measured 8.7 M candidate rows at bench SF);
#: shingle posting lists are short (~10 docs) and discriminative, which
#: is the same reason long n-gram units are the decontamination standard.
#: (b) it keeps the operator sub-quadratic BY CONSTRUCTION on any corpus:
#: cost follows shingle posting lists exactly like dedup's co-shingle
#: inverted index.
BM25_SHINGLE_K = 3

#: Lucene-style BM25 factored into a per-TERM idf and a per-(doc, term)
#: tf-normalization, each a format string instantiated by BOTH the Spark
#: plan (F.expr) and the DuckDB oracle so the float evaluation order is
#: textually identical — every operand mixes in a CAST(... AS DOUBLE),
#: which promotes the decimal literals to exact doubles in both engines.
#: k1 = 1.5, b = 0.75 (so k1+1 = 2.5 and 1-b = 0.25, all exactly
#: representable). The factoring keeps the candidate rows (the Σ df(t)
#: part of the plan) down to one idf·tfnorm multiply each: ln() runs once
#: per vocabulary term, the divide once per posting.
_BM25_IDF = (
    "ln(CAST(1 AS DOUBLE)"
    " + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
)
_BM25_TFNORM = (
    "(CAST(tf AS DOUBLE) * 2.5)"
    " / (CAST(tf AS DOUBLE)"
    "    + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
)


def bm25_topk(
    spark: SparkSession, sf_dir: str, k: int = BM25_K, max_term_df: int | None = None
) -> DataFrame:
    """BM25 lexical retrieval: every ``BM25_QMOD``-th document acts as a
    query; candidates are scored by Lucene-style BM25 over shared 3-token
    shingle terms (see ``BM25_SHINGLE_K``) and the top-``k`` per query
    are returned — the sparse-retrieval complement to the dense
    ``ann_topk_*`` family, and the first stage of a dedup-against-eval or
    RAG pipeline when no embeddings exist.

    Plan: one explode → (doc, shingle) tf counts [shuffle 1]; dl = Σtf
    per doc and df per term fold out of that same frame [map-side
    partial]; the query side is a FILTER on the tf frame (doc_id % QMOD),
    so retrieval is an inverted-index equi-join on term — cost follows
    posting-list sizes (Σ_t df(t) over query terms), never |docs|².
    (N, avgdl) is a 1-row broadcast. The BM25 math is FACTORED off the
    candidate explosion: idf attaches to the query-term side (one ln per
    vocabulary term) and the tf-normalization to the posting side (one
    divide per posting), so each candidate row is a single idf·tfnorm
    multiply before the sum. Products sum through the DECIMAL(38,12)
    accumulator, so the score is order-independent and bit-identical at
    any partitioning; ranking ties break on doc_id.

    ``max_term_df`` is the stop-term guard (same contract as dedup's
    ``max_shingle_df``): terms in more than that many docs are dropped
    from SCORING entirely — they carry near-zero idf but dominate the
    candidate volume (the 300 k-doc soak measured ~9× candidate growth
    from 3× posting-list inflation). Default ``None`` = exact Lucene
    semantics (the primary oracle-gated configuration); the capped twin
    is separately oracled with the identical cap.

    Output: (query_id, doc_id, n_shared, score, rank), rank 1..k.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    ksh = BM25_SHINGLE_K
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE).alias("t")
    )
    terms = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {ksh - 1}, 1)),"
                f" i -> array_join(slice(t, i, {ksh}), ' '))"
            )
        ).alias("term"),
    )
    # tf fans out to four consumers (dl, df, postings, the query filter);
    # materialize it once instead of re-running the shingle explode +
    # count shuffle per branch (measured 3.9 s -> 2.5 s at bench SF on
    # local[8]; the shingle-unit switch itself was 13.5 s -> 3.9 s).
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    if max_term_df is not None:
        df_ = df_.where(F.col("df") <= max_term_df)
    # idf is the one transcendental in the score: quantize it to 12 dp at
    # the source (dquant) so the Math.log-vs-libm 1-ulp divergence never
    # reaches the per-posting products
    idf = df_.join(F.broadcast(stats)).select("term", dquant(F.expr(_BM25_IDF), "idf"))
    postings = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", "term", F.expr(_BM25_TFNORM).alias("tfnorm"))
    )
    qt = tf.where(F.col("doc_id") % BM25_QMOD == 0).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    cand = postings.join(qt.join(idf, "term"), "term").where(
        F.col("doc_id") != F.col("query_id")
    )
    scored = cand.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_shared"),
        F.sum((F.col("idf") * F.col("tfnorm")).cast("decimal(38,12)"))
        .cast("double")
        .alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_shared", "score", "rank")
    )


def oracle_bm25_topk(k: int = BM25_K, max_term_df: int | None = None) -> str:
    ksh = BM25_SHINGLE_K
    cap = "" if max_term_df is None else f" WHERE df.df <= {max_term_df}"
    return f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '{TOKEN_SQL}') AS t
  FROM documents),
terms AS (
  SELECT doc_id, array_to_string(t[i : i + {ksh - 1}], ' ') AS term
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, greatest(len(t) - {ksh - 1}, 1))) AS i
        FROM toks)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
idf AS (SELECT term, {oracle_dquant(_BM25_IDF)} AS idf FROM df CROSS JOIN stats{cap}),
postings AS (
  SELECT tf.doc_id, tf.term, {_BM25_TFNORM} AS tfnorm
  FROM tf JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats),
qt AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id % {BM25_QMOD} = 0),
scored AS (
  SELECT query_id, p.doc_id, count(*) AS n_shared,
         {oracle_dsum12("idf * tfnorm")} AS score
  FROM postings p
  JOIN qt USING (term)
  JOIN idf USING (term)
  WHERE p.doc_id <> query_id
  GROUP BY 1, 2)
SELECT query_id, doc_id, n_shared, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS INTEGER) AS rank
FROM scored QUALIFY rank <= {k}"""


# --- Feature hashing (the hashing trick) -------------------------------------
#: Hashed feature-space width (buckets per document vector).
FEATURE_HASH_DIM = 64


def hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger et al.'s hashing trick): project each
    document's bag of words into a fixed ``FEATURE_HASH_DIM``-bucket
    space with a hash bucket AND a hash sign per term — the standard
    VOCABULARY-FREE featurization for linear quality classifiers at
    corpus scale (no vocabulary table to build, broadcast, or keep
    consistent across training runs; collisions unbias in expectation
    because of the sign hash). Emitted LONG-FORM (doc_id, bucket,
    n_terms, feat) — sparse rows, and scalar columns for the driver
    hasher.

    Portability: bucket and sign derive from md5 hex prefixes parsed as
    integers (Spark ``conv(hex,16,10)``, DuckDB ``'0x'||hex`` cast) — the
    same engine-portable hash the sampling family keys on, never
    xxhash64. One explode + one (doc_id, bucket) count shuffle;
    everything else is row-local codegen.

    Output: (doc_id, bucket, n_terms, feat) with feat = Σ sign(term).
    """
    return hashed_features_projection(spread(load(spark, sf_dir, "documents")))


def hashed_features_projection(docs: DataFrame) -> DataFrame:
    """Frame-based body of :func:`hashed_features` — factored so the
    streaming scorer can featurize a micro-batch with the SAME
    projection the batch path uses."""
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias("term"),
    )
    bucket = (
        F.expr("CAST(conv(substring(md5(term), 1, 4), 16, 10) AS BIGINT)")
        % FEATURE_HASH_DIM
    ).cast("int")
    sign = F.expr(
        "IF(CAST(conv(substring(md5(term), 5, 1), 16, 10) AS BIGINT) % 2 = 0, 1, -1)"
    )
    return (
        terms.select("doc_id", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("sign").alias("feat"),
        )
    )


def oracle_hashed_features() -> str:
    return f"""WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS term
  FROM documents),
h AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(term), 1, 4)) AS INTEGER)
              % {FEATURE_HASH_DIM} AS INTEGER) AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(term), 5, 1)) AS INTEGER) % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM terms)
SELECT doc_id, bucket, count(*) AS n_terms,
       CAST(sum(sign) AS BIGINT) AS feat
FROM h GROUP BY 1, 2"""


# --- distributed BPE merge training ------------------------------------------
def _bpe_apply(
    syms: DataFrame, merge1: DataFrame, probe_empty: bool = True
) -> DataFrame:
    """Apply ONE merge pair (a 1-row ``(lhs, rhs)`` frame, broadcast)
    to the symbolized vocabulary ``(w, wc, pos, sym)`` with greedy
    leftmost-non-overlapping semantics expressed ENTIRELY in window
    functions — no fold, no UDF, no driver state:

    * lhs != rhs: matches cannot overlap, every match merges;
    * lhs == rhs: gaps-and-islands run detection + even-offset parity
      picks exactly the merges a left-to-right scan would (run "aaaa"
      -> "aa","aa"; "aaa" -> "aa","a").

    Shared by training (:func:`_bpe_round`, merge = the round's argmax)
    and encoding (:func:`bpe_encode`, merge = a persisted-table row) so
    train and apply can never drift.

    With ``probe_empty`` an EMPTY merge frame is a no-op (returns
    ``syms`` unchanged): a degenerate corpus can exhaust its pairs
    before the merge budget (e.g. an all-single-letter vocabulary), and
    the crossJoin against a 0-row frame would otherwise annihilate the
    vocabulary instead of stopping early like textbook BPE
    (hypothesis-found edge). ENCODING must probe — its per-rank frames
    are tiny parquet reads and the probe is one bounded job. TRAINING
    deliberately does NOT (``probe_empty=False``): probing would force
    the whole pair aggregation to evaluate twice per round (or be
    checkpointed — measured +0.9 s at sf0.1), and an annihilated
    vocabulary changes nothing training OUTPUTS — later rounds' pair
    counts are empty, so their argmax frames are empty and the merge
    table still stops early, identically (the hypothesis property pins
    this).
    """
    if probe_empty and merge1.isEmpty():
        return syms
    w_seq = Window.partitionBy("w").orderBy("pos")
    ann = (
        syms.crossJoin(F.broadcast(merge1.select("lhs", "rhs")))
        .withColumn("nxt", F.lead("sym").over(w_seq))
        .withColumn(
            "rg",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("w", "sym").orderBy("pos")),
        )
    )
    offset = (
        F.row_number().over(Window.partitionBy("w", "sym", "rg").orderBy("pos")) - 1
    )
    ms = (
        (F.col("sym") == F.col("lhs"))
        & (F.col("nxt") == F.col("rhs"))
        & ((F.col("lhs") != F.col("rhs")) | (offset % 2 == 0))
    ).cast("int")
    staged = ann.withColumn("ms", ms).withColumn(
        "consumed", F.coalesce(F.lag("ms").over(w_seq), F.lit(0))
    )
    return (
        staged.where(F.col("consumed") == 0)
        .select(
            "w",
            "wc",
            F.row_number().over(w_seq).alias("pos"),
            F.when(F.col("ms") == 1, F.concat("lhs", "rhs"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )


def _bpe_round(syms: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE merge round over the symbolized vocabulary
    ``(w, wc, pos, sym)``: count adjacent symbol pairs weighted by word
    frequency, pick the top pair (count DESC, lhs, rhs — exact integer
    tie-break), and apply it via :func:`_bpe_apply`.

    Returns (next_syms, top1) where top1 is the 1-row merge frame that
    broadcast-joins into the application step.
    """
    w_seq = Window.partitionBy("w").orderBy("pos")
    pairs = (
        syms.withColumn("nxt", F.lead("sym").over(w_seq))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("lhs"), F.col("nxt").alias("rhs"))
        .agg(F.sum("wc").alias("pair_count"))
    )
    # The 1-row argmax is COLLECTED (one job — the same vocab-sized
    # aggregation the r10 eager checkpoint paid) and re-enters the plan
    # as a local one-row frame: vs the checkpointed variant this saves
    # the per-round broadcast-build over a checkpointed RDD and lets the
    # caller assemble the merge table driver-side with no final union
    # job. The plan shape stays constant across rounds (LocalTableScan
    # carries the pair as DATA, not literals), so whole-stage codegen
    # compiles once — the r10 power-iteration lesson still holds.
    spark = syms.sparkSession
    rows = (
        pairs.orderBy(F.desc("pair_count"), "lhs", "rhs").limit(1).collect()
    )
    top1 = spark.createDataFrame(
        [(r["lhs"], r["rhs"], r["pair_count"]) for r in rows],
        "lhs string, rhs string, pair_count bigint",
    )
    return _bpe_apply(syms, top1, probe_empty=False), rows


def bpe_merges(spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES) -> DataFrame:
    """The first ``n_merges`` rounds of byte-pair-encoding tokenizer
    training over the corpus — the merge table (merge_rank, lhs, rhs,
    pair_count) a BPE tokenizer is built from, computed fully
    distributed and bit-deterministically.

    Scale design: the corpus collapses to a WORD-FREQUENCY table first
    (one token-explode + groupBy — the only corpus-sized shuffle), and
    every BPE round runs over the symbolized VOCABULARY (words × avg
    word length rows — millions at 100 TB, never trillions). Pair
    counting is a vocab-sized groupBy; the argmax pair is a 4-row-column
    TakeOrdered; merge application is pure window functions over the
    same (w)-partitioned exchange; the chosen pair broadcast-joins in.
    NOTHING iterates on the driver — unlike the classic implementation,
    the merge table itself is a plan, so the operator is SQL-oracle-able
    by unrolling the same rounds as CTEs (the kmeans_exact_centroids
    convention).

    Each round's frame is eagerly localCheckpoint'ed: round N feeds both
    the pair-count aggregation and the application step of round N+1,
    and the stacked-window lineage would otherwise recompile per round.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    syms = words.select(
        "w",
        "wc",
        F.posexplode(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        ).alias("pos0", "sym"),
    ).select("w", "wc", (F.col("pos0") + 1).alias("pos"), "sym")
    syms = syms.localCheckpoint(eager=True)
    merge_rows = []
    for rank in range(1, n_merges + 1):
        syms, top1_rows = _bpe_round(syms)
        syms = syms.localCheckpoint(eager=True)
        merge_rows.extend(
            (rank, r["lhs"], r["rhs"], r["pair_count"]) for r in top1_rows
        )
    # the merge table is assembled driver-side from the collected argmax
    # rows (≤ n_merges rows) — no union-of-checkpoints job at the end
    return spark.createDataFrame(
        merge_rows, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


def _oracle_bpe_rounds(n_merges: int = BPE_MERGES) -> str:
    """The unrolled BPE round CTEs shared by the training and encoding
    oracles: ``words`` / ``s0`` symbolization, then per round the pair
    count (``p{{i}}``), LIMIT-1 argmax (``m{{i}}``), and window-function
    merge application (``a/b/c/s{{i}}``). The final symbolized
    vocabulary is ``s{{n_merges}}``."""
    rounds = []
    for i in range(1, n_merges + 1):
        prev = f"s{i-1}"
        rounds.append(f"""p{i} AS (
  SELECT sym AS lhs, nxt AS rhs, CAST(sum(wc) AS BIGINT) AS pair_count
  FROM (SELECT w, wc, sym,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM {prev})
  WHERE nxt IS NOT NULL GROUP BY 1, 2),
m{i} AS (SELECT lhs, rhs, pair_count FROM p{i}
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
a{i} AS (
  SELECT s.w, s.wc, s.pos, s.sym, m.lhs, m.rhs,
         lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) AS nxt,
         s.pos - row_number() OVER (PARTITION BY s.w, s.sym ORDER BY s.pos)
           AS rg
  FROM {prev} s CROSS JOIN m{i} m),
b{i} AS (
  SELECT *, CASE WHEN sym = lhs AND nxt = rhs
                  AND (lhs <> rhs OR
                       (row_number() OVER (PARTITION BY w, sym, rg
                                           ORDER BY pos) - 1) % 2 = 0)
             THEN 1 ELSE 0 END AS ms
  FROM a{i}),
c{i} AS (
  SELECT *, COALESCE(lag(ms) OVER (PARTITION BY w ORDER BY pos), 0)
              AS consumed
  FROM b{i}),
s{i} AS (
  SELECT w, wc,
         row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
         CASE WHEN ms = 1 THEN lhs || rhs ELSE sym END AS sym
  FROM c{i} WHERE consumed = 0)""")
    rounds_sql = ",\n".join(rounds)
    return f"""words AS (
  SELECT w, count(*) AS wc
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '{TOKEN_SQL}')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY 1),
s0 AS (
  SELECT w, wc, p AS pos, substring(w, p, 1) AS sym
  FROM words, LATERAL unnest(generate_series(1, length(w))) AS t(p)),
{rounds_sql}"""


def oracle_bpe_merges(n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin of :func:`bpe_merges` — the same rounds unrolled as
    chained CTEs (pair count → LIMIT 1 argmax → window-function merge
    application), so the whole merge table hash-gates.

    Degenerate-corpus caveat: if pairs exhaust before the merge budget
    the ENGINE stops early (``_bpe_apply`` no-ops on an empty merge),
    while this oracle's ``a{{i}} CROSS JOIN m{{i}}`` chain would drop
    the symbolization. Unreachable on the fixture corpora the oracled
    keys run on (any 2+-letter word survives 3 rounds); the engine edge
    is pinned by the hypothesis property test against the sequential
    reference instead."""
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, lhs, rhs, pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""WITH {_oracle_bpe_rounds(n_merges)}
{selects}"""


def _persisted_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Train-once / encode-many merge table: :func:`bpe_merges` output
    persisted as parquet. At 100 TB the merge table is a vocabulary-
    sized artifact written by one offline training job and read by
    every encode job; the read is a broadcast-sized parquet scan."""
    return persisted(
        spark, "bpe_merges", f"{sf_dir}/documents.parquet", (n_merges,),
        lambda: bpe_merges(spark, sf_dir, n_merges=n_merges),
    )


def bpe_encode(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES, doc_mod: int = BPE_DOC_MOD
) -> DataFrame:
    """Encode documents into BPE token-id sequences by applying the
    PERSISTED merge table (:func:`_persisted_bpe_merges`) in rank order
    — the operator a training pipeline actually runs at corpus scale
    (training's merge table is consumed by encoding). The
    train→apply split mirrors ``ann_ivf_persisted_topk``: the merge
    table is a tiny read-many artifact, and because training is exactly
    deterministic the encoded output hash-gates against an oracle that
    unrolls training inline.

    Scale design — encode the VOCABULARY, not the corpus: the corpus
    collapses to its distinct words (the only corpus-sized work is one
    token explode, reused for the final join-back); each merge applies
    over the word-partitioned symbol frame via the shared
    :func:`_bpe_apply` window walk (merge row broadcast); token ids are
    a dense row_number over the distinct final symbols (a vocabulary-
    sized single-partition window — trivial) broadcast back. Per-round
    frames are eagerly localCheckpoint'ed like training. ``doc_mod``
    bounds the encoded document subset so the hash-gated output stays
    driver-sized; the plan is identical with the filter removed.

    Output: (doc_id, wpos, spos, token, token_id) — one row per final
    symbol, word-position and symbol-position indexed 1-based.
    """
    words = _bpe_doc_words(spark, sf_dir, doc_mod=doc_mod)
    words = words.localCheckpoint(eager=True)
    vocab = _bpe_encoded_vocab(spark, sf_dir, words, n_merges=n_merges)
    return (
        words.join(vocab, "w")
        .select(
            "doc_id",
            "wpos",
            F.col("pos").alias("spos"),
            F.col("sym").alias("token"),
            "token_id",
        )
    )


def _bpe_doc_words(
    spark: SparkSession, sf_dir: str, doc_mod: int = BPE_DOC_MOD
) -> DataFrame:
    """(doc_id, wpos, w) for the encode subset — the one corpus-sized
    frame of the encode path (shared by batch and stream twins)."""
    docs = spread(load(spark, sf_dir, "documents")).where(
        F.expr(f"doc_id % {doc_mod} = 0")
    )
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)
            ).alias("p0", "w"),
        )
        .where(F.col("w") != "")
        .select("doc_id", (F.col("p0") + 1).alias("wpos"), "w")
    )


def _bpe_encoded_vocab(
    spark: SparkSession, sf_dir: str, words: DataFrame, n_merges: int = BPE_MERGES
) -> DataFrame:
    """The COMPILED tokenizer vocabulary: every distinct word of the
    encode subset walked through the persisted merge table in rank
    order, with dense token ids over the final symbol set — columns
    (w, pos, sym, token_id). Vocabulary-sized, so it is the natural
    broadcast/persist artifact; the token-id window is a single-
    partition sort over the symbol set only (trivial)."""
    merges = _persisted_bpe_merges(spark, sf_dir, n_merges=n_merges)
    syms = (
        words.select("w")
        .distinct()
        .select(
            "w",
            F.lit(1).cast("bigint").alias("wc"),
            F.posexplode(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            ).alias("pos0", "sym"),
        )
        .select("w", "wc", (F.col("pos0") + 1).alias("pos"), "sym")
    )
    syms = syms.localCheckpoint(eager=True)
    for rank in range(1, n_merges + 1):
        m = merges.where(F.col("merge_rank") == rank).select("lhs", "rhs")
        syms = _bpe_apply(syms, m).localCheckpoint(eager=True)
    token_ids = (
        syms.select("sym")
        .distinct()
        .select(
            "sym",
            F.row_number().over(Window.orderBy("sym")).cast("bigint").alias("token_id"),
        )
    )
    return syms.select("w", "pos", "sym").join(F.broadcast(token_ids), "sym")


def _persisted_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once / serve-many COMPILED VOCABULARY artifact — (w, pos,
    sym, token_id) parquet. At 100 TB this is the tokenizer file every
    encode/serving job broadcasts; an arriving word missing from it
    (true OOV) would take the merge walk (:func:`_bpe_encoded_vocab`) —
    on the fixture the vocabulary is corpus-derived, so shipments
    contain no OOV by construction."""

    def vocab() -> DataFrame:
        words = _bpe_doc_words(spark, sf_dir).localCheckpoint(eager=True)
        return _bpe_encoded_vocab(spark, sf_dir, words)

    return persisted(
        spark, "bpe_vocab", f"{sf_dir}/documents.parquet", (BPE_MERGES, BPE_DOC_MOD), vocab
    )


def oracle_bpe_encode(n_merges: int = BPE_MERGES, doc_mod: int = BPE_DOC_MOD) -> str:
    """DuckDB twin of :func:`bpe_encode` — training unrolled inline
    (the oracle's job is semantics, not the train/serve cost split),
    then the encoded-vocabulary join-back over the doc subset."""
    n = n_merges
    return f"""WITH {_oracle_bpe_rounds(n_merges)},
doc_words AS (
  SELECT doc_id, i AS wpos, t[i] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '{TOKEN_SQL}') AS t
              FROM documents WHERE doc_id % {doc_mod} = 0))
  WHERE t[i] <> ''),
tok AS (
  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS token_id
  FROM (SELECT DISTINCT sym FROM s{n}))
SELECT d.doc_id, CAST(d.wpos AS INTEGER) AS wpos,
       CAST(s.pos AS INTEGER) AS spos, s.sym AS token, t.token_id
FROM doc_words d
JOIN s{n} s ON s.w = d.w
JOIN tok t ON t.sym = s.sym"""


def bpe_compression(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Per-document BPE compression report over :func:`bpe_encode`'s
    output — the tokenizer-efficiency diagnostic a training pipeline
    tracks per source/corpus version (chars-per-token drops as the merge
    table grows; a sudden rise flags out-of-domain or corrupt text).
    One (doc_id)-keyed aggregation over the encoded frame; all counts
    int64, the ratio one correctly-rounded double division.

    Output: (doc_id, n_words, n_chars, n_tokens, chars_per_token).
    """
    enc = bpe_encode(spark, sf_dir, n_merges=n_merges)
    return enc.groupBy("doc_id").agg(
        F.countDistinct("wpos").alias("n_words"),
        F.sum(F.length("token")).cast("bigint").alias("n_chars"),
        F.count("*").alias("n_tokens"),
        (
            F.sum(F.length("token")).cast("double")
            / F.count("*").cast("double")
        ).alias("chars_per_token"),
    )


def oracle_bpe_compression() -> str:
    """DuckDB twin of :func:`bpe_compression` — the encode oracle nested
    as a CTE, then the same per-doc aggregation (integer sums CAST to
    BIGINT: DuckDB types sum(int) HUGEINT — the r3/r5 lesson)."""
    return f"""WITH enc AS (
{oracle_bpe_encode()}
)
SELECT doc_id, count(DISTINCT wpos) AS n_words,
       CAST(sum(length(token)) AS BIGINT) AS n_chars,
       count(*) AS n_tokens,
       CAST(sum(length(token)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS chars_per_token
FROM enc GROUP BY 1"""


# --- deterministic PII synthesis + redaction ---------------------------------
#: Engine-portable PII patterns (identical semantics in Java regex and
#: DuckDB RE2: literal classes, bounded quantifiers, no lookaround).
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def with_pii_text(docs: DataFrame) -> DataFrame:
    """Append deterministic doc_id-keyed PII (an email, a phone number,
    an IPv4) to each document — the fixture corpus contains no digits at
    all, so like the multimodal blob synthesis this derives a realistic
    input from the fixture rather than asserting over an all-zero
    column. Pure row-local string concat, identical in SQL."""
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199 from 10.0."),
            (F.expr("doc_id div 256") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 256).cast("string"),
        ),
    )


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass: count
    and replace emails, phone numbers, and IPv4 addresses with typed
    placeholder tags. Row-local regex inside whole-stage codegen (one
    projection, no shuffle, no UDF); at 100 TB this runs scan→rewrite
    partition-by-partition. Patterns are deliberately dialect-portable
    (Java regex on the engine, RE2 in the oracle) so the redacted text
    hash-gates byte-exact.

    Output: (doc_id, n_emails, n_phones, n_ips, clean_hash, n_chars_clean).
    """
    docs = with_pii_text(spread(load(spark, sf_dir, "documents")))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    # regex literals go in as Column args (never through the SQL parser,
    # whose string-literal backslash escaping would mangle `\.`)
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL_RE), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE_RE), F.lit(0))
        ).alias("n_phones"),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
                F.lit(PII_IP_RE),
                F.lit(0),
            )
        ).alias("n_ips"),
        F.md5(clean).alias("clean_hash"),
        F.length(clean).cast("int").alias("n_chars_clean"),
    )


def oracle_redact_pii() -> str:
    """DuckDB twin of :func:`redact_pii` — identical synthesis concat
    and the same three-pass replace; 'g' flags make RE2 replace/count
    all occurrences like Java's replaceAll."""
    synth = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
        " || '-0199 from 10.0.' || CAST((doc_id // 256) % 256 AS VARCHAR) || "
        "'.' || CAST(doc_id % 256 AS VARCHAR)"
    )
    clean = (
        f"regexp_replace(regexp_replace(regexp_replace(t, "
        f"'{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_PHONE_RE}', '<PHONE>', 'g'), "
        f"'{PII_IP_RE}', '<IP>', 'g')"
    )
    return f"""WITH synth AS (
  SELECT doc_id, {synth} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS INTEGER)
         AS n_phones,
       CAST(len(regexp_extract_all(regexp_replace(t, '{PII_EMAIL_RE}',
             '<EMAIL>', 'g'), '{PII_IP_RE}')) AS INTEGER) AS n_ips,
       md5({clean}) AS clean_hash,
       CAST(length({clean}) AS INTEGER) AS n_chars_clean
FROM synth"""


def bpe_roundtrip_report(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Tokenizer round-trip QA — DECODE the encoded corpus and verify it
    reproduces the original words: BPE merges only ever concatenate
    adjacent symbols, so joining each word's final symbols in position
    order must yield the word exactly; any mismatch means a corrupt
    merge table or a decode/encode skew (the check a pipeline runs after
    swapping tokenizer versions). Completes the train → encode → decode
    closure.

    One (doc_id, wpos)-keyed reassembly over the encoded frame (sort is
    per-word, bounded by symbols-per-word), then a per-doc verdict
    aggregation.

    Output: (doc_id, n_words, n_ok, roundtrip_ok) — n_ok counts words
    whose decoded form equals the original, roundtrip_ok = all words ok.
    """
    enc = bpe_encode(spark, sf_dir, n_merges=n_merges)
    decoded = enc.groupBy("doc_id", "wpos").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(spos, token))),"
            " s -> s.token), '')"
        ).alias("decoded")
    )
    words = _bpe_doc_words(spark, sf_dir)
    per_word = decoded.join(words, ["doc_id", "wpos"])
    return per_word.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.count(F.when(F.col("decoded") == F.col("w"), 1)).alias("n_ok"),
        (
            F.count("*") == F.count(F.when(F.col("decoded") == F.col("w"), 1))
        ).alias("roundtrip_ok"),
    )


def oracle_bpe_roundtrip() -> str:
    """DuckDB twin of :func:`bpe_roundtrip_report` — the encode oracle
    nested, position-ordered string_agg reassembly, per-doc verdict."""
    return f"""WITH enc AS ({oracle_bpe_encode()}),
dec AS (
  SELECT doc_id, wpos, string_agg(token, '' ORDER BY spos) AS decoded
  FROM enc GROUP BY 1, 2),
dw AS (
  SELECT doc_id, i AS wpos, t[i] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '{TOKEN_SQL}') AS t
              FROM documents WHERE doc_id % {BPE_DOC_MOD} = 0))
  WHERE t[i] <> '')
SELECT d.doc_id, count(*) AS n_words,
       count(CASE WHEN dec.decoded = d.w THEN 1 END) AS n_ok,
       count(*) = count(CASE WHEN dec.decoded = d.w THEN 1 END) AS roundtrip_ok
FROM dec JOIN dw d ON d.doc_id = dec.doc_id AND d.wpos = dec.wpos
GROUP BY 1"""


# --- RAKE keyphrase extraction ------------------------------------------------

RAKE_MIN_LEN = 2
RAKE_MAX_LEN = 4
RAKE_MIN_DOCS = 2


def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the corpus (Rose et al. 2010):
    candidate phrases are maximal runs of non-stopword tokens; each
    word's score is degree/frequency over the phrase co-occurrence
    graph; a phrase scores the sum of its words — the unsupervised
    corpus-exploration tool a curator runs to see WHAT a source is
    actually about before mixing it in.

    Determinism (the tfidf lesson): phrase MEMBERSHIP is decided by
    integer filters only (run length in [RAKE_MIN_LEN, RAKE_MAX_LEN], appears in
    ≥ RAKE_MIN_DOCS docs) — the float score is a reported value, never a
    membership or ranking key; per-word degree/frequency are exact
    global int64 counts, each word score is one correctly-rounded
    double division, and the phrase score folds through DECIMAL(38,12)
    (the ``oracle_dsum12`` convention), so summation order cannot move
    a bit.

    Plan (100 TB): one corpus scan explodes tokens; the run-id window
    is doc-partitioned (bounded partitions); word stats are one
    token-keyed count shuffle (stopwords — the hottest keys — are
    already gone, which trims the skew tail); phrase stats shuffle on
    the phrase string; the word-score join back to phrase words carries
    one row per distinct (phrase, word) — all uniform keys.

    Output: (phrase, n_occurrences, n_docs, rake_score).
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)).alias(
            "pos", "token"
        ),
    )
    is_stop = F.col("token").isin(QUALITY_STOPWORDS) | (F.col("token") == "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.select(
        "doc_id",
        "pos",
        "token",
        F.sum(is_stop.cast("int")).over(w).alias("run_id"),
        is_stop.alias("is_stop"),
    )
    words = marked.where(~F.col("is_stop")).select("doc_id", "run_id", "pos", "token")
    runs = (
        words.groupBy("doc_id", "run_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("pos", "token"))).token
            ).alias("phrase"),
            F.count("*").alias("len"),
        )
        .where(F.col("len").between(RAKE_MIN_LEN, RAKE_MAX_LEN))
    )
    occ_words = words.join(runs.select("doc_id", "run_id", "len"), ["doc_id", "run_id"])
    wstats = occ_words.groupBy("token").agg(
        F.count("*").alias("freq"), F.sum("len").alias("deg")
    )
    phrases = (
        runs.groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_docs") >= RAKE_MIN_DOCS)
    )
    pw = phrases.select("phrase", F.explode(F.split("phrase", " ")).alias("token"))
    word_score = F.col("deg").cast("double") / F.col("freq")
    scored = (
        pw.join(wstats, "token")
        .groupBy("phrase")
        .agg(F.sum(word_score.cast("decimal(38,12)")).cast("double").alias("rake_score"))
    )
    return phrases.join(scored, "phrase").select(
        "phrase", "n_occurrences", "n_docs", "rake_score"
    )


def oracle_rake_keyphrases() -> str:
    """DuckDB twin of :func:`rake_keyphrases` — same run segmentation,
    same integer membership filters, same decimal-folded score."""
    stops = ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS)
    toks = f"string_split_regex(trim(lower(text)), '{TOKEN_SQL}')"
    return f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
p AS (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks))) AS pos
      FROM t),
tok AS (SELECT doc_id, pos, toks[pos] AS token FROM p),
m AS (
  SELECT doc_id, pos, token,
         sum(CASE WHEN token IN ({stops}) OR token = '' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS run_id,
         (token IN ({stops}) OR token = '') AS is_stop
  FROM tok),
words AS (SELECT doc_id, run_id, pos, token FROM m WHERE NOT is_stop),
runs AS (
  SELECT doc_id, run_id,
         string_agg(token, ' ' ORDER BY pos) AS phrase,
         count(*) AS len
  FROM words GROUP BY 1, 2
  HAVING count(*) BETWEEN {RAKE_MIN_LEN} AND {RAKE_MAX_LEN}),
occw AS (
  SELECT w.token, r.len
  FROM words w JOIN runs r USING (doc_id, run_id)),
ws AS (SELECT token, count(*) AS freq, CAST(sum(len) AS BIGINT) AS deg
       FROM occw GROUP BY 1),
ph AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM runs GROUP BY 1
  HAVING count(DISTINCT doc_id) >= {RAKE_MIN_DOCS}),
pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS token FROM ph),
sc AS (
  SELECT phrase, {oracle_dsum12("CAST(deg AS DOUBLE) / freq")} AS rake_score
  FROM pw JOIN ws USING (token) GROUP BY 1)
SELECT ph.phrase, ph.n_occurrences, ph.n_docs, sc.rake_score
FROM ph JOIN sc USING (phrase)"""
