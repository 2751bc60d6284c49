"""Text-analysis operators over the ``documents`` table.

North-star extension layer (SURVEY §2.10) — absent from the reference,
mandated for a large-scale training-data pipeline: per-document
statistics, BPE-ish token counting, language ID, quality scoring,
fingerprinting. All pure built-in functions (whole-stage codegen) —
these run as a single scan + project at any scale, no shuffle at all
except where a groupBy is the point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quebic_spark.session import read_immutable_parquet

from quebic_spark.functions.text import (
    BPE_PATTERN,
    fingerprint,
    normalized_text,
    tokens,
)

# tiny per-language stopword lexicon for the n-gram/stopword heuristic
# language-ID (deterministic; the corpus vocabulary is synthetic, so
# accuracy is not the point — the operator contract is).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file input -> one partition; tokenize/explode pipelines
    # below want parallelism from the start (conditional: no shuffle
    # when the scan already has enough splits)
    from quebic_spark.plans.fanout import fan_out
    from quebic_spark.session import tune_for_query

    tune_for_query(spark)
    return fan_out(spark, read_immutable_parquet(spark, f"{sf_dir}/documents.parquet"))


# ---------------------------------------------------------------------------
# text_stats — per-document token/char statistics.
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_toks = F.size(toks)
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        # avg token length: chars minus separators, over token count
        ((n_chars - (n_toks - F.lit(1))).cast("double") / n_toks).alias(
            "avg_token_len"
        ),
        (F.size(F.array_distinct(toks)).cast("double") / n_toks).alias(
            "distinct_ratio"
        ),
    )


ORACLE_TEXT_STATS = """
SELECT doc_id,
  len(string_split(text, ' ')) AS n_tokens,
  length(text) AS n_chars,
  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
     / len(string_split(text, ' ')) AS avg_token_len,
  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
     / len(string_split(text, ' ')) AS distinct_ratio
FROM documents
"""


# ---------------------------------------------------------------------------
# token_counts — whitespace + BPE-ish regex token counts, corpus totals
# per source.
# ---------------------------------------------------------------------------

def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "source",
            F.size(tokens(F.col("text"))).alias("ws"),
            F.regexp_count("text", F.lit(BPE_PATTERN)).alias("bpe"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
        )
    )


ORACLE_TOKEN_COUNTS = f"""
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT)
    AS bpe_tokens
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# doc_fingerprints — md5 fingerprint over normalized text.
# ---------------------------------------------------------------------------

def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
        F.length(normalized_text(F.col("text"))).alias("norm_len"),
    )


ORACLE_DOC_FINGERPRINTS = """
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
  length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_len
FROM documents
"""


# ---------------------------------------------------------------------------
# lang_id — stopword-marker heuristic with a fixed priority tie-break.
# ---------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # marker-hit columns + priority-chain argmax (first language in
    # declaration order with the maximal hit count wins — same CASE
    # chain as the oracle), shared with source_scorecard
    hits, pred = _lang_pred_parts()
    scored = docs.select("doc_id", "lang", *hits.values())
    return scored.select(
        "doc_id",
        "lang",
        pred().alias("pred_lang"),
        (pred() == F.col("lang")).alias("is_match"),
    )


def _oracle_lang_id() -> str:
    hit_exprs = ",\n  ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({}))) AS {}_hits".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    greatest = "greatest({})".format(
        ", ".join(f"{lang}_hits" for lang in langs)
    )
    case = "CASE " + " ".join(
        f"WHEN {lang}_hits = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
  {hit_exprs}
  FROM documents
)
SELECT doc_id, lang, {case} AS pred_lang,
       ({case}) = lang AS is_match
FROM scored
"""


ORACLE_LANG_ID = _oracle_lang_id()


# ---------------------------------------------------------------------------
# source_scorecard — the per-source "data card": one gate emitting the
# metrics a corpus datasheet publishes per provenance source (volume,
# token mass, exact-dup ratio, quality distribution, language-ID
# agreement). Every column is either exact integer arithmetic or the
# established float disciplines (double ratios of exact ints; quality
# mean = round-to-6 → DECIMAL sum → one double division, the
# lm_perplexity pattern), so the whole card hash-matches DuckDB.
#
# Scale shape: ONE pass — a single source-keyed groupBy carrying a
# countDistinct on md5 text keys (32-byte Expand shuffle, the
# cardinality_sketch discipline); the lang-ID argmax and quality
# composite are scan-resident expressions feeding the agg.
# ---------------------------------------------------------------------------

LOW_QUALITY_CUT = 0.35  # doc_quality's medium/low boundary


def _lang_pred_parts():
    """(hit column dict, pred builder) shared by lang_id and the
    scorecard — the argmax-with-declaration-order-tie-break chain."""
    toks = tokens(F.col("text"))

    def _hit_counter(words: tuple[str, ...]):
        return lambda t: t.isin(*words)

    hits = {
        lang: F.size(F.filter(toks, _hit_counter(words))).alias(
            f"{lang}_hits"
        )
        for lang, words in LANG_MARKERS.items()
    }

    def pred() -> Column:
        langs = list(LANG_MARKERS)
        best = F.greatest(*[F.col(f"{lang}_hits") for lang in langs])
        expr = F.when(F.col(f"{langs[0]}_hits") == best, F.lit(langs[0]))
        for lang in langs[1:]:
            expr = expr.when(F.col(f"{lang}_hits") == best, F.lit(lang))
        return expr

    return hits, pred


def q_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    score = quality_exprs()["score"]
    hits, pred = _lang_pred_parts()
    base = docs.select(
        "source",
        "lang",
        F.md5("text").alias("key"),
        F.size(toks).cast("long").alias("ntoks"),
        score.alias("score"),
        *hits.values(),
    )
    staged = base.select(
        "source", "key", "ntoks", "score",
        (pred() == F.col("lang")).alias("lang_ok"),
    )
    n = F.count(F.lit(1))
    agg = staged.groupBy("source").agg(
        n.alias("n_docs"),
        F.countDistinct("key").alias("n_unique_texts"),
        F.sum("ntoks").alias("total_tokens"),
        F.sum(
            F.round(F.col("score"), 6).cast("decimal(28,6)")
        ).alias("_qsum"),
        F.count(
            F.when(F.col("score") < LOW_QUALITY_CUT, 1)
        ).alias("n_low_quality"),
        F.count(F.when(F.col("lang_ok"), 1)).alias("n_lang_match"),
    )
    nd = F.col("n_docs")
    return agg.select(
        "source",
        "n_docs",
        "n_unique_texts",
        ((nd - F.col("n_unique_texts")).cast("double") / nd).alias(
            "dup_ratio"
        ),
        "total_tokens",
        (F.col("total_tokens").cast("double") / nd).alias(
            "avg_doc_tokens"
        ),
        (F.col("_qsum").cast("double") / nd).alias("mean_quality"),
        "n_low_quality",
        "n_lang_match",
    )


def _scorecard_oracle() -> str:
    hit_exprs = ",\n    ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({})))"
        " AS {}_hits".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    greatest = "greatest({})".format(
        ", ".join(f"{lang}_hits" for lang in langs)
    )
    case = "CASE " + " ".join(
        f"WHEN {lang}_hits = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH f AS (
  SELECT source, lang, md5(text) AS key,
    CAST(len(string_split(text,' ')) AS BIGINT) AS ntoks,
    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
      / CAST(len(string_split(text,' ')) AS DOUBLE) * 0.5
      + least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0,
              1.0) * 0.5 AS score,
    {hit_exprs}
  FROM documents
),
s AS (
  SELECT source, key, ntoks, score, ({case}) = lang AS lang_ok
  FROM f
)
SELECT source,
  COUNT(*) AS n_docs,
  COUNT(DISTINCT key) AS n_unique_texts,
  CAST(COUNT(*) - COUNT(DISTINCT key) AS DOUBLE) / COUNT(*)
    AS dup_ratio,
  CAST(SUM(ntoks) AS BIGINT) AS total_tokens,
  CAST(SUM(ntoks) AS DOUBLE) / COUNT(*) AS avg_doc_tokens,
  CAST(SUM(CAST(round(score, 6) AS DECIMAL(28,6))) AS DOUBLE)
    / COUNT(*) AS mean_quality,
  COUNT(CASE WHEN score < {LOW_QUALITY_CUT} THEN 1 END)
    AS n_low_quality,
  COUNT(CASE WHEN lang_ok THEN 1 END) AS n_lang_match
FROM s
GROUP BY source
"""


ORACLE_SOURCE_SCORECARD = _scorecard_oracle()


# ---------------------------------------------------------------------------
# doc_quality — composite quality scoring with bucketing.
# ---------------------------------------------------------------------------

def quality_exprs(text_col: str = "text") -> dict[str, Column]:
    """THE canonical doc-quality composite — the single definition
    behind `doc_quality`/`dedup_keep_best`'s oracle-matched score,
    `pipeline.quality_score_col`, and the classifier's teacher label
    + dense features (r6 review: three drifting copies unified).
    No rounding: per-row double arithmetic is bit-deterministic, and
    round() semantics (half-up vs half-even) differ across engines."""
    toks = tokens(F.col(text_col))
    n_toks = F.size(toks).cast("double")
    dr = F.size(F.array_distinct(toks)) / n_toks
    # length score: 1 at >=100 tokens, linear below
    ls = F.least(n_toks / F.lit(100.0), F.lit(1.0))
    return {
        "dr": dr,
        "ls": ls,
        "n_toks": n_toks,
        "score": dr * F.lit(0.5) + ls * F.lit(0.5),
    }


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    score = quality_exprs()["score"]
    bucket = (
        F.when(score >= 0.6, "high")
        .when(score >= 0.35, "medium")
        .otherwise("low")
    )
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        bucket.alias("quality_bucket"),
    )


ORACLE_DOC_QUALITY = """
WITH f AS (
  SELECT doc_id,
    CAST(len(string_split(text,' ')) AS DOUBLE) AS n_toks,
    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS n_distinct
  FROM documents
)
SELECT doc_id,
  n_distinct / n_toks * 0.5 + least(n_toks / 100.0, 1.0) * 0.5
    AS quality_score,
  CASE
    WHEN n_distinct / n_toks * 0.5 + least(n_toks / 100.0, 1.0) * 0.5 >= 0.6 THEN 'high'
    WHEN n_distinct / n_toks * 0.5 + least(n_toks / 100.0, 1.0) * 0.5 >= 0.35 THEN 'medium'
    ELSE 'low'
  END AS quality_bucket
FROM f
"""


# ---------------------------------------------------------------------------
# quality_filter_stats — C4-style rule-based cleaning with per-rule
# drop accounting: the DECISION layer on top of doc_quality's scoring.
# A pipeline needs the per-rule counts to tune thresholds before
# committing to a 100 TB filter pass; each rule is a cheap boolean over
# one narrow projection, one balanced groupBy — no UDFs, no shuffle
# beyond the count agg. Drops are counted per rule independently (a doc
# failing two rules appears in both counts); kept = fails none.
# ---------------------------------------------------------------------------

MIN_TOKENS = 10
MAX_TOKENS = 5_000
MIN_DISTINCT_RATIO = 0.3
TERMINAL_CHARS = (".", "!", "?")


def q_quality_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_toks = F.size(toks)
    distinct_ratio = (
        F.size(F.array_distinct(toks)).cast("double") / n_toks
    )
    last = F.substring(F.col("text"), -1, 1)
    too_short = n_toks < MIN_TOKENS
    too_long = n_toks > MAX_TOKENS
    low_diversity = distinct_ratio < MIN_DISTINCT_RATIO
    no_terminal = ~last.isin(*TERMINAL_CHARS)
    kept = ~(too_short | too_long | low_diversity | no_terminal)
    return (
        docs.select(
            "source",
            too_short.alias("r_short"),
            too_long.alias("r_long"),
            low_diversity.alias("r_diversity"),
            no_terminal.alias("r_terminal"),
            kept.alias("keep"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.col("r_short").cast("long")).alias("drop_short"),
            F.sum(F.col("r_long").cast("long")).alias("drop_long"),
            F.sum(F.col("r_diversity").cast("long")).alias(
                "drop_diversity"
            ),
            F.sum(F.col("r_terminal").cast("long")).alias(
                "drop_terminal"
            ),
        )
    )


ORACLE_QUALITY_FILTER_STATS = f"""
WITH f AS (
  SELECT source,
    len(string_split(text, ' ')) AS n_toks,
    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      / len(string_split(text, ' ')) AS distinct_ratio,
    substr(text, length(text), 1) AS last_char
  FROM documents
),
r AS (
  SELECT source,
    (n_toks < {MIN_TOKENS}) AS r_short,
    (n_toks > {MAX_TOKENS}) AS r_long,
    (distinct_ratio < {MIN_DISTINCT_RATIO}) AS r_diversity,
    (last_char NOT IN ('.', '!', '?')) AS r_terminal
  FROM f
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN NOT (r_short OR r_long OR r_diversity OR r_terminal)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT) AS drop_short,
  CAST(SUM(CASE WHEN r_long THEN 1 ELSE 0 END) AS BIGINT) AS drop_long,
  CAST(SUM(CASE WHEN r_diversity THEN 1 ELSE 0 END) AS BIGINT)
    AS drop_diversity,
  CAST(SUM(CASE WHEN r_terminal THEN 1 ELSE 0 END) AS BIGINT)
    AS drop_terminal
FROM r
GROUP BY source
"""


# ---------------------------------------------------------------------------
# tfidf_top_terms — corpus term statistics + tf-idf, top 25 terms.
# Scale: explode -> two-level aggregation (token stats, then corpus N
# broadcast back); one shuffle keyed by token, balanced by vocabulary.
# ---------------------------------------------------------------------------

TFIDF_TOP_N = 25


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()  # tiny scalar; at scale a broadcast agg
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    stats = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf_total"),
        F.countDistinct("doc_id").alias("df"),
    )
    # ln() differs by 1 ulp between JVM Math.log and DuckDB — round both
    # sides to 6 decimals for the differential gate
    idf = F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        stats.select(
            "token",
            "tf_total",
            "df",
            F.round(idf, 6).alias("idf"),
            F.round(F.col("tf_total") * idf, 6).alias("tfidf_mass"),
        )
        .orderBy(F.col("tf_total").desc(), F.col("token"))
        .limit(TFIDF_TOP_N)
    )


ORACLE_TFIDF_TOP_TERMS = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
stats AS (
  SELECT token, COUNT(*) AS tf_total, COUNT(DISTINCT doc_id) AS df
  FROM tok GROUP BY token
)
SELECT token, tf_total, df,
       round(ln(n.n_docs / df), 6) AS idf,
       round(tf_total * ln(n.n_docs / df), 6) AS tfidf_mass
FROM stats, n
ORDER BY tf_total DESC, token
LIMIT {TFIDF_TOP_N}
"""


# ---------------------------------------------------------------------------
# sentiment_scores — lexicon-join scoring (the deterministic stand-in
# for model-based scoring): per-source aggregate of per-doc sentiment.
# ---------------------------------------------------------------------------

SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2, "big": 1, "small": -1, "slow": -2, "error": -3,
    "merge": 1, "spark": 2, "scan": 1, "hash": 1, "the": 0,
}


def q_sentiment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # literal-map lookup folded over the token array: no explode (which
    # inflates the corpus ~n_tokens-fold), no join, no per-doc shuffle —
    # scan + project + ONE final agg. Docs without any lexicon token are
    # excluded, matching the inner-join semantics of the naive
    # formulation the oracle keeps (so the hash match proves the
    # rewrite, not just mirrors it).
    docs = _docs(spark, sf_dir)
    lex = F.create_map(
        *[
            F.lit(x)
            for t, w in sorted(SENTIMENT_LEXICON.items())
            for x in (t, w)
        ]
    )
    toks = tokens(F.col("text"))
    n_hits = F.size(
        F.filter(toks, lambda t: F.element_at(lex, t).isNotNull())
    )
    weight_sum = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.coalesce(F.element_at(lex, t), F.lit(0)),
    )
    per_doc = docs.select(
        "source",
        (
            weight_sum.cast("double") / F.size(toks)
        ).alias("sentiment"),
        n_hits.alias("n_hits"),
    ).filter(F.col("n_hits") >= 1)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("sentiment").alias("min_sentiment"),
        F.max("sentiment").alias("max_sentiment"),
    )


def _sentiment_oracle() -> str:
    rows = ", ".join(
        f"('{t}', {w})" for t, w in sorted(SENTIMENT_LEXICON.items())
    )
    return f"""
WITH lex(token, weight) AS (VALUES {rows}),
tok AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         unnest(string_split(text, ' ')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, source,
         CAST(SUM(weight) AS DOUBLE) / n_tokens AS sentiment
  FROM tok JOIN lex USING (token)
  GROUP BY doc_id, source, n_tokens
)
SELECT source, COUNT(*) AS n_docs,
       MIN(sentiment) AS min_sentiment,
       MAX(sentiment) AS max_sentiment
FROM per_doc
GROUP BY source
"""


ORACLE_SENTIMENT_SCORES = _sentiment_oracle()


# ---------------------------------------------------------------------------
# decontaminate — benchmark decontamination: flag training docs sharing
# at least one word n-gram with a held-out benchmark set (the standard
# eval-leakage guard run before every corpus release; real pipelines
# use 13-grams, the synthetic corpus needs 3-grams to overlap at all).
#
# The benchmark set is a deterministic hash slice of the corpus
# (hash_bucket(doc_id) < DECON_BENCH_PCT) so the operator and its
# oracle agree without a second input table; in production it's an
# external table of eval-set n-grams, invariably small. Scale shape:
# the benchmark gram set is tiny -> broadcast join against the exploded
# corpus grams (one scan, no corpus shuffle before the per-doc agg);
# the gram explosion is bounded by document length, and the corpus side
# never pairs with itself (no O(n^2)).
# ---------------------------------------------------------------------------

DECON_NGRAM = 3
DECON_BENCH_PCT = 2  # hash-slice percent of docs acting as "benchmark"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quebic_spark.functions.text import shingles
    from quebic_spark.operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id",
        F.explode(shingles(F.col("text"), DECON_NGRAM)).alias("g"),
    )
    is_bench = hash_bucket(F.col("doc_id")) < DECON_BENCH_PCT
    bench = grams.filter(is_bench).select(
        F.col("doc_id").alias("bench_id"), "g"
    )
    train = grams.filter(~is_bench)
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


def _decon_oracle() -> str:
    from quebic_spark.operators.sampling import _hash_bucket_sql

    n = DECON_NGRAM
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {n - 1}, 1) + 1),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS g
  FROM toks
)
SELECT s.doc_id,
       COUNT(DISTINCT s.g) AS n_shared_grams,
       COUNT(DISTINCT b.doc_id) AS n_benchmark_docs
FROM grams s
JOIN grams b ON s.g = b.g
WHERE {_hash_bucket_sql("b.doc_id")} < {DECON_BENCH_PCT}
  AND {_hash_bucket_sql("s.doc_id")} >= {DECON_BENCH_PCT}
GROUP BY s.doc_id
"""


ORACLE_DECONTAMINATE = _decon_oracle()


# ---------------------------------------------------------------------------
# repetition_stats — Gopher-style repetition screen per document:
# bigram multiplicity statistics (total / distinct / top-bigram count)
# and a repetitive flag when the top bigram dominates or the duplicate
# fraction is high. Repetition filters are a standard rule family in
# training-data curation (boilerplate, keyword-stuffed, and looping
# generations all trip it); this is the multiplicity-aware complement
# of doc_quality's distinct-ratio rule (which sees sets, not counts).
#
# Scale shape: explode -> two keyed aggregations, first on
# (doc_id, gram) then doc_id — both map-side combinable, keys uniform
# in doc_id so no skew; no windows, no joins.
# ---------------------------------------------------------------------------

REP_NGRAM = 2
# thresholds sit at the tail of this corpus's observed distribution
# (top_frac p99≈0.11, dup_frac max≈0.13), so the flag separates the
# repetitive tail instead of being constant — tune per real corpus
REP_TOP_FRACTION = 0.1   # top bigram > 10% of all bigrams
REP_DUP_FRACTION = 0.1   # >10% of bigram occurrences are repeats


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quebic_spark.functions.text import ngrams

    docs = _docs(spark, sf_dir)
    g = docs.select(
        "doc_id",
        F.explode(ngrams(F.col("text"), REP_NGRAM)).alias("gram"),
    )
    per = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_2grams"),
        F.count(F.lit(1)).alias("n_distinct_2grams"),
        F.max("cnt").alias("top_2gram_count"),
    )
    top_frac = (
        F.col("top_2gram_count").cast("double") / F.col("n_2grams")
    )
    dup_frac = (
        F.lit(1)
        - F.col("n_distinct_2grams").cast("double") / F.col("n_2grams")
    )
    return stats.select(
        "doc_id",
        F.col("n_2grams").cast("long").alias("n_2grams"),
        F.col("n_distinct_2grams").cast("long").alias(
            "n_distinct_2grams"
        ),
        F.col("top_2gram_count").cast("long").alias("top_2gram_count"),
        (
            (top_frac > REP_TOP_FRACTION)
            | (dup_frac > REP_DUP_FRACTION)
        ).alias("repetitive"),
    )


ORACLE_REPETITION_STATS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(t) - {REP_NGRAM - 1}, 1) + 1),
           i -> array_to_string(t[i:i+{REP_NGRAM - 1}], ' '))) AS gram
  FROM toks
),
per AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
),
s AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_2grams,
         COUNT(*) AS n_distinct_2grams,
         CAST(MAX(cnt) AS BIGINT) AS top_2gram_count
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_2grams, n_distinct_2grams, top_2gram_count,
       (CAST(top_2gram_count AS DOUBLE) / n_2grams > {REP_TOP_FRACTION}
        OR 1 - CAST(n_distinct_2grams AS DOUBLE) / n_2grams
           > {REP_DUP_FRACTION}) AS repetitive
FROM s
"""


# ---------------------------------------------------------------------------
# pii_scrub — regex PII redaction (emails, phones, IPv4, SSN-shaped).
# ---------------------------------------------------------------------------

# (name, pattern, replacement). Patterns are kept to the regex subset
# where Java (Spark) and RE2 (DuckDB) agree token-for-token: character
# classes, bounded repetition, \b word boundaries — no lookaround, no
# backreferences (RE2 has neither). The rules are separator-disjoint
# (dots vs dashes vs @), so application order cannot change the result;
# a fixed order keeps the plan deterministic anyway.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII-shaped spans in ``text_col`` in place and append one
    ``n_<rule>`` count column per rule.

    The standard pre-release scrub step of a training-data pipeline
    (C4 / Dolma-style): detection and replacement are single-pass
    ``regexp_count`` / ``regexp_replace`` expressions — pure whole-stage
    codegen, no shuffle, no UDF — so the operator is a free rider on
    the corpus scan at any scale. Counts are taken on the ORIGINAL
    text, then the replacements are applied in rule order (disjoint
    patterns, see above), which also makes the scrub idempotent: the
    replacement tags contain no digits or ``@``, so a second pass finds
    nothing.
    """
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_RULES
    ]
    scrubbed = F.col(text_col)
    for _, pat, rep in PII_RULES:
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    # text_col stays at its ORIGINAL position (r13 review: moving it
    # to the end silently misaligned positional consumers — union by
    # position, appends to a schema-ordered sink); the count columns
    # append after the originals
    kept = [
        scrubbed.alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return df.select(*kept, *counts)


def _tainted(docs: DataFrame) -> DataFrame:
    """Deterministically embed doc_id-derived PII into the synthetic
    corpus (which contains none — it is lowercase word salad, so every
    redaction below is attributable to the taint, and the clean-text
    no-false-positive property is part of what the gate checks).
    Sparse per rule (different modulus each) so the per-source counts
    are not just row counts."""
    did = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    taint = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" reach user"), s(did), F.lit("@mail"),
                     s(did % 7), F.lit(".example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(" from 10."), s(did % 256), F.lit(".0."),
                     s(did % 100)),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" ssn "), F.lpad(s(did % 1000), 3, "0"),
                     F.lit("-"), F.lpad(s(did % 100), 2, "0"),
                     F.lit("-"), F.lpad(s(did % 10000), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" call 555-"), F.lpad(s(did % 1000), 3, "0"),
                     F.lit("-"), F.lpad(s(did % 10000), 4, "0")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", "source", taint.alias("text"))


def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the scrub mechanism: taint -> scrub -> per-source
    redaction accounting, incl. the char delta between tainted and
    scrubbed text (proves replacement happened, not just counting)."""
    docs = _docs(spark, sf_dir)
    tainted = _tainted(docs).withColumn("len_before", F.length("text"))
    scrubbed = pii_scrub(tainted)
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("long").alias("emails"),
        F.sum("n_ipv4").cast("long").alias("ips"),
        F.sum("n_ssn").cast("long").alias("ssns"),
        F.sum("n_phone").cast("long").alias("phones"),
        F.sum(F.col("len_before") - F.length("text"))
        .cast("long")
        .alias("chars_removed"),
    )


def _pii_oracle() -> str:
    taint = """
  text
  || CASE WHEN doc_id % 3 = 0
          THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail'
               || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
          ELSE '' END
  || CASE WHEN doc_id % 4 = 0
          THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
               || CAST(doc_id % 100 AS VARCHAR)
          ELSE '' END
  || CASE WHEN doc_id % 5 = 0
          THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
  || CASE WHEN doc_id % 2 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
"""
    scrub = "t"
    for _, pat, rep in PII_RULES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{rep}', 'g')"
    counts = ",\n       ".join(
        f"CAST(SUM(len(regexp_extract_all(t, '{pat}'))) AS BIGINT)"
        f" AS {alias}"
        for (_, pat, _), alias in zip(
            PII_RULES, ("emails", "ips", "ssns", "phones")
        )
    )
    return f"""
WITH tainted AS (
  SELECT source, ({taint}) AS t FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       {counts},
       CAST(SUM(len(t) - len({scrub})) AS BIGINT) AS chars_removed
FROM tainted GROUP BY source
"""


ORACLE_PII_SCRUB_STATS = _pii_oracle()


# ---------------------------------------------------------------------------
# quality_percentile_filter — dynamic per-group quality thresholds.
# A fixed score cutoff over-prunes weak sources and under-prunes
# strong ones; real pipelines cut the bottom X% WITHIN each source
# (thresholds adapt to each source's own distribution). One shuffle:
# rank + count windows sharing the group-key partitioning. Count-based
# (drop at most floor(pct*n) rows), NOT percent_rank — see the
# docstring for why that formulation wipes small groups. Library op
# with an oracle-paired test (tests/test_textops_lib.py) mirroring the
# same count formulation in DuckDB.
# ---------------------------------------------------------------------------


def quality_percentile_filter(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    min_pct: float,
    order: str = "doc_id",
) -> DataFrame:
    """Drop the worst ``floor(min_pct * n)`` rows of each group by
    ``score_col`` (ties broken by ``order`` for a deterministic rank).

    Count-based, NOT percent_rank-based, deliberately: percent_rank of
    a 1-row group is 0.0, so a ``>= min_pct`` cut would delete every
    single-document source outright (and half of every 2-row group) —
    the exact small-source over-pruning this per-group design exists
    to avoid. "Cut the bottom 10%" here removes at most 10% of each
    group's rows: floor(0.1 * 1) = 0, so singletons always survive.
    Both windows share one group-key exchange."""
    from pyspark.sql import Window

    taken = {"_rn", "_drop"} & set(scored.columns)
    if taken:
        # withColumn would silently OVERWRITE and the trailing drop
        # would then destroy the caller's data (r13 review) — same
        # reserved-column guard as write_zorder
        raise ValueError(
            f"input already has reserved column(s) {sorted(taken)} — "
            "rename before quality_percentile_filter"
        )
    w = Window.partitionBy(group_col).orderBy(
        F.asc(score_col), F.asc(order)
    )
    wg = Window.partitionBy(group_col)
    n_drop = F.floor(
        F.count(F.lit(1)).over(wg) * F.lit(float(min_pct))
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("_drop", n_drop)
        .filter(F.col("_rn") > F.col("_drop"))
        .drop("_rn", "_drop")
    )


# ---------------------------------------------------------------------------
# compression_ratio — the Gopher/Dolma "too compressible" signal:
# boilerplate and templated spam compress far better than organic
# prose. zlib rides in an Arrow-batched pandas UDF (stdlib, no
# vendored deps); at 100 TB this is a scan-resident per-row map with
# zero shuffle. No DuckDB oracle (no SQL zlib) — evidence is
# property-based: determinism, row preservation, and the
# repetitive < organic < random ordering the signal exists to detect.
# ---------------------------------------------------------------------------


def compression_ratio(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``compression_ratio`` = deflated_bytes / raw_bytes of the
    UTF-8 text (level 6). Low ratio => highly repetitive document."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def ratio(s):
        import zlib

        def one(t):
            raw = (t or "").encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return pd.Series([one(t) for t in s], dtype="float64")

    # deprecated PandasUDFType form dropped (SPARK-28264, r15)
    udf = pandas_udf(ratio, "double")
    return docs.withColumn("compression_ratio", udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# lm_perplexity — CCNet-style n-gram language-model fluency filter.
#
# The canonical model-based quality signal in large-scale pipelines
# (CCNet/LLaMA filter CommonCrawl by KenLM perplexity against a clean
# reference corpus): train a bigram LM on a held-out reference slice,
# score every document by its average per-bigram negative log
# likelihood, and flag the high-perplexity (disfluent / boilerplate /
# garbled) tail. Here the "clean reference" is a deterministic md5
# split of the corpus itself — the mechanism is the operator; a real
# deployment points the train slice at its trusted corpus.
#
# Model: conditional bigram LM with Laplace smoothing,
#     p(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)
# where c(w1 ·) is the CONTEXT count (bigrams starting with w1 —
# derived from the bigram table itself, no second explode) and
# V = (#distinct contexts + 1), the +1 reserving mass for OOV.
#
# Scale shape: ONE explode of the corpus into bigrams; count tables are
# vocab-bounded aggregations (map-side combinable) that join back by
# key — small enough here that AQE broadcasts them, while at 100 TB a
# giant vocab degrades gracefully to a shuffled hash join (no collect,
# no driver state; the 1-row V frame is a broadcast nested loop by
# construction). Per-doc reduction is one combinable groupBy.
#
# Float discipline (same as tfidf_top_terms): each bigram's nll term is
# ln() rounded to 6 decimals — Spark's Math.log and DuckDB's ln differ
# by at most 1 ulp, far below the rounding grain — then summed
# EXACTLY as DECIMAL(28,6) so the per-doc total is independent of
# partitioning/combine order on both engines; the final average
# rounds half-up to 4 in integer arithmetic (_mean4_sql).
# ---------------------------------------------------------------------------

LM_TRAIN_PCT = 50       # md5-bucket split: buckets [0,50) train the LM
# the synthetic corpus shares one vocabulary, so its avg_nll spread is
# tight (observed 3.23-3.70 across sf0.001-0.1, p99~3.55); the
# threshold sits at that tail so the flag separates the worst ~1%
# instead of being constant — tune against the reference corpus in a
# real deployment (same policy as the repetition_stats thresholds)
LM_NLL_THRESHOLD = 3.55


def _mean4_sql(total: str, n: str, int_div: str) -> str:
    """``total / n`` rounded half-up to 4 decimals, in exact integer
    arithmetic over micro-units (``total`` has scale 6). A double
    quotient can sit on the rounding boundary, where Spark and DuckDB
    round it different ways: 43.797650 / 13 is exactly 3.36905, but
    DuckDB's decimal division returns the double 3.3690499999999997.
    Every nll term is ln((c1+vsz)/(c12+1)) >= 0, so floor division is
    half-up. ``int_div`` is the dialect's integer division: ``div`` in
    Spark SQL, ``//`` in DuckDB."""
    m = f"CAST({total} * 1000000 AS BIGINT)"
    return f"CAST(({m} + 50 * {n}) {int_div} (100 * {n}) AS DOUBLE) / 10000"


def half_up_mean4(total: str, n: str) -> Column:
    """Spark side of :func:`_mean4_sql` over columns ``total``, ``n``."""
    return F.expr(_mean4_sql(total, n, "div"))


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    from quebic_spark.functions.text import ngrams

    # substring_index, not split()[0]: same value for every gram (the
    # first token is the prefix before the first space in both
    # spellings, including empty-token edges), but no regex engine and
    # no array allocation per gram — this column is computed once per
    # gram OCCURRENCE, corpus-scale (r20 profile: the scoring stage was
    # 125 CPU-s at sf0.1, a third of it per-gram string work)
    return docs.select(
        "doc_id", F.explode(ngrams(F.col("text"), 2)).alias("bg")
    ).withColumn("w1", F.substring_index(F.col("bg"), " ", 1))


def _lm_uni(bi: DataFrame) -> DataFrame:
    """Context counts derived from the bigram table (c(w1 ·) = how
    often w1 is followed by anything) — vocab-sized input, no second
    corpus pass."""
    return (
        bi.groupBy(F.substring_index(F.col("bg"), " ", 1).alias("w1"))
        .agg(F.sum("c12").alias("c1"))
    )


# bi_nll broadcast bound (r21, ADVICE r20 medium): the DISTINCT-BIGRAM
# table is corpus-dependent (vocab^2 worst case), not vocab-bounded
# like uni/oov — an unconditional broadcast hint OOMs the driver at
# 100 TB bigram cardinalities. Callers MEASURE the count (the cached
# table's count() doubles as its materialization barrier; score_with_lm
# reads it from the artifact fingerprint it already collects) and only
# hint below this bound. ~2M rows ≈ low hundreds of MB framed — inside
# "a few hundred MB is fine" (guide §3.1) with wide margin to the 8 GB
# broadcast cap. Above the bound the optimizer/AQE picks the join for
# the gram stream, which at that scale genuinely must shuffle.
LM_BI_BROADCAST_MAX_ROWS = 2_000_000


def _score_lm(
    grams: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    vsz: DataFrame,
    threshold: float,
    broadcast_bi: bool = True,
) -> DataFrame:
    """Score per-doc average nll by JOINING precomputed per-key nll
    values rather than computing log/round/decimal per gram occurrence.

    The smoothed nll depends only on (c12, c1, vsz) — a function of
    the VOCAB-sized tables, not of the corpus-sized gram stream. The
    r19 shape evaluated ``round(log((c1+vsz)/(c12+1)),6)`` once per
    gram occurrence (corpus-scale); here the identical expression is
    evaluated once per distinct bigram / context / OOV case and the
    resulting decimal rides the (unchanged) broadcast joins:

      * bg seen:   nll(c12, c1)   — on the bigram table,
      * bg unseen, w1 seen: nll(0, c1) — on the context table,
      * w1 unseen: nll(0, 0)      — one scalar row.

    Every c1 in the bigram table is non-null by construction (uni is
    derived FROM bi), so the per-gram value is a 3-way coalesce of
    joined decimals — bit-identical to the inline arithmetic because
    the expression applied per distinct key is the same one the r19
    plan applied per occurrence (guide §1.2 step 2 / §2.3: do the
    per-row work on the smallest table that determines it)."""
    def _nll(c12_col: Column, c1_col: Column) -> Column:
        return F.round(
            F.log(
                (c1_col + F.col("vsz")) / (c12_col + F.lit(1.0))
            ),
            6,
        ).cast("decimal(28,6)")

    # single-row frame: hint the broadcasts explicitly (repo
    # convention — AQE would pick them anyway, but the plan must not
    # depend on AQE being on)
    bi_nll = (
        bi.join(uni, F.substring_index(F.col("bg"), " ", 1) == F.col("w1"))
        .crossJoin(F.broadcast(vsz))
        .select("bg", _nll(F.col("c12"), F.col("c1")).alias("_nll_bg"))
    )
    uni_nll = (
        uni.crossJoin(F.broadcast(vsz))
        .select("w1", _nll(F.lit(0), F.col("c1")).alias("_nll_w1"))
    )
    oov_nll = vsz.select(_nll(F.lit(0), F.lit(0)).alias("_nll_oov"))
    # uni/oov are vocab-bounded — always hint; bi_nll is hinted only
    # when the CALLER measured the bigram count under
    # LM_BI_BROADCAST_MAX_ROWS (its size estimate defeats the
    # auto-broadcast threshold, so without the hint the gram stream
    # sort-merge-shuffles by bg — measured 4.3 MB shuffled at sf0.1 —
    # but above the bound that shuffle is the correct plan and the
    # broadcast would OOM)
    bi_side = F.broadcast(bi_nll) if broadcast_bi else bi_nll
    scored = (
        grams.join(bi_side, "bg", "left")
        .join(F.broadcast(uni_nll), "w1", "left")
        .crossJoin(F.broadcast(oov_nll))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.coalesce("_nll_bg", "_nll_w1", "_nll_oov")
            ).alias("_s"),
        )
    )
    avg_nll = half_up_mean4("_s", "n_bigrams")
    return scored.select(
        "doc_id",
        "n_bigrams",
        avg_nll.alias("avg_nll"),
        (avg_nll > threshold).alias("high_ppl"),
    )


def lm_perplexity_score(
    docs: DataFrame,
    is_train: Column,
    threshold: float = LM_NLL_THRESHOLD,
) -> DataFrame:
    """Score every row of ``docs`` (``doc_id``, ``text``) by average
    per-bigram negative log likelihood under a Laplace-smoothed bigram
    LM trained on the rows where ``is_train`` holds. Returns one row
    per document: ``doc_id, n_bigrams, avg_nll, high_ppl``."""
    from quebic_spark.cache import register_cache

    grams = docs.select(
        "doc_id", is_train.alias("_is_train"), "text"
    )
    all_grams = _doc_bigrams(grams)
    # the LM itself is vocab-bounded; materialize it ONCE. Un-cached,
    # the corpus-scale train-side gram aggregation ran for every
    # consumer subtree (bigram-nll build, context table, vocab-size
    # scalar — three full passes in the r20 profile). At 100 TB this
    # is the stored counts table save_lm writes; cache is the in-plan
    # equivalent.
    bi = register_cache(
        _doc_bigrams(grams.filter(F.col("_is_train")))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .cache()
    )
    # count() here is (a) the cache's materialization barrier — the
    # broadcast builds below would otherwise trigger it anyway — and
    # (b) the MEASURED size that decides whether the distinct-bigram
    # nll table may be broadcast (see LM_BI_BROADCAST_MAX_ROWS)
    n_bi = bi.count()
    uni = register_cache(_lm_uni(bi).cache())
    vsz = uni.agg((F.count(F.lit(1)) + 1).alias("vsz"))
    return _score_lm(
        all_grams, bi, uni, vsz, threshold,
        broadcast_bi=n_bi <= LM_BI_BROADCAST_MAX_ROWS,
    )


LM_FORMAT = "bigram-lm-v1"


def save_lm(
    spark: SparkSession, docs: DataFrame, is_train: Column, path: str
) -> dict:
    """Persist the trained bigram LM: counts as parquet (the
    vocab-bounded table a 100 TB run would build once offline) plus a
    meta.json with the smoothing constant. meta.json is written LAST
    via staged rename, so its presence marks a complete artifact —
    the IVF-index persistence contract."""
    import json
    import os

    # the artifact is MULTI-file (parquet dir + meta), so before
    # touching the parquet, invalidate any previous artifact: a crash
    # mid-overwrite must leave NO meta.json next to partial data
    # (review catch — stale meta would pass the completeness check
    # and score against corrupt counts)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        os.remove(meta_path)
    bi = (
        _doc_bigrams(
            docs.select("doc_id", is_train.alias("_t"), "text")
            .filter(F.col("_t"))
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    bi.write.mode("overwrite").parquet(os.path.join(path, "bigrams"))
    stored = spark.read.parquet(os.path.join(path, "bigrams"))
    fp = stored.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("c12").alias("mass"),
    ).collect()[0]
    vsz = (
        _lm_uni(stored).agg((F.count(F.lit(1)) + 1).alias("v"))
        .collect()[0]["v"]
    )
    meta = {
        "format": LM_FORMAT,
        "vsz": int(vsz),
        # content fingerprint tying meta to the written counts
        "n_rows": int(fp["rows"]),
        "mass": int(fp["mass"]) if fp["mass"] is not None else 0,
    }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return meta


def score_with_lm(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    threshold: float = LM_NLL_THRESHOLD,
) -> DataFrame:
    """Score against a persisted LM (:func:`save_lm`): identical
    output to the in-plan :func:`lm_perplexity_score` for the same
    training slice, but the counts come from the stored table — a
    fresh session scores without re-reading the training corpus."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    if meta.get("format") != LM_FORMAT:
        raise ValueError(f"unsupported LM format {meta.get('format')!r}")
    bi = spark.read.parquet(os.path.join(path, "bigrams"))
    fp = bi.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("c12").alias("mass")
    ).collect()[0]
    if (
        int(fp["rows"]) != meta.get("n_rows")
        or int(fp["mass"] or 0) != meta.get("mass")
    ):
        raise ValueError(
            "LM artifact fingerprint mismatch: counts table does not "
            "match meta.json (partial overwrite?) — re-run save_lm"
        )
    uni = _lm_uni(bi)
    vsz = spark.range(1).select(
        F.lit(int(meta["vsz"])).cast("bigint").alias("vsz")
    )
    # the fingerprint row count above IS the measured bigram count —
    # reuse it for the broadcast bound, no extra job
    return _score_lm(
        _doc_bigrams(docs), bi, uni, vsz, threshold,
        broadcast_bi=int(fp["rows"]) <= LM_BI_BROADCAST_MAX_ROWS,
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quebic_spark.operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    return lm_perplexity_score(
        docs, hash_bucket(F.col("doc_id")) < LM_TRAIN_PCT
    )


def _lm_perplexity_oracle() -> str:
    from quebic_spark.operators.sampling import _hash_bucket_sql

    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams0 AS (
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(t) - 1, 1) + 1),
           i -> array_to_string(t[i:i+1], ' '))) AS bg
  FROM toks
),
grams AS (
  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM grams0
),
bi AS (
  SELECT bg, COUNT(*) AS c12 FROM grams
  WHERE {_hash_bucket_sql("doc_id")} < {LM_TRAIN_PCT}
  GROUP BY bg
),
uni AS (
  SELECT string_split(bg, ' ')[1] AS w1, SUM(c12) AS c1 FROM bi GROUP BY 1
),
v AS (SELECT COUNT(*) + 1 AS vsz FROM uni),
terms AS (
  SELECT g.doc_id,
         CAST(round(ln(
           (COALESCE(uni.c1, 0) + v.vsz) / (COALESCE(bi.c12, 0) + 1.0)
         ), 6) AS DECIMAL(28,6)) AS nll
  FROM grams g
  LEFT JOIN bi USING (bg)
  LEFT JOIN uni USING (w1)
  CROSS JOIN v
),
s AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         {_mean4_sql("SUM(nll)", "COUNT(*)", "//")} AS avg_nll
  FROM terms GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_nll,
       avg_nll > {LM_NLL_THRESHOLD} AS high_ppl
FROM s
"""


ORACLE_LM_PERPLEXITY = _lm_perplexity_oracle()


# ---------------------------------------------------------------------------
# profile_documents — gate for the one-pass column profiler
# (functions/profile.py): long-format per-column stats over the
# documents table in a single partial-aggregatable scan. The gate runs
# exact_distinct=True so DuckDB replays every value — but profiles only
# the compact columns (doc_id, lang, source, n_chars), NOT text: an
# exact distinct over raw document bodies is the Expand+shuffle shape
# cardinality_sketch just had surgically removed, and profile's default
# HLL mode is the documented scale path for wide string columns anyway.
# ---------------------------------------------------------------------------

PROFILE_GATE_COLS = (
    ("doc_id", "numeric"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "numeric"),
)


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quebic_spark.functions.profile import profile

    return profile(
        _docs(spark, sf_dir),
        columns=[c for c, _ in PROFILE_GATE_COLS],
        exact_distinct=True,
    )


def _profile_documents_oracle() -> str:
    from quebic_spark.functions.profile import profile_oracle_sql

    return profile_oracle_sql("documents", list(PROFILE_GATE_COLS))


ORACLE_PROFILE_DOCUMENTS = _profile_documents_oracle()


# ---------------------------------------------------------------------------
# phrase_search — positional-inverted-index phrase matching, the
# corpus-audit primitive ("where exactly does this eval item / PII
# string / boilerplate phrase occur?"). A k-token phrase match is k
# posting streams joined on (doc_id, aligned position) — the classic
# IR formulation, relational here so Catalyst drives it.
#
# Scale shape: the index filter (`token IN phrase_tokens`) lands in
# the scan BEFORE the explode output shuffles anywhere, so join input
# is sized by the phrase tokens' posting lists, never the corpus; at
# 100 TB the posting table is materialized once, bucketed by token
# (`build_phrase_index`), and every subsequent search is a pruned read
# + co-located joins — the pytest proves the persisted path returns
# identical matches and prunes with pushed filters.
# ---------------------------------------------------------------------------

SEARCH_PHRASE = "table value"  # gate phrase (2 tokens, mid-frequency)


def posting_index(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(token, doc_id, pos) postings — pos is 0-based token offset."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    )


def phrase_search(
    index: DataFrame, phrase: str, id_col: str = "doc_id"
) -> DataFrame:
    """Match positions of ``phrase`` (exact consecutive tokens) from a
    posting index: one filtered projection per phrase token, joined on
    (doc, start-aligned position)."""
    words = phrase.split(" ")
    if not words or any(not w for w in words):
        raise ValueError(f"bad phrase: {phrase!r}")
    base = (
        index.filter(F.col("token") == words[0])
        .select(F.col(id_col), F.col("pos").alias("match_pos"))
    )
    for i, w in enumerate(words[1:], start=1):
        nxt = index.filter(F.col("token") == w).select(
            F.col(id_col), (F.col("pos") - i).alias("match_pos")
        )
        base = base.join(nxt, [id_col, "match_pos"])
    return base


def build_phrase_index(
    docs: DataFrame, path: str, n_buckets: int = 32
) -> None:
    """Materialize the posting table bucketed by token: at scale the
    index is built once and every search is a pruned, co-located read
    (same train-once/probe-many pattern as the persisted IVF index)."""
    (
        posting_index(docs)
        .repartition(n_buckets, "token")
        .sortWithinPartitions("token", "doc_id", "pos")
        .write.mode("overwrite")
        .parquet(path)
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    hits = phrase_search(posting_index(docs), SEARCH_PHRASE)
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("match_pos").alias("first_pos"),
        F.max("match_pos").alias("last_pos"),
    )


def _phrase_oracle() -> str:
    words = SEARCH_PHRASE.split(" ")
    joins = []
    for i, w in enumerate(words[1:], start=1):
        joins.append(
            f"JOIN postings p{i} ON p{i}.doc_id = p0.doc_id "
            f"AND p{i}.pos = p0.pos + {i} AND p{i}.token = '{w}'"
        )
    return f"""
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
postings AS (
  SELECT doc_id, toks[CAST(i AS INT)] AS token, i - 1 AS pos
  FROM split,
       UNNEST(range(1, CAST(len(toks) AS BIGINT) + 1)) AS t(i)
),
matches AS (
  SELECT p0.doc_id, p0.pos AS match_pos
  FROM postings p0
  {' '.join(joins)}
  WHERE p0.token = '{words[0]}'
)
SELECT doc_id, COUNT(*) AS n_matches,
       MIN(match_pos) AS first_pos, MAX(match_pos) AS last_pos
FROM matches
GROUP BY doc_id
"""


ORACLE_PHRASE_SEARCH = _phrase_oracle()


# ---------------------------------------------------------------------------
# line_dedup — line-level boilerplate removal (the RefinedWeb / CCNet
# pipeline stage): a line occurring in more than ``max_df`` documents
# (nav bars, cookie banners, footer legalese) is removed from EVERY
# document, and each document's remaining lines are stitched back in
# order. Library op with a DuckDB-oracle test over synthetic
# multi-line docs (`tests/test_textops_lib.py`) — the driver testdata
# carries no newlines, so a driver gate here would be degenerate.
#
# Scale shape: md5 line keys keep bodies out of the DF-count shuffle;
# the hot set (df > max_df) is the AGGREGATED boilerplate list —
# small by the same argument as stop-shingles — so the anti-join
# builds its hash side on it (AQE broadcasts when tiny); reassembly
# is the one doc-keyed exchange. No Python, no window over the corpus.
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame,
    max_df: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """(id_col, cleaned_text, n_lines_in, n_lines_kept) — boilerplate
    lines (blank-trimmed lines present in more than ``max_df``
    documents) removed, remaining lines rejoined in original order.
    Documents reduced to nothing keep a row with empty text."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim)).alias(
            "pos", "line"
        ),
    )
    key = F.md5(F.col("line"))
    hot = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy(key.alias("lk"))
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") > max_df)
        .select("lk")
    )
    # LEFT join (lk NULL <=> line kept) instead of anti-join, so ONE
    # doc-keyed aggregation derives totals, kept counts, and the
    # reassembled text together: the r9 shape makes two corpus passes
    # (DF aggregation + this one) instead of the previous three — at
    # 100 TB the exploded lines frame is too big to cache, so every
    # avoided pass is a full re-scan saved. collect_list skips the
    # NULLed (hot) entries, preserving the exact anti-join + rebuild
    # semantics row for row.
    flagged = lines.join(hot, key == F.col("lk"), "left")
    keep = F.col("lk").isNull()
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.when(keep, F.struct("pos", "line")))
        ),
        lambda s: s["line"],
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(ordered, delim).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_lines_in"),
        F.count(F.when(keep, 1)).cast("bigint").alias("n_lines_kept"),
    )


# ---------------------------------------------------------------------------
# line_dedup driver gate — the driver corpus carries no newlines, so
# the gate SYNTHESIZES multi-line docs from driver rows INSIDE the
# query (VERDICT r8 #5): each doc's text becomes line 2 under its
# group leader's text as line 1 (leader = doc_id rounded down to the
# LINE_GATE_GROUP boundary), so every leader line recurs across
# ~LINE_GATE_GROUP documents > MAX_DF — the real boilerplate shape.
# DuckDB replays synthesis + removal + reassembly arithmetically; the
# cleaned text is returned as md5 so the gate stays driver-small while
# still pinning the exact reassembled bytes.
# ---------------------------------------------------------------------------

LINE_GATE_GROUP = 10
LINE_GATE_MAX_DF = 5


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    leaders = docs.select(
        F.col("doc_id").alias("leader_id"),
        F.col("text").alias("leader_text"),
    )
    synth = (
        docs.withColumn(
            "leader_id",
            F.col("doc_id") - F.col("doc_id") % LINE_GATE_GROUP,
        )
        .join(leaders, "leader_id")
        .select(
            "doc_id",
            F.concat_ws(
                "\n", F.col("leader_text"), F.col("text")
            ).alias("text"),
        )
    )
    out = line_dedup(synth, max_df=LINE_GATE_MAX_DF)
    return out.select(
        "doc_id",
        F.md5("cleaned_text").alias("cleaned_md5"),
        "n_lines_in",
        "n_lines_kept",
    )


ORACLE_LINE_DEDUP = f"""
WITH synth AS (
  SELECT a.doc_id, l.text || chr(10) || a.text AS text
  FROM documents a
  JOIN documents l
    ON l.doc_id = a.doc_id - a.doc_id % {LINE_GATE_GROUP}
),
lines AS (
  SELECT doc_id, i - 1 AS pos, ls[CAST(i AS INT)] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth),
       UNNEST(range(1, CAST(len(ls) AS BIGINT) + 1)) AS t(i)
),
hot AS (
  SELECT line FROM lines WHERE trim(line) <> ''
  GROUP BY line HAVING COUNT(DISTINCT doc_id) > {LINE_GATE_MAX_DF}
),
kept AS (
  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)
)
SELECT t.doc_id,
       md5(COALESCE(k.txt, '')) AS cleaned_md5,
       t.n_lines_in,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_lines_kept
FROM (SELECT doc_id, COUNT(*) AS n_lines_in FROM lines
      GROUP BY doc_id) t
LEFT JOIN (SELECT doc_id,
                  string_agg(line, chr(10) ORDER BY pos) AS txt,
                  COUNT(*) AS n_kept
           FROM kept GROUP BY doc_id) k USING (doc_id)
"""


# ---------------------------------------------------------------------------
# unicode_normalize — NFC/NFKC text normalization, the first stage of
# every serious web-corpus pipeline (CCNet/Dolma/RefinedWeb normalize
# before ANY hashing: a decomposed 'a'+U+0301 and a composed 'á' are
# different bytes, so un-normalized corpora leak duplicates past every
# content-key dedup in this repo). Extension layer (SURVEY §2.10); the
# reference stores TEXT verbatim (DataType.scala:41-45).
#
# Scale shape: an Arrow-batched pandas UDF (stdlib unicodedata — the
# JVM exposes no normalizer through pyspark.sql.functions), strictly
# SCAN-RESIDENT: zero shuffles, zero joins, composes as one more
# column expression in any ingest scan. Python eval is the designed
# surface here, same budget class as the media decoders.
#
# Gate discipline: the driver corpus is ASCII (NFC = identity), so the
# gate SYNTHESIZES decomposed text deterministically from driver rows
# (the line_dedup synthesis pattern, VERDICT r9): every 'a' becomes
# 'a'+COMBINING ACUTE, normalization must re-compose it, and DuckDB
# replays the same synthesis + nfc_normalize for a full value hash —
# md5s of the normalized bytes match across engines (verified: python
# unicodedata and DuckDB agree byte-for-byte on NFC).
# ---------------------------------------------------------------------------

def unicode_normalize(
    df: DataFrame, text_col: str = "text", form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` (default: replace ``text_col``) with the
    unicode-normalized text. ``form`` is NFC/NFKC/NFD/NFKD."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def _norm(col):  # (pd.Series) -> pd.Series
        import unicodedata

        return col.map(
            lambda s: None if s is None
            else unicodedata.normalize(form, s)
        )

    norm = pandas_udf(_norm, "string")
    return df.withColumn(out_col or text_col, norm(F.col(text_col)))


COMBINING_ACUTE = "́"


def q_unicode_normalize_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    decomposed = F.regexp_replace(
        F.col("text"), "a", "a" + COMBINING_ACUTE
    )
    base = _docs(spark, sf_dir).select(
        "doc_id", decomposed.alias("raw")
    )
    out = unicode_normalize(base, text_col="raw", out_col="norm")
    return out.select(
        "doc_id",
        F.md5(F.col("norm")).alias("norm_md5"),
        F.length("norm").alias("norm_len"),
        F.length("raw").alias("raw_len"),
        (F.col("norm") != F.col("raw")).alias("changed"),
    )


ORACLE_UNICODE_NORMALIZE_STATS = """
WITH synth AS (
  SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS raw
  FROM documents
)
SELECT doc_id,
       md5(nfc_normalize(raw)) AS norm_md5,
       length(nfc_normalize(raw)) AS norm_len,
       length(raw) AS raw_len,
       nfc_normalize(raw) != raw AS changed
FROM synth
"""


QUERIES = {
    "unicode_normalize_stats": q_unicode_normalize_stats,
    "source_scorecard": q_source_scorecard,
    "phrase_search": q_phrase_search,
    "lm_perplexity": q_lm_perplexity,
    "profile_documents": q_profile_documents,
    "pii_scrub_stats": q_pii_scrub_stats,
    "repetition_stats": q_repetition_stats,
    "decontaminate": q_decontaminate,
    "text_stats": q_text_stats,
    "token_counts": q_token_counts,
    "doc_fingerprints": q_doc_fingerprints,
    "lang_id": q_lang_id,
    "doc_quality": q_doc_quality,
    "quality_filter_stats": q_quality_filter_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "line_dedup": q_line_dedup,
    "sentiment_scores": q_sentiment_scores,
}

ORACLES = {
    "unicode_normalize_stats": ORACLE_UNICODE_NORMALIZE_STATS,
    "source_scorecard": ORACLE_SOURCE_SCORECARD,
    "phrase_search": ORACLE_PHRASE_SEARCH,
    "lm_perplexity": ORACLE_LM_PERPLEXITY,
    "profile_documents": ORACLE_PROFILE_DOCUMENTS,
    "pii_scrub_stats": ORACLE_PII_SCRUB_STATS,
    "repetition_stats": ORACLE_REPETITION_STATS,
    "decontaminate": ORACLE_DECONTAMINATE,
    "text_stats": ORACLE_TEXT_STATS,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "doc_fingerprints": ORACLE_DOC_FINGERPRINTS,
    "lang_id": ORACLE_LANG_ID,
    "doc_quality": ORACLE_DOC_QUALITY,
    "quality_filter_stats": ORACLE_QUALITY_FILTER_STATS,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "line_dedup": ORACLE_LINE_DEDUP,
    "sentiment_scores": ORACLE_SENTIMENT_SCORES,
}
