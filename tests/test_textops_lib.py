"""Library-level text-QA ops: per-group percentile quality filtering
(oracle-paired vs DuckDB percent_rank) and the zlib compression-ratio
signal (property-based — no SQL zlib exists to mirror)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quebic_spark.operators.textops import (
    compression_ratio,
    quality_percentile_filter,
)


@pytest.fixture(scope="module")
def scored(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks).cast("double")
    score = (
        F.size(F.array_distinct(toks)) / n_toks * F.lit(0.5)
        + F.least(n_toks / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
    )
    df = docs.select("doc_id", "source", score.alias("q")).cache()
    yield df
    df.unpersist(blocking=False)  # don't leak into later modules


def test_percentile_filter_matches_duckdb(spark, scored, sf_dir, duck):
    kept = quality_percentile_filter(scored, "source", "q", 0.25)
    got = sorted(r["doc_id"] for r in kept.collect())
    want = sorted(
        r[0]
        for r in duck.execute(
            """
            WITH f AS (
              SELECT doc_id, source,
                CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                  / len(string_split(text,' ')) * 0.5
                  + least(len(string_split(text,' ')) / 100.0, 1.0) * 0.5
                  AS q
              FROM documents
            )
            SELECT doc_id FROM (
              SELECT doc_id,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY q, doc_id) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM f
            ) WHERE rn > floor(0.25 * n)
            """
        ).fetchall()
    )
    assert got == want and 0 < len(got) < scored.count()


def test_percentile_filter_small_groups_not_overpruned(spark):
    """The count-based cut removes AT MOST min_pct of each group: a
    singleton source survives any threshold < 1, and a 2-row group at
    0.5 loses exactly its worse row (the percent_rank formulation
    wiped singletons for any threshold > 0 — the round-5 review
    finding)."""
    df = spark.createDataFrame(
        [(1, "g1", 0.1), (2, "g2", 0.2), (3, "g2", 0.9)],
        "doc_id long, source string, q double",
    )
    kept = {
        r["doc_id"]
        for r in quality_percentile_filter(
            df, "source", "q", 0.5
        ).collect()
    }
    # g1's only (and best) doc survives; g2 drops its worse row
    assert kept == {1, 3}
    kept_light = {
        r["doc_id"]
        for r in quality_percentile_filter(
            df, "source", "q", 0.1
        ).collect()
    }
    # floor(0.1 * 2) = 0: nothing removable from either group
    assert kept_light == {1, 2, 3}


def test_compression_ratio_orders_and_determinism(spark):
    import random

    rnd = random.Random(7)
    organic = " ".join(
        rnd.choice(["alpha", "beta", "gamma", "delta", "eps"])
        for _ in range(200)
    )
    repetitive = "spam ham " * 100
    noise = "".join(chr(rnd.randrange(0x21, 0x7F)) for _ in range(1200))
    df = spark.createDataFrame(
        [(1, repetitive), (2, organic), (3, noise)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["compression_ratio"]
        for r in compression_ratio(df).collect()
    }
    assert out[1] < out[2] < out[3], out
    assert all(0 < v <= 1.2 for v in out.values())
    # deterministic across runs and row-preserving
    again = {
        r["doc_id"]: r["compression_ratio"]
        for r in compression_ratio(df).collect()
    }
    assert again == out


def test_compression_ratio_empty_and_null(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["compression_ratio"]
        for r in compression_ratio(df).collect()
    }
    assert out == {1: 1.0, 2: 1.0}


# ---------------------------------------------------------------------------
# lm_perplexity_score — bigram-LM fluency scoring (CCNet-style filter).
# The driver gate hash-matches the full pipeline against DuckDB; these
# tests pin the LM MATH itself on a hand-computed micro-corpus.
# ---------------------------------------------------------------------------


def test_lm_score_matches_hand_computation(spark):
    import math

    from quebic_spark.operators.textops import lm_perplexity_score

    # train: "a b a b" -> bigram counts {"a b": 2, "b a": 1},
    # contexts {a: 2, b: 1}, V = 2 distinct contexts + 1 = 3
    df = spark.createDataFrame(
        [(1, "a b a b", True), (2, "a b c", False)],
        "doc_id long, text string, train boolean",
    )
    out = {
        r["doc_id"]: r
        for r in lm_perplexity_score(df, F.col("train")).collect()
    }
    # doc 2: "a b" -> ln((2+3)/(2+1)); "b c" unseen -> ln((1+3)/(0+1))
    want = (
        round(math.log(5 / 3), 6) + round(math.log(4.0), 6)
    ) / 2
    assert out[2]["n_bigrams"] == 2
    assert out[2]["avg_nll"] == pytest.approx(round(want, 4), abs=1e-9)
    # doc 1 scores too (train docs are scored like any other):
    # "a b": ln(5/3) twice, "b a": ln((1+3)/(1+1)) = ln(2)
    want1 = (2 * round(math.log(5 / 3), 6) + round(math.log(2.0), 6)) / 3
    assert out[1]["avg_nll"] == pytest.approx(round(want1, 4), abs=1e-9)


def test_lm_mean_rounds_half_up_on_both_engines(spark):
    """43.797650 / 13 is exactly 3.36905, but the double quotient is
    3.3690499999999997, which Spark's round() took to 3.369 and
    DuckDB's to 3.3691. The exact integer form gives 3.3691 on both."""
    duckdb = pytest.importorskip("duckdb")
    from quebic_spark.operators.textops import (
        ORACLE_LM_PERPLEXITY, _mean4_sql, half_up_mean4,
    )

    assert _mean4_sql("SUM(nll)", "COUNT(*)", "//") in ORACLE_LM_PERPLEXITY
    total = "CAST(43.797650 AS DECIMAL(38,6))"
    got = spark.sql(f"SELECT {total} AS s, 13L AS n").select(
        half_up_mean4("s", "n")
    ).first()[0]
    oracle = duckdb.sql(f"SELECT {_mean4_sql(total, '13', '//')}")
    assert got == oracle.fetchone()[0] == 3.3691


def test_lm_score_identical_with_and_without_bi_broadcast(spark):
    """broadcast_bi is a PLAN choice, never a result change (r21: the
    hint is now gated on the measured distinct-bigram count because
    that table is corpus-dependent — ADVICE r20). Both join strategies
    must produce identical rows, and the big-table path must not carry
    the broadcast hint in its plan."""
    from quebic_spark.operators.textops import (
        _doc_bigrams,
        _lm_uni,
        _score_lm,
    )

    df = spark.createDataFrame(
        [(1, "a b a b c d", True), (2, "a b x", False),
         (3, "c d a", False)],
        "doc_id long, text string, train boolean",
    )
    grams = _doc_bigrams(df.select("doc_id", "text"))
    bi = (
        _doc_bigrams(df.filter("train").select("doc_id", "text"))
        .groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    )
    uni = _lm_uni(bi)
    vsz = uni.agg((F.count(F.lit(1)) + 1).alias("vsz"))

    def rows(flag):
        out = _score_lm(grams, bi, uni, vsz, 5.0, broadcast_bi=flag)
        return sorted(map(tuple, out.collect()))

    assert rows(True) == rows(False)
    # the hinted logical plan carries one MORE broadcast hint (the
    # bg-keyed side); the optimizer may still broadcast the unhinted
    # side at this tiny size — that's its call, not the hint's
    hinted = _score_lm(grams, bi, uni, vsz, 5.0, broadcast_bi=True)
    unhinted = _score_lm(grams, bi, uni, vsz, 5.0, broadcast_bi=False)
    logical_hinted = hinted._jdf.queryExecution().logical().toString()
    logical_unhinted = unhinted._jdf.queryExecution().logical().toString()
    assert logical_hinted.count("broadcast") > logical_unhinted.count(
        "broadcast"
    )


def test_lm_score_oov_doc_scores_worse_and_single_token_survives(spark):
    from quebic_spark.operators.textops import lm_perplexity_score

    df = spark.createDataFrame(
        [
            (1, "the quick fox jumps the quick fox", True),
            (2, "the quick fox jumps", False),   # all seen
            (3, "zz yy xx ww", False),           # all OOV
            (4, "solo", False),                  # single token
        ],
        "doc_id long, text string, train boolean",
    )
    out = {
        r["doc_id"]: r
        for r in lm_perplexity_score(df, F.col("train")).collect()
    }
    assert set(out) == {1, 2, 3, 4}            # every doc scored
    assert out[3]["avg_nll"] > out[2]["avg_nll"]  # OOV is less fluent
    # a single-token doc degenerates to one unigram "bigram"; it must
    # neither crash nor disappear
    assert out[4]["n_bigrams"] == 1
    assert out[4]["avg_nll"] > 0


def test_lm_gate_invariants(spark, sf_dir):
    from quebic_spark.operators.textops import q_lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = q_lm_perplexity(spark, sf_dir)
    rows = out.collect()
    # one row per document, n_bigrams = max(n_tokens - 1, 1)
    assert len(rows) == docs.count()
    n_toks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.greatest(
                F.size(F.split("text", " ")) - 1, F.lit(1)
            ).alias("n")
        ).collect()
    }
    for r in rows:
        assert r["n_bigrams"] == n_toks[r["doc_id"]]
        assert r["avg_nll"] > 0
    # the threshold separates a small tail, not a constant flag
    flagged = sum(1 for r in rows if r["high_ppl"])
    assert 0 < flagged < 0.05 * len(rows)


def test_lm_save_load_scores_identically(spark, sf_dir, tmp_path):
    """A persisted LM (counts parquet + meta.json) must reproduce the
    in-plan scoring exactly — the stored table changes cost, never
    results (the IVF-quantizer persistence contract)."""
    from quebic_spark.operators.sampling import hash_bucket
    from quebic_spark.operators.textops import (
        LM_TRAIN_PCT,
        lm_perplexity_score,
        save_lm,
        score_with_lm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_train = hash_bucket(F.col("doc_id")) < LM_TRAIN_PCT
    path = str(tmp_path / "lm")
    meta = save_lm(spark, docs, is_train, path)
    assert meta["format"] == "bigram-lm-v1" and meta["vsz"] > 1

    want = sorted(
        map(tuple, lm_perplexity_score(docs, is_train).collect())
    )
    got = sorted(map(tuple, score_with_lm(spark, docs, path).collect()))
    assert got == want


def test_lm_load_rejects_incomplete_artifact(spark, tmp_path):
    import pytest as _pytest

    from quebic_spark.operators.textops import score_with_lm

    # no meta.json -> incomplete artifact must not score
    with _pytest.raises(Exception):
        score_with_lm(
            spark,
            spark.createDataFrame(
                [(1, "a b")], "doc_id long, text string"
            ),
            str(tmp_path / "lm_missing"),
        ).collect()


# ---------------------------------------------------------------------------
# phrase_search — positional inverted index
# ---------------------------------------------------------------------------

def test_phrase_search_matches_naive_scan(spark, sf_dir):
    from quebic_spark.operators.textops import (
        SEARCH_PHRASE,
        phrase_search,
        posting_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.doc_id, r.match_pos)
        for r in phrase_search(posting_index(docs), SEARCH_PHRASE).collect()
    }
    words = SEARCH_PHRASE.split(" ")
    expect = set()
    for row in docs.select("doc_id", "text").collect():
        toks = row.text.split(" ")
        for p in range(len(toks) - len(words) + 1):
            if toks[p: p + len(words)] == words:
                expect.add((row.doc_id, p))
    assert got == expect and expect, f"{len(got)} vs {len(expect)}"


def test_phrase_search_multi_token_and_overlap(spark):
    from quebic_spark.operators.textops import phrase_search, posting_index

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),   # overlapping "a b a" at 0 and 2
            (1, "a b c"),
            (2, "c b a"),
            (3, "a"),             # shorter than phrase
        ],
        "doc_id long, text string",
    )
    idx = posting_index(docs)
    hits = {
        (r.doc_id, r.match_pos)
        for r in phrase_search(idx, "a b a").collect()
    }
    assert hits == {(0, 0), (0, 2)}
    assert {(r.doc_id, r.match_pos)
            for r in phrase_search(idx, "a b c").collect()} == {(1, 0)}


def test_persisted_phrase_index_prunes_and_agrees(spark, sf_dir, tmp_path):
    from quebic_spark.operators.textops import (
        SEARCH_PHRASE,
        build_phrase_index,
        phrase_search,
        posting_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "postings")
    build_phrase_index(docs, path)
    stored = spark.read.parquet(path)
    live = {
        (r.doc_id, r.match_pos)
        for r in phrase_search(posting_index(docs), SEARCH_PHRASE).collect()
    }
    persisted_q = phrase_search(stored, SEARCH_PHRASE)
    persisted = {
        (r.doc_id, r.match_pos) for r in persisted_q.collect()
    }
    assert persisted == live and live

    # the token filter must reach the parquet scan (pruned read)
    plan = persisted_q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(token), EqualTo(token," in plan, plan


def test_phrase_search_rejects_bad_phrase(spark):
    from quebic_spark.operators.textops import phrase_search, posting_index

    docs = spark.createDataFrame([(0, "x y")], "doc_id long, text string")
    idx = posting_index(docs)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phrase_search(idx, "")
    with _pytest.raises(ValueError):
        phrase_search(idx, "a  b")


def test_line_dedup_matches_duckdb_oracle(spark):
    """Boilerplate lines (df > max_df) removed everywhere, order
    preserved, empty docs retained — hash-compared against a full
    DuckDB replay over synthetic multi-line docs (driver testdata has
    no newlines, so this operator's oracle lives here)."""
    import duckdb
    import pandas as pd

    from quebic_spark.operators.textops import line_dedup

    boiler = "accept all cookies"
    footer = "contact us | terms"
    rows = []
    for i in range(30):
        body = [f"unique insight {i}", boiler, f"more detail {i}"]
        if i % 2 == 0:
            body.append(footer)
        if i % 7 == 0:
            body.insert(0, "   ")  # whitespace lines never count as hot
        rows.append((i, "\n".join(body)))
    rows.append((100, boiler))              # reduces to nothing
    rows.append((101, f"{boiler}\n{footer}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        r.doc_id: (r.cleaned_text, r.n_lines_in, r.n_lines_kept)
        for r in line_dedup(docs, max_df=10).collect()
    }
    # layout-invariance
    again = {
        r.doc_id: (r.cleaned_text, r.n_lines_in, r.n_lines_kept)
        for r in line_dedup(docs.repartition(9), max_df=10).collect()
    }
    assert got == again

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("docs", pdf)
    oracle = con.execute("""
WITH l AS (
  SELECT doc_id, i - 1 AS pos, ls[CAST(i AS INT)] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
       UNNEST(range(1, CAST(len(ls) AS BIGINT) + 1)) AS t(i)
),
hot AS (
  SELECT line FROM l WHERE trim(line) <> ''
  GROUP BY line HAVING COUNT(DISTINCT doc_id) > 10
),
kept AS (
  SELECT * FROM l WHERE line NOT IN (SELECT line FROM hot)
)
SELECT t.doc_id,
       COALESCE(k.txt, '') AS cleaned_text,
       t.n_in, COALESCE(k.n_kept, 0) AS n_kept
FROM (SELECT doc_id, COUNT(*) AS n_in FROM l GROUP BY doc_id) t
LEFT JOIN (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt,
                  COUNT(*) AS n_kept
           FROM kept GROUP BY doc_id) k USING (doc_id)
""").fetchall()
    want = {r[0]: (r[1], r[2], r[3]) for r in oracle}
    assert got == want
    # the named boilerplate is gone from every surviving text
    assert all(boiler not in t for t, _, _ in got.values())
    assert got[100] == ("", 1, 0)


def test_unicode_normalize_forms_and_nulls(spark):
    """NFC recomposes combining sequences; NFKC additionally folds
    compatibility forms (ligature, fullwidth); nulls pass through; an
    unknown form raises before any job runs."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from quebic_spark.operators.textops import unicode_normalize

    rows = [
        (0, "café"),     # decomposed accent -> café
        (1, "ﬁle"),       # 'fi' ligature (NFKC-only fold)
        (2, "Ａscii"),     # fullwidth 'A' (NFKC-only fold)
        (3, None),
        (4, "plain"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {
        r["doc_id"]: r["text"]
        for r in unicode_normalize(df).collect()
    }
    assert nfc[0] == "caf\u00e9" and len(nfc[0]) == 4
    assert nfc[1] == "ﬁle"      # NFC keeps compatibility chars
    assert nfc[2] == "Ａscii"
    assert nfc[3] is None and nfc[4] == "plain"

    nfkc = {
        r["doc_id"]: r["text"]
        for r in unicode_normalize(df, form="NFKC").collect()
    }
    assert nfkc[0] == "caf\u00e9"
    assert nfkc[1] == "file"         # ligature folded
    assert nfkc[2] == "Ascii"        # fullwidth folded

    # out_col keeps the original column intact
    both = unicode_normalize(df, out_col="norm").filter(
        F.col("doc_id") == 0
    ).collect()[0]
    assert both["text"] == "café" and both["norm"] == "café"

    with _pytest.raises(ValueError):
        unicode_normalize(df, form="NFX")


def test_normalization_composes_with_content_key_dedup(spark):
    """The reason the operator exists: decomposed and composed copies
    of the same text are DIFFERENT bytes, so every content-key dedup
    in the repo sees them as distinct — normalize first and they
    collapse. Pipelines compose the two scan stages; no dedup API
    change needed."""
    from pyspark.sql import functions as F

    from quebic_spark.operators.dedup import _content_key
    from quebic_spark.operators.textops import unicode_normalize

    rows = [
        (0, "the cafe\u0301 menu"),   # decomposed accent
        (1, "the caf\u00e9 menu"),    # composed twin - same text
        (2, "a different document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw_keys = df.select(_content_key().alias("k")).distinct().count()
    norm_keys = (
        unicode_normalize(df)
        .select(_content_key().alias("k"))
        .distinct()
        .count()
    )
    assert raw_keys == 3    # byte-level: the twins look distinct
    assert norm_keys == 2   # normalized: they dedup together