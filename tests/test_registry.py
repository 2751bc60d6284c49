"""Registry curation invariants + oracle evidence for retired gates.

The driver's correctness gate records only the first 50 registry
entries, so ``quebic_spark.operators`` curates an explicit
``GATE_ORDER`` (checked by the driver) and ``RETIRED_GATES`` (gates
without a driver slot, each mapped to the live gates that run its
helper, or to ``()``). This module is the evidence backstop: every
retired gate is still run against its DuckDB oracle at sf0.001 with
the SAME fingerprint comparison the driver uses (pandas fetch on both
sides, columns sorted by name, order-insensitive row hash), so
retiring a gate never removes hash-level verification — it only frees
a driver slot.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_oracle import duck_fingerprint, spark_fingerprint  # noqa: E402

from quebic_spark.operators import (  # noqa: E402
    ALL_ORACLES,
    ALL_QUERIES,
    GATE_ORDER,
    RETIRED_GATES,
)


def test_gate_window_holds_every_new_operator():
    # Driver records exactly the first 50 entries; curation must keep
    # the live list inside that window and cover every defined query.
    assert len(GATE_ORDER) <= 50
    assert set(GATE_ORDER) | set(RETIRED_GATES) == set(ALL_QUERIES)
    assert not set(GATE_ORDER) & set(RETIRED_GATES)


def test_live_gates_are_oracle_paired():
    # Every live gate should carry a full DuckDB oracle so the driver
    # records a hash row, not a rows-only row.
    missing = [n for n in GATE_ORDER if n not in ALL_ORACLES]
    assert missing == [], f"rows-only gates in driver window: {missing}"


# Retired gates no live gate covers: their oracle run below is their
# only evidence. A new retirement that cites nothing must be added
# here, so it shows as a diff.
_UNCOVERED_RETIRED = {
    "ann_lsh_topk", "asof_next_purchase", "doc_fingerprints",
    "event_counts_hourly", "event_json_props", "event_sliding_windows",
    "session_topk_events", "tfidf_top_terms", "weighted_sample",
}


def test_retired_gate_citations_are_live_and_explicit():
    assert {n for n, v in RETIRED_GATES.items() if not v} == _UNCOVERED_RETIRED
    cited = {g for v in RETIRED_GATES.values() for g in v}
    assert cited - set(GATE_ORDER) == set()


@pytest.mark.parametrize("name", sorted(RETIRED_GATES))
def test_retired_gate_still_matches_oracle(name, spark, sf_dir, duck):
    assert name in ALL_ORACLES, f"retired gate {name} lost its oracle"
    sdf = ALL_QUERIES[name](spark, sf_dir)
    assert spark_fingerprint(sdf) == duck_fingerprint(
        duck.execute(ALL_ORACLES[name])
    ), name


def test_minhash_regex_basis_matches_oracle(spark, sf_dir, duck):
    """Tokenizer-basis dial: the dedup family over the BPE-ish regex
    basis (the basis a real training tokenizer induces) must hash-match
    a DuckDB oracle built on regexp_extract_all of the SAME pattern —
    proving the basis parameter changes tokenization, not semantics."""
    from quebic_spark.operators.dedup import (
        _minhash_cte_block,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sdf = minhash_lsh_pairs(docs, basis="regex")
    sql = (
        f"WITH {_minhash_cte_block(basis='regex')}\n"
        "SELECT doc_a, doc_b, jaccard FROM pairs"
    )
    assert spark_fingerprint(sdf) == duck_fingerprint(duck.execute(sql))
    # and the basis genuinely changes the shingle universe: the regex
    # basis must differ from whitespace on punctuation-bearing text
    ws = minhash_lsh_pairs(docs, basis="whitespace")
    assert sdf.columns == ws.columns


def test_dup_spans_semantics(spark):
    """ExactSubstr semantics on a hand-built corpus: a 16-token run
    shared by two docs yields one merged 16-token span in each; exact
    copies reach dup_frac == 1.0; docs with no shared >= k run (or only
    a k-1 run) produce no row at all."""
    from quebic_spark.operators.dedup import dup_spans

    shared = [f"s{i}" for i in range(16)]
    texts = [
        " ".join([f"a{i}" for i in range(7)] + shared
                 + [f"A{i}" for i in range(7)]),
        " ".join([f"b{i}" for i in range(7)] + shared
                 + [f"B{i}" for i in range(7)]),
        " ".join(f"c{i}" for i in range(12)),
        " ".join(f"c{i}" for i in range(12)),   # exact copy of doc 2
        " ".join(f"e{i}" for i in range(30)),   # unique -> no row
        # 9-token shared run < k=10 -> no duplicated 10-gram -> no row
        " ".join([f"h{i}" for i in range(6)] + [f"n{i}" for i in range(9)]),
        " ".join([f"i{i}" for i in range(6)] + [f"n{i}" for i in range(9)]),
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dup_spans(docs, k=10).collect()}
    assert set(out) == {0, 1, 2, 3}
    for d in (0, 1):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == 16
        assert out[d]["total_tokens"] == 30
        assert abs(out[d]["dup_frac"] - 16 / 30) < 1e-12
    for d in (2, 3):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == 12
        assert out[d]["dup_frac"] == 1.0


def test_dup_spans_island_merge_boundaries(spark):
    """Interval-merge rule: covering windows [p, p+k-1] merge when they
    touch (position gap == k) and split when the gap exceeds k."""
    from quebic_spark.operators.dedup import dup_spans

    s1 = [f"s{i}" for i in range(16)]
    s2 = [f"t{i}" for i in range(16)]
    q = [f"q{i}" for i in range(10)]
    r = [f"r{i}" for i in range(10)]
    texts = [
        # two shared runs split by 10 unique tokens: dup starts 0..6 and
        # 26..32, gap 20 > k -> TWO spans of 16 tokens each
        " ".join(s1 + [f"x{i}" for i in range(10)] + s2),
        " ".join(s1 + [f"y{i}" for i in range(10)] + s2),
        # Q and R each duplicated elsewhere, adjacent in doc 2: dup
        # starts {0, 10}, gap exactly k -> ONE merged 20-token span
        " ".join(q + r),
        " ".join([f"u{i}" for i in range(7)] + q + [f"U{i}" for i in range(7)]),
        " ".join([f"v{i}" for i in range(7)] + r + [f"V{i}" for i in range(7)]),
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r_["doc_id"]: r_ for r_ in dup_spans(docs, k=10).collect()}
    for d in (0, 1):
        assert out[d]["n_dup_spans"] == 2
        assert out[d]["dup_tokens"] == 32
        assert out[d]["total_tokens"] == 42
    assert out[2]["n_dup_spans"] == 1
    assert out[2]["dup_tokens"] == 20
    assert out[2]["dup_frac"] == 1.0
    # the donors each carry their single 10-token lent run
    assert out[3]["dup_tokens"] == 10
    assert out[4]["dup_tokens"] == 10


def test_pii_scrub_rules(spark):
    """Each PII rule redacts its shaped span, counts land in n_<rule>,
    the scrub is idempotent, and clean word-salad text is untouched."""
    from quebic_spark.operators.textops import pii_scrub

    texts = [
        "mail me at jane.doe+spam@sub.example.org today",
        "server at 192.168.001.12 and peer 10.0.0.1",
        "ssn 123-45-6789 on file",
        "call 555-867-5309 now",
        "plain word salad with no pii at all",
        "combo a@b.io 1.2.3.4 111-22-3333 222-333-4444",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[0]["n_email"] == 1 and "<EMAIL>" in out[0]["text"]
    assert "jane" not in out[0]["text"]
    assert out[1]["n_ipv4"] == 2 and out[1]["text"].count("<IP>") == 2
    assert out[2]["n_ssn"] == 1 and "<SSN>" in out[2]["text"]
    assert "123-45-6789" not in out[2]["text"]
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["text"]
    assert out[4]["text"] == texts[4]
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_ssn"],
            out[4]["n_phone"]) == (0, 0, 0, 0)
    assert out[5]["text"] == "combo <EMAIL> <IP> <SSN> <PHONE>"
    # idempotent: scrubbing the scrubbed text finds nothing
    again = pii_scrub(
        spark.createDataFrame(
            [(k, r["text"]) for k, r in out.items()],
            "doc_id long, text string",
        )
    )
    assert again.filter(
        "n_email + n_ipv4 + n_ssn + n_phone > 0"
    ).count() == 0


def test_streaming_dedup_tier_fingerprint_matches_batch_oracle(
    spark, sf_dir, duck, tmp_path
):
    """Hash-level evidence for the one operator that had only
    agreement-test evidence (VERDICT r9 next #3): a DETERMINISTIC
    micro-batch replay of ``dedup_stream_against_snapshot`` (composed
    with streaming first-wins dedup, the streaming twin of the batch
    keep-first window) whose final sink table fingerprint-matches the
    batch ``dedup_incremental`` DuckDB oracle — same compare the
    driver runs (columns sorted by name, order-insensitive row hash).

    Determinism discipline: the replay is chunked by RANK WITHIN KEY
    (wave r carries each content_key's r-th copy ordered by doc_id),
    so every micro-batch holds at most one row per key — first-wins
    state across waves then IS keep-min-doc_id, with zero dependence
    on partition or task order inside a batch. Waves arrive in order
    via one file per trigger with strictly increasing mtimes."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from quebic_spark.operators import dedup as D
    from quebic_spark.streaming import dedup_stream_against_snapshot

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    srcn = F.substring("source", 4, 8).cast("int")
    tagged = docs.select(
        "doc_id", "source", D._content_key().alias("content_key"),
        srcn.alias("srcn"),
    )
    snapshot = tagged.filter(
        F.col("srcn") <= D.SNAPSHOT_MAX_SRC
    ).select("content_key")
    batch = tagged.filter(F.col("srcn") > D.SNAPSHOT_MAX_SRC).select(
        "doc_id", "content_key", "source"
    )
    wave_col = F.row_number().over(
        Window.partitionBy("content_key").orderBy("doc_id")
    )
    rows = (
        batch.withColumn("wave", wave_col)
        .orderBy("wave", "doc_id")
        .collect()
    )
    waves = sorted({r["wave"] for r in rows})
    assert len(waves) > 1, "corpus lost its within-batch dup keys"

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema = pa.schema([
        ("doc_id", pa.int64()),
        ("content_key", pa.string()),
        ("source", pa.string()),
    ])
    for w in waves:
        part = [r for r in rows if r["wave"] == w]
        table = pa.table(
            {
                "doc_id": [r["doc_id"] for r in part],
                "content_key": [r["content_key"] for r in part],
                "source": [r["source"] for r in part],
            },
            schema=schema,
        )
        path = str(feed_dir / f"wave-{w:04d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (time.time() + w, time.time() + w))

    bloom = D.build_bloom(
        snapshot, "content_key",
        m_bits=D.auto_bloom_bits(snapshot.count()),
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, content_key string, source string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed_dir))
    )
    deduped = dedup_stream_against_snapshot(
        stream.dropDuplicates(["content_key"]), snapshot, bloom=bloom
    )
    sink = str(tmp_path / "sink")
    query = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)

    got = spark.read.parquet(sink).select(
        "doc_id", "content_key", "source"
    )
    # the streamed tier must hash-match the batch oracle
    assert spark_fingerprint(got) == duck_fingerprint(
        duck.execute(D.ORACLE_DEDUP_INCREMENTAL)
    )
