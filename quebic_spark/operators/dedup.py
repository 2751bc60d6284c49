"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

North-star extension layer (SURVEY §2.10): exact dedup, MinHash+LSH,
n-gram Jaccard near-dup, SimHash, and embedding-cosine near-dup.

Scale design notes (these run on the full corpus at 100 TB):
  * exact dedup is hash-groupBy on a fingerprint — one shuffle keyed by
    md5, perfectly balanced by construction;
  * MinHash/LSH never materializes the O(n^2) pair space: docs are
    bucketed by band keys, pairs exist only within buckets, and true
    Jaccard is verified only for candidates (the classic
    shingle->minhash->band->bucket-join pipeline);
  * the MinHash family is min(md5(seed||shingle)) compared as strings
    — portable to any ANSI engine, which makes the whole pipeline
    oracle-checkable end-to-end (seeded engine-native hashes are not);
  * SimHash is pure JVM expressions (md5 halves + 64 SUM(CASE) votes,
    whole-stage codegen) and fully oracle-checked — the md5-derived
    hash family is portable, engine-native bit ops line up once the
    fingerprint is kept in signed-64 with masked shifts;
  * embedding near-dup blocks on ``label`` (the cluster id) to keep the
    candidate space linear-ish; at 100 TB the label would come from a
    coarse quantizer (IVF centroid), same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quebic_spark.session import read_immutable_parquet

from quebic_spark.cache import register_cache
from quebic_spark.functions.text import shingles, tokens

N_MINHASH = 8
N_BANDS = 4  # rows-per-band = 2
SHINGLE_N = 3
MINHASH_JACCARD_THRESHOLD = 0.3
NGRAM_JACCARD_THRESHOLD = 0.3
# ~99.9th percentile of intra-label pair cosine in the driver corpus
# (max observed ≈ 0.51): high enough to be selective, low enough that
# the operator returns a non-empty result to gate on
COSINE_DUP_THRESHOLD = 0.35


def _fan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Small single-file inputs arrive as ONE partition; every operator
    below does expensive per-row/per-pair work, so spread the scan
    across the executors first. Conditional: at real scale the table is
    already many files and NO shuffle happens (see plans.fanout)."""
    from quebic_spark.plans.fanout import fan_out
    from quebic_spark.session import tune_for_query

    tune_for_query(spark)
    return fan_out(spark, df)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan(spark, read_immutable_parquet(spark, f"{sf_dir}/documents.parquet"))


# ---------------------------------------------------------------------------
# dedup_exact — hash-groupBy on the raw text (keeper = min doc_id).
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# dedup_exact_rows — the retained rows after dropDuplicates-keep-first.
# ---------------------------------------------------------------------------

def q_dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


ORACLE_DEDUP_EXACT_ROWS = """
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — shingle -> minhash -> band -> bucket-join ->
# verify true Jaccard. Fully oracle-checkable.
# ---------------------------------------------------------------------------

def _shingled(docs: DataFrame, basis: str = "whitespace") -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(
            shingles(F.col("text"), SHINGLE_N, basis=basis)
        ).alias("sh"),
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def minhash_lsh_pairs(
    docs: DataFrame, basis: str = "whitespace"
) -> DataFrame:
    """MinHash+LSH near-dup pairs over a ``(doc_id, text)`` frame.

    ``basis`` picks the shingle tokenizer (see
    ``quebic_spark.functions.text.tokens``): ``"whitespace"`` for
    space-delimited corpora, ``"regex"`` for the BPE-ish subword basis
    that matches how a training tokenizer fragments real text — dedup
    decisions then align with token-level overlap, not just word-level.
    """
    # the shingle set feeds the signature agg AND both sides of the
    # verify join — materialize once instead of re-exploding 4x (at
    # cluster scale this is a persisted intermediate table)
    sh = register_cache(_shingled(docs, basis=basis).cache())
    # MinHash signature: per doc, min over shingles of md5(seed||shingle)
    sig = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("set_size"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("sh")))).alias(
                f"mh{s}"
            )
            for s in range(N_MINHASH)
        ],
    )
    sig = register_cache(sig.cache())
    # LSH banding: band key = md5(mh_{2b} || mh_{2b+1})
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}"))
                        ).alias("key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    a, b_ = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify candidates with true shingle-set Jaccard
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sig.select("doc_id", "set_size")
    return (
        inter.join(
            sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id")
        )
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (
                    F.col("za.set_size")
                    + F.col("zb.set_size")
                    - F.col("inter")
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
    )


def _minhash_cte_block(basis: str = "whitespace") -> str:
    """The shingle->signature->band->verify pipeline as a CTE chain
    ending in ``pairs`` — shared by the pair oracle, the
    connected-components cluster oracle, and the regex-basis variant
    test. ``basis`` mirrors ``minhash_lsh_pairs``: whitespace =
    string_split, regex = regexp_extract_all on the same BPE pattern
    the Spark side tokenizes with."""
    from quebic_spark.functions.text import BPE_PATTERN

    mh_cols = ",\n    ".join(
        f"MIN(md5('{s}|' || sh)) AS mh{s}" for s in range(N_MINHASH)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(mh{2*b} || mh{2*b+1}) AS key FROM sig"
        for b in range(N_BANDS)
    )
    tok_expr = (
        "string_split(text, ' ')" if basis == "whitespace"
        else f"regexp_extract_all(text, '{BPE_PATTERN}')"
    )
    return f"""toks AS (
  SELECT doc_id, {tok_expr} AS t FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(t[i:i+{SHINGLE_N - 1}], ' ')))) AS sh
  FROM toks
),
sig AS (
  SELECT doc_id, COUNT(*) AS set_size,
    {mh_cols}
  FROM sh GROUP BY doc_id
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS inter
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
  GROUP BY doc_a, doc_b
),
pairs AS (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / (za.set_size + zb.set_size - inter)
           AS jaccard
  FROM inter
  JOIN sig za ON za.doc_id = doc_a
  JOIN sig zb ON zb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (za.set_size + zb.set_size - inter)
        >= {MINHASH_JACCARD_THRESHOLD}
)"""


ORACLE_DEDUP_MINHASH_LSH = (
    f"WITH {_minhash_cte_block()}\n"
    "SELECT doc_a, doc_b, jaccard FROM pairs"
)


# ---------------------------------------------------------------------------
# dedup_clusters — connected components over the MinHash near-dup
# graph: every doc gets a cluster_id (= min doc_id reachable through
# near-dup edges) and the cluster minimum is flagged keeper. THE
# canonical dedup output a training pipeline consumes: keep keepers,
# drop the rest, never drop two docs that are transitively dups of
# different keepers.
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative min-label propagation (GraphX/GraphFrames-style CC).

    The loop lives in :func:`quebic_spark.functions.graph.
    connected_components`: one shuffle join + one agg per round, rounds
    bounded by the dup-graph diameter, lineage truncated by periodic
    localCheckpoint, ConvergenceError instead of silent wrong labels
    at the round cap. This is the documented iterative-algorithm
    pattern: a driver loop of Spark actions, no per-row driver work.

    Oracle: DuckDB WITH RECURSIVE transitive closure + MIN — the
    fixpoint semantics expressed declaratively.
    """
    from quebic_spark.functions.graph import connected_components

    # materialize BEFORE fanning out to both orientations: the union's
    # two branches would otherwise each execute the full LSH DAG
    # (shingle -> minhash -> band join). A registered cache rather
    # than localCheckpoint (r6 review): checkpoint blocks have no
    # release path from here (DataFrame.unpersist doesn't touch
    # checkpoint RDDs), while this handle is freed by clear_caches;
    # connected_components' own eager edge checkpoint fully populates
    # it in one pass, so the partial-cache hazard doesn't apply.
    pairs = register_cache(
        q_dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .cache()
    )
    edges = pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst")
    docs = _docs(spark, sf_dir).select("doc_id")
    labels = connected_components(docs, edges, max_iters=CC_MAX_ITERS)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_keeper"),
    )


ORACLE_DEDUP_CLUSTERS = f"""WITH RECURSIVE {_minhash_cte_block()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT doc_id AS root, doc_id AS node FROM documents
  UNION
  SELECT r.root, e.dst AS node
  FROM reach r JOIN edges e ON r.node = e.src
)
SELECT root AS doc_id,
       MIN(node) AS cluster_id,
       MIN(node) = root AS is_keeper
FROM reach
GROUP BY root
"""


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — exact n-gram Jaccard via inverted-index join
# (no LSH approximation; candidates = pairs sharing >= 1 shingle).
# ---------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard with LOSSLESS hot-shingle (DF) pruning.

    The naive inverted-index self-join emits a pair per co-occurrence
    of every shingle: one stop-shingle shared by k docs emits k^2 pairs
    — a quadratic skew bomb at 100 TB. Pruning: any pair with
    J(A,B) >= tau satisfies I >= tau/(1+tau) * (|A|+|B|) >= R where
    R = ceil(2*tau*m/(1+tau)) and m is the global min shingle-set
    size. So if at most R-1 shingles are declared "hot" and removed
    from CANDIDATE GENERATION only, every qualifying pair still shares
    at least one non-hot shingle and survives. The true intersection is
    then restored exactly: non-hot co-occurrence counts from the join,
    plus the per-doc hot-shingle signatures (bounded arrays, broadcast
    list) intersected per candidate pair.

    The oracle intentionally stays the NAIVE all-co-occurrence
    formulation — a hash match proves the pruning lossless, not merely
    mirrored. The two driver-side scalars (min set size) are tiny
    single-row aggregations, same class as the partition-count commit
    agg in Queue.append_dataframe.
    """
    import math

    docs = _docs(spark, sf_dir)
    # feeds sizes + both join sides. Shingles are md5-hashed up front:
    # every downstream step (set sizes, document frequency, the
    # inverted-index self-join, hot signatures) operates on shingle
    # IDENTITY only, so 32-byte keys give identical counts while the
    # join/agg shuffles stop carrying ~50-char n-gram strings — the
    # same key-narrowing that fixed cardinality_sketch. The oracle
    # stays on raw shingles (naive formulation): matching it proves
    # both the pruning lossless AND the hashing collision-free here.
    sh = register_cache(
        _shingled(docs)
        .select("doc_id", F.md5("sh").alias("sh"))
        .cache()
    )
    # doc-keyed and referenced THREE times (the min-size scalar below
    # plus both sides of the final set-size join): materialize once —
    # the r20 plan audit showed every reference re-aggregating the
    # cached shingle stream (no ReusedExchange fires across the
    # aliased subtrees)
    sizes = register_cache(
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("set_size"))
        .cache()
    )
    m_row = sizes.agg(F.min("set_size").alias("m")).collect()
    m = m_row[0]["m"] or 0
    required_inter = math.ceil(
        2 * NGRAM_JACCARD_THRESHOLD * m / (1 + NGRAM_JACCARD_THRESHOLD)
    )
    n_hot = max(required_inter - 1, 0)

    if n_hot:
        # hottest shingles by document frequency, deterministic
        # tie-break; df >= 2 because df-1 shingles generate no pairs.
        # Cached: the TakeOrdered ranking otherwise re-runs inside
        # every consumer (anti-join build side + hot-signature join)
        hot = register_cache(
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= 2)
            .orderBy(F.col("df").desc(), F.col("sh"))
            .limit(n_hot)
            .select("sh")
            .cache()
        )
        # the pruned inverted index feeds BOTH sides of the candidate
        # self-join; at scale this is the persisted postings table a
        # real pipeline writes once — cache is the in-plan equivalent
        # (before: each side re-ran the anti-join over the full
        # shingle stream)
        nonhot = register_cache(
            sh.join(F.broadcast(hot), "sh", "left_anti").cache()
        )
        # bounded per-doc arrays, joined against both pair sides
        hot_sigs = register_cache(
            sh.join(F.broadcast(hot), "sh")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("sh")).alias("hot_sig"))
            .cache()
        )
    else:
        nonhot, hot_sigs = sh, None

    cand = (
        nonhot.alias("sa")
        .join(
            nonhot.alias("sb"),
            (F.col("sa.sh") == F.col("sb.sh"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_nonhot"))
    )
    if hot_sigs is not None:
        empty = F.array().cast("array<string>")
        ha = hot_sigs.select(
            F.col("doc_id").alias("ha_id"), F.col("hot_sig").alias("ha_sig")
        )
        hb = hot_sigs.select(
            F.col("doc_id").alias("hb_id"), F.col("hot_sig").alias("hb_sig")
        )
        cand = (
            cand.join(ha, F.col("doc_a") == F.col("ha_id"), "left")
            .join(hb, F.col("doc_b") == F.col("hb_id"), "left")
            .withColumn(
                "inter",
                F.col("inter_nonhot")
                + F.size(
                    F.array_intersect(
                        F.coalesce(F.col("ha_sig"), empty),
                        F.coalesce(F.col("hb_sig"), empty),
                    )
                ),
            )
        )
    else:
        cand = cand.withColumn("inter", F.col("inter_nonhot"))
    return (
        cand.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("za.set_size") + F.col("zb.set_size") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(t[i:i+{SHINGLE_N - 1}], ' ')))) AS sh
  FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh sa JOIN sh sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (za.set_size + zb.set_size - inter) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (za.set_size + zb.set_size - inter)
      >= {NGRAM_JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# dedup_embedding_cosine — near-dup pairs by cosine within label blocks.
# ---------------------------------------------------------------------------

def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quebic_spark.functions.vector import dot_product_sql, l2_norm_sql

    # norms precomputed per vector BEFORE the pair join: one fold per
    # pair instead of three (the values are bit-identical either way,
    # so the oracle is unaffected)
    emb = _fan(
        spark, read_immutable_parquet(spark, f"{sf_dir}/embeddings.parquet")
    ).withColumn("norm", F.expr(l2_norm_sql("embedding")))
    a, b = emb.alias("a"), emb.alias("b")
    # zero-norm guard (r15 review, the ANN-family _cos_expr rule):
    # 0/0 = NaN orders above all doubles in BOTH engines, so one zero
    # vector passed the >= threshold against every blockmate while
    # still hash-matching the oracle; NULL is inert in the filter.
    # SQL-fragment form (r20): same fold, one parse.
    cos = F.expr(
        "CASE WHEN (a.norm * b.norm) > 0 THEN "
        f"{dot_product_sql('a.embedding', 'b.embedding')}"
        " / (a.norm * b.norm) END"
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


ORACLE_DEDUP_EMBEDDING_COSINE = f"""
WITH scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
    CASE WHEN (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                     a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]))) > 0
      THEN list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
      END
      AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, cosine FROM scored
WHERE cosine >= {COSINE_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# dedup_simhash — 64-bit SimHash, fully JVM-side (whole-stage codegen)
# and fully oracle-checkable: the per-shingle 64-bit hash is the first
# 8 bytes of md5 (portable), split into two 32-bit halves so both
# engines stay in signed-64 arithmetic, and the bit-majority vote is 64
# SUM(CASE) aggregates. Replaces the round-1 Arrow pandas UDF (the
# slowest bench query at 11.6 s — Python bit-twiddling per doc).
# ---------------------------------------------------------------------------

def _simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): signed-64 SimHash over distinct 3-gram
    shingles; bit b of md5-derived h votes +1/-1, majority sets bit b.

    Same basis as the round-1 pandas UDF (shingles, not tokens: the
    synthetic corpus vocabulary is tiny, so token SETS are nearly
    identical across docs and token-basis simhashes collide en masse).
    """
    sh = _shingled(docs)
    hx = F.md5(F.col("sh"))
    hashed = sh.select(
        "doc_id",
        # hi = bits 63..32, lo = bits 31..0 of the big-endian first 8
        # md5 bytes; each half fits a signed long
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    # the 64 vote aggregations and 63 fingerprint terms parse as SQL
    # fragments (r20): the Column form cost ~900 py4j round-trips
    # (~0.8 s of driver chatter) per plan construction; the parsed
    # expressions are the same sum(CASE ...) / CASE ... END trees
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                "sum(CASE WHEN (shiftrightunsigned("
                f"{'lo' if b < 32 else 'hi'}, {b % 32}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"s{b}")
            for b in range(64)
        ]
    )
    fp_sql = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END"
        for b in range(63)
    )
    # bit 63 is the sign bit in signed-64
    simhash = F.expr(f"({fp_sql})") + F.when(
        F.col("s63") > 0, F.lit(-(1 << 63)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", simhash.alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + near-dup pairs at Hamming distance <= 3.

    Banding trick for scale: 4 x 16-bit chunks; pairs at distance <= 3
    must agree on >= 1 chunk, so the candidate join is chunk-blocked,
    never O(n^2). Hamming distance via bit_count(xor) — JVM-side.
    """
    docs = _simhash_fingerprints(_docs(spark, sf_dir))
    # materialize fingerprints once: the chunk self-join would otherwise
    # recompute the 64-vote aggregation over the corpus twice (a real
    # pipeline persists fingerprints as a column; cache is the
    # local-bench equivalent)
    docs = register_cache(docs.cache())
    chunks = docs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def _simhash_oracle() -> str:
    """Mirror of the Spark SimHash pipeline in DuckDB SQL — portable
    because the hash is md5-derived, split into 32-bit halves (signed-64
    safe in both engines), and the arithmetic >> is masked so it equals
    Spark's unsigned shift."""
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN ({'lo' if b < 32 else 'hi'} >> {b % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    fp_terms = "\n           + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(63)
    )
    fp = (
        f"({fp_terms}\n           + (CASE WHEN s63 > 0 THEN"
        f" -9223372036854775808 ELSE 0 END))::BIGINT"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(t[i:i+{SHINGLE_N - 1}], ' ')))) AS sh
  FROM toks
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(sh), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(sh), 9, 8))::BIGINT AS lo
  FROM sh
),
votes AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
),
fp AS (
  SELECT doc_id, {fp} AS simhash FROM votes
),
chunks AS (
  SELECT doc_id, simhash, cc.c AS chunk,
         (simhash >> (16 * cc.c)) & 65535 AS key
  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS c) cc
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM chunks a
JOIN chunks b ON a.chunk = b.chunk AND a.key = b.key
            AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


ORACLE_DEDUP_SIMHASH = _simhash_oracle()


# ---------------------------------------------------------------------------
# cardinality_sketch — HyperLogLog approximate distinct counts (the
# sketch path for dedup planning at 100 TB: estimate before you
# shuffle). HLL estimates differ across engines, so the ESTIMATE is
# kept out of the projection: the gate row carries the exact counts
# (portable) plus the sketch's relative-error contract evaluated
# in-plan against them. The DuckDB oracle computes the exact counts
# and literal TRUE — a Spark HLL drifting past 5% flips within_5pct
# and hash-fails the gate, so the sketch is fully hash-checked
# without requiring bit-identical sketch internals.
# ---------------------------------------------------------------------------

def q_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # Distinct-count md5(text), never text itself: Spark plans
    # multi-distinct aggregates through Expand + exchange keyed on the
    # distinct expressions, so a raw-text key would push every document
    # body through the shuffle twice — the count is identical (md5
    # collisions are negligible below 2^64 docs) but the shuffle key
    # drops from whole documents to 32 bytes. Same substitution in the
    # DuckDB oracle so both engines count the same keys.
    text_key = F.md5("text")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(text_key).alias("exact_distinct_texts"),
        F.approx_count_distinct(text_key, rsd=0.02).alias("_approx_texts"),
        F.countDistinct("source").alias("exact_distinct_sources"),
        F.approx_count_distinct("source", rsd=0.02).alias("_approx_sources"),
    )
    def _within(approx: str, exact: str, tol: float):
        err = (
            F.abs(F.col(approx) - F.col(exact)).cast("double")
            / F.col(exact)
        )
        return err <= tol
    return agg.select(
        "n_docs",
        "exact_distinct_texts",
        "exact_distinct_sources",
        # rsd=0.02 => stderr 2%; 5% = 2.5 sigma on texts (high card).
        _within("_approx_texts", "exact_distinct_texts", 0.05).alias(
            "texts_within_5pct"
        ),
        # sources is tiny-cardinality (~5): HLL is exact there.
        _within("_approx_sources", "exact_distinct_sources", 0.05).alias(
            "sources_within_5pct"
        ),
    )


ORACLE_CARDINALITY_SKETCH = """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS exact_distinct_texts,
       COUNT(DISTINCT source) AS exact_distinct_sources,
       TRUE AS texts_within_5pct,
       TRUE AS sources_within_5pct
FROM documents
"""


# ---------------------------------------------------------------------------
# hll_merge_cardinality — SKETCH COLUMNS: per-group HLL sketches
# (DataSketches binary payloads via hll_sketch_agg) merged into a
# global estimate via hll_union_agg, compared against the exact
# distinct count computed in the same plan. This is the mechanism
# cardinality_sketch (one-shot approx_count_distinct) cannot express:
# the sketch is a COLUMN — store one per day/shard/source, and
# tomorrow's global distinct count is a union of stored sketches, no
# rescan of yesterday's 100 TB. Mergeability contract proven in-plan:
# the union-of-per-source-sketches estimate must match the whole-corpus
# single-sketch estimate within tolerance, and both must bracket the
# exact count.
#
# Sketch bytes are engine-specific, so the gate emits only portable
# facts (exact counts) + contract booleans — the cardinality_sketch
# pattern. Scale shape: one partial-aggregatable pass for the per-source
# sketches (source-keyed exchange), one tiny union over n_sources rows.
# ---------------------------------------------------------------------------

def q_hll_merge_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    key = F.md5("text")  # 32-byte shuffle key, same as cardinality_sketch
    per_source = docs.groupBy("source").agg(
        F.hll_sketch_agg(key, F.lit(14)).alias("sk"),
        F.countDistinct(key).alias("exact_src_distinct"),
    )
    rollup = per_source.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("exact_src_distinct").alias("sum_source_distinct"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_merged_est"),
    )
    whole = docs.agg(
        F.countDistinct(key).alias("exact_distinct"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(key, F.lit(14))
        ).alias("_single_est"),
    )
    j = rollup.crossJoin(F.broadcast(whole))
    rel_err = (
        F.abs(F.col("_merged_est") - F.col("exact_distinct"))
        .cast("double") / F.col("exact_distinct")
    )
    return j.select(
        "n_sources",
        "exact_distinct",
        "sum_source_distinct",
        # per-source distinct sums can only overcount the global
        # (cross-source duplicates counted once per source)
        (F.col("sum_source_distinct") >= F.col("exact_distinct")).alias(
            "sum_ge_global"
        ),
        # lgK=14 => stderr ~0.8%; 4% = 5 sigma
        (rel_err <= 0.04).alias("merged_within_4pct"),
        # merging per-group sketches must agree with sketching the
        # whole corpus at once — the mergeability contract. Tolerance,
        # NOT equality: in coupon mode (small cardinalities) the two
        # paths are bit-identical, but once the sketch enters HLL
        # estimator mode the union path's estimate can differ by an
        # ulp-level rounding (measured 4960 vs 4959 at sf0.1 — strict
        # == flipped False exactly at the scale the contract targets;
        # review catch, reproduced)
        (
            F.abs(F.col("_merged_est") - F.col("_single_est"))
            .cast("double")
            / F.greatest(F.col("_single_est"), F.lit(1)) <= 0.005
        ).alias("merge_matches_single_sketch"),
    )


ORACLE_HLL_MERGE_CARDINALITY = """
SELECT COUNT(DISTINCT source) AS n_sources,
       COUNT(DISTINCT md5(text)) AS exact_distinct,
       (SELECT CAST(SUM(d) AS BIGINT) FROM (
          SELECT COUNT(DISTINCT md5(text)) AS d FROM documents
          GROUP BY source)) AS sum_source_distinct,
       TRUE AS sum_ge_global,
       TRUE AS merged_within_4pct,
       TRUE AS merge_matches_single_sketch
FROM documents
"""


# ---------------------------------------------------------------------------
# dedup_spans — cross-document duplicated-substring spans (ExactSubstr).
# ---------------------------------------------------------------------------

SPAN_K = 10          # minimum duplicated run length, in tokens
SPAN_MIN_DOCS = 2    # a k-gram counts as duplicated when >= this many docs share it


def dup_spans(
    docs: DataFrame,
    k: int = SPAN_K,
    min_docs: int = SPAN_MIN_DOCS,
    basis: str = "whitespace",
) -> DataFrame:
    """Per-document coverage by text spans duplicated across documents.

    The semantics are ExactSubstr dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): any token run of
    length >= ``k`` that also appears in at least ``min_docs - 1`` other
    documents is a duplicated span. The paper builds a suffix array; a
    suffix array is a single sorted global structure that fights Spark's
    execution model, so this restates the same semantics as
    position-tagged k-gram hash matching — a duplicated run of length
    L >= k is exactly a maximal chain of duplicated k-gram start
    positions, recovered by interval-merging positions whose covering
    windows ``[pos, pos+k-1]`` touch.

    Scale shape (the corpus never pairs with itself):
      * grams = one explode, ~n_tokens rows/doc, md5-hashed so the
        shuffle carries 32-byte keys, not k-token strings;
      * duplicated-gram detection = one hash-partitioned groupBy; the
        semi-join back to positions re-keys on the same hash, so AQE /
        exchange reuse keeps it to the same partitioning;
      * island merge = per-document window over ONLY the duplicated
        positions (a small fraction of the corpus), never the full gram
        stream.

    Returns one row per document that contains at least one duplicated
    span: ``n_dup_spans``, ``dup_tokens`` (tokens covered by merged
    spans), ``total_tokens``, ``dup_frac``. ``dup_frac = 1.0`` means the
    document is entirely contained in / equal to other corpus text —
    the exact-dup + containment candidates.
    """
    spans = _merged_spans(docs, k, min_docs, basis)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
            F.min("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn("dup_frac", F.col("dup_tokens") / F.col("total_tokens"))
    )


def _merged_spans(
    docs: DataFrame, k: int, min_docs: int, basis: str
) -> DataFrame:
    """(doc_id, island, n_tokens, s, e): the merged duplicated-span
    intervals (token positions, inclusive) dup_spans aggregates and
    strip_spans cuts — one shared derivation."""
    from pyspark.sql import Window

    toks = tokens(F.col("text"), basis=basis)
    base = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= k)
    grams = base.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - k),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i + 1, k))),
            )
        ).alias("pos", "gh"),
    )
    if min_docs == 2:
        # One gram pass, not two (r21): the groupBy+semi-join shape
        # recomputed the ENTIRE tokenize+md5 gram stream for each
        # consumer (column pruning makes the two subtrees differ, so
        # no ReusedExchange fires — two Scan+Generate pairs in the
        # r21 before-plan), and at 100 TB the semi join must shuffle
        # the gram stream by gh anyway once the dup side outgrows a
        # broadcast. "Shared by >= 2 distinct docs" is exactly
        # min(doc_id) != max(doc_id) within the gh partition, so ONE
        # exchange-by-gh window computes the flag on the same pass
        # that carries the positions (guide §2.4: two operations
        # keyed the same way share one exchange; §1.2: one corpus
        # pass instead of two).
        wgh = Window.partitionBy("gh")
        hits = (
            grams.withColumn(
                "_dup",
                F.min("doc_id").over(wgh) != F.max("doc_id").over(wgh),
            )
            .filter(F.col("_dup"))
            .drop("_dup")
        )
    else:
        # general min_docs: distinct-doc counting needs the aggregate
        # form (an exact count_distinct window would buffer per-row
        # sets); callers beyond the default threshold keep the
        # two-pass shape
        dup = (
            grams.groupBy("gh")
            .agg(F.count_distinct("doc_id").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select("gh")
        )
        hits = grams.join(dup, "gh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    # Equal-length intervals sorted by start: [pos, pos+k-1] overlaps or
    # touches the previous interval iff pos - lag(pos) <= k, so a new
    # island starts exactly when the gap exceeds k.
    isl = hits.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1)
        .otherwise(0)
        .alias("brk"),
    ).withColumn("island", F.sum("brk").over(run))
    return isl.groupBy("doc_id", "island").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(k - 1)).alias("e"),
    )


def strip_spans(
    docs: DataFrame,
    k: int = SPAN_K,
    min_docs: int = SPAN_MIN_DOCS,
    basis: str = "whitespace",
) -> DataFrame:
    """REMOVE cross-document duplicated spans from each affected
    document — the ExactSubstr removal step (Lee et al. 2021 cut the
    duplicated substring out of all but one occurrence; this cuts every
    flagged occurrence, their "drop the span" policy). One row per
    affected document: ``kept_tokens`` + ``kept_text`` (the token
    stream outside every merged span, original order preserved).

    Scale shape: the spans side is tiny (docs with dups only) and
    aggregates to one bounded array per doc; the cut itself is a
    per-row higher-order filter over the token array — no extra
    shuffle beyond the shared `_merged_spans` derivation, and the
    reconstruction never leaves the executors."""
    spans = _merged_spans(docs, k, min_docs, basis)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("cut")
    )
    toks = tokens(F.col("text"), basis=basis)
    base = docs.select("doc_id", toks.alias("t"))
    kept = F.filter(
        F.col("t"),
        lambda x, i: ~F.exists(
            F.col("cut"),
            lambda sp: (i >= sp["s"]) & (i <= sp["e"]),
        ),
    )
    return base.join(per_doc, "doc_id").select(
        "doc_id",
        F.size(kept).cast("long").alias("kept_tokens"),
        F.concat_ws(" ", kept).alias("kept_text"),
    )


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_spans(_docs(spark, sf_dir))


def q_dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-strip accounting: kept-token count + md5 of the
    reconstructed text per affected doc — a full value-hash check that
    the cut removed EXACTLY the merged spans and nothing else."""
    out = strip_spans(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "kept_tokens",
        F.md5("kept_text").alias("kept_md5"),
    )


ORACLE_DEDUP_SPANS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, len(t) AS n_tokens, i - 1 AS pos,
         md5(array_to_string(t[i:i+{SPAN_K - 1}], ' ')) AS gh
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - {SPAN_K} + 1)) AS i) g
),
dup AS (
  SELECT gh FROM grams GROUP BY gh
  HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
),
hits AS (
  SELECT doc_id, n_tokens, pos FROM grams WHERE gh IN (SELECT gh FROM dup)
),
isl AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {SPAN_K} THEN 1 ELSE 0 END AS brk
  FROM hits
),
isl2 AS (
  SELECT doc_id, n_tokens, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MIN(n_tokens) AS n_tokens,
         MIN(pos) AS s, MAX(pos) + {SPAN_K - 1} AS e
  FROM isl2 GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(e - s + 1) AS BIGINT) / CAST(MIN(n_tokens) AS BIGINT)
         AS dup_frac
FROM spans GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup_incremental — dedup a new crawl increment against an existing
# corpus snapshot (the day-2 problem every training pipeline has: the
# corpus is already released; today's crawl must drop everything the
# snapshot already contains, then keep-first within itself).
#
# Content key = bag-of-words fingerprint (md5 of sorted distinct
# tokens), the same key the corpus pipeline dedups on — the synthetic
# corpus has no byte-exact duplicates, so the bag key is the key with
# organic collisions (13 cross-snapshot + 6 within-batch at sf0.01).
# Snapshot = sources src0..src{SNAPSHOT_MAX_SRC} ("yesterday"), batch =
# the rest ("today's crawl").
#
# Scale shape: the snapshot side projects ONLY the content key (at
# 100 TB you keep exactly this — a fingerprint index table, not the
# corpus — and bucket it by key so its shuffle disappears). The
# anti-join and the keep-first window both hash-partition on
# content_key, so the window reuses the join's exchange: one shuffle
# per input, total.
# ---------------------------------------------------------------------------

SNAPSHOT_MAX_SRC = 15


def _content_key() -> F.Column:
    toks = F.split(F.col("text"), " ")
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def _guard_reserved(df: DataFrame, names: tuple, op: str) -> None:
    """Reserved-working-column guard (r15 review, the r13
    quality_percentile_filter convention): withColumn would silently
    REPLACE a caller's same-named column before the window evaluates
    — wrong results or vanished data, no signal."""
    clash = sorted(set(names) & set(df.columns))
    if clash:
        raise ValueError(
            f"{op} reserves column name(s) {clash}; rename the "
            "input column(s)"
        )


def incremental_dedup(
    batch: DataFrame,
    snapshot_keys: DataFrame,
    key: str = "content_key",
    order: str = "doc_id",
) -> DataFrame:
    """Drop batch rows whose ``key`` exists in ``snapshot_keys``, then
    keep-first (min ``order``) within the batch. Both stages hash on
    ``key``, so the keep-first window reuses the anti-join's exchange —
    one shuffle per input, total."""
    from pyspark.sql import Window

    _guard_reserved(batch, ("rn",), "incremental_dedup")
    fresh = batch.join(snapshot_keys.select(key), key, "left_anti")
    w = Window.partitionBy(key).orderBy(order)
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    srcn = F.substring("source", 4, 8).cast("int")
    tagged = docs.select(
        "doc_id", "source", _content_key().alias("content_key"),
        srcn.alias("srcn"),
    )
    snapshot = tagged.filter(
        F.col("srcn") <= SNAPSHOT_MAX_SRC
    ).select("content_key")
    batch = tagged.filter(F.col("srcn") > SNAPSHOT_MAX_SRC)
    return incremental_dedup(batch, snapshot).select(
        "doc_id", "content_key", "source"
    )


ORACLE_DEDUP_INCREMENTAL = f"""
WITH tagged AS (
  SELECT doc_id, source,
         md5(array_to_string(
           list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS content_key,
         CAST(SUBSTR(source, 4) AS INT) AS srcn
  FROM documents
)
SELECT doc_id, content_key, source
FROM (
  SELECT b.doc_id, b.content_key, b.source,
         ROW_NUMBER() OVER (PARTITION BY b.content_key
                            ORDER BY b.doc_id) AS rn
  FROM tagged b
  WHERE b.srcn > {SNAPSHOT_MAX_SRC}
    AND NOT EXISTS (SELECT 1 FROM tagged s
                    WHERE s.srcn <= {SNAPSHOT_MAX_SRC}
                      AND s.content_key = b.content_key)
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup — the 100 TB shape of the day-2
# problem: the snapshot's key index is petabyte-adjacent, but a bloom
# filter over it is kilobytes-to-gigabytes and BROADCASTS. Two tiers:
#
#   1. bloom probe (no shuffle): rows whose key the filter has never
#      seen are DEFINITELY new — they skip the exact join entirely.
#      No false negatives by construction, so no dup ever sneaks past;
#   2. exact anti-join for the "maybe" rows only (true dups + the
#      fp-rate sliver), so the join input shrinks from |batch| to
#      |dups| + eps.
#
# The filter itself is built distributively: one pass over the
# snapshot keys, a per-partition numpy bitset each, OR-merged —
# a mergeable sketch, same aggregation class as HLL. Keys are
# pre-hashed JVM-side (F.md5) so the Kirsch-Mitzenmacher double hash
# (pos_i = h1 + i*h2 mod m) derives from uniform hex on both sides.
# Output is IDENTICAL to the exact incremental_dedup — the gate shares
# ORACLE_DEDUP_INCREMENTAL, which is the whole point: the bloom tier
# is an execution strategy, not a semantics change.
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 17  # 16 KiB FLOOR; auto-sizing scales it to the snapshot
BLOOM_HASHES = 7


def _bloom_hashes(hex_keys, m_bits: int):
    """(h1, h2) uint64 arrays from 32-hex md5 strings (h2 forced odd
    so the double-hash probe sequence spans the table).

    Since r21 the hot paths derive the pair in JVM codegen
    (:func:`_bloom_h_cols`) — this Python form is kept as the
    REFERENCE implementation the bit-identity test compares against
    (tests/test_dedup_lib.py::test_bloom_jvm_hash_matches_python)."""
    import numpy as np

    h1 = np.array(
        [int(s[:16], 16) for s in hex_keys], dtype=np.uint64
    )
    h2 = np.array(
        [int(s[16:32], 16) | 1 for s in hex_keys], dtype=np.uint64
    )
    return h1 % np.uint64(m_bits), h2


def _bloom_h64(hk: Column, off: int) -> Column:
    """Unsigned-64 bit pattern of an 8-byte half of a 32-hex md5
    column, as a signed bigint. Two's-complement longs carry the
    identical low-64 bits, which is all the Kirsch-Mitzenmacher
    probe arithmetic ever reads — numpy re-views them as uint64."""
    hi = F.conv(F.substring(hk, off, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(hk, off + 8, 8), 16, 10).cast("bigint")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _bloom_h_cols(hk: Column, m_bits: int):
    """(h1, h2, is_null) COLUMNS from a 32-hex md5 column — the
    Kirsch-Mitzenmacher pair derived in JVM codegen (r21, guide §4.2):
    previously every build/probe row shipped its 32-char hex string
    over Arrow and a per-row Python ``int(s, 16)`` loop parsed it in
    the worker — minutes-to-hours of pure Python at the 1e9-key
    snapshot sizing this operator exists for. Now two bigints cross
    the boundary per row (half the bytes) and the worker does only
    vectorized numpy probe arithmetic. Bit-identical to
    :func:`_bloom_hashes`: h1 pre-reduced mod the power-of-two m via
    ``& (m-1)``, h2 forced odd via ``| 1``; NULL md5 (NULL key) maps
    to the same (0, 1) placeholder the old probe used, with the null
    flag forcing the result to False downstream."""
    h1 = F.coalesce(
        _bloom_h64(hk, 1).bitwiseAND(F.lit(m_bits - 1)), F.lit(0)
    )
    h2 = F.coalesce(_bloom_h64(hk, 17).bitwiseOR(F.lit(1)), F.lit(1))
    return h1, h2, hk.isNull()


def build_bloom(
    keys: DataFrame, key_col: str,
    m_bits: int = BLOOM_BITS, k: int = BLOOM_HASHES,
) -> bytes:
    """Distributed bloom build: per-partition bitsets OR-merged
    EXECUTOR-SIDE down to one, so the driver receives exactly
    m_bits/8 bytes regardless of parallelism (a driver-side OR of P
    partials would move P full filters through the driver — harmless
    at 16 KiB, pathological at the 1.6 GB/1e9-key sizing this
    operator exists for). One repartition(1) merge level suffices up
    to hundreds of partials; tree deeper (repartition(k) -> OR ->
    repartition(1)) if partial_count * filter_size outgrows one
    task."""
    import numpy as np
    import pandas as pd

    if m_bits < 8 or m_bits & (m_bits - 1):
        # power of two, enforced HERE so every sizing path inherits
        # it — including a caller-pinned m_bits (r15 judge finding:
        # only the auto path rounded, so pinning an arbitrary even
        # size silently reintroduced the probe-cycling fp
        # degradation). The Kirsch-Mitzenmacher sequence
        # (h1 + i*h2) mod m spans the table only when gcd(h2, m)=1;
        # _bloom_hashes forces h2 odd, which guarantees that for
        # power-of-two m but NOT for an arbitrary even m whose odd
        # factor h2 can share. Power of two also implies the
        # multiple-of-8 the byte-granular bitset needs (probe
        # re-derives m_bits as len(bytes)*8 — a mismatch would mean
        # false negatives). Raise, don't round: a pinned size is a
        # memory contract, and silently doubling a 1.6 GiB broadcast
        # is worse than a loud message naming the fix.
        raise ValueError(
            f"m_bits must be a power of two >= 8, got {m_bits}; "
            f"use auto_bloom_bits(n_keys) or round up to "
            f"{1 << max(3, (m_bits - 1).bit_length()) if m_bits > 0 else 8}"
        )
    # NULL keys carry no information for the filter (md5(NULL) is NULL
    # and the hash pair would be NULL); the PROBE side handles
    # null-key batch rows explicitly, so dropping them here keeps the
    # build/probe pair consistent. The (h1, h2) pair is derived in JVM
    # codegen (_bloom_h_cols) so only two bigints per key cross the
    # Python boundary, not a 32-char hex string parsed row-at-a-time.
    _h1c, _h2c, _ = _bloom_h_cols(F.md5(F.col(key_col)), m_bits)
    hashed = keys.filter(F.col(key_col).isNotNull()).select(
        _h1c.alias("h1"), _h2c.alias("h2")
    )

    def per_batch(batches):
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            # signed-long bit patterns re-viewed as uint64 — exactly
            # the values _bloom_hashes produced (h1 already mod m)
            h1 = pdf["h1"].to_numpy(np.int64).view(np.uint64)
            h2 = pdf["h2"].to_numpy(np.int64).view(np.uint64)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
                np.bitwise_or.at(
                    bits,
                    (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7))).astype(
                        np.uint8
                    ),
                )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    def or_merge(batches):
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        for pdf in batches:
            for b in pdf["bits"]:
                bits |= np.frombuffer(b, dtype=np.uint8)
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    merged = (
        hashed.mapInPandas(per_batch, "bits binary")
        .repartition(1)
        .mapInPandas(or_merge, "bits binary")
        .collect()
    )
    out = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in merged:  # exactly one row
        out |= np.frombuffer(r["bits"], dtype=np.uint8)
    return out.tobytes()


def bloom_probe_udf(bloom: bytes, k: int = BLOOM_HASHES):
    """Vectorized might-contain over a built filter (closure-broadcast
    bytes; Spark ships them once per executor with the task closure).

    Returns a callable applied to the 32-hex md5 COLUMN — the call
    shape is unchanged (``probe(F.md5(col))``) — but since r21 the
    hex→(h1, h2) derivation happens in JVM codegen (_bloom_h_cols), so
    two bigints cross the Arrow boundary per row instead of a 32-char
    string that a per-row Python ``int()`` loop then parsed (guide
    §4.2: at 1e9-key probes that loop is the job)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bits = np.frombuffer(bloom, dtype=np.uint8)
    m_bits = len(bits) * 8
    if m_bits < 8 or m_bits & (m_bits - 1):
        # same contract as build_bloom: _bloom_h_cols reduces h1 with
        # & (m - 1), which is mod m only for a power of two — any
        # other length would probe the wrong bits and answer "new"
        # for keys the filter holds (silent false negatives)
        raise ValueError(
            f"bloom filter must be a power-of-two number of bits >= 8 "
            f"(as build_bloom makes it), got {len(bits)} bytes"
        )

    def probe(h1s, h2s, nulls):
        if not len(h1s):
            return pd.Series([], dtype=bool)
        h1 = h1s.to_numpy(np.int64).view(np.uint64)
        h2 = h2s.to_numpy(np.int64).view(np.uint64)
        hit = np.ones(len(h1), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            # mask to the TARGET bit: without & 1 the test passes when
            # any higher bit in the byte is set (measured 21% fp rate
            # vs 0.16% at the documented sizing)
            hit &= (
                (
                    bits[(pos >> np.uint64(3)).astype(np.int64)]
                    >> (pos & np.uint64(7)).astype(np.uint8)
                )
                & np.uint8(1)
            ).astype(bool)
        # NULL keys (md5(NULL) -> None, mapped to the (0, 1)
        # placeholder pair in the JVM): report "might contain" FALSE —
        # the row then takes the definitely-new branch, exactly where
        # the exact path's anti-join leaves null-key rows too (null
        # never equi-matches), so both tiers agree.
        hit[nulls.to_numpy(dtype=bool)] = False
        return pd.Series(hit)

    # deprecated PandasUDFType form dropped (SPARK-28264, r15)
    inner = pandas_udf(probe, "boolean")

    def apply(hk_col: Column) -> Column:
        h1, h2, isnull = _bloom_h_cols(hk_col, m_bits)
        return inner(h1, h2, isnull)

    return apply


BLOOM_BITS_PER_KEY = 13  # ~0.16% fp at k=7 (the documented sizing)


def auto_bloom_bits(n_keys: int) -> int:
    """Filter size for a measured snapshot: BLOOM_BITS_PER_KEY per key
    rounded UP to a power of two, floored at BLOOM_BITS — keeps the
    documented fp rate at ANY snapshot size instead of saturating.

    Power of two, not just a byte multiple (r15 review): the
    Kirsch-Mitzenmacher probe sequence ``(h1 + i*h2) mod m`` spans
    the table only when ``gcd(h2, m) = 1``; ``_bloom_hashes`` forces
    h2 odd, which guarantees that for power-of-two m but NOT for an
    arbitrary even m whose odd factor h2 can share — the k probes
    then cycled a subset of positions and the effective fp rate
    quietly rose above the 13-bits/key contract. No correctness
    change either way (build and probe share the sequence, so no
    false negatives; extra bits only LOWER fp), and at most 2x the
    minimal size — 1.6 GiB -> worst-case 3.2 GiB at 1e9 keys, still
    one broadcast."""
    need = max(BLOOM_BITS, BLOOM_BITS_PER_KEY * n_keys)
    return 1 << (need - 1).bit_length()


def bloom_incremental_dedup(
    batch: DataFrame,
    snapshot_keys: DataFrame,
    key: str = "content_key",
    order: str = "doc_id",
    m_bits: int | None = None,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """incremental_dedup semantics via the two-tier bloom plan: rows
    the filter rules out skip the anti-join; only maybe-dups join.
    Returns exactly what :func:`incremental_dedup` returns.

    When to pick which tier: at testdata scale the exact snapshot side
    broadcasts anyway and wins outright (measured ~0.7 s vs ~1.5 s at
    sf0.1) — the bloom tier pays two Python-batch passes to save a
    join that was already cheap. It inverts at the scale the operator
    exists for: a multi-billion-key snapshot index cannot broadcast
    and its shuffle dominates, while the bloom stays
    |keys| * bits_per_key / 8 bytes (1.6 GB/1e9 keys at 13 bits),
    ships once per executor, and removes the non-dup majority of the
    batch from the join input entirely.

    ``m_bits=None`` (the default) sizes the filter from the snapshot:
    ``BLOOM_BITS_PER_KEY * count(keys)`` rounded up to a byte multiple,
    floored at ``BLOOM_BITS`` — a fixed default would silently saturate
    on a large snapshot (fp rate -> 1, degrading the bloom tier to a
    full anti-join plus two wasted probe passes). The count is one
    column-pruned pass over the key index — noise next to the build
    pass that follows. Pass ``m_bits`` explicitly to pin a size — it
    must be a power of two (``build_bloom`` raises otherwise: the
    probe sequence's table-span guarantee needs gcd(h2, m)=1, see
    there)."""
    from pyspark.sql import Window

    from quebic_spark.cache import register_cache

    if m_bits is None:
        m_bits = auto_bloom_bits(snapshot_keys.count())
    bloom = build_bloom(snapshot_keys.select(key), key, m_bits, k)
    probe = bloom_probe_udf(bloom, k)
    _guard_reserved(
        batch, ("_maybe", "rn"), "bloom_incremental_dedup"
    )
    # flagged feeds BOTH union branches: materialize once or the batch
    # scan + md5 + Python probe pass run twice (the dominant cost at
    # the batch sizes this operator exists for)
    flagged = register_cache(
        batch.withColumn("_maybe", probe(F.md5(F.col(key)))).cache()
    )
    definitely_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    confirmed_new = (
        flagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(snapshot_keys.select(key), key, "left_anti")
    )
    fresh = definitely_new.unionByName(confirmed_new)
    w = Window.partitionBy(key).orderBy(order)
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    srcn = F.substring("source", 4, 8).cast("int")
    tagged = docs.select(
        "doc_id", "source", _content_key().alias("content_key"),
        srcn.alias("srcn"),
    )
    snapshot = tagged.filter(
        F.col("srcn") <= SNAPSHOT_MAX_SRC
    ).select("content_key")
    batch = tagged.filter(F.col("srcn") > SNAPSHOT_MAX_SRC)
    return bloom_incremental_dedup(batch, snapshot).select(
        "doc_id", "content_key", "source"
    )


# identical output contract to the exact path — shared oracle proves
# the bloom tier changes the plan, never the answer
ORACLE_DEDUP_INCREMENTAL_BLOOM = ORACLE_DEDUP_INCREMENTAL


# ---------------------------------------------------------------------------
# dedup_keep_best — quality-aware canonical selection: within each
# duplicate group, keep the HIGHEST-QUALITY document instead of the
# first-seen one (the selection policy real release pipelines use —
# C4/RefinedWeb keep a canonical per cluster chosen by heuristics, not
# arrival order; keep-first is a special case with score := -doc_id).
#
# Scale shape: one shuffle. The rank window and the group-size window
# share the content-key hash partitioning, so the count rides the same
# exchange; no join, no second pass over text. Score = the same
# distinct-ratio/length composite the doc_quality gate computes, so
# both engines share already-oracle-matched arithmetic.
# ---------------------------------------------------------------------------


def keep_best(
    docs: DataFrame, key_col: str, score_col: str,
    order: str = "doc_id",
) -> DataFrame:
    """One row per ``key_col`` group: the row maximizing ``score_col``
    (ties: lowest ``order``), with the group size as ``n_copies``.
    Both windows partition on ``key_col`` — one exchange total."""
    from pyspark.sql import Window

    _guard_reserved(docs, ("rn", "n_copies"), "keep_best")
    w = Window.partitionBy(key_col).orderBy(
        F.desc(score_col), F.asc(order)
    )
    wg = Window.partitionBy(key_col)
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wg))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the canonical composite from textops.quality_exprs — this gate
    # carried a fourth hand-rolled copy of the arithmetic the r6
    # unification de-drifted (r15 review); identical expression, so
    # the oracle (and hash) are unchanged
    from quebic_spark.operators.textops import quality_exprs

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        _content_key().alias("content_key"),
        quality_exprs()["score"].alias("quality_score"),
    )
    return keep_best(scored, "content_key", "quality_score")


ORACLE_DEDUP_KEEP_BEST = """
WITH f AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS content_key,
         CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
           / len(string_split(text,' ')) * 0.5
           + least(len(string_split(text,' ')) / 100.0, 1.0) * 0.5
           AS quality_score
  FROM documents
)
SELECT doc_id, content_key, quality_score, n_copies
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY content_key
                            ORDER BY quality_score DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY content_key) AS n_copies
  FROM f
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# dedup_lsh_recall — candidate-recall evaluation of the banded MinHash
# LSH against the exact inverted-index Jaccard ground truth at the
# SAME threshold: the quality dial every LSH deployment needs measured
# before trusting its parameters (bands x rows trades recall for
# candidate volume). Both inputs are the already-gated pair queries,
# so — unusually for an approximate-method evaluation — the recall
# itself is fully SQL-replayable and hash-gated, not a contract
# boolean. LSH output is exact-verified (true Jaccard on candidates),
# hence a subset of the exact pairs; n_hit is computed by join anyway
# rather than assumed.
# ---------------------------------------------------------------------------


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache both pair sets before fanning out: each feeds its own
    # count AND the hit join, and column pruning makes the subtrees
    # differ enough to defeat ReuseExchange — without the cache the
    # two heaviest pair pipelines in the dedup family execute twice
    # (r13 review; same discipline as q_dedup_clusters' pairs cache)
    exact = register_cache(
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b").cache()
    )
    lsh = register_cache(
        q_dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b").cache()
    )
    hit = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    l_ = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    h = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    # explicit zero-guard: double/0 is engine-dependent (IEEE Inf vs
    # NULL); both sides state NULL
    return e.crossJoin(l_).crossJoin(h).select(
        "n_exact",
        "n_lsh",
        "n_hit",
        F.when(
            F.col("n_exact") > 0,
            F.col("n_hit").cast("double") / F.col("n_exact"),
        ).alias("recall"),
    )


def _lsh_recall_oracle() -> str:
    return (
        f"WITH {_minhash_cte_block()},\n"
        "exact AS (SELECT doc_a, doc_b FROM ("
        + ORACLE_DEDUP_NGRAM_JACCARD
        + ") x),\n"
        "lsh AS (SELECT doc_a, doc_b FROM pairs),\n"
        "hit AS (SELECT 1 AS one FROM exact JOIN lsh USING (doc_a, doc_b))\n"
        "SELECT (SELECT COUNT(*) FROM exact) AS n_exact,\n"
        "       (SELECT COUNT(*) FROM lsh) AS n_lsh,\n"
        "       (SELECT COUNT(*) FROM hit) AS n_hit,\n"
        "       CASE WHEN (SELECT COUNT(*) FROM exact) > 0 THEN\n"
        "         CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)\n"
        "           / (SELECT COUNT(*) FROM exact)\n"
        "       END AS recall"
    )


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-
# efficient learning at web-scale through semantic deduplication"):
# k-means clusters over the embedding space BOUND the candidate pair
# space, cosine-similar pairs within a cluster form the semantic-dup
# graph, and connected components pick one canonical per group.
# The embedding-space counterpart of the text-side MinHash pipeline:
#   cluster (quantizer) ~ LSH band,  cosine >= tau ~ verified Jaccard,
#   CC + keep-min ~ dedup_clusters — every stage reuses the
# already-verified machinery (learned quantizer + persisted cell
# corpus from similarity.py, connected_components from the graph lib).
#
# Scale shape: pairs exist only within a cell (at 100 TB k_cells grows
# so cells stay bounded — the SemDeDup paper runs k=50k on LAION);
# the CC loop is sized by the dup graph; the corpus never self-joins
# globally.
#
# Gate: k-means cells are data-dependent, so DuckDB cannot replay the
# pair space — cardinality_sketch pattern: the data-dependent counts
# stay out of the projection; the gate row carries portable facts
# (corpus size, tau) + contract booleans evaluated IN-PLAN:
#   * kept_are_unique_within_cells — re-derive kept-kept intra-cell
#     pairs at >= tau and assert none survive (catches a broken CC or
#     join: two similar vectors both kept);
#   * partition_conserved — every vector appears exactly once in the
#     output with a canonical, canonical <= vec_id, and every
#     canonical is itself kept (no dangling group roots).
# ---------------------------------------------------------------------------

SEM_TAU = COSINE_DUP_THRESHOLD  # the corpus-calibrated near-dup bar

# the classic ~256-points-per-centroid rule (same constant family as
# similarity.py's training-slice sizing): cells of BOUNDED population,
# so the intra-cell pair space grows linearly with the corpus instead
# of quadratically. The r20 sf1 bench run measured the fixed-k=8
# version at 16x time for 10x rows — cell population had grown 10x and
# pairs 100x; with k ∝ n the pair space is ~n·SEM_TARGET_CELL_ROWS/2.
SEM_TARGET_CELL_ROWS = 256
# codegen bound: cell assignment is a greatest-of-dot-products
# expression with one branch per centroid, and Forgy init collects k
# rows from the row-capped training slice — past this, move to a
# hierarchical (two-level) quantizer rather than a wider CASE chain
SEM_MAX_CELLS = 4096


def _sem_k_cells(spark: SparkSession, sf_dir: str) -> int:
    """Corpus-size-scaled cell count: max(N_CENTROIDS, ceil(n/256)),
    capped. Parquet-footer count — no data scan, and memoized per
    (application, path) since r21: q_semantic_dedup constructs twice
    (its own `_ivf_corpus` plus `semantic_dedup`'s), which re-ran the
    count job each time (VERDICT r20 next #7). At the oracle's
    sf0.01 and the bench's sf0.1 this resolves to exactly
    N_CENTROIDS=8 (pinned in tests/test_dedup_lib.py), so gate
    hashes and committed floors are unchanged; growth only engages
    beyond ~2k vectors."""
    from quebic_spark.operators import similarity as S
    from quebic_spark.session import immutable_parquet_count

    n = immutable_parquet_count(spark, f"{sf_dir}/embeddings.parquet")
    return min(
        SEM_MAX_CELLS,
        max(S.N_CENTROIDS, -(-n // SEM_TARGET_CELL_ROWS)),
    )


def _sem_train_kwargs(spark: SparkSession, sf_dir: str) -> dict:
    """Quantizer-training knobs for semantic dedup's blocking cells.
    At the default k (small corpora) everything stays at the ANN
    family's defaults — byte-identical centroids, oracle-safe. When k
    scales past the default, restarts drop to 2: best-of-R restarts
    exist to escape a bad Forgy init, whose variance shrinks as k
    grows, and dedup BLOCKING needs balanced cells, not the last few
    points of ANN recall — while training cost is linear in restarts
    (the one-time cost at 10x the bench scale measured ~24 s/restart,
    r20)."""
    from quebic_spark.operators import similarity as S

    k = _sem_k_cells(spark, sf_dir)
    if k == S.N_CENTROIDS:
        return {"k_cells": k}
    return {"k_cells": k, "seed_restarts": 2}


def semantic_dedup(
    spark: SparkSession, sf_dir: str, tau: float = SEM_TAU,
) -> DataFrame:
    """(vec_id, canonical_id, is_kept) for every corpus vector:
    canonical = min vec_id reachable through intra-cell cosine>=tau
    edges; is_kept marks the canonical representative."""
    from quebic_spark.functions.graph import connected_components
    from quebic_spark.operators import similarity as S

    cents = S.learned_centroids(
        spark, sf_dir, **_sem_train_kwargs(spark, sf_dir)
    )
    corpus = S._ivf_corpus(spark, sf_dir, cents)
    a, b = corpus.alias("a"), corpus.alias("b")
    # zero-norm guard (r15 review, the ANN-family _cos_expr rule):
    # 0/0 = NaN orders above all doubles in BOTH engines, so one zero
    # vector passed the >= threshold against every blockmate while
    # still hash-matching the oracle; NULL is inert in the filter
    from quebic_spark.functions.vector import dot_product_sql

    cos = F.expr(
        "CASE WHEN (a.norm * b.norm) > 0 THEN "
        f"{dot_product_sql('a.embedding', 'b.embedding')}"
        " / (a.norm * b.norm) END"
    )
    # materialize before fanning out to both orientations (same
    # registered-cache reasoning as q_dedup_clusters: the pair join
    # runs once, not per branch, and the handle is releasable)
    pairs = register_cache(
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= tau)
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
        )
        .cache()
    )
    edges = pairs.union(pairs.select("dst", "src")).toDF("src", "dst")
    nodes = corpus.select(F.col("vec_id").alias("doc_id"))
    labels = connected_components(nodes, edges)
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("canonical_id"),
        (F.col("cluster_id") == F.col("doc_id")).alias("is_kept"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quebic_spark.operators import similarity as S

    # semantic_dedup's result is already a lineage-free checkpointed
    # frame (connected_components' contract) — no extra copy needed
    labels = semantic_dedup(spark, sf_dir)
    corpus = S._ivf_corpus(
        spark, sf_dir,
        S.learned_centroids(
            spark, sf_dir, **_sem_train_kwargs(spark, sf_dir)
        ),
    )
    from quebic_spark.functions.vector import dot_product_sql

    kept = labels.filter(F.col("is_kept")).select("vec_id")
    kc = corpus.join(kept, "vec_id")
    a, b = kc.alias("a"), kc.alias("b")
    # zero-norm guard (r15 review, the ANN-family _cos_expr rule):
    # 0/0 = NaN orders above all doubles in BOTH engines, so one zero
    # vector passed the >= threshold against every blockmate while
    # still hash-matching the oracle; NULL is inert in the filter.
    # SQL-fragment form (r20): same fold, one parse.
    cos = F.expr(
        "CASE WHEN (a.norm * b.norm) > 0 THEN "
        f"{dot_product_sql('a.embedding', 'b.embedding')}"
        " / (a.norm * b.norm) END"
    )
    # the four contract facts (near-pair count among keepers, label
    # stats, dangling roots, corpus size) are independent single-row
    # aggregates — cross-join them into ONE action instead of four
    # sequential driver round-trips (r20; labels is a checkpointed
    # frame, so each subtree reads materialized rows)
    kept_near_agg = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= F.lit(float(SEM_TAU)))
        .agg(F.count(F.lit(1)).alias("kept_near"))
    )
    stats_agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("vec_id").alias("n_distinct"),
        F.sum(
            F.when(F.col("canonical_id") > F.col("vec_id"), 1).otherwise(0)
        ).alias("bad_order"),
    )
    # every canonical must itself be kept (no dangling roots)
    dangling_agg = (
        labels.filter(~F.col("is_kept"))
        .select(F.col("canonical_id").alias("vec_id"))
        .distinct()
        .join(kept, "vec_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("dangling"))
    )
    nv_agg = corpus.agg(F.count(F.lit(1)).alias("n_vectors"))
    stats = (
        stats_agg.crossJoin(kept_near_agg)
        .crossJoin(dangling_agg)
        .crossJoin(nv_agg)
        .collect()[0]
    )
    kept_near = stats["kept_near"]
    dangling = stats["dangling"]
    n_vectors = stats["n_vectors"]
    conserved = (
        stats["n"] == n_vectors
        and stats["n_distinct"] == n_vectors
        and stats["bad_order"] == 0
        and dangling == 0
    )
    return spark.range(1).select(
        F.lit(n_vectors).cast("bigint").alias("n_vectors"),
        F.lit(float(SEM_TAU)).alias("tau"),
        F.lit(bool(kept_near == 0)).alias("kept_are_unique_within_cells"),
        F.lit(bool(conserved)).alias("partition_conserved"),
    )


ORACLE_SEMANTIC_DEDUP = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST({SEM_TAU} AS DOUBLE) AS tau,
       TRUE AS kept_are_unique_within_cells,
       TRUE AS partition_conserved
FROM embeddings
"""


ORACLE_DEDUP_SPAN_STRIP = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{SPAN_K - 1}], ' ')) AS gh
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - {SPAN_K} + 1)) AS i) g
),
dup AS (
  SELECT gh FROM grams GROUP BY gh
  HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
),
hits AS (
  SELECT doc_id, pos FROM grams WHERE gh IN (SELECT gh FROM dup)
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {SPAN_K} THEN 1 ELSE 0 END AS brk
  FROM hits
),
isl2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {SPAN_K - 1} AS e
  FROM isl2 GROUP BY doc_id, island
),
affected AS (SELECT DISTINCT doc_id FROM spans),
tok_idx AS (
  SELECT tk.doc_id, g.i, tk.t[g.i] AS tok
  FROM toks tk,
       LATERAL (SELECT unnest(generate_series(1, len(tk.t))) AS i) g
  WHERE tk.doc_id IN (SELECT doc_id FROM affected)
),
remaining AS (
  SELECT ti.doc_id, ti.i, ti.tok FROM tok_idx ti
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = ti.doc_id
                      AND ti.i - 1 BETWEEN s.s AND s.e)
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(array_to_string(list(tok ORDER BY i), ' ')) AS kept_md5
  FROM remaining GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(g.kept_tokens, 0) AS kept_tokens,
       COALESCE(g.kept_md5, md5('')) AS kept_md5
FROM affected a LEFT JOIN agg g USING (doc_id)
"""


ORACLE_DEDUP_LSH_RECALL = _lsh_recall_oracle()


# ---------------------------------------------------------------------------
# crawl_snapshot_diff — day-2 delta report: what changed between two
# crawl snapshots, by content key. The audit artifact a pipeline
# publishes alongside incremental_dedup's output: how much is new,
# how much churned away, how much persisted. One projection per side
# to (distinct) keys, one key-keyed full outer join, tiny status agg
# — no text ever shuffles.
# ---------------------------------------------------------------------------


def snapshot_diff(
    old_keys: DataFrame, new_keys: DataFrame, key: str = "content_key"
) -> DataFrame:
    """(status, n_keys) over the full outer join of two key sets:
    ``added`` (new only), ``removed`` (old only), ``retained``."""
    o = old_keys.select(F.col(key).alias("k")).distinct().withColumn(
        "in_old", F.lit(True)
    )
    n = new_keys.select(F.col(key).alias("k")).distinct().withColumn(
        "in_new", F.lit(True)
    )
    status = (
        F.when(F.col("in_old").isNull(), "added")
        .when(F.col("in_new").isNull(), "removed")
        .otherwise("retained")
    )
    return (
        o.join(n, "k", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


def q_crawl_snapshot_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # overlapping source slices so all three statuses populate:
    # "yesterday" = src 0..15, "today" = src 8..23
    docs = _docs(spark, sf_dir)
    srcn = F.substring("source", 4, 8).cast("int")
    tagged = docs.select(
        _content_key().alias("content_key"), srcn.alias("srcn")
    )
    old = tagged.filter(F.col("srcn") <= SNAPSHOT_MAX_SRC)
    new = tagged.filter(
        (F.col("srcn") > SNAPSHOT_MAX_SRC // 2)
    )
    return snapshot_diff(old, new)


ORACLE_CRAWL_SNAPSHOT_DIFF = f"""
WITH tagged AS (
  SELECT md5(array_to_string(
           list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS k,
         CAST(SUBSTR(source, 4) AS INT) AS srcn
  FROM documents
),
o AS (SELECT DISTINCT k FROM tagged WHERE srcn <= {SNAPSHOT_MAX_SRC}),
n AS (SELECT DISTINCT k FROM tagged
      WHERE srcn > {SNAPSHOT_MAX_SRC // 2})
SELECT CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            ELSE 'retained' END AS status,
       COUNT(*) AS n_keys
FROM o FULL OUTER JOIN n ON o.k = n.k
GROUP BY 1
"""


QUERIES = {
    "crawl_snapshot_diff": q_crawl_snapshot_diff,
    "semantic_dedup": q_semantic_dedup,
    "dedup_lsh_recall": q_dedup_lsh_recall,
    "dedup_span_strip": q_dedup_span_strip,
    "dedup_incremental_bloom": q_dedup_incremental_bloom,
    "dedup_keep_best": q_dedup_keep_best,
    "cardinality_sketch": q_cardinality_sketch,
    "hll_merge_cardinality": q_hll_merge_cardinality,
    "dedup_exact": q_dedup_exact,
    "dedup_exact_rows": q_dedup_exact_rows,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_simhash": q_dedup_simhash,
    "dedup_spans": q_dedup_spans,
    "dedup_incremental": q_dedup_incremental,
}

ORACLES = {
    "crawl_snapshot_diff": ORACLE_CRAWL_SNAPSHOT_DIFF,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "dedup_lsh_recall": ORACLE_DEDUP_LSH_RECALL,
    "dedup_span_strip": ORACLE_DEDUP_SPAN_STRIP,
    "dedup_incremental_bloom": ORACLE_DEDUP_INCREMENTAL_BLOOM,
    "dedup_keep_best": ORACLE_DEDUP_KEEP_BEST,
    "cardinality_sketch": ORACLE_CARDINALITY_SKETCH,
    "hll_merge_cardinality": ORACLE_HLL_MERGE_CARDINALITY,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_exact_rows": ORACLE_DEDUP_EXACT_ROWS,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_embedding_cosine": ORACLE_DEDUP_EMBEDDING_COSINE,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_spans": ORACLE_DEDUP_SPANS,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
}
