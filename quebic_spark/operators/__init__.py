"""Operator registry: every implemented query with its DuckDB oracle.

``QUERIES`` maps name -> (spark, sf_dir) -> DataFrame.
``ORACLES`` maps name -> ANSI SQL for DuckDB (absent => rows-only check).

The driver's correctness gate records the FIRST 50 registry entries
(CORRECTNESS_r02 showed entries 51+ silently dropped), so the gate
surface is curated explicitly:

* ``GATE_ORDER`` — exactly the queries the driver checks, newest /
  most-recently-changed first so a future overflow drops the oldest,
  most-stable gates instead of the newest code.
* ``RETIRED_GATES`` — queries that hold no driver slot, each mapped to
  the live gates that run the same helper or expression (``()`` when
  none does). They stay oracle-paired; ``tests/test_registry.py`` runs
  each against its DuckDB oracle at sf0.001, so they keep hash-level
  evidence without spending one of the 50 driver slots.

Every query defined by an operator module must appear in exactly one of
the two; the import-time checks below raise otherwise (so adding a
query without curating the gate is a hard error, not a silent evidence
gap).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from quebic_spark.operators import (
    classifier,
    dedup,
    events,
    multimodal,
    queueops,
    relational,
    sampling,
    similarity,
    temporal,
    textops,
    tokenizer,
)

_MODULES = (relational, dedup, similarity, textops, events, multimodal,
            queueops, temporal, sampling, classifier, tokenizer)

ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ALL_ORACLES: dict[str, str] = {}
for _mod in _MODULES:
    ALL_QUERIES.update(_mod.QUERIES)
    ALL_ORACLES.update(_mod.ORACLES)
# duplicate-name guard (r14 review): dict.update silently lets a later
# module shadow an earlier module's query of the same name — the
# curation checks below would still pass while the shadowed operator
# silently lost all its evidence
if sum(len(_m.QUERIES) for _m in _MODULES) != len(ALL_QUERIES):
    _names = [n for _m in _MODULES for n in _m.QUERIES]
    _dups = sorted({n for n in _names if _names.count(n) > 1})
    raise RuntimeError(
        f"query name defined in more than one operator module: {_dups}"
    )

# Driver gate window (max 50 recorded): new / recently-changed first.
GATE_ORDER: tuple[str, ...] = (
    # --- r12: rotated into the live window (VERDICT r11 #3) ---
    "unicode_normalize_stats",
    # --- r10: new gates that round ---
    "quebic_format_roundtrip",
    "diversity_sample",
    # --- r9: new gates that round ---
    "footer_stats_audit",
    "line_dedup",
    # --- r7: new operators that round (PQ read path changed r9) ---
    "ann_ivf_pq_recall",
    "leakage_safe_split",
    # --- r7: rotated in so every operator has held a driver slot ---
    "token_budget_mixture",
    "event_rollup_hierarchy",
    "crawl_snapshot_diff",
    # --- r6: new gates that round ---
    "source_scorecard",
    "hll_merge_cardinality",
    "cms_heavy_hitters",
    "event_anomaly_scores",
    "phrase_search",
    "cdc_chunks",
    "zorder_events_stats",
    "embedding_decontaminate",
    "chunk_documents",
    "bpe_tokenizer_eval",
    "quality_classifier_eval",
    "lm_perplexity",
    "corpus_release_counts",
    "semantic_dedup",
    # --- r5: new gates that round ---
    "corpus_shards_roundtrip",
    "profile_documents",
    "ann_ivf_learned_recall",
    "dedup_keep_best",
    "dedup_incremental_bloom",
    # --- r4: new gates that round ---
    "pii_scrub_stats",
    "dedup_spans",
    "ann_ivf_nprobe2",
    "repetition_stats",
    # --- r3: new operators that round ---
    "decontaminate",
    "sequence_packing",
    # --- r3: first driver gate for these (registry overflowed in r2) ---
    "train_split_counts",
    "quantile_sketch",
    "pipeline_doc_counts",
    "event_pairs_within_5min",
    # --- r3: behavior or plan changed this round ---
    "dedup_clusters",
    "multimodal_decode",
    # --- stable since r2 (driver-green in CORRECTNESS_r02) ---
    "pricing_summary",
    "skew_safe_revenue",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "event_sessions",
    "event_funnel",
    "event_watermark_windows",
    "queue_fifo_roundtrip",
    "asof_click_to_purchase",
)

# Retired gates: implemented and oracle-paired, run against their DuckDB
# oracle at sf0.001 by tests/test_registry.py, but holding no driver
# slot. Each maps to the live GATE_ORDER gates that run the same helper
# or expression (named in the comment); a retired gate whose mechanism
# no live gate runs maps to () and its registry test is its only
# evidence. Cite a gate only after grepping that it calls the helper.
RETIRED_GATES: dict[str, tuple[str, ...]] = {
    # _exact_topk: the recall gates' ground truth
    "ann_bruteforce_topk": ("ann_ivf_learned_recall", "ann_ivf_pq_recall"),
    # _ivf_corpus + broadcast cell probe + _cos_expr rerank
    # (ivf_topk_nprobe; learned_recall runs it at nprobe=1)
    "ann_ivf_topk": ("ann_ivf_nprobe2", "ann_ivf_learned_recall"),
    # _signature_col / _planes: no live caller
    "ann_lsh_topk": (),
    # functions.temporal.asof_join (forward): no live caller;
    # asof_click_to_purchase hand-rolls a backward window
    "asof_next_purchase": (),
    # countDistinct(md5("text")) + approx-vs-exact tolerance flags
    "cardinality_sketch": ("hll_merge_cardinality",),
    # guarded dot_product_sql cosine self-join + threshold filter
    "dedup_embedding_cosine": ("semantic_dedup",),
    # md5("text") as the grouping / distinct key
    "dedup_exact": ("source_scorecard", "hll_merge_cardinality"),
    # keep-first row_number over an md5 key ordered by doc_id
    "dedup_exact_rows": ("pipeline_doc_counts", "dedup_incremental_bloom"),
    # _content_key + left_anti snapshot join + keep-first window
    "dedup_incremental": ("dedup_incremental_bloom",),
    # its two inputs: q_dedup_ngram_jaccard and minhash_lsh_pairs
    "dedup_lsh_recall": ("dedup_ngram_jaccard", "dedup_clusters"),
    # minhash_lsh_pairs
    "dedup_minhash_lsh": ("dedup_clusters",),
    # _merged_spans
    "dedup_span_strip": ("dedup_spans",),
    # functions.text.fingerprint / normalized_text: no live caller
    "doc_fingerprints": (),
    # quality_exprs()["score"] (the classifier's teacher label)
    "doc_quality": ("source_scorecard", "dedup_keep_best",
                    "corpus_release_counts", "quality_classifier_eval"),
    # l2_norm_sql("embedding")
    "embedding_label_stats": ("ann_ivf_learned_recall", "ann_ivf_nprobe2"),
    # F.window tumbling grid: no live caller (live gates bucket with
    # date_trunc)
    "event_counts_hourly": (),
    # get_json_object: no live caller
    "event_json_props": (),
    # F.window sliding grid: no live caller
    "event_sliding_windows": (),
    # groupBy count + orderBy(desc count, key).limit top-k
    "heavy_hitter_keys": ("cms_heavy_hitters",),
    # _lang_pred_parts
    "lang_id": ("source_scorecard",),
    # _mix_weight + md5-fraction threshold admission
    "mixture_sample": ("token_budget_mixture",),
    # F.encode(text, "UTF-8") payload
    "multimodal_manifest": ("multimodal_decode",),
    # token-count bounds + size(array_distinct(toks)) / n_toks ratio
    "quality_filter_stats": ("pipeline_doc_counts",),
    # F.aggregate fold over tokens() with an element_at lookup
    "sentiment_scores": ("quality_classifier_eval",),
    # lag-gap session ids: no live caller; event_sessions uses
    # session_window, whose end-exclusive boundary differs
    "session_topk_events": (),
    # hash_bucket(doc_id, n) shard routing; sequence_packing also
    # sizes docs as size(split(text, " "))
    "shard_assignment": ("sequence_packing", "corpus_shards_roundtrip",
                         "train_split_counts"),
    # per-group window ordered by md5(doc_id) (sequence_packing);
    # per-group row_number (dedup_keep_best's keep_best)
    "stratified_sample": ("sequence_packing", "dedup_keep_best"),
    # size(tokens) and size(array_distinct(toks)) / n_toks
    "text_stats": ("pipeline_doc_counts", "source_scorecard"),
    # explode(tokens) + token groupBy + rounded ln idf: no live caller
    # (lm_perplexity explodes bigrams)
    "tfidf_top_terms": (),
    # sum(size(tokens(text))) per source
    "token_counts": ("source_scorecard",),
    # _weight_expr_spark + min-of-md5 sample keys: no live caller
    "weighted_sample": (),
}
_bad_cov = {
    k: sorted(set(v) - set(GATE_ORDER))
    for k, v in RETIRED_GATES.items()
    if set(v) - set(GATE_ORDER)
}
if _bad_cov:
    raise RuntimeError(
        f"RETIRED_GATES cites non-live gates (update the map when "
        f"retiring them): {_bad_cov}"
    )

# real exceptions, not assert (r14 review): the docstring promises an
# uncurated query is "a hard error, not a silent evidence gap", but
# bare asserts are stripped under `python -O` — the driver entry
# points import this module, so an optimized interpreter would have
# waved the gap through
if len(GATE_ORDER) > 50:
    raise RuntimeError(
        f"driver gate records only 50 entries; GATE_ORDER has "
        f"{len(GATE_ORDER)}"
    )
if len(set(GATE_ORDER)) != len(GATE_ORDER):
    raise RuntimeError("duplicate gate entries in GATE_ORDER")
_curated = set(GATE_ORDER) | set(RETIRED_GATES)
_defined = set(ALL_QUERIES)
if _curated != _defined:
    raise RuntimeError(
        f"registry curation out of sync: uncurated={_defined - _curated}, "
        f"unknown={_curated - _defined}"
    )
if set(GATE_ORDER) & set(RETIRED_GATES):
    raise RuntimeError("gate both live and retired")

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: ALL_QUERIES[name] for name in GATE_ORDER
}
ORACLES: dict[str, str] = {
    name: ALL_ORACLES[name] for name in GATE_ORDER if name in ALL_ORACLES
}
