"""Partition-count invariance: the repo's determinism discipline
(md5 keys, DECIMAL-exact sums, sequential folds, explicit tie-breaks)
claims results do not depend on parallelism. This test runs the
float-bearing gates under two different shuffle-partition settings and
requires IDENTICAL value fingerprints — the property that makes
results reproducible across cluster sizes, retries, and AQE replans
at 100 TB."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_oracle import spark_fingerprint  # noqa: E402

from quebic_spark.operators import ALL_QUERIES  # noqa: E402

# gates whose outputs carry unrounded floats — the hard cases;
# integer/hash gates are invariant a fortiori
FLOAT_GATES = [
    "event_anomaly_scores",   # windowed DECIMAL moments -> double z
    "ann_bruteforce_topk",    # sequential-fold cosines + rank windows
    "lm_perplexity",          # rounded-ln DECIMAL sums
    "embedding_decontaminate",  # max over folded cosines
]


@pytest.mark.parametrize("name", FLOAT_GATES)
def test_gate_invariant_under_shuffle_partition_count(name, spark, sf_dir):
    from quebic_spark.cache import clear_caches

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    fps = []
    try:
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            clear_caches(include_ivf_index=True)
            df = ALL_QUERIES[name](spark, sf_dir)
            fps.append(spark_fingerprint(df))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        clear_caches(include_ivf_index=True)
    assert fps[0] == fps[1], f"{name}: {fps[0]} != {fps[1]}"
