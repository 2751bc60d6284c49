"""Column profiler: oracle parity, null accounting, approx mode."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_oracle import duck_fingerprint, spark_fingerprint  # noqa: E402

from quebic_spark.functions.profile import (  # noqa: E402
    _kind,
    profile,
    profile_oracle_sql,
)


@pytest.mark.parametrize("table", ["orders", "lineitem", "customer"])
def test_profile_matches_duckdb_oracle(table, spark, sf_dir, duck):
    """profile(exact_distinct=True) hash-matches a per-column UNION ALL
    oracle across numeric / string / temporal columns."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    sdf = profile(df, exact_distinct=True)
    cols = [(f.name, _kind(f.dataType)) for f in df.schema.fields
            if _kind(f.dataType) != "complex"]
    rel = duck.execute(profile_oracle_sql(table, cols))
    assert spark_fingerprint(sdf) == duck_fingerprint(rel), table


def test_profile_null_accounting(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "b"), (None, None)],
        "x long, y string",
    )
    out = {r["column"]: r for r in profile(df, exact_distinct=True).collect()}
    assert out["x"]["n_rows"] == 4 and out["x"]["n_nulls"] == 2
    assert out["x"]["n_distinct"] == 2
    assert out["x"]["min_num"] == 1.0 and out["x"]["max_num"] == 2.0
    assert out["x"]["min_str"] is None
    assert out["y"]["n_nulls"] == 2 and out["y"]["n_distinct"] == 2
    assert out["y"]["min_str"] == "a" and out["y"]["max_str"] == "b"
    assert out["y"]["min_num"] is None


def test_profile_default_is_approx_and_close(spark, sf_dir):
    """Default mode uses HLL distincts (the 100 TB path): within 10% of
    exact on every profiled column of orders."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    approx = {r["column"]: r["n_distinct"] for r in profile(df).collect()}
    exact = {
        r["column"]: r["n_distinct"]
        for r in profile(df, exact_distinct=True).collect()
    }
    assert set(approx) == set(exact)
    for c in exact:
        assert abs(approx[c] - exact[c]) <= max(1, 0.1 * exact[c]), c


def test_profile_rejects_complex_columns(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # embedding is array<float>: skipped by default ...
    cols = [r["column"] for r in profile(emb).collect()]
    assert "embedding" not in cols and len(cols) > 0
    # ... and rejected when named explicitly
    with pytest.raises(ValueError):
        profile(emb, columns=["embedding"])


def test_profile_no_eligible_columns_fails_loud(spark):
    """r15 review: zero eligible columns reached F.explode(F.array())
    and died as a star-expansion AnalysisException pointing at
    internals."""
    import pytest

    df = spark.createDataFrame(
        [([1.0],)], "embedding array<double>"
    )
    from quebic_spark.functions.profile import profile

    with pytest.raises(ValueError, match="no eligible"):
        profile(df)
    with pytest.raises(ValueError, match="no eligible"):
        profile(df, columns=[])
