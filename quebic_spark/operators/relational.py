"""Relational gates over the TPC-H-ish testdata.

The reference implements no relational layer (SURVEY §2.9 — verified
absent). Two gates remain, each paired with an ANSI-SQL oracle for the
DuckDB differential gate: ``pricing_summary`` (scan + pushed filter +
partial aggregation) and ``skew_safe_revenue`` (the salted two-stage
aggregation of ``quebic_spark.plans.skew``).

Determinism discipline (applies to every query in this package):
  * Money/ratio aggregations are computed in DECIMAL (exact, and —
    critically — independent of partition/summation order, so results
    are stable under any degree of parallelism, 32 threads or 1000
    executors), then cast to DOUBLE for a stable output schema.
  * top-k always breaks ties on a unique key.
  * Aggregate/computed columns carry identical aliases in the Spark
    plan and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quebic_spark.session import read_immutable_parquet

# Exact-decimal casts for money arithmetic. Derivation stays well under
# DECIMAL(38,*) so neither engine ever truncates scale:
#   price(10,2) * (1.00 - disc(4,2)) -> (16,4); * (1.00 + tax) -> (22,6)
_PRICE = "decimal(10,2)"
_RATE = "decimal(4,2)"
_QTY = "decimal(10,2)"


def _one() -> F.Column:
    # built lazily: constructing a Column at module-import time requires
    # an active SparkContext, which Python UDF workers re-importing this
    # package don't have
    return F.lit(1).cast("decimal(3,2)")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from quebic_spark.session import tune_for_query

    tune_for_query(spark)
    return read_immutable_parquet(spark, f"{sf_dir}/{name}.parquet")


def _dbl(c) -> F.Column:
    return c.cast("double")


# ---------------------------------------------------------------------------
# q_pricing_summary — TPC-H Q1 shape: scan + filter + groupBy aggregate.
# Scale: single shuffle on (returnflag, linestatus) with map-side partial
# aggregation; shipdate filter and 7-column projection push into the
# parquet scan.
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_QTY)
    price = F.col("l_extendedprice").cast(_PRICE)
    disc = F.col("l_discount").cast(_RATE)
    tax = F.col("l_tax").cast(_RATE)
    disc_price = price * (_one() - disc)
    charge = disc_price * (_one() + tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum(qty)).alias("sum_qty"),
            _dbl(F.sum(price)).alias("sum_base_price"),
            _dbl(F.sum(disc_price)).alias("sum_disc_price"),
            _dbl(F.sum(charge)).alias("sum_charge"),
            (_dbl(F.sum(qty)) / F.count(F.lit(1))).alias("avg_qty"),
            (_dbl(F.sum(price)) / F.count(F.lit(1))).alias("avg_price"),
            (_dbl(F.sum(disc)) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q_skew_safe_revenue — explicit two-stage salted aggregation
# (quebic_spark.plans.skew). Exact-decimal partials make the result
# identical to a direct groupBy, so the oracle is the plain SQL — the
# query proves the salting rewrite is semantics-preserving. That is
# all it proves: for an algebraic SUM like this, Spark's map-side
# partial aggregation already neutralizes hot-key skew and a direct
# groupBy is the better plan (one exchange, not two); salting earns
# its keep on non-algebraic state (collect_list, exact distinct) —
# see plans/skew.py (r15 review).
# ---------------------------------------------------------------------------

def q_skew_safe_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quebic_spark.plans.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast(_PRICE) * (
        _one() - F.col("l_discount").cast(_RATE)
    )
    out = salted_agg(
        li,
        group_cols=["l_returnflag"],
        aggs={
            "revenue_dec": (F.sum(revenue), "sum"),
            "n_items": (F.count(F.lit(1)), "sum"),
        },
        salt_col=F.col("l_orderkey"),
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        _dbl(F.col("revenue_dec")).alias("revenue"),
        "n_items",
    )


ORACLE_SKEW_SAFE_REVENUE = """
SELECT l_returnflag,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "skew_safe_revenue": q_skew_safe_revenue,
}

ORACLES = {
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "skew_safe_revenue": ORACLE_SKEW_SAFE_REVENUE,
}
