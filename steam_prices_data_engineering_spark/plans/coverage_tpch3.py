"""Third TPC-H-shaped wave: the big multi-join analytics (Q7/Q8/Q9) and the
aggregate-of-aggregate shapes (Q15/Q16). Adapted to the fixture star schema
(no partsupp table — `p_retailprice` stands in for `ps_supplycost` in the
Q9 profit expression; supplier links to facts via `lineitem.l_suppkey`).

These exercise the remaining judge-relevant plan shapes: 5-6 way snowflake
joins with two independent nation dims, conditional market-share ratios,
HAVING-equals-a-global-aggregate, and NOT-IN exclusion over a distinct
count. Spark side always decorrelates; oracles keep declarative SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..sources.tables import read_table
from .registry import register, register_sql

# ===========================================================================
# TPC-H Q7 shape: bilateral trade volume between two nations by ship year.
# Two INDEPENDENT nation dims (supplier's and customer's) join the same
# fact row — aliasing discipline matters.
# ===========================================================================

_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {R("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           l_extendedprice, l_discount
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
        OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
"""

register_sql("tpch_q7_bilateral_volume", _Q7_SQL)


# ===========================================================================
# TPC-H Q8 shape: market share of one nation inside one region's market,
# per year — a conditional-sum ratio over a 6-way snowflake.
# ===========================================================================

_Q8_SQL = f"""
SELECT o_year, {R("sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END) / sum(volume)", 6)} AS mkt_share
FROM (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n1.n_name AS supp_nation
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
)
GROUP BY o_year
"""

register_sql("tpch_q8_market_share", _Q8_SQL)


# ===========================================================================
# TPC-H Q9 shape: product-line profit by supplier nation and year.
# (p_retailprice stands in for ps_supplycost — no partsupp fixture.)
# ===========================================================================

_Q9_SQL = f"""
SELECT nation, o_year, {R('sum(amount)', 4)} AS sum_profit
FROM (
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
)
GROUP BY nation, o_year
"""

register_sql("tpch_q9_product_profit", _Q9_SQL)


# ===========================================================================
# TPC-H Q15 shape: top supplier(s) by quarterly revenue — HAVING equals a
# global aggregate of the same grouped aggregate (the "view reused twice"
# query).
# ===========================================================================

_Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(l_extendedprice * (1 - l_discount)) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, {R('total_revenue', 2)} AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("tpch_q15_top_supplier", _Q15_SQL)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue view feeds both the rows and the max-threshold. A dense
    rank over an empty partition would funnel ALL suppliers through one
    task; instead the 1-row max aggregate broadcast-joins back onto the
    view — the view itself is recomputed (two scans of a filtered fact)
    rather than cached, the right trade at scale where the quarter slice
    is small but executor memory is precious."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", dround(F.col("total_revenue"), 2).alias(
                "total_revenue"
            )
        )
    )


# ===========================================================================
# TPC-H Q16 shape: supplier diversity per part attribute class, with a
# NOT-IN supplier exclusion (low-acctbal suppliers stand in for the
# "complaints" comment filter) and a distinct count.
# ===========================================================================

_Q16_SQL = """
SELECT p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (5, 15, 25, 35, 45)
  AND l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
  )
GROUP BY p_type, p_size
"""

register_sql("tpch_q16_supplier_diversity", _Q16_SQL)
