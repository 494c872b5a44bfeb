"""Fourth TPC-H-shaped wave: the partsupp-family queries (Q2/Q11/Q20),
adapted to the fixture star schema. The fixture has no partsupp table, so
the supplier⇄part relationship is derived from `lineitem(l_partkey,
l_suppkey)` and "supply cost" becomes the observed per-unit sale price
(`l_extendedprice / l_quantity`) — same query SHAPES (correlated min,
group-vs-global fraction threshold, semi join on an aggregated HAVING
subquery), different physical column.

Shapes covered:
- Q2: minimum-cost supplier per part — a correlated scalar MIN subquery,
  decorrelated to a single window-min pass (one shuffle on the part key).
- Q11: important stock — grouped value vs a fraction of the global total
  (scalar subquery over the same view, reused-exchange friendly).
- Q20: qualified suppliers — semi join against a grouped-HAVING subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import pin
from ..sources.tables import read_table
from .registry import register, register_sql

# ===========================================================================
# TPC-H Q2 shape: cheapest supplier per part within a region.
# ===========================================================================

_Q2_SQL = f"""
WITH costs AS (
    SELECT p_partkey, p_name, s_name,
           l_extendedprice / l_quantity AS unit_cost
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_size = 15
)
SELECT DISTINCT p_partkey, p_name, s_name, {R('unit_cost', 4)} AS unit_cost
FROM (
    SELECT *, min(unit_cost) OVER (PARTITION BY p_partkey) AS min_cost
    FROM costs
)
WHERE unit_cost = min_cost
"""

register_sql("tpch_q2_min_cost_supplier", _Q2_SQL)


# ===========================================================================
# TPC-H Q11 shape: parts whose stock value inside one nation exceeds a
# fraction of that nation's total stock value.
# ===========================================================================

_Q11_SQL = f"""
WITH value_per_part AS (
    SELECT l_partkey AS p_key,
           sum(l_extendedprice * l_quantity) AS part_value
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_9'
    GROUP BY l_partkey
)
SELECT p_key, {R('part_value', 2)} AS part_value
FROM value_per_part
WHERE part_value > (SELECT 0.001 * sum(part_value) FROM value_per_part)
"""


@register("tpch_q11_important_stock", _Q11_SQL)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-total vs fraction-of-global-total. The per-part aggregate
    feeds two consumers (the row stream and the global-total threshold);
    AQE does not reuse the exchange across those stages, so without help
    the fact is scanned and aggregated TWICE. Caching the aggregated view
    (small: one row per part, orders of magnitude below the fact) makes
    the scan+join+partial-agg run once — SURVEY §4's "cache where a
    branch reuses a parent". The 1-row threshold then broadcasts back via
    nested-loop (no sort, no collect)."""
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = (
        read_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_9")
        .select("n_nationkey")
    )
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    per_part = pin(
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias(
                "part_value"
            )
        )
    )
    threshold = per_part.agg(
        (F.lit(0.001) * F.sum("part_value")).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("p_key", dround(F.col("part_value"), 2).alias("part_value"))
    )


# ===========================================================================
# TPC-H Q20 shape: suppliers who moved significant volume of a product
# family in one year — semi join against a grouped-HAVING subquery.
# ===========================================================================

_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '%widget%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 50.0
)
"""


@register("tpch_q20_volume_suppliers", _Q20_SQL)
def tpch_q20_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (aggregated subquery) = semi join against a grouped-HAVING view.
    The year+name filters shrink the fact before the (suppkey, partkey)
    aggregation; the qualified-supplier set is tiny after HAVING, so it
    broadcasts into the semi join — the supplier dim is never shuffled."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    qualified = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50.0)
        .select("l_suppkey")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        F.broadcast(qualified), s.s_suppkey == qualified.l_suppkey, "left_semi"
    )
