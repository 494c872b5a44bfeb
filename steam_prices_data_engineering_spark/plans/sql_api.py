"""SQL-entry-point surface: the same engine driven through `spark.sql` over
build-scoped temp views (`sources.tables.table_views`) — scalar
subqueries, HAVING, and IN-subqueries, which exercise Catalyst's subquery
decorrelation. The reference has no SQL layer (SURVEY.md §3: eager pandas
dataflow); this is the Spark-native query doorway a user of the engine
gets for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.rounding import dround_sql as R
from ..sources.tables import read_table, table_views
from .registry import register, register_sql

# Scalar subquery: customers whose balance beats the global average —
# Catalyst plans the scalar subquery as a broadcast one-row join. The SQL
# text doubles as its own oracle — both engines parse the same query.
_SCALAR_SUBQ = f"""
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_above_avg
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
GROUP BY c_nationkey
"""

register_sql("sql_scalar_subquery", _SCALAR_SUBQ)


# HAVING + IN-subquery: TPC-H Q18 shape (large-order customers): grouped
# HAVING over the fact table, joined back to orders, top-20. The HAVING
# aggregation shuffles on l_orderkey once; the join back to orders reuses
# high-cardinality keys (sort-merge or shuffled-hash under AQE); top-k is
# TakeOrderedAndProject.
_Q18_SQL = f"""
SELECT o.o_orderkey,
       {R('agg.qty', 2)} AS total_qty,
       {R('o.o_totalprice', 2)} AS o_totalprice
FROM orders o
JOIN (
    SELECT l_orderkey, sum(l_quantity) AS qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(l_quantity) > 150
) agg ON o.o_orderkey = agg.l_orderkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 20
"""

register_sql("sql_tpch_q18_large_orders", _Q18_SQL)


# IN-subquery: Catalyst decorrelates it into a left semi join (same
# physical shape as semi_join_active_customers).
_IN_SUBQ_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
FROM part
WHERE p_partkey IN (
    SELECT l_partkey FROM lineitem WHERE l_quantity >= 45
)
GROUP BY p_brand
"""

register_sql("sql_in_subquery", _IN_SUBQ_SQL)


# Unpivot (melt): wide measure columns -> long (measure, value) pairs.
# Spark plans DataFrame.unpivot as an Expand — one scan, no shuffle until
# the aggregation; the 4x row multiplication happens pipelined in the same
# stage as the scan.
_UNPIVOT_SQL = f"""
SELECT l_returnflag, measure, {R('sum(val)', 2)} AS total
FROM (SELECT l_returnflag, l_quantity, l_extendedprice, l_discount, l_tax
      FROM lineitem)
UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
GROUP BY l_returnflag, measure
"""


@register("unpivot_lineitem_measures", _UNPIVOT_SQL)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.unpivot (melt): the four lineitem measures become
    (measure, val) rows — the inverse of pivot — then a per-flag total.
    The unpivot itself is an Expand in the scan stage; only the final
    aggregation shuffles."""
    from pyspark.sql import functions as F

    from ..functions.rounding import dround

    l = read_table(spark, sf_dir, "lineitem")
    long = l.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        dround(F.sum("val"), 2).alias("total")
    )


# Parameterized SQL (Spark 4 named parameter markers): the statement text
# is constant — plan caching and injection safety come for free; only the
# bound values vary per run.
_PARAM_SQL_ORACLE = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       {R('sum(o_totalprice)', 2)} AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_totalprice > 1000.0
GROUP BY o_orderpriority
"""


_PARAM_SQL = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       {R('sum(o_totalprice)', 2)} AS revenue
FROM orders
WHERE o_orderdate >= :since AND o_totalprice > :min_total
GROUP BY o_orderpriority
"""


@register("sql_parameterized_query", _PARAM_SQL_ORACLE)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql with named parameter markers (:since, :min_total) — the
    SQL doorway's prepared-statement form. Literals bind AFTER parsing,
    so the pushed-down filters are identical to inlined constants."""
    with table_views(spark, sf_dir, _PARAM_SQL):
        return spark.sql(
            _PARAM_SQL,
            args={"since": "1996-01-01 00:00:00", "min_total": 1000.0},
        )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4): bounded-depth path enumeration over the
# event-transition graph. The edge set is derived relationally (lead
# window over each user's stream, then distinct); recursion walks it.
# ---------------------------------------------------------------------------

_RECURSIVE_PATHS = """
WITH RECURSIVE edges AS (
    SELECT DISTINCT event_type AS src, next_type AS dst
    FROM (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    )
    WHERE next_type IS NOT NULL
),
paths(path, last, depth) AS (
    SELECT CAST('signup' AS STRING), CAST('signup' AS STRING), 0
    UNION ALL
    SELECT p.path || '->' || e.dst, e.dst, p.depth + 1
    FROM paths p JOIN edges e ON p.last = e.src
    WHERE p.depth < 3
)
SELECT path, CAST(depth AS BIGINT) AS depth FROM paths
"""

# DuckDB spells the anchor's types differently; otherwise identical.
_RECURSIVE_PATHS_ORACLE = _RECURSIVE_PATHS.replace(
    "CAST('signup' AS STRING), CAST('signup' AS STRING), 0",
    "CAST('signup' AS VARCHAR), CAST('signup' AS VARCHAR), 0",
)


@register("sql_recursive_cte_paths", _RECURSIVE_PATHS_ORACLE)
def sql_recursive_cte_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): enumerate all event-type paths of length
    <= 3 starting at 'signup', over edges observed in any user stream.
    Each recursion step is a join against the (tiny, broadcastable) edge
    relation; the depth guard bounds the iteration exactly like the
    unrolled-CTE PageRank oracle, but here the ENGINE drives the loop."""
    with table_views(spark, sf_dir, _RECURSIVE_PATHS):
        return spark.sql(_RECURSIVE_PATHS)


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (Spark 4): top-3 customers by balance per
# nation, written as a per-row subquery. Catalyst rewrites the
# decorrelated form into a partitioned rank — same physical shape as the
# explicit window, so the ergonomic SQL costs nothing extra.
# ---------------------------------------------------------------------------

_LATERAL_TOPN = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
    SELECT c_name, c_acctbal
    FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 3
) t
"""

register_sql("sql_lateral_topn", _LATERAL_TOPN)


# ---------------------------------------------------------------------------
# Session variables (Spark 4): DECLARE / SET VARIABLE from a scalar query,
# then reference the variable in later SQL — parameterized pipelines
# without string templating.
# ---------------------------------------------------------------------------

_VARIABLES_ORACLE = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_above
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
GROUP BY 1
"""


@register("sql_session_variables", _VARIABLES_ORACLE)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARE/SET VARIABLE (Spark 4 session variables): the price bar is
    computed once into a typed variable and referenced like a literal in
    the follow-up query — Catalyst constant-folds it, so the filter
    arrives at the scan as a plain comparison (same plan as hand-inlining
    the number, minus the injection-prone string templating)."""
    with table_views(spark, sf_dir, _VARIABLES_ORACLE):
        spark.sql("DECLARE OR REPLACE VARIABLE price_bar DOUBLE")
        spark.sql(
            "SET VARIABLE price_bar = (SELECT avg(o_totalprice) FROM orders)"
        )
        return spark.sql(
            """
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_above
            FROM orders
            WHERE o_totalprice > price_bar
            GROUP BY 1
            """
        )


# ---------------------------------------------------------------------------
# SQL scripting (Spark 4): BEGIN ... END with local variables and a WHILE
# loop — procedural control flow driven by the engine. The oracle
# replicates the loop with a recursive CTE (identical doubling
# arithmetic, so no transcendental-function drift).
# ---------------------------------------------------------------------------

_SCRIPTING_ORACLE = """
WITH RECURSIVE d(p, i) AS (
    SELECT CAST(1.0 AS DOUBLE), 0
    UNION ALL
    SELECT p * 2, i + 1 FROM d
    WHERE p <= (SELECT avg(o_totalprice) FROM orders)
)
SELECT CAST(max(i) AS BIGINT) AS doublings,
       max(p) AS pow2_above
FROM d
"""


@register("sql_scripting_while_loop", _SCRIPTING_ORACLE)
def sql_scripting_while_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (BEGIN/END, DECLARE, WHILE): find the smallest power
    of two above the average order price by iterated doubling. The loop
    runs driver-side over scalar state; each data-touching statement is
    still a full Catalyst plan — procedural glue, declarative heavy
    lifting."""
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        with table_views(spark, sf_dir, _SCRIPTING_ORACLE):
            return spark.sql(
                """
                BEGIN
                  DECLARE bar DOUBLE;
                  DECLARE p DOUBLE DEFAULT 1.0;
                  DECLARE iters INT DEFAULT 0;
                  SET bar = (SELECT avg(o_totalprice) FROM orders);
                  WHILE p <= bar DO
                    SET p = p * 2;
                    SET iters = iters + 1;
                  END WHILE;
                  SELECT CAST(iters AS BIGINT) AS doublings, p AS pow2_above;
                END
                """
            )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)
