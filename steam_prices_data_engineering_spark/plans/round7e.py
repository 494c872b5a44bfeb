"""Round-7 part E: per-quantile sketch-accuracy audit — the q-grid
generalization of `approx_aggregates`' single p50/p95 brackets, run
against an UNBOUNDED-DISTINCT measure (order line revenue), which is
exactly the value class where the production path must live on the
sketch (the exact percentile's value map grows with distinct count —
see operators/ranking.py:exact_quantile_cont notes).

For each q in the grid the query emits the EXACT interpolated value
(reproducible in DuckDB) and a boolean asserting the GK sketch's
deterministic rank guarantee: the number of rows strictly below the
sketch's answer deviates from q*n by at most n/accuracy. The sketch
value itself never appears in the output (not reproducible by an exact
engine) — the approx_aggregates hash-verifiable discipline.

Scale shape: one pass for the sketch array, one for the exact
companion + n, one conditional-sum pass for the five rank counts; the
grid is a 5-row literal. The exact companion exists to make the gate
assertable at test scale; at 100 TB the sketch side runs alone.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py:1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import pin
from ..sources.tables import read_table
from .registry import register

_QSE_QS = (0.1, 0.25, 0.5, 0.75, 0.9)
_QSE_ACC = 10_000

# n = count(l_extendedprice), NOT count(*): exact_quantile_cont
# NULL-filters its input, so its returned n excludes NULLs — the
# oracle's companion count must mirror that (ADVICE r8; the fixture
# column is non-NULL by contract, so both agree today, but a nullable
# caller column would have silently mismatched n).
_QSE_SQL = f"""
SELECT CAST(0.1 AS DOUBLE) AS q, CAST(count(l_extendedprice) AS BIGINT) AS n,
       {R(f'quantile_cont(l_extendedprice, 0.1)', 6)} AS exact_value,
       TRUE AS rank_dev_ok
FROM lineitem
UNION ALL
SELECT CAST(0.25 AS DOUBLE) AS q, CAST(count(l_extendedprice) AS BIGINT) AS n,
       {R(f'quantile_cont(l_extendedprice, 0.25)', 6)} AS exact_value,
       TRUE AS rank_dev_ok
FROM lineitem
UNION ALL
SELECT CAST(0.5 AS DOUBLE) AS q, CAST(count(l_extendedprice) AS BIGINT) AS n,
       {R(f'quantile_cont(l_extendedprice, 0.5)', 6)} AS exact_value,
       TRUE AS rank_dev_ok
FROM lineitem
UNION ALL
SELECT CAST(0.75 AS DOUBLE) AS q, CAST(count(l_extendedprice) AS BIGINT) AS n,
       {R(f'quantile_cont(l_extendedprice, 0.75)', 6)} AS exact_value,
       TRUE AS rank_dev_ok
FROM lineitem
UNION ALL
SELECT CAST(0.9 AS DOUBLE) AS q, CAST(count(l_extendedprice) AS BIGINT) AS n,
       {R(f'quantile_cont(l_extendedprice, 0.9)', 6)} AS exact_value,
       TRUE AS rank_dev_ok
FROM lineitem
"""


@register("quantile_sketch_error_eval", _QSE_SQL)
def quantile_sketch_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile companions + GK rank-guarantee booleans for a
    5-point q grid over line revenue."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    li = pin(li)  # sketch + exact + rank counts
    # exact companions via the bracket-then-exact SELECTION, not the
    # percentile value map: l_extendedprice is ~97% distinct (583k/600k
    # at sf0.1) and the exact-percentile aggregate measured ~9 s here —
    # the precise cost class this query exists to audit.
    #
    # The gate PIGGYBACKS on the selection's own passes (r8, after the
    # r7 verdict's avoidable-5x finding): the sketch values at the q
    # grid ride the selection's single GK call (probe_extra) and the
    # below/le rank counts fuse into its below-counts pass (extra_aggs)
    # — zero extra scans, and the 1-row results are COLLECTED once (the
    # theil pattern), never re-referenced as broadcast chains.
    from ..operators.ranking import exact_quantiles_cont

    def _gate_aggs(col, pv):
        aggs = [F.count(F.lit(1)).cast("long").alias("n_all")]
        for i in range(len(_QSE_QS)):
            v = F.lit(float(pv[i]))
            aggs.append(
                F.sum(F.when(col < v, 1).otherwise(0))
                .cast("long")
                .alias(f"below_{i}")
            )
            aggs.append(
                F.sum(F.when(col <= v, 1).otherwise(0))
                .cast("long")
                .alias(f"le_{i}")
            )
        return aggs

    ex, pv, crow = exact_quantiles_cont(
        li,
        F.col("x"),
        _QSE_QS,
        probe_extra=_QSE_QS,
        extra_aggs=_gate_aggs,
    )
    if pv is None or crow is None:
        # empty input: NULL sketch -> vacuously TRUE (the
        # approx_aggregates coalesce discipline)
        oks = [True] * len(_QSE_QS)
    else:
        # GK guarantee: the returned element has SOME rank r with
        # |r - q*n| <= n/accuracy. Its rank interval is [below+1, le]
        # (duplicates widen it), so the guarantee holds iff that
        # interval intersects [q*n - eps, q*n + eps].
        n = crow["n_all"]
        eps = n / float(_QSE_ACC) + 1.0
        oks = [
            crow[f"below_{i}"] <= q * n + eps
            and crow[f"le_{i}"] >= q * n - eps
            for i, q in enumerate(_QSE_QS)
        ]
    stack_args = ", ".join(
        f"{float(q)!r}D, {'true' if ok else 'false'}"
        for q, ok in zip(_QSE_QS, oks)
    )
    rows = spark.range(1).selectExpr(
        f"stack({len(_QSE_QS)}, {stack_args}) AS (q, rank_dev_ok)"
    )
    return ex.join(rows, "q").select(
        "q",
        "n",
        dround(F.col("value"), 6).alias("exact_value"),
        "rank_dev_ok",
    )
