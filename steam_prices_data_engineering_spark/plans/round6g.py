"""Round-6 extension operators, part G: planner/storage diagnostics —
a join-cardinality estimation audit (the Selinger 1979 uniform-key
estimate vs exact, per histogram bucket) and a zone-map pruning
effectiveness audit (min/max pruning a la Moerkotte 1998 small
materialized aggregates / Snowflake pruning).

Same discipline as the earlier round-6 parts: per-key and per-bucket
aggregates are map-side combined; the exact join size is computed on
the COLLAPSED key grain (never by materializing the row-level join);
bucket grains are bounded (64 / 32 rows).

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the self-diagnosis jobs an engine team runs to decide where
optimizer statistics and layout need work at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..sources.tables import read_table
from .registry import register, register_sql

# ===========================================================================
# Join-cardinality estimation audit: per hash bucket of the join key,
# the textbook estimate |R join S| ~= cR * cS / max(V(R), V(S))
# (Selinger et al. 1979; V = per-bucket distinct keys) against the
# EXACT per-bucket join size Sum_k cR_k * cS_k. The over/under-estimate
# ratio per bucket is what an optimizer-statistics team reads before
# trusting a plan's row estimates.
#
# Scale shape: both inputs collapse to the KEY grain first (map-side
# combined counts); the exact product joins key-grain frames (the same
# shuffle key the real join would use, at collapsed volume); estimate
# and exact then aggregate to the bounded 64-bucket grain.
# ===========================================================================

_JCA_B = 64

_JCA_SQL = f"""
WITH ok AS (
    SELECT o_orderkey AS k, CAST(count(*) AS DOUBLE) AS co
    FROM orders GROUP BY o_orderkey
),
lk AS (
    SELECT l_orderkey AS k, CAST(count(*) AS DOUBLE) AS cl
    FROM lineitem GROUP BY l_orderkey
),
ob AS (
    SELECT k % {_JCA_B} AS bucket, sum(co) AS n_o,
           CAST(count(*) AS DOUBLE) AS d_o
    FROM ok GROUP BY 1
),
lb AS (
    SELECT k % {_JCA_B} AS bucket, sum(cl) AS n_l,
           CAST(count(*) AS DOUBLE) AS d_l
    FROM lk GROUP BY 1
),
ex AS (
    SELECT o.k % {_JCA_B} AS bucket, sum(o.co * l.cl) AS exact_join
    FROM ok o JOIN lk l ON l.k = o.k GROUP BY 1
)
SELECT CAST(ob.bucket AS BIGINT) AS bucket,
       CAST(ob.n_o AS BIGINT) AS n_orders,
       CAST(lb.n_l AS BIGINT) AS n_lineitem,
       CAST(ob.d_o AS BIGINT) AS d_orders,
       CAST(lb.d_l AS BIGINT) AS d_lineitem,
       {R('ob.n_o * lb.n_l / greatest(ob.d_o, lb.d_l)', 2)} AS est_join,
       CAST(coalesce(ex.exact_join, 0.0) AS BIGINT) AS exact_join,
       {R('''ob.n_o * lb.n_l / greatest(ob.d_o, lb.d_l)
             / nullif(ex.exact_join, 0.0)''', 6)} AS est_over_exact
FROM ob JOIN lb ON lb.bucket = ob.bucket
LEFT JOIN ex ON ex.bucket = ob.bucket
"""

register_sql("join_cardinality_audit", _JCA_SQL)


# ===========================================================================
# Zone-map pruning effectiveness: bucket the event log into 32
# event_id-range "files", compute each bucket's (min, max) timestamp
# zone map, and evaluate a recency probe (ts in the last 7 days of the
# log): a bucket is PRUNABLE when its max falls before the cutoff. The
# per-bucket report shows how well insert order correlates with event
# time — the decision input for a time-based re-layout (zorder/
# partition-by-day) at 100 TB.
#
# Scale shape: one scan -> bucketed min/max/count/match aggregate
# (map-side combined); everything downstream is the bounded 32-bucket
# grain. In a real lakehouse the zone maps come free from parquet
# footers — this query is the PLANNER arithmetic over them.
# ===========================================================================

_ZM_B = 32
_ZM_WINDOW_DAYS = 7


def _zm_sql() -> str:
    return f"""
WITH ev AS (
    SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
bounds AS (
    SELECT min(event_id) AS mn, max(event_id) AS mx,
           max(sec) AS mxs
    FROM ev
),
bucketed AS (
    SELECT least({_ZM_B - 1},
                 CAST(floor((e.event_id - b.mn) * {_ZM_B}.0
                            / (b.mx - b.mn + 1)) AS BIGINT)) AS bucket,
           e.sec,
           b.mxs - {_ZM_WINDOW_DAYS} * 86400 AS cutoff
    FROM ev e CROSS JOIN bounds b
),
zm AS (
    SELECT bucket, min(sec) AS zmin, max(sec) AS zmax,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN sec >= cutoff THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match,
           max(cutoff) AS cutoff
    FROM bucketed GROUP BY bucket
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       zmin AS zone_min_epoch, zmax AS zone_max_epoch,
       n_rows, n_match,
       CAST(zmax < cutoff AS BOOLEAN) AS prunable,
       {R('''CAST(n_match AS DOUBLE)
             / nullif(CASE WHEN zmax < cutoff THEN 0 ELSE n_rows END,
                      0)''', 6)} AS scan_efficiency
FROM zm
"""


@register("zonemap_pruning_audit", _zm_sql())
def zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket zone maps + prunability under a 7-day recency probe."""
    e = read_table(spark, sf_dir, "events")
    ev = e.select(
        "event_id",
        F.floor(F.col("ts").cast("long")).cast("long").alias("sec"),
    )
    bounds = ev.agg(
        F.min("event_id").alias("mn"),
        F.max("event_id").alias("mx"),
        F.max("sec").alias("mxs"),
    )
    bucketed = ev.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(_ZM_B - 1),
            F.floor(
                (F.col("event_id") - F.col("mn"))
                * float(_ZM_B)
                / (F.col("mx") - F.col("mn") + 1)
            ),
        )
        .cast("long")
        .alias("bucket"),
        "sec",
        (F.col("mxs") - _ZM_WINDOW_DAYS * 86400).alias("cutoff"),
    )
    zm = bucketed.groupBy("bucket").agg(
        F.min("sec").alias("zmin"),
        F.max("sec").alias("zmax"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("sec") >= F.col("cutoff"), 1).otherwise(0))
        .cast("long")
        .alias("n_match"),
        F.max("cutoff").alias("cutoff"),
    )
    return zm.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("zmin").alias("zone_min_epoch"),
        F.col("zmax").alias("zone_max_epoch"),
        "n_rows",
        "n_match",
        (F.col("zmax") < F.col("cutoff")).alias("prunable"),
        dround(
            F.col("n_match").cast("double")
            / F.nullif(
                F.when(
                    F.col("zmax") < F.col("cutoff"), F.lit(0)
                ).otherwise(F.col("n_rows")),
                F.lit(0),
            ),
            6,
        ).alias("scan_efficiency"),
    )
