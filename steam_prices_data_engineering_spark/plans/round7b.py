"""Round-7 part B: training-data valuation via exact KNN-Shapley
(Jia et al. 2019, "Efficient Task-Specific Data Valuation for Nearest
Neighbor Algorithms", VLDB — the closed-form Shapley value of every
training point for a KNN classifier, computable from one sorted
neighbor ranking instead of 2^N coalitions).

For one validation point with label y and the training points sorted by
ascending distance (d_1 <= ... <= d_N, labels y_i):

    s_N = 1[y_N = y] / N
    s_i = s_{i+1} + (1[y_i = y] - 1[y_{i+1} = y]) / max(K, i)

s_i is EXACTLY train point i's Shapley value for the KNN(K) utility on
that validation point; the total value of a train point is its average
over the validation panel. This is the data-valuation readout a
training-data platform uses to price, prune, or debug individual
examples — a different question from channel attribution
(`attribution_shapley`, which values marketing touchpoints in a
journey) and from influence-free selection scores (DSIR, surprisal).

Scale shape: the validation panel is BOUNDED (16 points) and broadcast,
so the distance stage is panel x train narrow rows — never train x
train. The ranking window partitions by validation point; each
partition holds the full train ranking, which is the EXACT algorithm's
requirement — the production scale path truncates the ranking at the
top-M ANN neighbors (Jia et al.'s own truncation: values decay as 1/i
past rank K), plugging `simsearch_*` in as the candidate generator and
leaving this module's suffix-recursion unchanged. The suffix recursion
itself is a rank-ordered window cumsum (both engines sum in rank order,
so the doubles agree bit-for-bit), and the final report is a
deterministic global top-10 (TakeOrderedAndProject, never a full sort).

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py:1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import pin
from ..sources.tables import read_table
from .registry import register

_KSV_PANEL = 16  # validation points: vec_id < 16 (deterministic)
_KSV_K = 5
_KSV_TOP = 10
_KSV_M = 64  # truncation cut for the ANN-composed scale path


def _ksv_prefix_sql() -> str:
    """Shared CTE prefix: panel/train split, panel-bounded distances,
    per-val neighbor ranking (e, val, trn, dist, ranked)."""
    return f"""e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
),
val AS (SELECT vec_id AS val_id, v AS vv, label AS vy FROM e
        WHERE vec_id < {_KSV_PANEL}),
trn AS (SELECT vec_id AS trn_id, v AS tv, label AS ty FROM e
        WHERE vec_id >= {_KSV_PANEL}),
dist AS (
    SELECT val.val_id, val.vy, trn.trn_id, trn.ty,
           {R("list_aggregate(list_transform(range(1, len(trn.tv) + 1),"
              " j -> (trn.tv[j] - val.vv[j]) * (trn.tv[j] - val.vv[j])),"
              " 'sum')", 6)} AS d2
    FROM trn CROSS JOIN val
),
ranked AS MATERIALIZED (
    SELECT val_id, trn_id,
           CASE WHEN ty = vy THEN 1.0 ELSE 0.0 END AS m,
           row_number() OVER (PARTITION BY val_id
                              ORDER BY d2, trn_id) AS rnk,
           CAST(count(*) OVER (PARTITION BY val_id) AS BIGINT) AS n
    FROM dist
)"""


def _ksv_recursion_sql(src: str, n_expr: str, out: str) -> str:
    """terms + suffix-recursion CTE pair over a ranked relation `src`
    whose effective ranking length is `n_expr` (n for exact, the
    truncation cut for the top-M path)."""
    return f"""terms_{out} AS (
    SELECT val_id, trn_id, rnk, {n_expr} AS nn, m,
           lead(m) OVER (PARTITION BY val_id ORDER BY rnk) AS m_next,
           max(CASE WHEN rnk = {n_expr} THEN m END)
               OVER (PARTITION BY val_id) AS m_last
    FROM {src}
),
{out} AS (
    SELECT val_id, trn_id,
           m_last / nn
           + sum(CASE WHEN rnk < nn
                      THEN (m - m_next) / greatest({_KSV_K}, rnk)
                      ELSE 0.0 END)
             OVER (PARTITION BY val_id ORDER BY rnk DESC
                   ROWS UNBOUNDED PRECEDING) AS s
    FROM terms_{out}
)"""


_KNN_SHAPLEY_SQL = f"""
WITH {_ksv_prefix_sql()},
{_ksv_recursion_sql("ranked", "n", "svals")},
pertrain AS (
    SELECT trn_id, {R('avg(s)', 6)} AS shapley_value
    FROM svals GROUP BY trn_id
)
SELECT p.trn_id AS vec_id, t.ty AS label, p.shapley_value,
       CAST(row_number() OVER (ORDER BY p.shapley_value DESC, p.trn_id)
            AS BIGINT) AS value_rank
FROM pertrain p JOIN trn t ON t.trn_id = p.trn_id
ORDER BY p.shapley_value DESC, p.trn_id
LIMIT {_KSV_TOP}
"""


@register("knn_shapley_valuation", _KNN_SHAPLEY_SQL)
def knn_shapley_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most valuable training vectors by exact KNN-Shapley
    (K=5) against the 16-point validation panel."""
    from ..functions.vectors import to_double_array

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v"), "label"
    )
    val = e.filter(F.col("vec_id") < _KSV_PANEL).select(
        F.col("vec_id").alias("val_id"),
        F.col("v").alias("vv"),
        F.col("label").alias("vy"),
    )
    trn = e.filter(F.col("vec_id") >= _KSV_PANEL).select(
        F.col("vec_id").alias("trn_id"),
        F.col("v").alias("tv"),
        F.col("label").alias("ty"),
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("tv"), F.col("vv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, term: acc + term,
    )
    dist = trn.crossJoin(F.broadcast(val)).select(
        "val_id", "vy", "trn_id", "ty", dround(d2, 6).alias("d2")
    )
    wv = Window.partitionBy("val_id")
    wr = Window.partitionBy("val_id").orderBy("d2", "trn_id")
    ranked = dist.select(
        "val_id",
        "trn_id",
        F.when(F.col("ty") == F.col("vy"), 1.0).otherwise(0.0).alias("m"),
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(wv).cast("long").alias("n"),
    )
    wrk = Window.partitionBy("val_id").orderBy("rnk")
    terms = ranked.select(
        "val_id",
        "trn_id",
        "rnk",
        "n",
        "m",
        F.lead("m").over(wrk).alias("m_next"),
        F.max(F.when(F.col("rnk") == F.col("n"), F.col("m")))
        .over(wv)
        .alias("m_last"),
    )
    wsuf = (
        Window.partitionBy("val_id")
        .orderBy(F.desc("rnk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    svals = terms.select(
        "val_id",
        "trn_id",
        (
            F.col("m_last") / F.col("n")
            + F.sum(
                F.when(
                    F.col("rnk") < F.col("n"),
                    (F.col("m") - F.col("m_next"))
                    / F.greatest(F.lit(_KSV_K), F.col("rnk")),
                ).otherwise(0.0)
            ).over(wsuf)
        ).alias("s"),
    )
    pertrain = svals.groupBy("trn_id").agg(
        dround(F.avg("s"), 6).alias("shapley_value")
    )
    top = (
        pertrain.join(trn.select("trn_id", "ty"), "trn_id")
        .orderBy(F.desc("shapley_value"), F.asc("trn_id"))
        .limit(_KSV_TOP)
    )
    w_rank = Window.orderBy(F.desc("shapley_value"), F.asc("trn_id"))
    return top.select(
        F.col("trn_id").alias("vec_id"),
        F.col("ty").alias("label"),
        "shapley_value",
        F.row_number().over(w_rank).cast("long").alias("value_rank"),
    )


# ===========================================================================
# Truncated-KNN-Shapley error audit: the SCALE PATH made measurable.
# At 100 TB the full per-val ranking is replaced by the top-M ANN
# candidates (Jia et al.'s truncation — values decay ~1/i past K), so
# the question a platform must answer is "how much value ranking do we
# lose at cut M?". This query computes BOTH the exact values and the
# top-M-truncated values (s = 0 beyond rank M, the recursion run as if
# the ranking were M long) from ONE shared ranking, and reports the
# top-10 overlap and the value deltas — the acceptance gate for wiring
# simsearch_* in as the candidate generator.
# ===========================================================================

_KNN_TRUNC_SQL = f"""
WITH {_ksv_prefix_sql()},
{_ksv_recursion_sql("ranked", "n", "sv_exact")},
rt AS (SELECT * FROM ranked WHERE rnk <= {_KSV_M}),
{_ksv_recursion_sql("rt", f"least(n, {_KSV_M})", "sv_trunc")},
nv AS (SELECT CAST(count(*) AS DOUBLE) AS n_val FROM val),
pe AS (SELECT trn_id, avg(s) AS ve_raw FROM sv_exact GROUP BY trn_id),
pt AS (SELECT trn_id, sum(s) AS ssum FROM sv_trunc GROUP BY trn_id),
j AS MATERIALIZED (
    SELECT pe.trn_id,
           {R('pe.ve_raw', 6)} AS ve,
           {R('coalesce(pt.ssum, 0.0) / nv.n_val', 6)} AS vt
    FROM pe LEFT JOIN pt ON pt.trn_id = pe.trn_id CROSS JOIN nv
),
tope AS (SELECT trn_id FROM j ORDER BY ve DESC, trn_id LIMIT {_KSV_TOP}),
topt AS (SELECT trn_id FROM j ORDER BY vt DESC, trn_id LIMIT {_KSV_TOP})
SELECT CAST({_KSV_M} AS BIGINT) AS m_cut,
       (SELECT CAST(count(*) AS BIGINT) FROM j) AS n_train,
       (SELECT CAST(count(*) AS BIGINT)
        FROM tope t JOIN topt u ON u.trn_id = t.trn_id) AS top10_overlap,
       (SELECT {R('max(abs(ve - vt))', 6)} FROM j) AS max_abs_delta,
       (SELECT {R('avg(abs(ve - vt))', 6)} FROM j) AS mean_abs_delta
"""


def _ksv_svals(ranked: DataFrame, n_col) -> DataFrame:
    """Spark twin of _ksv_recursion_sql over a ranked frame."""
    wv = Window.partitionBy("val_id")
    wrk = Window.partitionBy("val_id").orderBy("rnk")
    wsuf = (
        Window.partitionBy("val_id")
        .orderBy(F.desc("rnk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    terms = ranked.select(
        "val_id",
        "trn_id",
        "rnk",
        n_col.alias("nn"),
        "m",
        F.lead("m").over(wrk).alias("m_next"),
        F.max(F.when(F.col("rnk") == n_col, F.col("m")))
        .over(wv)
        .alias("m_last"),
    )
    return terms.select(
        "val_id",
        "trn_id",
        (
            F.col("m_last") / F.col("nn")
            + F.sum(
                F.when(
                    F.col("rnk") < F.col("nn"),
                    (F.col("m") - F.col("m_next"))
                    / F.greatest(F.lit(_KSV_K), F.col("rnk")),
                ).otherwise(0.0)
            ).over(wsuf)
        ).alias("s"),
    )


@register("knn_shapley_truncation_error", _KNN_TRUNC_SQL)
def knn_shapley_truncation_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact vs top-M-truncated KNN-Shapley from one shared ranking:
    top-10 overlap + value deltas (the ANN-composition acceptance
    gate)."""
    from ..functions.vectors import to_double_array

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v"), "label"
    )
    val = e.filter(F.col("vec_id") < _KSV_PANEL).select(
        F.col("vec_id").alias("val_id"),
        F.col("v").alias("vv"),
        F.col("label").alias("vy"),
    )
    trn = e.filter(F.col("vec_id") >= _KSV_PANEL).select(
        F.col("vec_id").alias("trn_id"),
        F.col("v").alias("tv"),
        F.col("label").alias("ty"),
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("tv"), F.col("vv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, term: acc + term,
    )
    dist = trn.crossJoin(F.broadcast(val)).select(
        "val_id", "vy", "trn_id", "ty", dround(d2, 6).alias("d2")
    )
    wv = Window.partitionBy("val_id")
    wr = Window.partitionBy("val_id").orderBy("d2", "trn_id")
    ranked = dist.select(
        "val_id",
        "trn_id",
        F.when(F.col("ty") == F.col("vy"), 1.0).otherwise(0.0).alias("m"),
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(wv).cast("long").alias("n"),
    )
    ranked = pin(ranked)  # exact + truncated paths
    sv_exact = _ksv_svals(ranked, F.col("n"))
    sv_trunc = _ksv_svals(
        ranked.filter(F.col("rnk") <= _KSV_M),
        F.least(F.col("n"), F.lit(_KSV_M)),
    )
    nv = val.agg(F.count(F.lit(1)).cast("double").alias("n_val"))
    pe = sv_exact.groupBy("trn_id").agg(F.avg("s").alias("ve_raw"))
    pt = sv_trunc.groupBy("trn_id").agg(F.sum("s").alias("ssum"))
    j = (
        pe.join(pt, "trn_id", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "trn_id",
            dround(F.col("ve_raw"), 6).alias("ve"),
            dround(
                F.coalesce(F.col("ssum"), F.lit(0.0)) / F.col("n_val"), 6
            ).alias("vt"),
        )
    )
    tope = j.orderBy(F.desc("ve"), F.asc("trn_id")).limit(_KSV_TOP)
    topt = j.orderBy(F.desc("vt"), F.asc("trn_id")).limit(_KSV_TOP)
    overlap = (
        tope.select("trn_id")
        .join(topt.select("trn_id"), "trn_id")
        .agg(F.count(F.lit(1)).cast("long").alias("top10_overlap"))
    )
    stats = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        dround(F.max(F.abs(F.col("ve") - F.col("vt"))), 6).alias(
            "max_abs_delta"
        ),
        dround(F.avg(F.abs(F.col("ve") - F.col("vt"))), 6).alias(
            "mean_abs_delta"
        ),
    )
    return stats.crossJoin(F.broadcast(overlap)).select(
        F.lit(_KSV_M).cast("long").alias("m_cut"),
        "n_train",
        "top10_overlap",
        "max_abs_delta",
        "mean_abs_delta",
    )
