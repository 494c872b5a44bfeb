"""Round-7 part C: group-fairness gate audit (demographic parity +
equalized odds, Hardt et al. 2016) and k-center coreset selection by
farthest-first traversal (Gonzalez 1985; Sener & Savarese 2018's
active-learning coreset rule).

Same discipline as parts A/B: one scored scan feeds bounded group
aggregates; the traversal's only driver state is the K collected center
vectors (the kmeans-seed literal-centers pattern — never a fact-scale
collect); every pairwise distance is dround(6) BEFORE comparisons so
argmax ties cannot flip between engines.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py:1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import SQL_QUALITY_EXPR, sql_quality_feat_ctes
from ..functions.text import distinct_token_ratio, quality_score
from ..session import pin
from ..sources.tables import read_table
from .registry import register

# ===========================================================================
# Group-fairness audit of the quality gate: the accept rule is
# "composite quality >= pooled median" (the production-style classifier),
# the outcome proxy is the diversity rule, groups are sources. Per
# group: acceptance rate (demographic parity), TPR and FPR (equalized
# odds), and each metric's gap to the pooled value — the fairness
# columns a data-governance review reads before shipping a gate that
# silently filters some sources harder than others.
#
# Scale shape: one scored scan; the median and the pooled
# rates are 1-row broadcast aggregates; the group rollup is one
# map-side-combined conditional aggregate on the bounded source grain.
# ===========================================================================

_FAIRNESS_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS MATERIALIZED (
    SELECT d.source,
           {R(f"({SQL_QUALITY_EXPR})", 6)} AS q,
           CASE WHEN f.diversity >= 0.5 THEN 1 ELSE 0 END AS y
    FROM feat f JOIN documents d ON d.doc_id = f.doc_id
),
med AS (SELECT {R('quantile_cont(q, 0.5)', 6)} AS m FROM scored),
cls AS MATERIALIZED (
    SELECT source, y, CASE WHEN q >= t.m THEN 1 ELSE 0 END AS a
    FROM scored CROSS JOIN med t
),
pooled AS (
    SELECT sum(CAST(a AS DOUBLE)) / count(*) AS p_acc,
           sum(CASE WHEN y = 1 AND a = 1 THEN 1.0 ELSE 0.0 END)
               / nullif(sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END), 0)
               AS p_tpr,
           sum(CASE WHEN y = 0 AND a = 1 THEN 1.0 ELSE 0.0 END)
               / nullif(sum(CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END), 0)
               AS p_fpr
    FROM cls
),
grp AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           sum(CAST(a AS DOUBLE)) / count(*) AS acc,
           sum(CASE WHEN y = 1 AND a = 1 THEN 1.0 ELSE 0.0 END)
               / nullif(sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END), 0)
               AS tpr,
           sum(CASE WHEN y = 0 AND a = 1 THEN 1.0 ELSE 0.0 END)
               / nullif(sum(CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END), 0)
               AS fpr
    FROM cls GROUP BY source
)
SELECT g.source, g.n_docs,
       {R('g.acc', 6)} AS accept_rate,
       {R('g.acc - p.p_acc', 6)} AS parity_gap,
       {R('g.tpr', 6)} AS tpr,
       {R('g.tpr - p.p_tpr', 6)} AS tpr_gap,
       {R('g.fpr', 6)} AS fpr,
       {R('g.fpr - p.p_fpr', 6)} AS fpr_gap
FROM grp g CROSS JOIN pooled p
"""


@register("fairness_gate_audit", _FAIRNESS_SQL)
def fairness_gate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source demographic-parity and equalized-odds gaps of the
    median-quality accept gate against the diversity outcome proxy."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        dround(quality_score(F.col("text")), 6).alias("q"),
        F.when(distinct_token_ratio(F.col("text")) >= 0.5, 1)
        .otherwise(0)
        .alias("y"),
    )
    med = scored.agg(dround(F.percentile("q", 0.5), 6).alias("m"))
    cls = scored.crossJoin(F.broadcast(med)).select(
        "source",
        "y",
        F.when(F.col("q") >= F.col("m"), 1).otherwise(0).alias("a"),
    )

    def rates(frame):
        return [
            (F.sum(F.col("a").cast("double")) / F.count(F.lit(1))).alias(
                "acc"
            ),
            (
                F.sum(
                    F.when((F.col("y") == 1) & (F.col("a") == 1), 1.0)
                    .otherwise(0.0)
                )
                / F.nullif(
                    F.sum(F.when(F.col("y") == 1, 1.0).otherwise(0.0)),
                    F.lit(0.0),
                )
            ).alias("tpr"),
            (
                F.sum(
                    F.when((F.col("y") == 0) & (F.col("a") == 1), 1.0)
                    .otherwise(0.0)
                )
                / F.nullif(
                    F.sum(F.when(F.col("y") == 0, 1.0).otherwise(0.0)),
                    F.lit(0.0),
                )
            ).alias("fpr"),
        ]

    pooled = cls.agg(*rates(cls)).select(
        F.col("acc").alias("p_acc"),
        F.col("tpr").alias("p_tpr"),
        F.col("fpr").alias("p_fpr"),
    )
    grp = cls.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), *rates(cls)
    )
    return grp.crossJoin(F.broadcast(pooled)).select(
        "source",
        "n_docs",
        dround(F.col("acc"), 6).alias("accept_rate"),
        dround(F.col("acc") - F.col("p_acc"), 6).alias("parity_gap"),
        dround(F.col("tpr"), 6).alias("tpr"),
        dround(F.col("tpr") - F.col("p_tpr"), 6).alias("tpr_gap"),
        dround(F.col("fpr"), 6).alias("fpr"),
        dround(F.col("fpr") - F.col("p_fpr"), 6).alias("fpr_gap"),
    )


# ===========================================================================
# k-center coreset by farthest-first traversal (Gonzalez 1985): seed
# with the lowest vec_id, then repeatedly add the point FARTHEST from
# the selected set (its min-distance over centers, the 2-approximation
# of the k-center objective) — the geometric-coverage selection rule
# active-learning coresets use (Sener & Savarese 2018). Output: the
# K = 8 centers in selection order with each one's distance to the set
# at the moment of selection (a non-increasing sequence whose last
# value bounds the coverage radius).
#
# Scale shape: the kmeans literal-centers discipline — a RUNNING
# min-distance column `md` carried as one persisted generation per step
# (the iterative.py:cc_labels unpersist-after-child discipline), so step
# t folds in ONLY the new center's distance: K-1 interpreted
# zip_with/aggregate folds total instead of the K(K-1)/2 a recompute-all
# traversal pays (the r7 verdict's avoidable-O(K^2) finding). The argmax
# is a deterministic TakeOrdered-1 (never a global sort); only K center
# vectors ever reach the driver. The oracle unrolls the same K running
# least() steps as materialized CTEs. At a real 100 TB corpus K should
# follow a coverage-budget rule (e.g. K ~ sqrt(N), the semantic_dedup.py
# law) rather than a literal 8; the traversal cost is K passes either
# way.
# ===========================================================================

_KC_K = 8


def _kc_d2(cent: list[float]):
    """dround(6) squared distance from column `v` to a literal center —
    ONE interpreted fold per call. The fold is a single F.expr string
    (one py4j round-trip): 64 F.lit calls + Column lambdas per step cost
    more driver time than the 6k-row fold itself (measured ~1.3 s of the
    3.0 s traversal). Every literal carries the D suffix — bare decimal
    literals parse as DECIMAL and silently promote the whole column (the
    CLAUDE.md decimal-literal gotcha; probed: an all-SQL dround here
    returned DECIMAL(_,9), diverging from double math past 2^53/1e6) —
    and the dround stays the proven Column form on top."""
    lits = ",".join(f"{x!r}D" for x in cent)
    return dround(
        F.expr(
            f"aggregate(zip_with(v, array({lits}), "
            "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
        ),
        6,
    )


def _kc_sql() -> str:
    dist = (
        "list_aggregate(list_transform(range(1, len({a}) + 1), "
        "j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])), 'sum')"
    )
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label "
        "FROM embeddings)",
        "s0 AS (SELECT vec_id, v FROM e "
        "WHERE vec_id = (SELECT min(vec_id) FROM e))",
        "m0 AS MATERIALIZED (SELECT e.vec_id, e.v, "
        f"{R(dist.format(a='e.v', b='s0.v'), 6)} AS md "
        "FROM e CROSS JOIN s0)",
    ]
    for t in range(1, _KC_K):
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT vec_id, v, md FROM m{t - 1} "
            f"ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if t < _KC_K - 1:
            parts.append(
                f"m{t} AS MATERIALIZED (SELECT m.vec_id, m.v, "
                f"least(m.md, {R(dist.format(a='m.v', b=f's{t}.v'), 6)}) "
                f"AS md FROM m{t - 1} m CROSS JOIN s{t})"
            )
    selects = [
        "SELECT 0 AS center_idx, vec_id, CAST(NULL AS DOUBLE) AS sel_dist "
        "FROM s0"
    ]
    for t in range(1, _KC_K):
        selects.append(
            f"SELECT {t} AS center_idx, vec_id, md AS sel_dist FROM s{t}"
        )
    union = " UNION ALL ".join(selects)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
centers AS ({union})
SELECT CAST(c.center_idx AS BIGINT) AS center_idx, c.vec_id,
       e.label, c.sel_dist
FROM centers c JOIN e ON e.vec_id = c.vec_id
"""
    )


@register("coreset_kcenter_selection", _kc_sql())
def coreset_kcenter_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first k-center coreset (K=8) over the embeddings, with
    each center's selection distance."""
    from ..functions.vectors import to_double_array

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v"), "label"
    )
    e = pin(e)  # K argmax passes + label join
    first = e.orderBy("vec_id").limit(1).collect()
    if not first:
        return spark.createDataFrame(
            [], "center_idx long, vec_id long, label int, sel_dist double"
        )
    picked = [(0, int(first[0]["vec_id"]), None)]

    # running min-distance generation: md = min dround-distance to the
    # selected set; each step folds in ONLY the new center (one
    # interpreted fold), then the superseded parent unpersists AFTER the
    # next argmax collect has materialized the child.
    cur = e.select(
        "vec_id", "v", _kc_d2([float(x) for x in first[0]["v"]]).alias("md")
    ).cache()
    prev = None
    for t in range(1, _KC_K):
        far = (
            cur.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).collect()
        )
        if prev is not None:  # child materialized by the collect above
            prev.unpersist()
        prev = cur
        if not far:
            break
        picked.append((t, int(far[0]["vec_id"]), float(far[0]["md"])))
        if t < _KC_K - 1:
            cur = cur.select(
                "vec_id",
                "v",
                F.least(
                    F.col("md"), _kc_d2([float(x) for x in far[0]["v"]])
                ).alias("md"),
            ).cache()
    cur.unpersist()  # the last generation; the result reads `e`, not it

    sel = spark.createDataFrame(
        picked, "center_idx long, vec_id long, sel_dist double"
    )
    return sel.join(e.select("vec_id", "label"), "vec_id").select(
        "center_idx", "vec_id", "label", "sel_dist"
    )
