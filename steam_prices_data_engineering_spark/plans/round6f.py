"""Round-6 extension operators, part F: Chinchilla compute-optimal
allocation (Hoffmann et al. 2022), Heaps'-law vocabulary-growth fit
(Heaps 1978), and a k-anonymity generalization-ladder sweep (Sweeney
2002; Samarati 2001).

Same discipline as the earlier round-6 parts: one fact scan per input,
constant grids broadcast, bounded-grain arithmetic downstream, OLS and
power-law evaluation through explicit monoid sums and the shared
exp/ln forms so the two engines cannot drift, rollup levels labeled by
non-null grouping keys (the quantile_sketch_rollup precedent).

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the compute-planning, corpus-growth and privacy-governance
jobs a 100 TB training-data platform runs on the same engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import token_count, tokens
from ..sources.tables import read_table, values_frame
from .registry import register, register_sql

# ===========================================================================
# Chinchilla compute-optimal allocation (Hoffmann et al. 2022): under
# the compute-optimal rule D ~= 20 N and C = 6 N D, a FLOPs budget C
# wants N_opt = sqrt(C / 120) parameters and D_opt = 20 N_opt training
# tokens. Against the corpus's UNIQUE token supply (exact-dedup grain,
# the dedup_exact_by_hash discipline) the report answers: is this
# corpus big enough for that budget, and how many epochs of repetition
# would it take (the data_constrained_scaling companion).
#
# Scale shape: U is one distinct-hash scan collapsed to a broadcast
# 1-row frame; the FLOPs grid is five constant rows. sqrt is evaluated
# from the same double literals in both engines; outputs round at
# fixed precision.
# ===========================================================================

_CHIN_FLOPS = ("1e18", "1e19", "1e20", "1e21", "1e22")
_CHIN_RATIO = 20.0  # tokens per parameter


def _chin_sql() -> str:
    grid = ", ".join(f"(CAST({c} AS DOUBLE))" for c in _CHIN_FLOPS)
    return f"""
WITH uniq AS (
    SELECT md5(text) AS h, min(len(string_split(text, ' '))) AS toks
    FROM documents GROUP BY md5(text)
),
u AS (SELECT CAST(sum(toks) AS DOUBLE) AS ut FROM uniq),
grid AS (SELECT * FROM (VALUES {grid}) g(flops)),
alloc AS (
    SELECT g.flops, u.ut,
           sqrt(g.flops / (6.0 * {_CHIN_RATIO})) AS n_opt
    FROM grid g CROSS JOIN u
)
SELECT flops,
       {R('n_opt', 2)} AS n_opt_params,
       {R(f'{_CHIN_RATIO} * n_opt', 2)} AS d_opt_tokens,
       CAST(ut AS BIGINT) AS unique_tokens,
       {R(f'ut / ({_CHIN_RATIO} * n_opt)', 6)} AS data_ratio,
       {R(f'({_CHIN_RATIO} * n_opt) / ut', 4)} AS epochs_needed,
       CAST(ut >= {_CHIN_RATIO} * n_opt AS BOOLEAN) AS data_sufficient
FROM alloc
"""


@register("chinchilla_optimal_allocation", _chin_sql())
def chinchilla_optimal_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compute-optimal N/D per FLOPs budget vs the unique-token supply."""
    d = read_table(spark, sf_dir, "documents")
    uniq = d.groupBy(F.md5("text").alias("h")).agg(
        F.min(token_count(F.col("text"))).alias("toks")
    )
    u = uniq.agg(F.sum("toks").cast("double").alias("ut"))
    grid = values_frame(spark, [(float(c),) for c in _CHIN_FLOPS], ["flops"])
    n_opt = F.sqrt(F.col("flops") / (6.0 * _CHIN_RATIO))
    d_opt = F.lit(_CHIN_RATIO) * n_opt
    return grid.crossJoin(F.broadcast(u)).select(
        "flops",
        dround(n_opt, 2).alias("n_opt_params"),
        dround(d_opt, 2).alias("d_opt_tokens"),
        F.col("ut").cast("long").alias("unique_tokens"),
        dround(F.col("ut") / d_opt, 6).alias("data_ratio"),
        dround(d_opt / F.col("ut"), 4).alias("epochs_needed"),
        (F.col("ut") >= d_opt).alias("data_sufficient"),
    )


# ===========================================================================
# Heaps'-law fit V(N) = K * N^beta: cumulative vocabulary vs cumulative
# token volume across the ten ingest deciles (the ngram_novelty_curve
# decile rule at the TOKEN grain), with log-log OLS for (K, beta) from
# explicit monoid sums. English corpora fit beta ~ 0.4-0.6; the fitted
# exponent extrapolates how much NEW vocabulary the next 10x of a
# source will bring.
#
# Scale shape: one token explode -> per-decile occurrence counts plus a
# token-grain min-decile aggregate (both map-side combined); cumulative
# sums, the 10-point OLS and the fitted curve all live on the bounded
# decile grain (cumsum via bounded self-join — no global window).
# Fitted values evaluate exp(logK + beta * ln N) — the SAME form in
# both engines.
# ===========================================================================

_HEAPS_SQL = f"""
WITH bounds AS (
    SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents
),
occ AS MATERIALIZED (
    SELECT least(9, CAST(floor((d.doc_id - b.mn) * 10.0
                               / (b.mx - b.mn + 1)) AS BIGINT)) AS dec,
           unnest(string_split(d.text, ' ')) AS tok
    FROM documents d CROSS JOIN bounds b
),
per_toks AS (
    SELECT dec, CAST(count(*) AS BIGINT) AS toks FROM occ GROUP BY dec
),
first_dec AS (
    SELECT tok, min(dec) AS fd FROM occ GROUP BY tok
),
per_new AS (
    SELECT fd AS dec, CAST(count(*) AS BIGINT) AS newt
    FROM first_dec GROUP BY fd
),
per AS (
    SELECT t.dec, t.toks, coalesce(n.newt, 0) AS newt
    FROM per_toks t LEFT JOIN per_new n ON n.dec = t.dec
),
cum AS MATERIALIZED (
    SELECT a.dec,
           CAST(sum(b.toks) AS DOUBLE) AS n_cum,
           CAST(sum(b.newt) AS DOUBLE) AS v_cum
    FROM per a JOIN per b ON b.dec <= a.dec GROUP BY a.dec
),
ols AS (
    SELECT count(*) AS g,
           sum(ln(n_cum)) AS sx, sum(ln(v_cum)) AS sy,
           sum(ln(n_cum) * ln(n_cum)) AS sxx,
           sum(ln(n_cum) * ln(v_cum)) AS sxy
    FROM cum
),
fit AS (
    SELECT (g * sxy - sx * sy) / nullif(g * sxx - sx * sx, 0.0) AS beta,
           (sy - (g * sxy - sx * sy)
                 / nullif(g * sxx - sx * sx, 0.0) * sx) / g AS lk
    FROM ols
)
SELECT c.dec AS decile,
       CAST(c.n_cum AS BIGINT) AS n_tokens_cum,
       CAST(c.v_cum AS BIGINT) AS vocab_cum,
       {R('f.beta', 6)} AS heaps_beta,
       {R('exp(f.lk)', 4)} AS heaps_k,
       {R('exp(f.lk + f.beta * ln(c.n_cum))', 2)} AS fitted_vocab,
       {R('''(c.v_cum - exp(f.lk + f.beta * ln(c.n_cum)))
             / c.v_cum''', 6)} AS rel_residual
FROM cum c CROSS JOIN fit f
"""


@register("heaps_law_fit", _HEAPS_SQL)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS Heaps exponent over cumulative decile vocab growth."""
    d = read_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    occ = d.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("doc_id") - F.col("mn"))
                * 10.0
                / (F.col("mx") - F.col("mn") + 1)
            ),
        )
        .cast("long")
        .alias("dec"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    per_toks = occ.groupBy("dec").agg(
        F.count(F.lit(1)).cast("long").alias("toks")
    )
    per_new = (
        occ.groupBy("tok")
        .agg(F.min("dec").alias("dec"))
        .groupBy("dec")
        .agg(F.count(F.lit(1)).cast("long").alias("newt"))
    )
    per = per_toks.join(per_new, "dec", "left").select(
        "dec", "toks", F.coalesce(F.col("newt"), F.lit(0)).alias("newt")
    )
    a = per.select(F.col("dec").alias("adec"))
    cum = (
        a.join(per, F.col("dec") <= F.col("adec"))
        .groupBy("adec")
        .agg(
            F.sum("toks").cast("double").alias("n_cum"),
            F.sum("newt").cast("double").alias("v_cum"),
        )
        .select(F.col("adec").alias("dec"), "n_cum", "v_cum")
    )
    lx = F.log("n_cum")
    ly = F.log("v_cum")
    ols = cum.agg(
        F.count(F.lit(1)).cast("double").alias("g"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    beta = (F.col("g") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("g") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    fit = ols.select(
        beta.alias("beta"),
        ((F.col("sy") - beta * F.col("sx")) / F.col("g")).alias("lk"),
    )
    fitted = F.exp(F.col("lk") + F.col("beta") * F.log("n_cum"))
    return cum.crossJoin(F.broadcast(fit)).select(
        F.col("dec").alias("decile"),
        F.col("n_cum").cast("long").alias("n_tokens_cum"),
        F.col("v_cum").cast("long").alias("vocab_cum"),
        dround(F.col("beta"), 6).alias("heaps_beta"),
        dround(F.exp(F.col("lk")), 4).alias("heaps_k"),
        dround(fitted, 2).alias("fitted_vocab"),
        dround((F.col("v_cum") - fitted) / F.col("v_cum"), 6).alias(
            "rel_residual"
        ),
    )


# ===========================================================================
# k-anonymity generalization-ladder sweep (Sweeney 2002): the release
# planner's question — at which generalization level does every
# quasi-identifier group clear k = 10? One ROLLUP pass over the
# customer QIs (nation, segment, balance band) yields all four ladder
# levels; levels are labeled by which keys survived (non-null grouping
# keys — the quantile_sketch_rollup precedent; every QI column is
# non-null in the data so there is no NULL ambiguity). Complements
# l_diversity_report, which audits the SENSITIVE attribute's diversity
# at one fixed grain.
#
# Scale shape: one scan, one rollup aggregate (map-side combined), a
# bounded per-level re-aggregate.
# ===========================================================================

_KANON_K = 10

_KANON_SQL = f"""
WITH cell AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 500.0) AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n
    FROM customer
    GROUP BY ROLLUP (c_nationkey, c_mktsegment,
                     CAST(floor(c_acctbal / 500.0) AS BIGINT))
),
labeled AS (
    SELECT CASE WHEN band IS NOT NULL THEN 'nation+segment+band'
                WHEN c_mktsegment IS NOT NULL THEN 'nation+segment'
                WHEN c_nationkey IS NOT NULL THEN 'nation'
                ELSE 'all' END AS level,
           n
    -- n > 0 exists only to pin the empty-input degenerate case: DuckDB
    -- emits a zero-count grand-total row for ROLLUP over no input
    -- while Spark emits none
    FROM cell WHERE n > 0
)
SELECT level,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(n) AS BIGINT) AS k_min,
       {R(f'''sum(CASE WHEN n < {_KANON_K} THEN CAST(n AS DOUBLE)
                       ELSE 0.0 END) / sum(n)''', 6)}
           AS pct_rows_below_k,
       CAST(min(n) >= {_KANON_K} AS BOOLEAN) AS k_anonymous
FROM labeled GROUP BY level
"""

register_sql("kanon_generalization_sweep", _KANON_SQL)
