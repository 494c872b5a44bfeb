"""Round-5 extension operators: sequential experimentation (SPRT,
BH-FDR), distribution drift (1-D Wasserstein), clustering/ranking
evaluation (NMI/purity, RBO), off-policy evaluation (IPS/SNIPS),
association rules, LM-surprisal data pruning, template detection,
embedding outlier auditing, WoE/IV feature binning, temperature-scaled
language sampling, the cross-source near-dup overlap matrix, Markov
removal-effect attribution, vocab-coverage sweeps, mergeable
quantile-sketch rollups, and observational causal inference (CEM
matching, sharp RDD).

Each operator is the Spark-first relational reduction of a standard
large-scale data-pipeline job, with the same scale discipline as the
rest of the repo: fact-scale work is map-side-combined aggregation,
small derived frames ride broadcast joins (hint-free when their grain
can grow with the data), windows are partitioned or run on documented
bounded grains, and every compared output goes through
`functions/rounding.py:dround` with identical aliases in both engines.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py); these
are the analytics a 100 TB training-data platform layers on the same
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import tokens
from ..operators.similarity import group_pairs
from ..session import pin
from ..sources.tables import read_table
from .registry import register, register_sql

# ===========================================================================
# Sequential A/B monitoring (SPRT, Wald 1945): group-sequential log-
# likelihood-ratio test on hourly conversion batches. Classic SPRT is
# per-observation; at pipeline scale monitoring runs on micro-batch
# rollups, so the LLR is computed on CUMULATIVE hourly (trials,
# successes) per variant and the decision is the first hour a boundary
# is crossed. The cumulative window is PARTITIONED by variant and runs
# on the hour grain — calendar-bounded rows, independent of event
# volume.
#
# The LLR arithmetic and both boundaries are ONE SQL fragment string
# evaluated by Spark (F.expr) and DuckDB verbatim — the
# plans/linalg.py:_det3 discipline, so the two engines cannot drift on
# ln() expression shape.
# ===========================================================================

# Explicit DOUBLE casts: bare decimal literals parse as DECIMAL in both
# engines but with DIFFERENT division precision, which shifts ln() by
# ~1e-6 and the cumulative LLR by ~1e-5 x count (probed: llr_final
# mismatched at 2.5e-5 with bare literals).
_SPRT_P0 = "CAST(0.18 AS DOUBLE)"
_SPRT_P1 = "CAST(0.22 AS DOUBLE)"
_SPRT_ALPHA = "CAST(0.05 AS DOUBLE)"  # also beta: symmetric error budget
# llr(cn trials, cx successes) under H1:p1 vs H0:p0
_SPRT_LLR = (
    f"(cx * ln({_SPRT_P1}/{_SPRT_P0})"
    f" + (cn - cx) * ln((1.0-{_SPRT_P1})/(1.0-{_SPRT_P0})))"
)
_SPRT_UP = f"ln((1.0-{_SPRT_ALPHA})/{_SPRT_ALPHA})"   # accept H1
_SPRT_DN = f"ln({_SPRT_ALPHA}/(1.0-{_SPRT_ALPHA}))"  # accept H0

_SPRT_SQL = f"""
WITH hourly AS (
    SELECT user_id % 2 AS variant,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT variant, hr,
           sum(n) OVER (PARTITION BY variant ORDER BY hr
                        ROWS UNBOUNDED PRECEDING) AS cn,
           sum(x) OVER (PARTITION BY variant ORDER BY hr
                        ROWS UNBOUNDED PRECEDING) AS cx
    FROM hourly
),
llr AS (SELECT variant, hr, {_SPRT_LLR} AS llr FROM cum),
per AS (
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_hours,
           min(CASE WHEN llr >= {_SPRT_UP} THEN hr END) AS up_hr,
           min(CASE WHEN llr <= {_SPRT_DN} THEN hr END) AS dn_hr,
           max_by(llr, hr) AS llr_last
    FROM llr GROUP BY variant
)
SELECT CAST(variant AS BIGINT) AS variant, n_hours,
       CASE WHEN up_hr IS NOT NULL AND (dn_hr IS NULL OR up_hr <= dn_hr)
                 THEN 'reject_h0'
            WHEN dn_hr IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       CAST(coalesce(
           CASE WHEN up_hr IS NOT NULL AND (dn_hr IS NULL OR up_hr <= dn_hr)
                     THEN up_hr
                WHEN dn_hr IS NOT NULL THEN dn_hr END, -1) AS BIGINT)
           AS crossing_hour,
       {R('llr_last', 6)} AS llr_final
FROM per
"""


@register("sprt_sequential_monitor", _SPRT_SQL)
def sprt_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First boundary crossing of the hourly-batched SPRT per variant.

    Scale shape: one map-side-combined (variant, hour) rollup over the
    fact stream, then a variant-partitioned cumulative window over the
    calendar-bounded hour grain and a 2-row final aggregate. The LLR and
    boundary expressions are shared SQL fragments (F.expr here, inline
    in the oracle)."""
    e = read_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            (F.col("user_id") % 2).alias("variant"),
            F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("hr"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("xx"),
        )
        .groupBy("variant", "hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xx").cast("long").alias("x"),
        )
    )
    w = (
        Window.partitionBy("variant")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hourly.select(
        "variant",
        "hr",
        F.sum("n").over(w).alias("cn"),
        F.sum("x").over(w).alias("cx"),
    )
    llr = cum.select("variant", "hr", F.expr(_SPRT_LLR).alias("llr"))
    per = llr.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.min(
            F.when(F.col("llr") >= F.expr(_SPRT_UP), F.col("hr"))
        ).alias("up_hr"),
        F.min(
            F.when(F.col("llr") <= F.expr(_SPRT_DN), F.col("hr"))
        ).alias("dn_hr"),
        F.max_by("llr", "hr").alias("llr_last"),
    )
    rejected = F.col("up_hr").isNotNull() & (
        F.col("dn_hr").isNull() | (F.col("up_hr") <= F.col("dn_hr"))
    )
    decision = (
        F.when(rejected, "reject_h0")
        .when(F.col("dn_hr").isNotNull(), "accept_h0")
        .otherwise("continue")
    )
    crossing = F.coalesce(
        F.when(rejected, F.col("up_hr")).when(
            F.col("dn_hr").isNotNull(), F.col("dn_hr")
        ),
        F.lit(-1),
    )
    return per.select(
        F.col("variant").cast("long").alias("variant"),
        "n_hours",
        decision.alias("decision"),
        crossing.cast("long").alias("crossing_hour"),
        dround(F.col("llr_last"), 6).alias("llr_final"),
    )


# ===========================================================================
# 1-D Wasserstein (earth mover's) drift: W1 between the order-value
# distributions of two segments, on the integer-dollar grid (quantizing
# to whole dollars bounds the grid by the PRICE RANGE — a domain
# constant — rather than the row count, and bounds the quantization
# error of W1 by $1). W1 = sum over grid steps of
# |ECDF_a - ECDF_b| * step_width. The cumulative counts are integer
# (exact under any association); the single partition-less window runs
# on the documented bounded value grain (same census allowance as
# ks_two_sample_drift).
# ===========================================================================

_W1_SEG_A = "1-URGENT"
_W1_SEG_B = "5-LOW"

_W1_SQL = f"""
WITH seg AS (
    SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
           CAST(count(*) FILTER (WHERE o_orderpriority = '{_W1_SEG_A}')
                AS BIGINT) AS ca,
           CAST(count(*) FILTER (WHERE o_orderpriority = '{_W1_SEG_B}')
                AS BIGINT) AS cb
    FROM orders
    WHERE o_orderpriority IN ('{_W1_SEG_A}', '{_W1_SEG_B}')
    GROUP BY 1
),
tot AS (
    SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb
    FROM seg
),
cdf AS (
    SELECT v,
           sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
           sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
           lead(v) OVER (ORDER BY v) - v AS gap
    FROM seg
)
SELECT CAST(count(*) AS BIGINT) AS n_grid,
       CAST(t.na AS BIGINT) AS n_a,
       CAST(t.nb AS BIGINT) AS n_b,
       {R('sum(gap * abs(cum_a / t.na - cum_b / t.nb))', 4)} AS w1_dollars
FROM cdf CROSS JOIN tot t
GROUP BY t.na, t.nb
"""


@register("wasserstein_1d_drift", _W1_SQL)
def wasserstein_1d_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 distance between urgent- and low-priority order values on the
    integer-dollar grid. One fact pass builds the two-segment histogram;
    the ECDF window runs on the bounded dollar grain; last grid point
    contributes nothing (gap NULL -> dropped by sum)."""
    o = read_table(spark, sf_dir, "orders")
    seg = (
        o.filter(F.col("o_orderpriority").isin(_W1_SEG_A, _W1_SEG_B))
        .groupBy(F.floor("o_totalprice").cast("long").alias("v"))
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == _W1_SEG_A, 1).otherwise(0)
            ).cast("long").alias("ca"),
            F.sum(
                F.when(F.col("o_orderpriority") == _W1_SEG_B, 1).otherwise(0)
            ).cast("long").alias("cb"),
        )
    )
    # bounded dollar-grid frame, branched by the totals aggregate AND
    # the ECDF window — pinned so the fact scan runs once
    seg = pin(seg)
    tot = seg.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlead = Window.orderBy("v")
    cdf = seg.select(
        "v",
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        (F.lead("v").over(wlead) - F.col("v")).alias("gap"),
    )
    return (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grid"),
            dround(
                F.sum(
                    F.col("gap")
                    * F.abs(
                        F.col("cum_a") / F.col("na")
                        - F.col("cum_b") / F.col("nb")
                    )
                ),
                4,
            ).alias("w1_dollars"),
        )
        .select(
            "n_grid",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "w1_dollars",
        )
    )


# ===========================================================================
# Clustering-agreement evaluation: NMI + purity between two categorical
# labelings (cluster = source, class = lang) — the standard external
# cluster-quality metrics (Manning et al., IR book ch. 16). Everything
# reduces to the (cluster, class) contingency table: one
# map-side-combined groupBy, marginals aggregated FROM the table (never
# a second fact scan), and three 1-row entropy/MI reductions.
# ===========================================================================

_NMI_SQL = f"""
WITH ct AS (
    SELECT source, lang, CAST(count(*) AS DOUBLE) AS c
    FROM documents GROUP BY source, lang
),
n_ AS (SELECT sum(c) AS n FROM ct),
cs AS (SELECT source, sum(c) AS csum, max(c) AS cmax FROM ct GROUP BY source),
cl AS (SELECT lang, sum(c) AS lsum FROM ct GROUP BY lang),
mi AS (
    SELECT sum((ct.c / n_.n) * ln(ct.c * n_.n / (cs.csum * cl.lsum))) AS i
    FROM ct JOIN cs USING (source) JOIN cl USING (lang) CROSS JOIN n_
),
hs AS (
    SELECT -sum((csum / n_.n) * ln(csum / n_.n)) AS h,
           sum(cmax) AS maxsum
    FROM cs CROSS JOIN n_
),
hl AS (SELECT -sum((lsum / n_.n) * ln(lsum / n_.n)) AS h FROM cl CROSS JOIN n_)
SELECT CAST(n_.n AS BIGINT) AS n_docs,
       {R('mi.i / sqrt(hs.h * hl.h)', 6)} AS nmi,
       {R('hs.maxsum / n_.n', 6)} AS purity,
       {R('hs.h', 6)} AS h_cluster,
       {R('hl.h', 6)} AS h_class
FROM mi CROSS JOIN hs CROSS JOIN hl CROSS JOIN n_
"""

register_sql("cluster_eval_nmi_purity", _NMI_SQL)


# ===========================================================================
# Ranking agreement (rank-biased overlap, Webber et al. 2010,
# truncated at depth K): how much do the revenue top-K and quantity
# top-K part rankings agree, with geometric top-weighting p. Both
# rankings come from ONE fact scan (two measures of the same rollup),
# each top-K is orderBy().limit(K) (TakeOrderedAndProject, never a
# global sort), and the rank-of-survivors windows run on K-row frames.
# Ranking keys are ROUNDED measures with a part tie-break (the ntile
# cross-engine rule: raw double sums can flip order at the last ULP).
# ===========================================================================

_RBO_K = 20
_RBO_P = "0.9"

_RBO_SQL = f"""
WITH m AS (
    SELECT l_partkey,
           {R("sum(l_extendedprice * (1 - l_discount))", 2)} AS rev,
           CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem GROUP BY l_partkey
),
r1 AS (
    SELECT l_partkey, row_number() OVER (ORDER BY rev DESC, l_partkey) AS rk1
    FROM m QUALIFY rk1 <= {_RBO_K}
),
r2 AS (
    SELECT l_partkey, row_number() OVER (ORDER BY qty DESC, l_partkey) AS rk2
    FROM m QUALIFY rk2 <= {_RBO_K}
),
j AS (
    SELECT greatest(rk1, rk2) AS mx
    FROM r1 JOIN r2 USING (l_partkey)
),
ov AS (
    SELECT d, CAST(count(mx) AS BIGINT) AS o
    FROM generate_series(1, {_RBO_K}) t(d)
    LEFT JOIN j ON j.mx <= t.d
    GROUP BY d
)
SELECT CAST({_RBO_K} AS BIGINT) AS k,
       max(CASE WHEN d = {_RBO_K} THEN o END) AS overlap_at_k,
       {R(f'(1 - {_RBO_P}) * sum(pow({_RBO_P}, d - 1) * o / d)', 6)}
           AS rbo_at_k
FROM ov
"""


@register("rank_agreement_rbo", _RBO_SQL)
def rank_agreement_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated RBO@K between the revenue and quantity part rankings."""
    li = read_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_partkey").agg(
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("rev"),
        F.sum("l_quantity").cast("long").alias("qty"),
    )

    def topk(col: str, alias: str) -> DataFrame:
        lim = m.orderBy(F.desc(col), F.asc("l_partkey")).limit(_RBO_K)
        w = Window.orderBy(F.desc(col), F.asc("l_partkey"))
        return lim.select(
            "l_partkey", F.row_number().over(w).alias(alias)
        )

    r1 = topk("rev", "rk1")
    r2 = topk("qty", "rk2")
    j = r1.join(r2, "l_partkey").select(
        F.greatest("rk1", "rk2").alias("mx")
    )
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    ov = (
        depths.join(F.broadcast(j), F.col("mx") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("mx").cast("long").alias("o"))
    )
    p = float(_RBO_P)
    return ov.agg(
        F.lit(_RBO_K).cast("long").alias("k"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("o"))).alias("overlap_at_k"),
        dround(
            F.lit(1 - p)
            * F.sum(
                F.pow(F.lit(p), F.col("d") - 1) * F.col("o") / F.col("d")
            ),
            6,
        ).alias("rbo_at_k"),
    )


# ===========================================================================
# Off-policy evaluation (IPS / SNIPS, Horvitz-Thompson; Swaminathan &
# Joachims 2015): estimate the value of a deterministic target policy
# ("in each hour-of-day context, take the action with the highest
# rounded mean logged reward") from the behavior log, weighting matched
# rows by inverse empirical propensity. Everything is two bounded-grain
# aggregates (context x action stats, context totals) joined back onto
# one fact pass — no per-row Python, no driver loop.
# ===========================================================================

_IPS_SQL = f"""
WITH e AS (
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS ctx,
           event_type AS act, value AS r
    FROM events
),
stats AS (
    SELECT ctx, act, CAST(count(*) AS DOUBLE) AS cnt,
           {R('avg(r)', 6)} AS avgr
    FROM e GROUP BY ctx, act
),
ctxn AS (SELECT ctx, sum(cnt) AS cn FROM stats GROUP BY ctx),
pi AS (
    SELECT ctx, act AS pi_act
    FROM (SELECT ctx, act, row_number() OVER (
              PARTITION BY ctx ORDER BY avgr DESC, act ASC) AS rn
          FROM stats)
    WHERE rn = 1
),
wtd AS (
    SELECT e.r,
           CASE WHEN e.act = pi.pi_act THEN ctxn.cn / stats.cnt
                ELSE 0.0 END AS w
    FROM e
    JOIN stats ON stats.ctx = e.ctx AND stats.act = e.act
    JOIN ctxn ON ctxn.ctx = e.ctx
    JOIN pi ON pi.ctx = e.ctx
)
SELECT CAST(count(*) AS BIGINT) AS n_events,
       {R('avg(r)', 6)} AS behavior_value,
       {R('sum(w * r) / count(*)', 6)} AS ips_value,
       {R('sum(w * r) / sum(w)', 6)} AS snips_value
FROM wtd
"""


@register("ips_offline_policy_value", _IPS_SQL)
def ips_offline_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPS and SNIPS value estimates of the greedy hour-of-day policy.

    The argmax action per context orders by the ROUNDED mean reward
    (dround 6) with an action tie-break, so the target policy is
    identical in both engines. The context/action grain is bounded
    (24 x action vocabulary), so those joins broadcast naturally under
    AQE — no hints needed."""
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        ((F.floor(F.col("ts").cast("long")) % 86400) / 3600)
        .cast("long")
        .alias("ctx"),
        F.col("event_type").alias("act"),
        F.col("value").alias("r"),
    )
    stats = e.groupBy("ctx", "act").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        dround(F.avg("r"), 6).alias("avgr"),
    )
    stats = pin(stats)  # 3 consumers below
    ctxn = stats.groupBy("ctx").agg(F.sum("cnt").alias("cn"))
    wp = Window.partitionBy("ctx").orderBy(F.desc("avgr"), F.asc("act"))
    pi = (
        stats.select("ctx", "act", F.row_number().over(wp).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("ctx", F.col("act").alias("pi_act"))
    )
    wtd = (
        e.join(stats.select("ctx", "act", "cnt"), ["ctx", "act"])
        .join(ctxn, "ctx")
        .join(pi, "ctx")
        .select(
            "r",
            F.when(
                F.col("act") == F.col("pi_act"), F.col("cn") / F.col("cnt")
            )
            .otherwise(0.0)
            .alias("w"),
        )
    )
    return wtd.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dround(F.avg("r"), 6).alias("behavior_value"),
        dround(F.sum(F.col("w") * F.col("r")) / F.count(F.lit(1)), 6).alias(
            "ips_value"
        ),
        dround(F.sum(F.col("w") * F.col("r")) / F.sum("w"), 6).alias(
            "snips_value"
        ),
    )


# ===========================================================================
# Association rules (Agrawal & Srikant 1994): directed
# antecedent -> consequent rules from the Apriori-pruned frequent pair
# lattice, with confidence / lift / leverage. COMPOSES the same basket
# reduction as plans/behavioral.py:frequent_itempairs (distinct
# item-per-basket -> frequent-item semi-join -> basket self-join) and
# emits BOTH rule directions from each undirected pair.
# ===========================================================================

_RULES_MINSUP = 3  # matches behavioral._BASKET_MINSUP (one lattice)

_RULES_SQL = f"""
WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (
    SELECT l_partkey, CAST(count(*) AS DOUBLE) AS c FROM bp
    GROUP BY l_partkey HAVING count(*) >= {_RULES_MINSUP}
),
fbp AS (SELECT bp.* FROM bp JOIN freq USING (l_partkey)),
pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb,
           CAST(count(*) AS DOUBLE) AS supp
    FROM fbp a JOIN fbp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {_RULES_MINSUP}
),
n_ AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM bp),
directed AS (
    SELECT pa AS ante, pb AS cons, supp FROM pairs
    UNION ALL
    SELECT pb AS ante, pa AS cons, supp FROM pairs
)
SELECT d.ante AS antecedent, d.cons AS consequent,
       CAST(d.supp AS BIGINT) AS support,
       {R('d.supp / fa.c', 6)} AS confidence,
       {R('d.supp * n_.n / (fa.c * fc.c)', 6)} AS lift,
       {R('d.supp / n_.n - (fa.c / n_.n) * (fc.c / n_.n)', 6)} AS leverage
FROM directed d
JOIN freq fa ON fa.l_partkey = d.ante
JOIN freq fc ON fc.l_partkey = d.cons
CROSS JOIN n_
"""


@register("association_rules_confidence", _RULES_SQL)
def association_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules with confidence/lift/leverage.

    Same Apriori discipline as frequent_itempairs
    (plans/behavioral.py:593): only individually-frequent items enter
    the basket self-join, so candidate volume is bounded by the support
    threshold, not the raw basket width."""
    li = read_table(spark, sf_dir, "lineitem")
    bp = li.select("l_orderkey", "l_partkey").distinct()
    bp = pin(bp)  # freq + join + basket count
    freq = (
        bp.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .filter(F.col("c") >= _RULES_MINSUP)
    )
    fbp = bp.join(
        F.broadcast(freq.select("l_partkey")), "l_partkey", "left_semi"
    )
    # r10: posting-list pair expansion (operators/similarity.group_pairs)
    # — one basket exchange instead of the double-shuffled self-join.
    pairs = pin(
        group_pairs(fbp, "l_orderkey", "l_partkey", ordered=True)
        .groupBy(
            F.col("ia").alias("pa"),
            F.col("ib").alias("pb"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("supp"))
        .filter(F.col("supp") >= _RULES_MINSUP)
        # both UNION branches of `directed` embed this whole subtree;
        # ReuseExchange dedupes the self-join shuffles but the final
        # pair aggregation + join probe still ran twice — cache the
        # bounded frequent-pair lattice instead (minsup-capped).
    )
    n_ = bp.agg(F.count_distinct("l_orderkey").cast("double").alias("n"))
    directed = pairs.select(
        F.col("pa").alias("ante"), F.col("pb").alias("cons"), "supp"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("ante"), F.col("pa").alias("cons"), "supp"
        )
    )
    fa = freq.select(F.col("l_partkey").alias("ante"), F.col("c").alias("ca"))
    fc = freq.select(F.col("l_partkey").alias("cons"), F.col("c").alias("cc"))
    return (
        directed.join(F.broadcast(fa), "ante")
        .join(F.broadcast(fc), "cons")
        .crossJoin(F.broadcast(n_))
        .select(
            F.col("ante").alias("antecedent"),
            F.col("cons").alias("consequent"),
            F.col("supp").cast("long").alias("support"),
            dround(F.col("supp") / F.col("ca"), 6).alias("confidence"),
            dround(
                F.col("supp") * F.col("n") / (F.col("ca") * F.col("cc")), 6
            ).alias("lift"),
            dround(
                F.col("supp") / F.col("n")
                - (F.col("ca") / F.col("n")) * (F.col("cc") / F.col("n")),
                6,
            ).alias("leverage"),
        )
    )


# ===========================================================================
# Surprisal-based data pruning (the EL2N/perplexity-filter shape used by
# every web-scale corpus build): score each document by mean token
# surprisal under the corpus unigram LM, set the cutoff at the 0.9
# quantile, and report per-language retention. The LM join is hint-free
# (unbounded vocab grain); the cutoff is one 1-row quantile aggregate
# (DuckDB quantile_cont == Spark percentile, same interpolation);
# boundary comparisons run on the ROUNDED score so last-ULP
# cross-engine drift cannot flip a doc across the cutoff.
# ===========================================================================

_PRUNE_Q = "0.9"

_PRUNE_SQL = f"""
WITH tok AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
    FROM documents
),
lm AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
total AS (SELECT sum(cnt) AS n FROM lm),
doc AS (
    SELECT t.doc_id, t.lang,
           {R("avg(-ln(CAST(lm.cnt AS DOUBLE) / total.n))", 6)} AS s
    FROM tok t JOIN lm ON lm.tok = t.tok CROSS JOIN total
    GROUP BY t.doc_id, t.lang
),
cut AS (SELECT {R(f'quantile_cont(s, {_PRUNE_Q})', 6)} AS cutoff FROM doc)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE d.s <= c.cutoff) AS BIGINT) AS n_kept,
       {R('CAST(count(*) FILTER (WHERE d.s <= c.cutoff) AS DOUBLE)'
          ' / count(*)', 6)} AS kept_frac,
       {R('avg(d.s) FILTER (WHERE d.s <= c.cutoff)', 6)}
           AS mean_surprisal_kept
FROM doc d CROSS JOIN cut c
GROUP BY d.lang
"""


@register("data_pruning_surprisal", _PRUNE_SQL)
def data_pruning_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language retention after pruning the hardest 10% of docs by
    unigram-LM mean surprisal (cutoff = global 0.9 quantile of the
    ROUNDED doc score)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    lm = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("n"))
    surprisal = -F.log(F.col("cnt").cast("double") / F.col("n"))
    doc = (
        tok.join(lm, "tok")  # hint-free: vocab grain grows with the corpus
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(dround(F.avg(surprisal), 6).alias("s"))
    )
    doc = pin(doc)  # cutoff + report branches
    cut = doc.agg(
        dround(F.expr(f"percentile(s, {_PRUNE_Q})"), 6).alias("cutoff")
    )
    kept = F.col("s") <= F.col("cutoff")
    return (
        doc.crossJoin(F.broadcast(cut))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            dround(
                F.sum(F.when(kept, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("kept_frac"),
            dround(F.avg(F.when(kept, F.col("s"))), 6).alias(
                "mean_surprisal_kept"
            ),
        )
    )


# ===========================================================================
# Template detection via slot entropy: per source, the token entropy at
# each of the first P token positions, averaged. Machine-generated /
# templated sources repeat the same tokens in the same slots (low slot
# entropy); organic text does not. The position grain is a CONSTANT
# (P=8), so the per-(source, pos) distribution fits the standard
# explode + two-level groupBy shape — codegen'd, map-side combined.
# ===========================================================================

_TPL_P = 8

_TPL_SQL = f"""
WITH tok AS (
    SELECT source, pos, tok FROM (
        SELECT source,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ) WHERE pos <= {_TPL_P}
),
slot AS (
    SELECT source, pos, sum(c) AS np, sum(c * ln(c)) AS sum_c_ln_c
    FROM (SELECT source, pos, tok, CAST(count(*) AS DOUBLE) AS c
          FROM tok GROUP BY source, pos, tok)
    GROUP BY source, pos
),
ent AS (
    SELECT source, pos, ln(np) - sum_c_ln_c / np AS h FROM slot
),
docs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         FROM documents GROUP BY source)
SELECT e.source, d.n_docs,
       {R('avg(e.h)', 6)} AS avg_slot_entropy,
       {R('min(e.h)', 6)} AS min_slot_entropy
FROM ent e JOIN docs d ON d.source = e.source
GROUP BY e.source, d.n_docs
"""


@register("template_slot_entropy", _TPL_SQL)
def template_slot_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/min token entropy over the first 8 token slots per source."""
    d = read_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source",
            F.posexplode(F.slice(tokens(F.col("text")), 1, _TPL_P)).alias(
                "p0", "tok"
            ),
        )
        .select("source", (F.col("p0") + 1).alias("pos"), "tok")
    )
    ctok = tok.groupBy("source", "pos", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    slot = ctok.groupBy("source", "pos").agg(
        F.sum("c").alias("np"),
        F.sum(F.col("c") * F.log("c")).alias("sum_c_ln_c"),
    )
    ent = slot.select(
        "source",
        "pos",
        (F.log("np") - F.col("sum_c_ln_c") / F.col("np")).alias("h"),
    )
    docs = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        ent.join(docs, "source")
        .groupBy("source", "n_docs")
        .agg(
            dround(F.avg("h"), 6).alias("avg_slot_entropy"),
            dround(F.min("h"), 6).alias("min_slot_entropy"),
        )
    )


# ===========================================================================
# Embedding outlier audit: cosine of every vector to its label centroid,
# flagging vectors whose distance z-score (on the ROUNDED z) exceeds 2 —
# the standard per-cluster mislabel/contamination sweep before training
# on an embedded corpus. Everything is the relational dim-explode shape
# (plans/linalg.py PCA discipline): (vec, dim) rows -> centroid per
# (label, dim) -> dot/norm reductions per vec -> per-label moments.
# No pairwise joins anywhere — O(n x d), not O(n^2).
# ===========================================================================

_OUTLIER_SQL = f"""
WITH ev AS (
    SELECT vec_id, label, i, CAST(x AS DOUBLE) AS x FROM (
        SELECT vec_id, label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    )
),
cent AS (SELECT label, i, avg(x) AS m FROM ev GROUP BY label, i),
cnorm AS (SELECT label, sqrt(sum(m * m)) AS nc FROM cent GROUP BY label),
per_vec AS (
    SELECT ev.vec_id, ev.label,
           sum(ev.x * c.m) AS dot, sqrt(sum(ev.x * ev.x)) AS nv
    FROM ev JOIN cent c ON c.label = ev.label AND c.i = ev.i
    GROUP BY ev.vec_id, ev.label
),
dist AS (
    SELECT p.vec_id, p.label,
           1.0 - p.dot / (p.nv * cn.nc) AS dd
    FROM per_vec p JOIN cnorm cn ON cn.label = p.label
),
mom AS (
    SELECT label, avg(dd) AS mu, stddev_samp(dd) AS sd,
           CAST(count(*) AS BIGINT) AS n_vecs, avg(1.0 - dd) AS mean_cos
    FROM dist GROUP BY label
)
SELECT CAST(d.label AS BIGINT) AS label, m.n_vecs,
       {R('m.mean_cos', 6)} AS mean_cos,
       CAST(count(*) FILTER (
           WHERE {R('(d.dd - m.mu) / m.sd', 6)} > 2.0) AS BIGINT)
           AS n_outliers
FROM dist d JOIN mom m ON m.label = d.label
GROUP BY d.label, m.n_vecs, m.mean_cos
"""


@register("embedding_outlier_zscore", _OUTLIER_SQL)
def embedding_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier counts by centroid-cosine z-score."""
    emb = read_table(spark, sf_dir, "embeddings")
    ev = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    )
    cent = ev.groupBy("label", "i").agg(F.avg("x").alias("m"))
    cnorm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nc")
    )
    per_vec = (
        ev.join(cent, ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("x") * F.col("m")).alias("dot"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nv"),
        )
    )
    dist = per_vec.join(cnorm, "label").select(
        "vec_id",
        "label",
        (F.lit(1.0) - F.col("dot") / (F.col("nv") * F.col("nc"))).alias("dd"),
    )
    dist = pin(dist)  # moments + flag branches
    mom = dist.groupBy("label").agg(
        F.avg("dd").alias("mu"),
        F.stddev_samp("dd").alias("sd"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.avg(F.lit(1.0) - F.col("dd")).alias("mean_cos"),
    )
    z = dround((F.col("dd") - F.col("mu")) / F.col("sd"), 6)
    return (
        dist.join(mom, "label")
        .groupBy(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            dround(F.col("mean_cos"), 6).alias("mean_cos"),
        )
        .agg(
            F.sum(F.when(z > 2.0, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers")
        )
    )


# ===========================================================================
# WoE / IV monotonic-risk binning (the credit-scoring / feature-audit
# standard, Siddiqi 2006): Weight of Evidence and Information Value of a
# fixed-width price binning against the returned-flag target.
# Fixed-width bins (not data-dependent quantile edges) keep the bucket
# definition a pure row expression — one map-side-combined pass; 0.5
# Laplace smoothing keeps one-sided bins finite in both engines.
# ===========================================================================

_WOE_BIN_W = 10000.0  # dollars per bin, capped at bin 9
_WOE_SMOOTH = "0.5"

_WOE_SQL = f"""
WITH b AS (
    SELECT least(9, CAST(floor(l_extendedprice / {_WOE_BIN_W}) AS BIGINT))
               AS bin,
           CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS bad,
           CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS DOUBLE)
               AS good
    FROM lineitem GROUP BY 1
),
t AS (SELECT sum(good) AS g, sum(bad) AS bd FROM b)
SELECT b.bin,
       CAST(b.good AS BIGINT) AS n_good,
       CAST(b.bad AS BIGINT) AS n_bad,
       {R(f'ln(((b.good + {_WOE_SMOOTH}) / t.g)'
          f' / ((b.bad + {_WOE_SMOOTH}) / t.bd))', 6)} AS woe,
       {R(f'(b.good / t.g - b.bad / t.bd)'
          f' * ln(((b.good + {_WOE_SMOOTH}) / t.g)'
          f' / ((b.bad + {_WOE_SMOOTH}) / t.bd))', 6)} AS iv_contrib
FROM b CROSS JOIN t
"""


@register("woe_iv_binning", _WOE_SQL)
def woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin WoE and IV contribution of the price binning vs returns."""
    li = read_table(spark, sf_dir, "lineitem")
    smooth = float(_WOE_SMOOTH)
    b = li.groupBy(
        F.least(
            F.lit(9), F.floor(F.col("l_extendedprice") / _WOE_BIN_W)
        )
        .cast("long")
        .alias("bin")
    ).agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
        ).alias("bad"),
        F.sum(
            F.when(F.col("l_returnflag") != "R", 1.0).otherwise(0.0)
        ).alias("good"),
    )
    t = b.agg(F.sum("good").alias("g"), F.sum("bad").alias("bd"))
    woe = F.log(
        ((F.col("good") + smooth) / F.col("g"))
        / ((F.col("bad") + smooth) / F.col("bd"))
    )
    return b.crossJoin(F.broadcast(t)).select(
        "bin",
        F.col("good").cast("long").alias("n_good"),
        F.col("bad").cast("long").alias("n_bad"),
        dround(woe, 6).alias("woe"),
        dround(
            (F.col("good") / F.col("g") - F.col("bad") / F.col("bd")) * woe,
            6,
        ).alias("iv_contrib"),
    )


# ===========================================================================
# Temperature-scaled language sampling (the mT5 / XLM-R multilingual
# mixture rule, alpha = 0.3): q_i proportional to p_i^alpha over
# token-mass shares — low-resource languages upsampled, high-resource
# flattened. One token-count pass (size(split), no explode) + bounded
# language-grain normalization.
# ===========================================================================

_TEMP_ALPHA = "CAST(0.3 AS DOUBLE)"

_TEMP_SQL = f"""
WITH lt AS (
    SELECT lang, CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
               AS n_tokens
    FROM documents GROUP BY lang
),
t AS (SELECT sum(n_tokens) AS n FROM lt),
q AS (
    SELECT lang, n_tokens, n_tokens / t.n AS p,
           pow(n_tokens / t.n, {_TEMP_ALPHA}) AS raw
    FROM lt CROSS JOIN t
),
z AS (SELECT sum(raw) AS z FROM q)
SELECT q.lang, CAST(q.n_tokens AS BIGINT) AS n_tokens,
       {R('q.p', 6)} AS p_raw,
       {R('q.raw / z.z', 6)} AS q_alpha,
       {R('(q.raw / z.z) / q.p', 6)} AS upsample_factor
FROM q CROSS JOIN z
"""


@register("lang_sampling_temperature", _TEMP_SQL)
def lang_sampling_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=0.3 temperature-scaled sampling weights per language."""
    d = read_table(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("double").alias("n_tokens")
    )
    t = lt.agg(F.sum("n_tokens").alias("n"))
    q = lt.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") / F.col("n")).alias("p"),
        F.pow(F.col("n_tokens") / F.col("n"), F.expr(_TEMP_ALPHA)).alias(
            "raw"
        ),
    )
    z = q.agg(F.sum("raw").alias("z"))
    return q.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        dround(F.col("p"), 6).alias("p_raw"),
        dround(F.col("raw") / F.col("z"), 6).alias("q_alpha"),
        dround((F.col("raw") / F.col("z")) / F.col("p"), 6).alias(
            "upsample_factor"
        ),
    )


# ===========================================================================
# Cross-source near-dup overlap matrix: the corpus-contamination audit —
# which SOURCES duplicate each other, from the production MinHash-LSH
# pair set (operators/dedup.py:minhash_lsh_pairs; the oracle replays the
# same pipeline via registry._NEARDUP_MINHASH_SQL). Source pairs are
# normalized (least/greatest) so the matrix is one deterministic
# triangle; the doc->source attachment is two joins on the pair keys.
# ===========================================================================


def _overlap_sql() -> str:
    from .registry import _NEARDUP_MINHASH_SQL

    return f"""
WITH pairs AS ({_NEARDUP_MINHASH_SQL})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {R('avg(p.jaccard)', 6)} AS mean_jaccard
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_id_a
JOIN documents db ON db.doc_id = p.doc_id_b
GROUP BY 1, 2
"""


@register("source_overlap_matrix", _overlap_sql())
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts and mean Jaccard per (source, source) cell."""
    from ..operators.dedup import minhash_lsh_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    src = d.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            dround(F.avg("jaccard"), 6).alias("mean_jaccard"),
        )
    )


# ===========================================================================
# Markov removal-effect attribution (Anderl et al. 2014 — the standard
# data-driven alternative to position/Shapley heuristics): journeys are
# per-user event runs split at purchases; a first-order transition
# matrix over {start, channels..., conv, drop} is estimated from the
# log; each channel's value is the drop in T-step absorbing conversion
# probability when that channel's node is deleted (no renormalization —
# lost mass becomes drop, per the method).
#
# Scale shape: journey/transition extraction is two user-partitioned
# windows + one bounded (from, to) aggregate; the removal scenarios
# enter as a COLUMN over the bounded edge frame (the ridge_lambda_sweep
# discipline), so all |channels|+1 chains propagate together; the
# absorption recursion is unrolled T=12 times over frames of
# |scenarios| x |states| rows (tens). Both engines run the IDENTICAL
# truncated recursion, so truncation cannot split them.
# ===========================================================================

_MKV_T = 12


def _markov_removal_sql() -> str:
    iters = []
    for k in range(1, _MKV_T + 1):
        iters.append(f"""
a{k} AS (
    SELECT t.rm, t.f AS state,
           max(t.pc) + coalesce(sum(t.p * a.a), 0.0) AS a
    FROM tmat t LEFT JOIN a{k - 1} a ON a.rm = t.rm AND a.state = t.t
    GROUP BY t.rm, t.f
)""")
    return f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS pj
    FROM events
),
steps AS (
    SELECT user_id, pj, event_type,
           lag(event_type) OVER (PARTITION BY user_id, pj
                                 ORDER BY ts, event_id) AS prev,
           lead(event_type) OVER (PARTITION BY user_id, pj
                                  ORDER BY ts, event_id) AS nxt
    FROM ordered
),
raw_edges AS (
    SELECT coalesce(prev, 'start') AS f,
           CASE WHEN event_type = 'purchase' THEN 'conv'
                ELSE event_type END AS t
    FROM steps
    UNION ALL
    SELECT event_type AS f, 'drop' AS t
    FROM steps WHERE nxt IS NULL AND event_type <> 'purchase'
),
cnt AS (SELECT f, t, CAST(count(*) AS DOUBLE) AS c FROM raw_edges
        GROUP BY f, t),
prob AS (
    SELECT f, t, c / sum(c) OVER (PARTITION BY f) AS p FROM cnt
),
chan AS (SELECT DISTINCT t AS ch FROM prob WHERE t NOT IN ('conv', 'drop')),
scen AS (SELECT 'none' AS rm FROM (VALUES (1)) UNION ALL SELECT ch FROM chan),
-- per-scenario surviving edges, pre-split into conv mass vs transient
-- mass. MATERIALIZED: the recursion references tmat T+1 times and
-- DuckDB inlines plain CTEs, which would re-run the window pipeline
-- per reference (probed: ~11 s -> ~1 s at sf0.001 with the hint).
tmat AS MATERIALIZED (
    SELECT s.rm, p.f,
           CASE WHEN p.t IN ('conv', 'drop') THEN NULL ELSE p.t END AS t,
           CASE WHEN p.t IN ('conv', 'drop') THEN 0.0 ELSE p.p END AS p,
           CASE WHEN p.t = 'conv' THEN p.p ELSE 0.0 END AS pc
    FROM prob p CROSS JOIN scen s
    WHERE p.f <> s.rm AND p.t <> s.rm
),
a0 AS (
    SELECT rm, f AS state, sum(pc) AS a FROM tmat GROUP BY rm, f
),
{", ".join(iters)},
full_ AS (SELECT a AS p_full FROM a{_MKV_T} WHERE rm = 'none'
          AND state = 'start'),
rem AS (
    -- p_full = 0 (zero conversions) must yield NULL, mirroring the
    -- Spark path's Python None: DuckDB's greatest() ignores NULL args
    -- (Postgres-style), so greatest(0.0, NULL) would be 0.0 — guard
    -- the degenerate case explicitly.
    SELECT a.rm AS channel,
           CASE WHEN f_.p_full = 0.0 THEN NULL
                ELSE greatest(0.0, 1.0 - a.a / f_.p_full) END AS re,
           f_.p_full
    FROM a{_MKV_T} a CROSS JOIN full_ f_
    WHERE a.rm <> 'none' AND a.state = 'start'
),
z AS (SELECT sum(re) AS z FROM rem)
SELECT r.channel,
       {R('r.re', 6)} AS removal_effect,
       {R('r.re / nullif(z.z, 0.0)', 6)} AS attribution_share,
       {R('r.p_full', 6)} AS p_conv_full
FROM rem r CROSS JOIN z
"""


@register("attribution_markov_removal", _markov_removal_sql())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-effect channel attribution from the journey Markov chain."""
    e = read_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
            ).over(wseq.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("pj"),
    )
    wj = Window.partitionBy("user_id", "pj").orderBy("ts", "event_id")
    steps = ordered.select(
        "event_type",
        F.lag("event_type").over(wj).alias("prev"),
        F.lead("event_type").over(wj).alias("nxt"),
    )
    edges1 = steps.select(
        F.coalesce(F.col("prev"), F.lit("start")).alias("f"),
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("t"),
    )
    drops = steps.filter(
        F.col("nxt").isNull() & (F.col("event_type") != "purchase")
    ).select(F.col("event_type").alias("f"), F.lit("drop").alias("t"))
    cnt = (
        edges1.unionAll(drops)
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    wf = Window.partitionBy("f")
    prob = cnt.select(
        "f", "t", (F.col("c") / F.sum("c").over(wf)).alias("p")
    )
    chan = prob.filter(~F.col("t").isin("conv", "drop")).select(
        F.col("t").alias("rm")
    ).distinct()
    scen = spark.range(1).select(F.lit("none").alias("rm")).unionAll(chan)
    transient = ~F.col("t").isin("conv", "drop")
    tmat = (
        prob.crossJoin(F.broadcast(scen))
        .filter((F.col("f") != F.col("rm")) & (F.col("t") != F.col("rm")))
        .select(
            "rm",
            "f",
            F.when(transient, F.col("t")).alias("tt"),
            F.when(transient, F.col("p")).otherwise(0.0).alias("p"),
            F.when(F.col("t") == "conv", F.col("p")).otherwise(0.0).alias("pc"),
        )
    )
    # The transition matrix is BOUNDED (|scenarios| x |states|^2 — tens
    # of rows at any corpus size), so the T-step recursion is a
    # bounded driver-coordination point, same discipline as the k-means
    # centroid / BPE argmax loops: collect the matrix ONCE, iterate the
    # absorption update in Python (deterministic term order), and emit
    # the |channels|-row result through dround literals. In-engine
    # variants were measured first: 12 nested lazy aggregate-joins paid
    # ~70 s of plan analysis at sf0.001, and eager per-iteration
    # localCheckpoints still paid ~2 s of job overhead per step for
    # 25-row frames.
    rows = tmat.collect()
    pc: dict[tuple[str, str], float] = {}
    trans: dict[tuple[str, str], list[tuple[str, float]]] = {}
    for r in rows:
        key = (r["rm"], r["f"])
        pc[key] = pc.get(key, 0.0) + r["pc"]
        if r["tt"] is not None:
            trans.setdefault(key, []).append((r["tt"], r["p"]))
    for key in trans:
        trans[key].sort()  # deterministic accumulation order
    a = dict(pc)
    for _ in range(_MKV_T):
        a = {
            (rm, s): pc[(rm, s)]
            + sum(
                p * a.get((rm, t2), 0.0) for t2, p in trans.get((rm, s), ())
            )
            for (rm, s) in pc
        }
    p_full = a.get(("none", "start"), 0.0)
    chans = sorted({rm for (rm, _s) in pc if rm != "none"})
    re = {
        c: max(0.0, 1.0 - a.get((c, "start"), 0.0) / p_full)
        if p_full
        else None
        for c in chans
    }
    z = sum(v for v in re.values() if v is not None)
    out = spark.createDataFrame(
        [(c, re[c], p_full) for c in chans],
        "channel string, re double, p_full double",
    )
    return out.select(
        "channel",
        dround(F.col("re"), 6).alias("removal_effect"),
        dround(F.col("re") / F.nullif(F.lit(z), F.lit(0.0)), 6).alias(
            "attribution_share"
        ),
        dround(F.col("p_full"), 6).alias("p_conv_full"),
    )


# ===========================================================================
# Multiple-testing control (Benjamini-Hochberg 1995, FDR q = 0.10):
# per-segment two-sided z-tests (large-sample Welch) with the BH step-up
# over the BOUNDED segment grain. The normal-tail p-value is the
# Abramowitz-Stegun 7.1.26 erf polynomial emitted as ONE SQL fragment
# both engines evaluate (the linalg shared-string discipline); ranks
# and the step-up compare use ROUNDED p so a last-ULP engine difference
# cannot reorder the ranking or flip a rejection.
# ===========================================================================

_BH_Q = "0.10"


def _sql_pvalue_two_sided(az: str) -> str:
    """Two-sided normal p-value 1 - erf(|z|/sqrt(2)) via the A&S 7.1.26
    polynomial (|error| < 1.5e-7 — far inside dround(6))."""
    x = f"(({az}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (
        f"((((1.061405429 * {t} - 1.453152027) * {t} + 1.421413741)"
        f" * {t} - 0.284496736) * {t} + 0.254829592) * {t}"
    )
    return f"(({poly}) * exp(-{x} * {x}))"


_BH_SQL = f"""
WITH agg AS (
    SELECT event_type,
           CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS na,
           sum(value) FILTER (WHERE user_id % 2 = 0) AS sa,
           sum(value * value) FILTER (WHERE user_id % 2 = 0) AS qa,
           CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS DOUBLE) AS nb,
           sum(value) FILTER (WHERE user_id % 2 = 1) AS sb,
           sum(value * value) FILTER (WHERE user_id % 2 = 1) AS qb
    FROM events GROUP BY event_type
),
zs AS (
    -- segments with <=1 row in either arm have no sample variance:
    -- dropped in BOTH engines (Spark NULL / DuckDB div-by-zero inf
    -- would otherwise diverge, and the two engines default to
    -- opposite NULL ordering in the rank window).
    SELECT event_type,
           abs((sa / na - sb / nb) /
               sqrt((qa - sa * sa / na) / (na - 1) / na
                    + (qb - sb * sb / nb) / (nb - 1) / nb)) AS az
    FROM agg
    WHERE na > 1 AND nb > 1
),
ps AS (
    SELECT event_type, az,
           {R(_sql_pvalue_two_sided("az"), 6)} AS p_value
    FROM zs
),
ranked AS (
    SELECT event_type, az, p_value,
           CAST(row_number() OVER (ORDER BY p_value, event_type) AS BIGINT)
               AS p_rank,
           CAST(count(*) OVER () AS DOUBLE) AS m
    FROM ps
),
cut AS (
    SELECT *,
           {R(f'p_rank * {_BH_Q} / m', 6)} AS bh_crit,
           max(CASE WHEN p_value <= {R(f'p_rank * {_BH_Q} / m', 6)}
                    THEN p_rank END) OVER () AS k
    FROM ranked
)
SELECT event_type, {R('az', 4)} AS z_abs, p_value, p_rank, bh_crit,
       coalesce(p_rank <= k, FALSE) AS rejected
FROM cut
"""

register_sql("ab_benjamini_hochberg", _BH_SQL)


# ===========================================================================
# Vocabulary-coverage sweep: token coverage of the top-V vocabulary at
# nested sizes — the vocab-size-selection curve before committing a
# tokenizer. One token pass builds the frequency table; the candidate
# set is orderBy().limit(max V) (TakeOrderedAndProject, never a global
# sort over the Heaps'-law vocab); the rank/cumulative windows run on
# the max-V-row survivor frame (census: post-limit top-K).
# ===========================================================================

_VOCAB_SWEEP = (2, 4, 8, 16)  # fixture vocab is ~31 distinct tokens

_VOCAB_SWEEP_SQL = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM tok GROUP BY tok),
tot AS (
    SELECT sum(cnt) AS n, CAST(count(*) AS BIGINT) AS n_distinct FROM freq
),
top AS (
    SELECT tok, cnt,
           row_number() OVER (ORDER BY cnt DESC, tok ASC) AS r
    FROM freq QUALIFY r <= {max(_VOCAB_SWEEP)}
),
cum AS (
    SELECT r, sum(cnt) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cov
    FROM top
)
SELECT CAST(c.r AS BIGINT) AS vocab_size,
       {R('c.cov / t.n', 6)} AS coverage,
       t.n_distinct AS distinct_tokens,
       CAST(t.n AS BIGINT) AS total_tokens
FROM cum c CROSS JOIN tot t
WHERE c.r IN ({", ".join(str(v) for v in _VOCAB_SWEEP)})
"""


@register("vocab_coverage_sweep", _VOCAB_SWEEP_SQL)
def vocab_coverage_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V token coverage at V in (2, 4, 8, 16)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    tot = freq.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    kmax = max(_VOCAB_SWEEP)
    top = freq.orderBy(F.desc("cnt"), F.asc("tok")).limit(kmax)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    wc = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = top.select("cnt", F.row_number().over(w).alias("r")).select(
        "r", F.sum("cnt").over(wc).alias("cov")
    )
    return (
        cum.filter(F.col("r").isin(*_VOCAB_SWEEP))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("vocab_size"),
            dround(F.col("cov") / F.col("n"), 6).alias("coverage"),
            F.col("n_distinct").alias("distinct_tokens"),
            F.col("n").cast("long").alias("total_tokens"),
        )
    )


# ===========================================================================
# Mergeable quantile-sketch rollup: ONE pass computes per-segment AND
# grand-total approximate medians via GROUP BY ROLLUP — the grand-total
# row is the engine MERGING the per-segment sketch partials, which is
# exactly what a 100 TB hierarchy rollup needs (re-aggregating raw data
# per level would be L fact scans). Sketch values are not bit-portable
# across engines, so the oracle asserts the exact companions plus
# bracket booleans (the approx_aggregates discipline); the exact
# percentiles ride a SEPARATE rollup so the sketch aggregate keeps its
# mergeable partial-agg fast path.
# ===========================================================================

_QSK_SQL = f"""
WITH ex AS (
    SELECT coalesce(event_type, 'ALL') AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           {R('quantile_cont(value, 0.5)', 6)} AS p50_exact,
           quantile_cont(value, 0.45) AS lo,
           quantile_cont(value, 0.55) AS hi
    FROM events GROUP BY ROLLUP (event_type)
)
SELECT segment, n_events, p50_exact, TRUE AS p50_sketch_ok FROM ex
"""


@register("quantile_sketch_rollup", _QSK_SQL)
def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment + grand-total median sketches from one rollup pass,
    bracket-checked against exact companions."""
    e = read_table(spark, sf_dir, "events")
    sk = e.rollup("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("_p50_sketch")
    )
    ex = e.rollup("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dround(F.expr("percentile(value, 0.5D)"), 6).alias("p50_exact"),
        F.expr("percentile(value, 0.45D)").alias("_lo"),
        F.expr("percentile(value, 0.55D)").alias("_hi"),
    )
    seg = lambda df: df.select(  # noqa: E731
        F.coalesce(F.col("event_type"), F.lit("ALL")).alias("segment"),
        *[c for c in df.columns if c != "event_type"],
    )
    both = seg(sk).join(seg(ex), "segment")
    return both.select(
        "segment",
        "n_events",
        "p50_exact",
        F.coalesce(
            F.col("_p50_sketch").between(F.col("_lo"), F.col("_hi")),
            F.lit(True),
        ).alias("p50_sketch_ok"),
    )


# ===========================================================================
# Coarsened exact matching ATT (Iacus, King & Porro 2012): treatment =
# "user has a signup event"; outcome = total purchase value; covariates
# (activity count, mean event value) are COARSENED into fixed-width
# strata, unmatched strata are pruned, and the ATT is the
# treated-weighted average of within-stratum outcome differences.
# Everything is two bounded aggregates over one user-grain rollup —
# matching never generates pairs, so there is no join explosion at any
# scale (the blocking key IS the stratum).
# ===========================================================================

_CEM_SQL = f"""
WITH u AS (
    SELECT user_id,
           CAST(count(*) AS DOUBLE) AS n_ev,
           avg(value) AS avg_v,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS share,
           sum(CASE WHEN event_type = 'purchase' THEN value
                    ELSE 0.0 END) AS outcome
    FROM events GROUP BY user_id
),
med AS (SELECT {R('quantile_cont(share, 0.5)', 6)} AS m FROM u),
strata AS (
    SELECT least(9, CAST(floor(n_ev / 20) AS BIGINT)) AS s_act,
           least(9, CAST(floor(avg_v / 2) AS BIGINT)) AS s_val,
           CAST({R('share', 6)} > med.m AS BIGINT) AS treated,
           outcome
    FROM u CROSS JOIN med
),
cell AS (
    SELECT s_act, s_val,
           CAST(count(*) FILTER (WHERE treated = 1) AS DOUBLE) AS nt,
           CAST(count(*) FILTER (WHERE treated = 0) AS DOUBLE) AS nc,
           avg(outcome) FILTER (WHERE treated = 1) AS mt,
           avg(outcome) FILTER (WHERE treated = 0) AS mc
    FROM strata GROUP BY s_act, s_val
),
matched AS (SELECT * FROM cell WHERE nt > 0 AND nc > 0)
SELECT CAST(sum(nt) AS BIGINT) AS n_treated_matched,
       CAST(sum(nc) AS BIGINT) AS n_control_matched,
       CAST((SELECT count(*) FROM cell WHERE nt > 0 AND nc = 0) AS BIGINT)
           AS n_strata_pruned,
       {R('sum(nt * (mt - mc)) / sum(nt)', 4)} AS att
FROM matched
"""


@register("cem_att_estimate", _CEM_SQL)
def cem_att_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEM average-treatment-effect-on-treated over coarsened strata.

    Treatment = "signup share above the cross-user median" (a fixed
    has-a-signup rule left ZERO control users at small SFs — every user
    trips a signup within ~67 events); the median is one 1-row exact
    percentile and the split compares ROUNDED shares so a last-ULP
    engine difference cannot move a user across the median."""
    e = read_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_ev"),
        F.avg("value").alias("avg_v"),
        (
            F.sum(
                F.when(F.col("event_type") == "signup", 1.0).otherwise(0.0)
            )
            / F.count(F.lit(1))
        ).alias("share"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
        ).alias("outcome"),
    )
    u = pin(u)  # median + strata branches
    med = u.agg(dround(F.expr("percentile(share, 0.5D)"), 6).alias("m"))
    strata = u.crossJoin(F.broadcast(med)).select(
        F.least(F.lit(9), F.floor(F.col("n_ev") / 20))
        .cast("long")
        .alias("s_act"),
        F.least(F.lit(9), F.floor(F.col("avg_v") / 2))
        .cast("long")
        .alias("s_val"),
        (dround(F.col("share"), 6) > F.col("m")).cast("long").alias("treated"),
        "outcome",
    )
    t1 = F.col("treated") == 1
    cell = strata.groupBy("s_act", "s_val").agg(
        F.count(F.when(t1, F.lit(1))).cast("double").alias("nt"),
        F.count(F.when(~t1, F.lit(1))).cast("double").alias("nc"),
        F.avg(F.when(t1, F.col("outcome"))).alias("mt"),
        F.avg(F.when(~t1, F.col("outcome"))).alias("mc"),
    )
    cell = pin(cell)  # matched + pruned branches
    matched = cell.filter((F.col("nt") > 0) & (F.col("nc") > 0))
    pruned = cell.filter((F.col("nt") > 0) & (F.col("nc") == 0)).agg(
        F.count(F.lit(1)).cast("long").alias("n_strata_pruned")
    )
    return (
        matched.agg(
            F.sum("nt").cast("long").alias("n_treated_matched"),
            F.sum("nc").cast("long").alias("n_control_matched"),
            dround(
                F.sum(F.col("nt") * (F.col("mt") - F.col("mc")))
                / F.sum("nt"),
                4,
            ).alias("att"),
        )
        .crossJoin(F.broadcast(pruned))
        .select(
            "n_treated_matched",
            "n_control_matched",
            "n_strata_pruned",
            "att",
        )
    )


# ===========================================================================
# Sharp regression discontinuity (Imbens & Lemieux 2008): local linear
# fits on each side of a price cutoff within a fixed bandwidth, effect =
# the jump between the two intercepts AT the cutoff. Each side's
# (a, b) solves the 2x2 normal equations from five monoid sums — ONE
# conditional-sum fact pass computes both fits, no sorting, no windows.
# ===========================================================================

_RDD_CUT = 150000.0
_RDD_BW = 60000.0

_RDD_SQL = f"""
WITH w AS (
    SELECT o_totalprice - {_RDD_CUT} AS x,
           CAST(o_orderpriority = '1-URGENT' AS DOUBLE) AS y,
           (o_totalprice >= {_RDD_CUT}) AS rt
    FROM orders
    WHERE o_totalprice >= {_RDD_CUT} - {_RDD_BW}
      AND o_totalprice < {_RDD_CUT} + {_RDD_BW}
),
s AS (
    SELECT rt, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
           sum(x * x) AS sxx, sum(y) AS sy, sum(x * y) AS sxy
    FROM w GROUP BY rt
),
fit AS (
    SELECT rt,
           n,
           (sy * sxx - sx * sxy) / (n * sxx - sx * sx) AS a,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b
    FROM s
)
SELECT CAST(l.n AS BIGINT) AS n_left, CAST(r.n AS BIGINT) AS n_right,
       {R('l.a', 6)} AS intercept_left,
       {R('r.a', 6)} AS intercept_right,
       {R('r.a - l.a', 6)} AS rdd_effect,
       {R('l.b * 1000', 6)} AS slope_left_per_k,
       {R('r.b * 1000', 6)} AS slope_right_per_k
FROM (SELECT * FROM fit WHERE NOT rt) l
CROSS JOIN (SELECT * FROM fit WHERE rt) r
"""


@register("regression_discontinuity", _RDD_SQL)
def regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp RDD at the price cutoff: urgent-priority share jump."""
    o = read_table(spark, sf_dir, "orders")
    w = o.filter(
        (F.col("o_totalprice") >= _RDD_CUT - _RDD_BW)
        & (F.col("o_totalprice") < _RDD_CUT + _RDD_BW)
    ).select(
        (F.col("o_totalprice") - _RDD_CUT).alias("x"),
        (F.col("o_orderpriority") == "1-URGENT")
        .cast("double")
        .alias("y"),
        (F.col("o_totalprice") >= _RDD_CUT).alias("rt"),
    )
    s = w.groupBy("rt").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fit = s.select(
        "rt",
        "n",
        ((F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / det)
        .alias("a"),
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det)
        .alias("b"),
    )
    # Pivot the 2-row fit frame with ONE conditional aggregate — a
    # filter-per-side pair of branches re-derived each side from its own
    # scan (2 fact scans for a 2-row frame).
    left = fit.agg(
        F.max(F.when(~F.col("rt"), F.col("n"))).alias("nl"),
        F.max(F.when(~F.col("rt"), F.col("a"))).alias("al"),
        F.max(F.when(~F.col("rt"), F.col("b"))).alias("bl"),
        F.max(F.when(F.col("rt"), F.col("n"))).alias("nr"),
        F.max(F.when(F.col("rt"), F.col("a"))).alias("ar"),
        F.max(F.when(F.col("rt"), F.col("b"))).alias("br"),
    )
    return left.select(
        F.col("nl").cast("long").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        dround(F.col("al"), 6).alias("intercept_left"),
        dround(F.col("ar"), 6).alias("intercept_right"),
        dround(F.col("ar") - F.col("al"), 6).alias("rdd_effect"),
        dround(F.col("bl") * 1000, 6).alias("slope_left_per_k"),
        dround(F.col("br") * 1000, 6).alias("slope_right_per_k"),
    )


# ===========================================================================
# LSH parameter planner: the S-curve P(candidate | s) = 1 - (1 - s^r)^b
# for each (bands, rows) configuration of a 16-signature MinHash budget,
# evaluated over a similarity grid — with each config's 50%-threshold
# approximation (1/b)^(1/r). The design table every LSH deployment reads
# before picking (b, r); pure arithmetic over a constant grid (no fact
# scan at all), generated identically in both engines.
# ===========================================================================

_LSH_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))  # (bands, rows): b*r = 16
_LSH_GRID = tuple(round(0.05 * i, 2) for i in range(1, 20))  # s = 0.05..0.95

_LSH_CURVE_SQL = f"""
WITH cfg(bands, rws) AS (
    VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)}
),
grid(s) AS (VALUES {", ".join(f"(CAST({s} AS DOUBLE))" for s in _LSH_GRID)})
SELECT CAST(c.bands AS BIGINT) AS bands, CAST(c.rws AS BIGINT) AS rws,
       {R('g.s', 2)} AS jaccard_s,
       {R('1.0 - pow(1.0 - pow(g.s, c.rws), c.bands)', 6)} AS p_candidate,
       {R('pow(1.0 / c.bands, 1.0 / c.rws)', 6)} AS threshold_50
FROM cfg c CROSS JOIN grid g
"""

register_sql("lsh_parameter_curve", _LSH_CURVE_SQL)


# ===========================================================================
# Mixture token allocation (largest-remainder / Hamilton method): turn
# the alpha=0.3 temperature weights into an INTEGER per-language token
# budget that sums exactly to the target. Floors first, then the
# largest fractional remainders (lang tie-break) absorb the shortfall —
# the standard way a sampler turns mixture weights into shard counts.
# Bounded language grain end to end.
# ===========================================================================

_ALLOC_BUDGET = 100_000

_ALLOC_SQL = f"""
WITH lt AS (
    SELECT lang, CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
               AS n_tokens
    FROM documents GROUP BY lang
),
t AS (SELECT sum(n_tokens) AS n FROM lt),
q AS (
    SELECT lang, pow(n_tokens / t.n, {_TEMP_ALPHA}) AS raw
    FROM lt CROSS JOIN t
),
z AS (SELECT sum(raw) AS z FROM q),
shares AS (
    SELECT lang, raw / z.z * {_ALLOC_BUDGET} AS ideal FROM q CROSS JOIN z
),
floors AS (
    SELECT lang, ideal, CAST(floor(ideal) AS BIGINT) AS fl,
           {R('ideal - floor(ideal)', 6)} AS frac
    FROM shares
),
short AS (
    SELECT CAST({_ALLOC_BUDGET} - sum(fl) AS BIGINT) AS k FROM floors
),
ranked AS (
    SELECT f.*, s.k,
           CAST(row_number() OVER (ORDER BY f.frac DESC, f.lang ASC)
                AS BIGINT) AS r
    FROM floors f CROSS JOIN short s
)
SELECT lang,
       {R('ideal', 4)} AS ideal_tokens,
       (fl + CASE WHEN r <= k THEN 1 ELSE 0 END) AS alloc_tokens,
       (r <= k) AS got_remainder
FROM ranked
"""


@register("mixture_token_allocation", _ALLOC_SQL)
def mixture_token_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder integer allocation of a 100k-token budget over
    the alpha=0.3 language mixture (allocations sum exactly to the
    budget; the global rank window covers |languages| rows —
    census-allowlisted bounded grain). Remainder ranks compare on the
    ROUNDED fraction so last-ULP drift cannot reorder ties."""
    d = read_table(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("double").alias("n_tokens")
    )
    t = lt.agg(F.sum("n_tokens").alias("n"))
    q = lt.crossJoin(F.broadcast(t)).select(
        "lang",
        F.pow(F.col("n_tokens") / F.col("n"), F.expr(_TEMP_ALPHA)).alias(
            "raw"
        ),
    )
    z = q.agg(F.sum("raw").alias("z"))
    shares = q.crossJoin(F.broadcast(z)).select(
        "lang", (F.col("raw") / F.col("z") * _ALLOC_BUDGET).alias("ideal")
    )
    floors = shares.select(
        "lang",
        "ideal",
        F.floor("ideal").cast("long").alias("fl"),
        dround(F.col("ideal") - F.floor("ideal"), 6).alias("frac"),
    )
    short = floors.agg(
        (F.lit(_ALLOC_BUDGET) - F.sum("fl")).cast("long").alias("k")
    )
    w = Window.orderBy(F.desc("frac"), F.asc("lang"))
    ranked = floors.crossJoin(F.broadcast(short)).select(
        "lang",
        "ideal",
        "fl",
        "k",
        F.row_number().over(w).cast("long").alias("r"),
    )
    return ranked.select(
        "lang",
        dround(F.col("ideal"), 4).alias("ideal_tokens"),
        (
            F.col("fl")
            + F.when(F.col("r") <= F.col("k"), 1).otherwise(0)
        ).cast("long").alias("alloc_tokens"),
        (F.col("r") <= F.col("k")).alias("got_remainder"),
    )


# ===========================================================================
# Offline bandit replay (Li et al. 2011's replay method, batched):
# replay an hourly UCB1 policy over the logged event stream — at each
# hour the policy picks the arm (event type) maximizing
# mean + sqrt(2 ln N / n) over the PRIOR hours' cumulative stats
# (unplayed arms first, ties lexicographic), and earns that hour's
# realized mean reward of the chosen arm. The standard counterfactual
# eval for "which action should the system have been taking" — all on
# the calendar-bounded hour grain: one fact rollup, two bounded-grain
# windows (per-arm cumulative, per-hour argmax).
#
# Engine-parity: the UCB score compares on dround(6), and cumulative
# stats are integer/sum monoids, so the argmax is identical in both
# engines.
# ===========================================================================

_UCB_SQL = f"""
WITH hourly AS (
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr, event_type AS act,
           CAST(count(*) AS DOUBLE) AS n, sum(value) AS sumr
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT hr, act,
           coalesce(sum(n) OVER (PARTITION BY act ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cn,
           coalesce(sum(sumr) OVER (PARTITION BY act ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cr,
           sum(n) OVER (PARTITION BY hr) AS hn,
           coalesce(sum(n) OVER (ORDER BY hr
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS totn,
           n, sumr
    FROM hourly
),
scored AS (
    SELECT hr, act, n, sumr,
           CASE WHEN cn = 0 THEN 1e18
                ELSE {R('cr / cn + sqrt(2.0 * ln(greatest(totn, 1.0)) / cn)',
                        6)} END AS ucb
    FROM cum
),
chosen AS (
    SELECT hr, act, sumr / n AS hour_mean
    FROM (SELECT *, row_number() OVER (PARTITION BY hr
              ORDER BY ucb DESC, act ASC) AS rk FROM scored)
    WHERE rk = 1
)
SELECT act AS arm,
       CAST(count(*) AS BIGINT) AS hours_chosen,
       {R('sum(hour_mean)', 4)} AS replay_reward,
       {R('avg(hour_mean)', 6)} AS mean_reward_when_chosen
FROM chosen GROUP BY act
"""


@register("bandit_ucb_replay", _UCB_SQL)
def bandit_ucb_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly UCB1 replay over the event log: per arm, how often the
    policy would have chosen it and the realized replay reward."""
    e = read_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("hr"),
        F.col("event_type").alias("act"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("value").alias("sumr"),
    )
    wact = (
        Window.partitionBy("act")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    whr = Window.partitionBy("hr")
    wtot = Window.orderBy("hr").rangeBetween(Window.unboundedPreceding, -1)
    cum = hourly.select(
        "hr",
        "act",
        "n",
        "sumr",
        F.coalesce(F.sum("n").over(wact), F.lit(0.0)).alias("cn"),
        F.coalesce(F.sum("sumr").over(wact), F.lit(0.0)).alias("cr"),
        F.coalesce(F.sum("n").over(wtot), F.lit(0.0)).alias("totn"),
    )
    ucb = F.when(F.col("cn") == 0, F.lit(1e18)).otherwise(
        dround(
            F.col("cr") / F.col("cn")
            + F.sqrt(
                2.0
                * F.log(F.greatest(F.col("totn"), F.lit(1.0)))
                / F.col("cn")
            ),
            6,
        )
    )
    scored = cum.select("hr", "act", "n", "sumr", ucb.alias("ucb"))
    wpick = Window.partitionBy("hr").orderBy(F.desc("ucb"), F.asc("act"))
    chosen = (
        scored.select(
            "hr",
            "act",
            (F.col("sumr") / F.col("n")).alias("hour_mean"),
            F.row_number().over(wpick).alias("rk"),
        )
        .filter(F.col("rk") == 1)
    )
    return chosen.groupBy(F.col("act").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("hours_chosen"),
        dround(F.sum("hour_mean"), 4).alias("replay_reward"),
        dround(F.avg("hour_mean"), 6).alias("mean_reward_when_chosen"),
    )


# ===========================================================================
# Gradient-boosted regression stumps, 2 rounds (Friedman 2001 with
# squared loss: each round fits a depth-1 tree to the residuals). The
# candidate thresholds are the order-date decile grid (one exact-
# percentile row, broadcast), each round's best split comes from ONE
# conditional-sum pass over the fact x 9-threshold broadcast (SSE from
# per-side monoid sums), and the argmin compares the ROUNDED per-row
# mean SSE (magnitude ~1e10, where dround(4) is meaningful — the raw
# ~1e13 SSE is beyond 4-decimal double precision) with a threshold
# tie-break so both engines pick the same split. Two rounds =
# two sweep passes + one final MSE pass over the cached (x, y) frame —
# fact scans independent of the grid width.
# ===========================================================================


def _gbm_round_sql(tgt: str, rnd: int) -> str:
    """One boosting round as CTEs: sweep{rnd} (per-threshold sums),
    best{rnd} (argmin SSE), fit{rnd} (1-row: threshold + side means)."""
    return f"""
sweep{rnd} AS (
    SELECT g.t,
           CAST(count(*) FILTER (WHERE b.x <= g.t) AS DOUBLE) AS nl,
           sum({tgt}) FILTER (WHERE b.x <= g.t) AS sl,
           sum({tgt} * {tgt}) FILTER (WHERE b.x <= g.t) AS ql,
           CAST(count(*) FILTER (WHERE b.x > g.t) AS DOUBLE) AS nr,
           sum({tgt}) FILTER (WHERE b.x > g.t) AS sr,
           sum({tgt} * {tgt}) FILTER (WHERE b.x > g.t) AS qr
    FROM base{rnd} b CROSS JOIN grid g
    GROUP BY g.t
),
best{rnd} AS (
    SELECT t, sl / nl AS ml, sr / nr AS mr
    FROM (SELECT *, row_number() OVER (ORDER BY
              {R('((ql - sl * sl / nl) + (qr - sr * sr / nr)) / (nl + nr)', 4)} ASC,
              t ASC) AS rk
          FROM sweep{rnd} WHERE nl > 0 AND nr > 0)
    WHERE rk = 1
)"""


_GBM_SQL = f"""
WITH base1 AS (
    SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) AS x,
           o_totalprice AS y
    FROM orders
),
grid AS (
    SELECT unnest(quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5,
                                    0.6, 0.7, 0.8, 0.9])) AS t
    FROM base1
),
{_gbm_round_sql('b.y', 1)},
base2 AS (
    SELECT b.x, b.y,
           b.y - CASE WHEN b.x <= f.t THEN f.ml ELSE f.mr END AS r
    FROM base1 b CROSS JOIN best1 f
),
{_gbm_round_sql('b.r', 2)},
mse AS (
    SELECT
        avg(pow(b.y - (CASE WHEN b.x <= f1.t THEN f1.ml ELSE f1.mr END),
                2)) AS mse1,
        avg(pow(b.y - (CASE WHEN b.x <= f1.t THEN f1.ml ELSE f1.mr END)
                    - (CASE WHEN b.x <= f2.t THEN f2.ml ELSE f2.mr END),
                2)) AS mse2,
        avg(pow(b.y - (SELECT avg(y) FROM base1), 2)) AS mse0
    FROM base1 b CROSS JOIN best1 f1 CROSS JOIN best2 f2
)
SELECT {R('f1.t', 1)} AS split_round1,
       {R('f1.ml', 4)} AS mean_left_r1, {R('f1.mr', 4)} AS mean_right_r1,
       {R('f2.t', 1)} AS split_round2,
       {R('f2.ml', 4)} AS mean_left_r2, {R('f2.mr', 4)} AS mean_right_r2,
       {R('m.mse0', 2)} AS mse_baseline,
       {R('m.mse1', 2)} AS mse_round1,
       {R('m.mse2', 2)} AS mse_round2
FROM best1 f1 CROSS JOIN best2 f2 CROSS JOIN mse m
"""


@register("gbm_stumps_two_rounds", _GBM_SQL)
def gbm_stumps_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two boosting rounds of regression stumps on order value vs date."""
    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        F.floor(F.col("o_orderdate").cast("long")).cast("long").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    base = pin(base)  # grid + 2 sweeps + MSE pass
    grid = base.agg(
        F.expr(
            "percentile(x, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D,"
            " 0.6D, 0.7D, 0.8D, 0.9D))"
        ).alias("ts")
    ).select(F.explode("ts").alias("t"))

    def best_split(df: DataFrame, tgt: str) -> DataFrame:
        left = F.col("x") <= F.col("t")
        sweep = df.crossJoin(F.broadcast(grid)).groupBy("t").agg(
            F.count(F.when(left, F.lit(1))).cast("double").alias("nl"),
            F.sum(F.when(left, F.col(tgt))).alias("sl"),
            F.sum(F.when(left, F.col(tgt) * F.col(tgt))).alias("ql"),
            F.count(F.when(~left, F.lit(1))).cast("double").alias("nr"),
            F.sum(F.when(~left, F.col(tgt))).alias("sr"),
            F.sum(F.when(~left, F.col(tgt) * F.col(tgt))).alias("qr"),
        )
        # argmin key is the per-row MEAN SSE: raw SSE here is ~1e12-1e13,
        # where dround(.,4) is a no-op (beyond double's 4-decimal range);
        # SSE/(nl+nr) is ~1e10, inside it. nl+nr == total rows for every
        # threshold, so the ordering itself is unchanged — only the
        # rounded-tie guarantee becomes real.
        sse = dround(
            (
                (F.col("ql") - F.col("sl") * F.col("sl") / F.col("nl"))
                + (F.col("qr") - F.col("sr") * F.col("sr") / F.col("nr"))
            )
            / (F.col("nl") + F.col("nr")),
            4,
        )
        return (
            sweep.filter((F.col("nl") > 0) & (F.col("nr") > 0))
            .orderBy(sse.asc(), F.col("t").asc())
            .limit(1)
            .select(
                "t",
                (F.col("sl") / F.col("nl")).alias("ml"),
                (F.col("sr") / F.col("nr")).alias("mr"),
            )
        )

    # r10: each best_split frame is a TakeOrdered chain over a
    # crossJoin-grid sweep; referenced lazily it RE-EXECUTES once per
    # consumer reference (the theil/CLAUDE.md 1-row-reducer rule — the
    # old plan carried ~6 TakeOrderedAndProject instances: f1's sweep
    # ran for base2->f2, for the MSE pass AND for the final row).
    # Collect each 1-row stump once and inline the values as literals:
    # sweep1 and sweep2 each execute exactly once, identical arithmetic.
    # Empty input (or a degenerate sweep with no two-sided split): the
    # pre-collect lazy shape joined against an empty 1-row frame and
    # returned no rows — preserve that instead of indexing into [].
    def empty_result() -> DataFrame:
        cols = ", ".join(
            f"CAST(NULL AS DOUBLE) AS {c}"
            for c in (
                "split_round1", "mean_left_r1", "mean_right_r1",
                "split_round2", "mean_left_r2", "mean_right_r2",
                "mse_baseline", "mse_round1", "mse_round2",
            )
        )
        return spark.sql(f"SELECT {cols} WHERE false")

    rows1 = best_split(base, "y").collect()
    if not rows1:
        return empty_result()
    r1 = rows1[0]
    base2 = base.select(
        "x",
        "y",
        (
            F.col("y")
            - F.when(F.col("x") <= F.lit(r1.t), F.lit(r1.ml)).otherwise(
                F.lit(r1.mr)
            )
        ).alias("r"),
    )
    rows2 = best_split(base2, "r").collect()
    if not rows2:
        return empty_result()
    r2 = rows2[0]
    pred1 = F.when(F.col("x") <= F.lit(r1.t), F.lit(r1.ml)).otherwise(
        F.lit(r1.mr)
    )
    pred2 = pred1 + F.when(F.col("x") <= F.lit(r2.t), F.lit(r2.ml)).otherwise(
        F.lit(r2.mr)
    )
    mu = base.agg(F.avg("y").alias("mu"))
    mse = (
        base.crossJoin(F.broadcast(mu))
        .agg(
            dround(
                F.avg(F.pow(F.col("y") - F.col("mu"), 2)), 2
            ).alias("mse_baseline"),
            dround(F.avg(F.pow(F.col("y") - pred1, 2)), 2).alias(
                "mse_round1"
            ),
            dround(F.avg(F.pow(F.col("y") - pred2, 2)), 2).alias(
                "mse_round2"
            ),
        )
    )
    return mse.select(
        dround(F.lit(r1.t), 1).alias("split_round1"),
        dround(F.lit(r1.ml), 4).alias("mean_left_r1"),
        dround(F.lit(r1.mr), 4).alias("mean_right_r1"),
        dround(F.lit(r2.t), 1).alias("split_round2"),
        dround(F.lit(r2.ml), 4).alias("mean_left_r2"),
        dround(F.lit(r2.mr), 4).alias("mean_right_r2"),
        "mse_baseline",
        "mse_round1",
        "mse_round2",
    )
