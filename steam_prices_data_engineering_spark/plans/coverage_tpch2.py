"""Second TPC-H-shaped coverage wave: the decorrelation-heavy query shapes
(Q13/Q17/Q19/Q21/Q22) plus statistical aggregates and distribution window
functions. The reference implements none of these (SURVEY.md §2a "explicitly
absent": subqueries, distinct agg, analytic windows); they complete the
standard analytic surface and exercise the plan shapes that dominate 100 TB
workloads: outer-join aggregation, correlated-subquery decorrelation into
pre-aggregated self-joins, disjunctive predicate pushdown, and double
EXISTS / NOT EXISTS correlation.

Each Spark implementation is the *decorrelated* join form a distributed
engine must run (no per-row subquery evaluation); each oracle keeps the
declarative correlated-subquery SQL, so the comparison proves the
decorrelation is semantics-preserving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_md5_hex6_to_int
from ..operators.ranking import prefix_sums_binned
from ..sources.tables import read_table, values_frame
from .registry import register, register_sql

# ===========================================================================
# TPC-H Q13 shape: customer order-count distribution. LEFT OUTER join with a
# predicate inside the join condition (so unmatched customers keep count 0),
# then a second aggregation over the first's result.
# ===========================================================================

_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
"""

register_sql("tpch_q13_customer_distribution", _Q13_SQL)


# ===========================================================================
# TPC-H Q17 shape: correlated aggregate subquery (per-part average quantity)
# decorrelated into a pre-aggregated self-join.
# ===========================================================================

_Q17_SQL = f"""
SELECT {R('sum(l_extendedprice) / 7.0', 2)} AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
      SELECT 0.5 * avg(l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = part.p_partkey
  )
"""

register_sql("tpch_q17_small_quantity_revenue", _Q17_SQL)


# ===========================================================================
# TPC-H Q19 shape: disjunctive OR-of-ANDs predicate spanning both join sides.
# ===========================================================================

_Q19_SQL = f"""
SELECT {R("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""

register_sql("tpch_q19_disjunctive_revenue", _Q19_SQL)


# ===========================================================================
# TPC-H Q21 shape: EXISTS + NOT EXISTS double correlation (suppliers who were
# the only late shipper on a multi-supplier finalized order). Adapted to the
# fixture schema: "late" = shipped >60 days after the order date (lineitem
# has no commit/receipt dates).
# ===========================================================================

_Q21_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
"""


@register("tpch_q21_sole_late_supplier", _Q21_SQL)
def tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both correlated quantifiers collapse into per-order WINDOW aggregates
    over the joined fact: EXISTS(other supplier) == distinct supplier count
    > 1, NOT EXISTS(other late supplier) == distinct LATE supplier count
    == 1, both as size(collect_set(..)) over (partition by l_orderkey).
    The window form scans lineitem ONCE and shuffles it once (a groupBy +
    self-join form scans and shuffles it twice — Spark does not materialize
    shared subplans); per-order line counts are small, so the collected
    sets stay tiny at any scale."""
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    base = l.join(o, l.l_orderkey == o.o_orderkey)
    late = F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY")
    w = Window.partitionBy("l_orderkey")
    per_line = base.select(
        "l_suppkey",
        late.alias("is_late"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(late, F.col("l_suppkey"))).over(w)
        ).alias("n_late_supp"),
    )
    return (
        per_line.filter(
            F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ===========================================================================
# TPC-H Q22 shape: scalar aggregate subquery threshold + NOT EXISTS anti
# join (rich customers with no urgent order, per nation). The fixture
# generator gives nearly every customer at least one order, so "no order at
# all" would be a degenerate empty anti join; "no URGENT order" keeps the
# identical plan shape (the priority predicate pushes into the anti-join
# build side's scan) with a non-trivial result.
# ===========================================================================

_Q22_SQL = f"""
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       {R('sum(c_acctbal)', 2)} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_nationkey
"""


@register("tpch_q22_dormant_rich_customers", _Q22_SQL)
def tpch_q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar subquery becomes a 1-row aggregate broadcast-crossJoined
    onto every customer (no driver collect — the threshold never leaves the
    cluster); NOT EXISTS becomes a LEFT ANTI join on the order keys. Anti
    joins cannot broadcast their probe side, so at scale this shuffles both
    sides on custkey — the one unavoidable exchange here."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    threshold = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("bal_threshold")
    )
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("bal_threshold"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dround(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ===========================================================================
# Statistical aggregates: correlation / covariance / spread / regression.
# Spark and DuckDB share the two-pass-free single-pass formulations, so the
# results agree to the dround scale.
# ===========================================================================

_STATS_SQL = f"""
SELECT l_returnflag,
       {R('corr(l_quantity, l_extendedprice)', 6)} AS corr_qty_price,
       {R('covar_samp(l_quantity, l_extendedprice)', 2)} AS covar_qty_price,
       {R('stddev_samp(l_discount)', 6)} AS sd_disc,
       {R('var_samp(l_quantity)', 4)} AS var_qty,
       {R('regr_slope(l_extendedprice, l_quantity)', 4)} AS slope_price_qty,
       {R('regr_intercept(l_extendedprice, l_quantity)', 2)} AS icept_price_qty
FROM lineitem
GROUP BY l_returnflag
"""

register_sql("stats_corr_regr_by_flag", _STATS_SQL)


# ===========================================================================
# Distribution window functions: ntile / percent_rank / cume_dist plus
# value-positional first/last/nth with an explicit full frame.
# ===========================================================================

_DISTRIB_SQL = f"""
SELECT c_custkey,
       CAST(ntile(4) OVER w AS BIGINT) AS bal_quartile,
       {R('percent_rank() OVER w', 6)} AS pct_rank,
       {R('cume_dist() OVER w', 6)} AS cume,
       {R('first_value(c_acctbal) OVER wf', 2)} AS seg_min_bal,
       {R('last_value(c_acctbal) OVER wf', 2)} AS seg_max_bal,
       {R('nth_value(c_acctbal, 2) OVER wf', 2)} AS seg_2nd_bal
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
       wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

register_sql("window_distribution_funcs", _DISTRIB_SQL)


# ---------------------------------------------------------------------------
# Chi-square test of independence over the (mktsegment x nation-region)
# contingency table: the categorical-association screen behind feature
# selection and drift detection. Observed counts come from ONE map-side-
# combined aggregate; row/column marginals re-aggregate the tiny cell
# table (never the facts); expected = row_total * col_total / n. The
# statistic and per-cell contributions are released with the cell table,
# so the oracle verifies the whole computation, not just the scalar.
# ---------------------------------------------------------------------------

_CHISQ_SQL = f"""
WITH cells AS (
    SELECT c_mktsegment AS seg, n.n_regionkey AS region, count(*) AS o
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
),
marg AS (
    SELECT seg, region, o,
           sum(o) OVER (PARTITION BY seg) AS row_t,
           sum(o) OVER (PARTITION BY region) AS col_t,
           sum(o) OVER () AS n
    FROM cells
)
SELECT seg, region,
       CAST(o AS BIGINT) AS observed,
       {R('row_t * col_t / CAST(n AS DOUBLE)', 4)} AS expected,
       {R('pow(o - row_t * col_t / CAST(n AS DOUBLE), 2) / (row_t * col_t / CAST(n AS DOUBLE))', 6)} AS chi2_part
FROM marg
"""

register_sql("chisq_segment_region", _CHISQ_SQL)


# ---------------------------------------------------------------------------
# Poisson bootstrap: the scalable bootstrap (Chamandy et al., Google 2012)
# — classical resampling needs B passes over shuffled copies; the Poisson
# form draws each row's multiplicity in resample b as Poisson(1),
# INDEPENDENTLY per row, so all B resample means ride ONE scan as 2*B
# unrolled aggregate columns (sum(w*x), sum(w)) with map-side partials.
# Multiplicities come from the deterministic per-(row, b) md5-hex6 hash
# through the Poisson(1) inverse CDF (cumulative thresholds 1/e, 2/e,
# 2.5/e, ...), so both engines replay the identical draw and the CI is
# hash-verifiable. The B means reduce to a 1-row (point, lo, hi) via
# exact percentiles over B=16 values — driver-free end to end.
# ---------------------------------------------------------------------------

_BOOT_B = 16
# Affine rehash params (odd multipliers, both engines): draw b's uniform
# comes from ONE md5 per row rehashed per resample — 16 md5s per row blew
# whole-stage codegen past its limits and ran interpreted (13s -> <2s at
# sf0.01; same statistical contract, the repo's MinHash-permutation idiom).
_BOOT_MOD = 1 << 24
_BOOT_PARAMS = tuple(
    ((2_654_435_761 + 2 * 1_299_709 * b) % (1 << 24) | 1,
     (40_503 + 9_176_213 * b) % (1 << 24))
    for b in range(_BOOT_B)
)
# P[Poisson(1) <= k] for k = 0..5; u beyond the last threshold -> 6.
_POIS_CDF = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406)


def _pois_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE 6 END)"


def _bootstrap_sql() -> str:
    # Staged projections, single md5 per row: h -> u0..u15 via affine
    # rehash -> w0..w15 via the Poisson CASE -> 2B sums. (Inlining 16
    # md5s per row was both a 74 KB oracle and a codegen blowout.)
    ucols = [
        f"((h * {a} + {c}) % {_BOOT_MOD} + 0.5) / {float(_BOOT_MOD)} AS u{b}"
        for b, (a, c) in enumerate(_BOOT_PARAMS)
    ]
    wcols = [f"{_pois_sql(f'u{b}')} AS w{b}" for b in range(_BOOT_B)]
    aggcols = []
    for b in range(_BOOT_B):
        aggcols.append(f"sum(w{b} * x) AS sx{b}")
        aggcols.append(f"CAST(sum(w{b}) AS BIGINT) AS sw{b}")
    means_rows = " UNION ALL ".join(
        f"SELECT sx{b} / sw{b} AS m FROM agg" for b in range(_BOOT_B)
    )
    rowkey = "concat_ws('', l_orderkey, '-', l_linenumber)"
    return f"""
WITH h AS (
    SELECT l_extendedprice AS x, {sql_md5_hex6_to_int(rowkey)} AS h
    FROM lineitem
),
u AS (SELECT x, {", ".join(ucols)} FROM h),
w AS (SELECT x, {", ".join(wcols)} FROM u),
agg AS (
    SELECT {R('avg(x)', 4)} AS point, {", ".join(aggcols)}
    FROM w
),
means AS ({means_rows})
SELECT agg.point,
       {R('quantile_cont(m, 0.025)', 4)} AS ci_lo,
       {R('quantile_cont(m, 0.975)', 4)} AS ci_hi,
       CAST({_BOOT_B} AS BIGINT) AS n_resamples
FROM means CROSS JOIN agg
GROUP BY agg.point
"""


@register("bootstrap_mean_ci", _bootstrap_sql())
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for mean(l_extendedprice), B=16 resamples
    in ONE pass (2B unrolled aggregates, deterministic hash-driven
    Poisson(1) multiplicities from one md5 + per-resample affine rehash),
    percentile reduction over the B means."""
    from ..functions.text import md5_hex6_to_int
    from ..sources.tables import spread

    li = read_table(spark, sf_dir, "lineitem")
    def pois(u):
        expr = F.lit(6)
        for k, c in reversed(list(enumerate(_POIS_CDF))):
            expr = F.when(u < c, k).otherwise(expr)
        return expr

    rowkey = F.concat_ws(
        "", F.col("l_orderkey").cast("string"), F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    # spread() a NARROW 3-column projection before the per-row md5 + 16
    # affine rehashes: the single-file landing splits into ~3 tasks, which
    # starves the one CPU-heavy stage of this plan (measured 4.9s -> 2.8s
    # at sf0.1; shipping only (price, orderkey, linenumber) keeps the
    # exchange cheap).
    narrow = spread(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber")
    )
    hashed = narrow.select(
        F.col("l_extendedprice").alias("x"),
        md5_hex6_to_int(rowkey).alias("h"),
    )
    wcols = [F.col("x")]
    for b, (a, c) in enumerate(_BOOT_PARAMS):
        u = ((F.col("h") * a + c) % _BOOT_MOD + 0.5) / float(_BOOT_MOD)
        wcols.append(pois(u).alias(f"w{b}"))
    staged = hashed.select(*wcols)
    aggs = [dround(F.avg("x"), 4).alias("point")]
    for b in range(_BOOT_B):
        aggs.append(F.sum(F.col(f"w{b}") * F.col("x")).alias(f"sx{b}"))
        aggs.append(F.sum(f"w{b}").cast("long").alias(f"sw{b}"))
    agg = staged.agg(*aggs)
    stack_expr = "stack({n}, {pairs}) as (m)".format(
        n=_BOOT_B,
        pairs=", ".join(f"sx{b} / sw{b}" for b in range(_BOOT_B)),
    )
    means = agg.select("point", F.expr(stack_expr))
    return means.groupBy("point").agg(
        dround(F.percentile(F.col("m"), F.lit(0.025)), 4).alias("ci_lo"),
        dround(F.percentile(F.col("m"), F.lit(0.975)), 4).alias("ci_hi"),
        F.lit(_BOOT_B).cast("long").alias("n_resamples"),
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis: Welch's unequal-variance t statistic per event
# type, arms assigned deterministically by user-id parity (the hash-split
# discipline of trainset_hash_split: reproducible under any partitioning,
# no rand()). Both arms' (n, sum, sum-sq) ride ONE map-side-combined
# aggregate via conditional sums — one fact scan for the whole report;
# means/variances/t/df derive from the six monoid columns, so the oracle
# proves the full Welch algebra including the Satterthwaite df.
# ---------------------------------------------------------------------------

_AB_SQL = f"""
WITH agg AS (
    SELECT event_type,
           count(*) FILTER (user_id % 2 = 0) AS na,
           sum(value) FILTER (user_id % 2 = 0) AS sa,
           sum(value * value) FILTER (user_id % 2 = 0) AS qa,
           count(*) FILTER (user_id % 2 = 1) AS nb,
           sum(value) FILTER (user_id % 2 = 1) AS sb,
           sum(value * value) FILTER (user_id % 2 = 1) AS qb
    FROM events GROUP BY event_type
),
d AS (
    SELECT event_type, na, nb,
           sa / na AS ma, sb / nb AS mb,
           (qa - sa * sa / na) / (na - 1) AS va,
           (qb - sb * sb / nb) / (nb - 1) AS vb
    FROM agg
)
SELECT event_type,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       {R('ma', 6)} AS mean_a, {R('mb', 6)} AS mean_b,
       {R('(ma - mb) / sqrt(va / na + vb / nb)', 6)} AS t_stat,
       {R("pow(va / na + vb / nb, 2) / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1))", 4)} AS welch_df
FROM d
"""


@register("ab_test_welch", _AB_SQL)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t per event type between the even/odd user-id arms: one
    conditional-sum scan, statistics derived from monoid columns."""
    e = read_table(spark, sf_dir, "events")
    arm_a = F.col("user_id") % 2 == 0

    def cs(cond, col):
        return F.sum(F.when(cond, col))

    agg = e.groupBy("event_type").agg(
        F.count(F.when(arm_a, F.lit(1))).alias("na"),
        cs(arm_a, F.col("value")).alias("sa"),
        cs(arm_a, F.col("value") * F.col("value")).alias("qa"),
        F.count(F.when(~arm_a, F.lit(1))).alias("nb"),
        cs(~arm_a, F.col("value")).alias("sb"),
        cs(~arm_a, F.col("value") * F.col("value")).alias("qb"),
    )
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    va = (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    se2a = va / F.col("na")
    se2b = vb / F.col("nb")
    return agg.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        dround(ma, 6).alias("mean_a"),
        dround(mb, 6).alias("mean_b"),
        dround((ma - mb) / F.sqrt(se2a + se2b), 6).alias("t_stat"),
        dround(
            F.pow(se2a + se2b, 2)
            / (
                F.pow(se2a, 2) / (F.col("na") - 1)
                + F.pow(se2b, 2) / (F.col("nb") - 1)
            ),
            4,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng et al. 2013): adjust each user's
# experiment-period metric by their PRE-period covariate,
# y' = y - theta * (x - mean(x)) with theta = cov(x, y) / var(x) pooled
# across arms — the industry-standard trick that cuts A/B metric
# variance by the covariate's R^2 without biasing the treatment effect
# (E[x] is arm-independent under randomization). Plan: ONE conditional-
# sum scan builds the per-user (pre, post) table; theta and mean(x) are
# a 1-row broadcast of explicit moments; per-arm adjusted stats
# re-aggregate the compact user table. Variance columns come from
# explicit (sum, sum-sq) folds — engine-identical.
# ---------------------------------------------------------------------------


_CUPED_SQL = f"""
WITH cut AS (
    -- data-derived midpoint: robust to fixture regeneration (a hardcoded
    -- epoch would put all events on one side and zero the covariate)
    SELECT CAST(floor((min(floor(epoch(ts))) + max(floor(epoch(ts)))) / 2)
                AS BIGINT) AS mid
    FROM events
),
per_user AS (
    SELECT user_id, user_id % 2 AS arm,
           CAST(coalesce(sum(value) FILTER (floor(epoch(ts)) < cut.mid), 0.0) AS DOUBLE) AS x,
           CAST(coalesce(sum(value) FILTER (floor(epoch(ts)) >= cut.mid), 0.0) AS DOUBLE) AS y
    FROM events CROSS JOIN cut GROUP BY user_id
),
mom AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy
    FROM per_user
),
t AS (
    SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
           sx / n AS mean_x
    FROM mom
),
adj AS (
    SELECT arm, y, y - t.theta * (x - t.mean_x) AS y_adj, t.theta
    FROM per_user CROSS JOIN t
)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(count(*) AS BIGINT) AS n_users,
       {R('avg(y)', 6)} AS mean_y,
       {R('avg(y_adj)', 6)} AS mean_y_adj,
       {R('(sum(y * y) - sum(y) * sum(y) / count(*)) / (count(*) - 1)', 4)} AS var_y,
       {R('(sum(y_adj * y_adj) - sum(y_adj) * sum(y_adj) / count(*)) / (count(*) - 1)', 4)} AS var_y_adj,
       {R('any_value(theta)', 6)} AS theta
FROM adj GROUP BY arm
"""


@register("ab_cuped_adjusted", _CUPED_SQL)
def ab_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted per-arm experiment metrics: raw vs adjusted mean
    and variance plus the pooled theta."""
    e = read_table(spark, sf_dir, "events")
    cut = e.agg(
        F.floor(
            (F.min(F.col("ts").cast("long")) + F.max(F.col("ts").cast("long")))
            / 2
        )
        .cast("long")
        .alias("mid")
    )
    e = e.crossJoin(F.broadcast(cut))
    pre = F.col("ts").cast("long") < F.col("mid")
    per_user = e.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, F.col("value"))), F.lit(0.0))
        .cast("double")
        .alias("x"),
        F.coalesce(F.sum(F.when(~pre, F.col("value"))), F.lit(0.0))
        .cast("double")
        .alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    t = mom.select(
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("theta"),
        (F.col("sx") / F.col("n")).alias("mean_x"),
    )
    adj = per_user.crossJoin(F.broadcast(t)).select(
        "arm",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mean_x"))).alias(
            "y_adj"
        ),
        "theta",
    )

    def svar(c):
        return (
            F.sum(F.col(c) * F.col(c))
            - F.sum(c) * F.sum(c) / F.count(F.lit(1))
        ) / (F.count(F.lit(1)) - 1)

    return adj.groupBy(F.col("arm").cast("long").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        dround(F.avg("y"), 6).alias("mean_y"),
        dround(F.avg("y_adj"), 6).alias("mean_y_adj"),
        dround(svar("y"), 4).alias("var_y"),
        dround(svar("y_adj"), 4).alias("var_y_adj"),
        dround(F.first("theta"), 6).alias("theta"),
    )


# ---------------------------------------------------------------------------
# Spend-concentration report: the Gini coefficient of per-customer spend,
# computed from the rank-sum identity G = 2*sum(r_i x_i)/(n*sum x)
# - (n+1)/n with tie groups assigned their exact rank SPAN (a group of c
# equal values v after R predecessors contributes v*(c*R + c(c+1)/2)).
# The scale move mirrors `auc_quality_gate`: reduce to DISTINCT spend
# values first, run the cumulative window over that compact table, and
# never rank individual customers globally.
# ---------------------------------------------------------------------------

_GINI_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey, {R('sum(o_totalprice)', 2)} AS v
    FROM orders GROUP BY o_custkey
),
grp AS (
    SELECT v, CAST(count(*) AS DOUBLE) AS c FROM per_cust GROUP BY v
),
cum AS (
    SELECT v, c,
           coalesce(sum(c) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS r0
    FROM grp
),
agg AS (
    SELECT sum(c) AS n, sum(c * v) AS s,
           sum(v * (c * r0 + c * (c + 1) / 2)) AS rs
    FROM cum
)
SELECT CAST(n AS BIGINT) AS n_customers,
       {R('s', 2)} AS total_spend,
       {R('2.0 * rs / (n * s) - (n + 1.0) / n', 6)} AS gini
FROM agg
"""


@register("gini_spend_concentration", _GINI_SQL)
def gini_spend_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer total spend (tie-exact rank-sum
    form over distinct spend values).

    The exclusive cumulative rank r0 comes from
    `operators.ranking.prefix_sums_binned` (bin-partitioned two-phase
    prefix sum), not a partition-less window — distinct spend values
    scale with |customers|, so the global-window form would one-task at
    100 TB. r0 sums integer-valued counts, so the two-phase
    re-association is bit-exact vs the oracle's sequential window."""
    o = read_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        dround(F.sum("o_totalprice"), 2).alias("v")
    )
    grp = per_cust.groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    cum = prefix_sums_binned(
        grp, F.col("v"), {"r0": F.col("c")}, exclusive=True
    )
    agg = cum.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("v")).alias("s"),
        F.sum(
            F.col("v")
            * (
                F.col("c") * F.col("r0")
                + F.col("c") * (F.col("c") + 1) / 2
            )
        ).alias("rs"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        dround(F.col("s"), 2).alias("total_spend"),
        dround(
            2.0 * F.col("rs") / (F.col("n") * F.col("s"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Post-stratified treatment effect: the A/B estimate re-weighted within
# activity strata — guards against an activity imbalance between arms
# biasing the naive difference (and typically cuts variance, CUPED's
# blunt cousin). Users land in quartile strata of EVENT COUNT via four
# broadcast percentile thresholds (the ntile-free bucketing helper
# pattern); each stratum reports its per-arm means and difference, so
# the pooled ATE = sum(w_s * ate_s) is reconstructible from the rows.
# ---------------------------------------------------------------------------

_STRATA_SQL = f"""
WITH per_user AS (
    SELECT user_id, user_id % 2 AS arm,
           CAST(count(*) AS DOUBLE) AS v,
           sum(value) AS y
    FROM events GROUP BY user_id
),
th AS (
    SELECT {", ".join(f"{R(f'quantile_cont(v, {q / 4})', 6)} AS t{q}" for q in range(1, 4))}
    FROM per_user
),
strat AS (
    SELECT arm, y,
           ({" + ".join(f"CASE WHEN v > t{q} THEN 1 ELSE 0 END" for q in range(1, 4))}) AS stratum
    FROM per_user CROSS JOIN th
)
SELECT stratum,
       CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_a,
       CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_b,
       {R('avg(y) FILTER (arm = 0)', 6)} AS mean_a,
       {R('avg(y) FILTER (arm = 1)', 6)} AS mean_b,
       {R('avg(y) FILTER (arm = 0) - avg(y) FILTER (arm = 1)', 6)} AS ate
FROM strat GROUP BY stratum
"""


@register("ab_stratified_ate", _STRATA_SQL)
def ab_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-activity-stratum arm means and treatment-effect estimate
    (quartile strata from broadcast thresholds over per-user counts)."""
    e = read_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("value").alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    th = per_user.agg(
        *[
            dround(F.percentile(F.col("v"), F.lit(q / 4)), 6).alias(f"t{q}")
            for q in range(1, 4)
        ]
    )
    stratum = sum(
        F.when(F.col("v") > F.col(f"t{q}"), 1).otherwise(0)
        for q in range(1, 4)
    )
    strat = per_user.crossJoin(F.broadcast(th)).select(
        "arm", "y", stratum.alias("stratum")
    )

    def arm_avg(a):
        return F.avg(F.when(F.col("arm") == a, F.col("y")))

    return strat.groupBy("stratum").agg(
        F.count(F.when(F.col("arm") == 0, F.lit(1)))
        .cast("long")
        .alias("n_a"),
        F.count(F.when(F.col("arm") == 1, F.lit(1)))
        .cast("long")
        .alias("n_b"),
        dround(arm_avg(0), 6).alias("mean_a"),
        dround(arm_avg(1), 6).alias("mean_b"),
        dround(arm_avg(0) - arm_avg(1), 6).alias("ate"),
    )


# ---------------------------------------------------------------------------
# Pareto concentration: exact share of total spend held by the top 1% /
# 10% / 20% of customers. Tie-exact via the uniform straddle formula —
# for cutoff k, a value group of c customers after R predecessors (in
# DESCENDING spend order) contributes v * least(c, greatest(0, k - R)):
# full if inside, pro-rated if straddling, zero if outside. Cumulative
# windows over DISTINCT spend values (the Gini/AUC scale pattern); the
# three fractions are a broadcast dim over the same compact table.
# ---------------------------------------------------------------------------

_PARETO_FRACS = (0.01, 0.1, 0.2)

_PARETO_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey, {R('sum(o_totalprice)', 2)} AS v
    FROM orders GROUP BY o_custkey
),
grp AS (
    SELECT v, CAST(count(*) AS DOUBLE) AS c FROM per_cust GROUP BY v
),
cum AS (
    SELECT v, c,
           coalesce(sum(c) OVER (ORDER BY v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS r0
    FROM grp
),
tot AS (SELECT sum(c) AS n, sum(c * v) AS s FROM cum),
f AS (SELECT CAST(unnest([{", ".join(str(x) for x in _PARETO_FRACS)}]) AS DOUBLE) AS pct)
SELECT f.pct,
       CAST(floor(f.pct * tot.n) AS BIGINT) AS top_k,
       {R('sum(v * least(c, greatest(0.0, floor(f.pct * tot.n) - r0))) / tot.s', 6)}
           AS spend_share
FROM cum CROSS JOIN tot CROSS JOIN f
GROUP BY f.pct, tot.n, tot.s
"""


@register("pareto_spend_share", _PARETO_SQL)
def pareto_spend_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-1%/10%/20% spend concentration with tie pro-rating.

    Descending exclusive rank r0 via
    `operators.ranking.prefix_sums_binned` (integer-valued counts —
    bit-exact two-phase), never a partition-less window over the
    distinct-spend grain."""
    o = read_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        dround(F.sum("o_totalprice"), 2).alias("v")
    )
    grp = per_cust.groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    cum = prefix_sums_binned(
        grp, F.col("v"), {"r0": F.col("c")}, desc=True, exclusive=True
    )
    tot = cum.agg(
        F.sum("c").alias("n"), F.sum(F.col("c") * F.col("v")).alias("s")
    )
    fracs = values_frame(
        o.sparkSession, [(float(x),) for x in _PARETO_FRACS], ["pct"]
    )
    k = F.floor(F.col("pct") * F.col("n"))
    contrib = F.col("v") * F.least(
        F.col("c"), F.greatest(F.lit(0.0), k - F.col("r0"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(fracs))
        .groupBy("pct", "n", "s")
        .agg(
            F.first(k).cast("long").alias("top_k"),
            dround(F.sum(contrib) / F.first("s"), 6).alias("spend_share"),
        )
        .select(
            "pct",
            "top_k",
            "spend_share",
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (Card & Krueger 1994's workhorse causal
# design): arms by the deterministic user-id parity split, periods by
# the midpoint of the event-time range; DiD = (post_t - pre_t) -
# (post_c - pre_c) over per-event value means, plus the parallel-trends
# diagnostic (the same contrast across the two PRE half-periods — the
# assumption check every DiD readout must ship with). One fact scan:
# the time cuts ride a broadcast 1-row min/max aggregate and every
# estimate is a conditional mean off the same map-side-combined pass.
# ---------------------------------------------------------------------------

_DID_SQL = f"""
WITH bounds AS (
    SELECT min(floor(epoch(ts))) AS lo,
           min(floor(epoch(ts)))
             + CAST(floor((max(floor(epoch(ts))) - min(floor(epoch(ts)))) / 2.0) AS BIGINT) AS cut,
           min(floor(epoch(ts)))
             + CAST(floor((max(floor(epoch(ts))) - min(floor(epoch(ts)))) / 4.0) AS BIGINT) AS q1
    FROM events
),
tagged AS (
    SELECT user_id % 2 AS arm, value,
           CASE WHEN floor(epoch(ts)) < cut THEN 0 ELSE 1 END AS post,
           CASE WHEN floor(epoch(ts)) < q1 THEN 0 ELSE 1 END AS prehalf
    FROM events CROSS JOIN bounds
)
SELECT
    {R("avg(value) FILTER (arm = 0 AND post = 0)", 6)} AS mean_pre_c,
    {R("avg(value) FILTER (arm = 1 AND post = 0)", 6)} AS mean_pre_t,
    {R("avg(value) FILTER (arm = 0 AND post = 1)", 6)} AS mean_post_c,
    {R("avg(value) FILTER (arm = 1 AND post = 1)", 6)} AS mean_post_t,
    {R("(avg(value) FILTER (arm = 1 AND post = 1) - avg(value) FILTER (arm = 1 AND post = 0))"
       " - (avg(value) FILTER (arm = 0 AND post = 1) - avg(value) FILTER (arm = 0 AND post = 0))", 6)} AS did,
    {R("(avg(value) FILTER (arm = 1 AND post = 0 AND prehalf = 1) - avg(value) FILTER (arm = 1 AND post = 0 AND prehalf = 0))"
       " - (avg(value) FILTER (arm = 0 AND post = 0 AND prehalf = 1) - avg(value) FILTER (arm = 0 AND post = 0 AND prehalf = 0))", 6)} AS pretrend_gap
FROM tagged
"""


@register("ab_difference_in_differences", _DID_SQL)
def ab_difference_in_differences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DiD estimate of the parity-arm effect on event value across the
    midpoint time split, with the parallel-pre-trends gap diagnostic."""
    e = read_table(spark, sf_dir, "events")
    ep = F.floor(F.col("ts").cast("long")).cast("long")
    bounds = e.agg(
        F.min(ep).alias("lo"),
        (
            F.min(ep)
            + F.floor((F.max(ep) - F.min(ep)) / 2.0).cast("long")
        ).alias("cut"),
        (
            F.min(ep)
            + F.floor((F.max(ep) - F.min(ep)) / 4.0).cast("long")
        ).alias("q1"),
    )
    tagged = e.crossJoin(F.broadcast(bounds)).select(
        (F.col("user_id") % 2).alias("arm"),
        "value",
        F.when(ep < F.col("cut"), 0).otherwise(1).alias("post"),
        F.when(ep < F.col("q1"), 0).otherwise(1).alias("prehalf"),
    )

    def m(arm, post, prehalf=None):
        cond = (F.col("arm") == arm) & (F.col("post") == post)
        if prehalf is not None:
            cond = cond & (F.col("prehalf") == prehalf)
        return F.avg(F.when(cond, F.col("value")))

    did = (m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0))
    pretrend = (m(1, 0, 1) - m(1, 0, 0)) - (m(0, 0, 1) - m(0, 0, 0))
    return tagged.agg(
        dround(m(0, 0), 6).alias("mean_pre_c"),
        dround(m(1, 0), 6).alias("mean_pre_t"),
        dround(m(0, 1), 6).alias("mean_post_c"),
        dround(m(1, 1), 6).alias("mean_post_t"),
        dround(did, 6).alias("did"),
        dround(pretrend, 6).alias("pretrend_gap"),
    )


# ---------------------------------------------------------------------------
# Uplift decile / Qini report (Radcliffe 2007's Qini curve — the
# standard offline readout for targeting policies): users scored by
# PRE-period activity, outcome = POST-period value, treatment = the
# deterministic parity arm. Each score decile reports per-arm means and
# uplift; the cumulative (descending-score) Qini statistic
# cum_y_t - cum_y_c * cum_n_t / cum_n_c estimates incremental outcome
# among the targeted fraction. Scale shape: one user-grain conditional
# aggregate (time cut from a broadcast 1-row min/max), decile strata via
# nine broadcast percentile thresholds (the ntile-free bucketing
# helper pattern), and the cumulative sums ride a <= 10 x 10 broadcast
# theta-join over the constant decile grid — no window anywhere.
# ---------------------------------------------------------------------------

_QINI_SQL = f"""
WITH bounds AS (
    SELECT min(floor(epoch(ts)))
             + CAST(floor((max(floor(epoch(ts))) - min(floor(epoch(ts)))) / 2.0) AS BIGINT) AS cut
    FROM events
),
per_user AS (
    SELECT user_id, user_id % 2 AS arm,
           CAST(count(*) FILTER (floor(epoch(ts)) < cut) AS DOUBLE) AS score,
           coalesce(sum(value) FILTER (floor(epoch(ts)) >= cut), 0.0) AS y
    FROM events CROSS JOIN bounds
    GROUP BY user_id
),
th AS (
    SELECT {", ".join(f"{R(f'quantile_cont(score, {q / 10.0})', 6)} AS t{q}" for q in range(1, 10))}
    FROM per_user
),
strat AS (
    SELECT arm, y,
           ({" + ".join(f"CASE WHEN score > t{q} THEN 1 ELSE 0 END" for q in range(1, 10))}) AS decile
    FROM per_user CROSS JOIN th
),
cells AS (
    SELECT decile,
           CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_t,
           CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_c,
           coalesce(sum(y) FILTER (arm = 1), 0.0) AS y_t,
           coalesce(sum(y) FILTER (arm = 0), 0.0) AS y_c
    FROM strat GROUP BY decile
),
cum AS (
    SELECT a.decile, a.n_t, a.n_c, a.y_t, a.y_c,
           sum(b.n_t) AS cn_t, sum(b.n_c) AS cn_c,
           sum(b.y_t) AS cy_t, sum(b.y_c) AS cy_c
    FROM cells a JOIN cells b ON b.decile >= a.decile
    GROUP BY 1, 2, 3, 4, 5
)
SELECT decile, n_t, n_c,
       {R("CASE WHEN n_t > 0 THEN y_t / n_t END", 6)} AS mean_t,
       {R("CASE WHEN n_c > 0 THEN y_c / n_c END", 6)} AS mean_c,
       {R("CASE WHEN n_t > 0 AND n_c > 0 THEN y_t / n_t - y_c / n_c END", 6)} AS uplift,
       {R("CASE WHEN cn_c > 0 THEN cy_t - cy_c * cn_t / cn_c END", 6)} AS qini
FROM cum
"""


@register("ab_uplift_qini", _QINI_SQL)
def ab_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile uplift and cumulative Qini statistic for the parity
    arm, scored by pre-period activity, measured on post-period value."""
    e = read_table(spark, sf_dir, "events")
    ep = F.floor(F.col("ts").cast("long")).cast("long")
    bounds = e.agg(
        (
            F.min(ep) + F.floor((F.max(ep) - F.min(ep)) / 2.0).cast("long")
        ).alias("cut")
    )
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(ep < F.col("cut"), 1).otherwise(0))
            .cast("double")
            .alias("score"),
            F.coalesce(
                F.sum(F.when(ep >= F.col("cut"), F.col("value"))), F.lit(0.0)
            ).alias("y"),
        )
        .withColumn("arm", F.col("user_id") % 2)
    )
    th = per_user.agg(
        *[
            dround(F.percentile(F.col("score"), F.lit(q / 10.0)), 6).alias(
                f"t{q}"
            )
            for q in range(1, 10)
        ]
    )
    decile = sum(
        F.when(F.col("score") > F.col(f"t{q}"), 1).otherwise(0)
        for q in range(1, 10)
    )
    strat = per_user.crossJoin(F.broadcast(th)).select(
        "arm", "y", decile.alias("decile")
    )
    is_t = F.col("arm") == 1
    cells = strat.groupBy("decile").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("n_c"),
        F.coalesce(F.sum(F.when(is_t, F.col("y"))), F.lit(0.0)).alias("y_t"),
        F.coalesce(F.sum(F.when(~is_t, F.col("y"))), F.lit(0.0)).alias("y_c"),
    )
    a = cells.alias("a")
    b = cells.select(
        F.col("decile").alias("bd"),
        F.col("n_t").alias("bn_t"),
        F.col("n_c").alias("bn_c"),
        F.col("y_t").alias("by_t"),
        F.col("y_c").alias("by_c"),
    )
    cum = (
        a.join(F.broadcast(b), F.col("bd") >= F.col("a.decile"))
        .groupBy("a.decile", "a.n_t", "a.n_c", "a.y_t", "a.y_c")
        .agg(
            F.sum("bn_t").alias("cn_t"),
            F.sum("bn_c").alias("cn_c"),
            F.sum("by_t").alias("cy_t"),
            F.sum("by_c").alias("cy_c"),
        )
    )
    return cum.select(
        F.col("a.decile").alias("decile"),
        F.col("a.n_t").alias("n_t"),
        F.col("a.n_c").alias("n_c"),
        dround(
            F.when(F.col("a.n_t") > 0, F.col("a.y_t") / F.col("a.n_t")), 6
        ).alias("mean_t"),
        dround(
            F.when(F.col("a.n_c") > 0, F.col("a.y_c") / F.col("a.n_c")), 6
        ).alias("mean_c"),
        dround(
            F.when(
                (F.col("a.n_t") > 0) & (F.col("a.n_c") > 0),
                F.col("a.y_t") / F.col("a.n_t")
                - F.col("a.y_c") / F.col("a.n_c"),
            ),
            6,
        ).alias("uplift"),
        dround(
            F.when(
                F.col("cn_c") > 0,
                F.col("cy_t") - F.col("cy_c") * F.col("cn_t") / F.col("cn_c"),
            ),
            6,
        ).alias("qini"),
    )
