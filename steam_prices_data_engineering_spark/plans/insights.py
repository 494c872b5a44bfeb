"""Decision-support analytics over the fact tables (round-2 extension
families): recommendation (item-item collaborative filtering), geospatial
proximity join, time-series diagnostics (ACF, CUSUM change detection,
Holt smoothing, forecast backtesting), experiment design (power /
minimum detectable effect), information-theoretic feature ranking, RFM
customer segmentation, and record linkage / entity resolution.

These extend the reference's analytics surface (SURVEY.md §2b) with the
operators a production data platform runs NEXT to an ETL like
`/root/reference/Scripts/steam_prices/transformers/steam_prices_transformer.py`
once the facts land: each is a standard published technique re-expressed
as a declarative Spark plan with a DuckDB oracle twin.

Scale design notes (100 TB):
- item-item CF: the Apriori downward-closure prefilter bounds the basket
  self-join to individually-frequent items (same discipline as
  `behavioral.py:frequent_itempairs`); the top-k neighbor window is
  per-item bounded state after aggregation to the (item, item) grain —
  the windowed relation is |catalog|*avg-neighbors, not |facts|.
- spatial join: cell-bucketed equi join with a 3x3 neighbor probe —
  candidate generation is a hash join on the cell key, never all-pairs;
  the haversine verify runs post-join on candidates only. The cell width
  (0.25 deg = 27.75 km) is the smallest that still dominates the 25 km
  radius, so the 3x3 probe is provably complete with minimal candidate
  fan-out.
- ACF / CUSUM: both run on the DAY-grain aggregate, whose cardinality is
  calendar-bounded (thousands of rows regardless of fact volume), so the
  single-partition ordered window in CUSUM is safe at any corpus scale;
  the heavy lifting (day rollup) is one map-side-combined aggregation.
- power/MDE + mutual information: single conditional-sum scans emitting
  monoid columns; everything downstream is arithmetic on tiny frames.
- RFM: one fact-table aggregation to customer grain, then three EXACT
  ntile(4) scorings via `operators.ranking.ntile_scores` — driver-folded
  constant-count min-max bins + rank offsets, bin-PARTITIONED
  row_number; no partition-less window ever touches the |customers|
  grain.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import md5_hex6_to_int
from ..functions.sqlfrag import sql_md5_hex6_to_int
from ..operators.similarity import group_pairs
from ..operators.ranking import ntile_scores
from ..session import pin
from ..sources.tables import read_table, values_frame
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# Item-item collaborative filtering (cosine over co-occurrence): the
# classic neighborhood recommender (Sarwar et al. 2001, "Item-based
# collaborative filtering recommendation algorithms"). Baskets = orders;
# similarity(a, b) = co(a, b) / sqrt(n(a) * n(b)); top-3 neighbors per
# item. Counts are integers, so the cosine is bit-identical across
# engines with no rounding step.
# ---------------------------------------------------------------------------

_CF_MINSUP = 3
_CF_TOPK = 3

_ITEM_CF_SQL = f"""
WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (
    SELECT l_partkey, count(*) AS c FROM bp GROUP BY 1
    HAVING count(*) >= {_CF_MINSUP}
),
fbp AS (SELECT bp.* FROM bp SEMI JOIN freq USING (l_partkey)),
co AS (
    SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS support
    FROM fbp a JOIN fbp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {_CF_MINSUP}
),
scored AS (
    SELECT co.item_a, co.item_b, co.support,
           co.support / sqrt(CAST(fa.c AS DOUBLE) * fb.c) AS cosine
    FROM co
    JOIN freq fa ON fa.l_partkey = co.item_a
    JOIN freq fb ON fb.l_partkey = co.item_b
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY item_a ORDER BY cosine DESC, item_b
    ) AS rec_rank
    FROM scored
)
SELECT item_a, CAST(rec_rank AS BIGINT) AS rec_rank, item_b,
       CAST(support AS BIGINT) AS support, {R("cosine", 6)} AS cosine
FROM ranked WHERE rec_rank <= {_CF_TOPK}
"""

register_sql("item_item_cosine", _ITEM_CF_SQL)


# ---------------------------------------------------------------------------
# Geospatial proximity join: deterministic synthetic coordinates per
# customer (md5-derived, lat/lon in [0, 5) degrees), 0.25-degree cell
# bucketing, 3x3 neighbor-cell probe, haversine verify at 25 km. The
# cell equi join IS the scale design — candidates are cell-local, never
# all-pairs — and the cell width is TUNED to the radius: 0.25 deg =
# 27.75 km >= 25 km keeps the 3x3 probe provably complete (at |lat| < 5
# deg a longitude cell spans >= 27.6 km) while generating ~16x fewer
# candidate pairs than 1-degree cells (measured 4.6 s -> 0.7 s at
# sf0.1). The production rule: pick the smallest cell >= the radius.
# ---------------------------------------------------------------------------

_GEO_RADIUS_KM = 25.0
_GEO_EARTH_KM = 6371.0
_GEO_CELLS_PER_DEG = 4  # 0.25-degree cells: 27.75 km >= the 25 km radius

_LAT_KEY = "concat_ws('', 'glat_', CAST(c_custkey AS VARCHAR))"
_LON_KEY = "concat_ws('', 'glon_', CAST(c_custkey AS VARCHAR))"
_LAT_SQL = f"(({sql_md5_hex6_to_int(_LAT_KEY)}) % 50000) / 10000.0"
_LON_SQL = f"(({sql_md5_hex6_to_int(_LON_KEY)}) % 50000) / 10000.0"

_SPATIAL_SQL = f"""
WITH pts AS (
    SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon
    FROM customer
),
cells AS (
    SELECT c_custkey, lat, lon,
           CAST(floor(lat * {_GEO_CELLS_PER_DEG}) AS BIGINT) AS cy,
           CAST(floor(lon * {_GEO_CELLS_PER_DEG}) AS BIGINT) AS cx
    FROM pts
),
probe AS (
    SELECT c.c_custkey, c.lat, c.lon, c.cy + dy.v AS py, c.cx + dx.v AS px
    FROM cells c
    CROSS JOIN (VALUES (-1), (0), (1)) dy(v)
    CROSS JOIN (VALUES (-1), (0), (1)) dx(v)
),
cand AS (
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           2 * {_GEO_EARTH_KM} * asin(sqrt(
               sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * sin(radians(b.lon - a.lon) / 2)
                 * sin(radians(b.lon - a.lon) / 2)
           )) AS dist
    FROM probe a JOIN cells b
      ON a.py = b.cy AND a.px = b.cx AND a.c_custkey < b.c_custkey
)
SELECT cust_a, cust_b, {R("dist", 3)} AS dist_km
FROM cand WHERE {R("dist", 3)} <= {_GEO_RADIUS_KM}
"""


def _geo_coord(salt: str) -> F.Column:
    key = F.concat_ws("", F.lit(salt), F.col("c_custkey").cast("string"))
    return (md5_hex6_to_int(key) % 50000) / F.lit(10000.0)


@register("spatial_cell_join", _SPATIAL_SQL)
def spatial_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer pairs within 25 km: cell-bucketed candidate join + exact
    haversine verify. Each qualifying pair is produced exactly once (the
    probe side enumerates the 3x3 neighborhood; the build side sits in
    its single home cell)."""
    cust = read_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        _geo_coord("glat_").alias("lat"),
        _geo_coord("glon_").alias("lon"),
    )
    cells = pts.select(
        "c_custkey",
        "lat",
        "lon",
        F.floor(F.col("lat") * _GEO_CELLS_PER_DEG).cast("long").alias("cy"),
        F.floor(F.col("lon") * _GEO_CELLS_PER_DEG).cast("long").alias("cx"),
    )
    offsets = spark.range(-1, 2).select(F.col("id").alias("dy")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("dx"))
    )
    probe = cells.crossJoin(F.broadcast(offsets)).select(
        F.col("c_custkey").alias("cust_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        (F.col("cy") + F.col("dy")).alias("py"),
        (F.col("cx") + F.col("dx")).alias("px"),
    )
    build = cells.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cy").alias("py"),
        F.col("cx").alias("px"),
    )
    dlat = F.radians(F.col("lat_b") - F.col("lat_a")) / 2
    dlon = F.radians(F.col("lon_b") - F.col("lon_a")) / 2
    dist = (
        2
        * _GEO_EARTH_KM
        * F.asin(
            F.sqrt(
                F.sin(dlat) * F.sin(dlat)
                + F.cos(F.radians("lat_a"))
                * F.cos(F.radians("lat_b"))
                * F.sin(dlon)
                * F.sin(dlon)
            )
        )
    )
    return (
        probe.join(
            build,
            ["py", "px"],
        )
        .filter(F.col("cust_a") < F.col("cust_b"))
        .select("cust_a", "cust_b", dround(dist, 3).alias("dist_km"))
        .filter(F.col("dist_km") <= _GEO_RADIUS_KM)
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of daily order revenue at lags 1..7 (Box &
# Jenkins time-series diagnostics): pairs (day t, day t-L) via a shifted
# self-join per lag, Pearson corr per lag. The lag table is a 7-row
# broadcast; the series is the calendar-bounded day rollup.
# ---------------------------------------------------------------------------

_ACF_MAXLAG = 7

_DAILY_REV = """daily AS (
    SELECT CAST(floor(floor(epoch(o_orderdate)) / 86400) AS BIGINT) AS d,
           CAST(sum(o_totalprice) AS DOUBLE) AS rev
    FROM orders GROUP BY 1
)"""

_ACF_SQL = f"""
WITH {_DAILY_REV},
lags AS (SELECT v AS lag FROM (VALUES (1), (2), (3), (4), (5), (6), (7)) l(v)),
pairs AS (
    SELECT l.lag, a.rev AS x, b.rev AS y
    FROM lags l
    JOIN daily a ON TRUE
    JOIN daily b ON b.d = a.d - l.lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
       {R("corr(x, y)", 6)} AS acf
FROM pairs GROUP BY lag
"""


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_orderdate").cast("long") / 86400)
        .cast("long")
        .alias("d")
    ).agg(F.sum("o_totalprice").cast("double").alias("rev"))


@register("acf_daily_revenue", _ACF_SQL)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF(1..7) of the daily revenue series: per-lag shifted self-join
    of the day rollup, sample Pearson correlation per lag."""
    daily = _daily_revenue(spark, sf_dir)
    lags = spark.range(1, _ACF_MAXLAG + 1).select(F.col("id").alias("lag"))
    a = daily.select(F.col("d"), F.col("rev").alias("x")).crossJoin(
        F.broadcast(lags)
    )
    b = daily.select(F.col("d").alias("d_prev"), F.col("rev").alias("y"))
    pairs = a.join(b, a["d"] - a["lag"] == b["d_prev"])
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        dround(F.corr("x", "y"), 6).alias("acf"),
    ).select(F.col("lag").cast("long").alias("lag"), "n_pairs", "acf")


# ---------------------------------------------------------------------------
# CUSUM change-point detection (Page 1954): standardize the daily
# revenue series against its global mean/sd, accumulate the z-scores in
# day order, and flag the day where |CUSUM| peaks — the classic
# shift-in-mean detector. The ordered window runs on the calendar-
# bounded day grain (see module docstring).
# ---------------------------------------------------------------------------

_CUSUM_SQL = f"""
WITH {_DAILY_REV},
stats AS (SELECT avg(rev) AS mu, stddev(rev) AS sd FROM daily),
c AS (
    SELECT d, {R("sum((rev - mu) / sd) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6)} AS cusum
    FROM daily CROSS JOIN stats
),
m AS (SELECT max(abs(cusum)) AS peak FROM c)
SELECT d AS day_num, cusum, (abs(cusum) = m.peak) AS at_peak
FROM c CROSS JOIN m
"""


@register("cusum_changepoint", _CUSUM_SQL)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day CUSUM of standardized daily revenue with the peak-|CUSUM|
    day flagged (the estimated change point). The cumulative window runs
    over the DAY grain — calendar-bounded (thousands of rows at any fact
    volume), per the module scale notes."""
    daily = _daily_revenue(spark, sf_dir)
    stats = daily.agg(
        F.avg("rev").alias("mu"), F.stddev_samp("rev").alias("sd")
    )
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = daily.crossJoin(F.broadcast(stats)).select(
        F.col("d").alias("day_num"),
        dround(
            F.sum((F.col("rev") - F.col("mu")) / F.col("sd")).over(w), 6
        ).alias("cusum"),
    )
    m = c.agg(F.max(F.abs(F.col("cusum"))).alias("peak"))
    return c.crossJoin(F.broadcast(m)).select(
        "day_num",
        "cusum",
        (F.abs(F.col("cusum")) == F.col("peak")).alias("at_peak"),
    )


# ---------------------------------------------------------------------------
# Experiment design: power analysis / minimum detectable effect per
# event type at alpha=0.05 (two-sided), power=0.80, arms assigned by the
# user-id parity discipline of `ab_test_welch`. MDE and the required
# per-arm n for a 5%-of-mean effect derive from one conditional-sum
# scan; z quantiles are literals so both engines run identical doubles.
# ---------------------------------------------------------------------------

_Z_ALPHA = 1.959964  # Phi^-1(0.975)
_Z_BETA = 0.841621  # Phi^-1(0.80)
_MDE_REL_TARGET = 0.05

_POWER_SQL = f"""
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
           (sa + sb) / (na + nb) AS pooled_mean,
           (qa - sa * sa / na) / (na - 1) AS va,
           (qb - sb * sb / nb) / (nb - 1) AS vb
    FROM agg
),
e AS (
    SELECT event_type, na, nb, pooled_mean, va, vb,
           ({_Z_ALPHA} + {_Z_BETA}) * sqrt(va / na + vb / nb) AS mde_abs
    FROM d
)
SELECT event_type,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       {R("mde_abs", 6)} AS mde_abs,
       {R("mde_abs / pooled_mean", 6)} AS mde_rel,
       CAST(ceil(
           ({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA}) * (va + vb)
           / (({_MDE_REL_TARGET} * pooled_mean) * ({_MDE_REL_TARGET} * pooled_mean))
       ) AS BIGINT) AS n_required_per_arm
FROM e
"""


@register("ab_power_mde", _POWER_SQL)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type MDE at current sample sizes and the per-arm n
    required to detect a 5%-of-mean effect (alpha=.05, power=.80)."""
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
    pooled_mean = (F.col("sa") + F.col("sb")) / (F.col("na") + F.col("nb"))
    va = (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    z = _Z_ALPHA + _Z_BETA
    mde_abs = F.lit(z) * F.sqrt(va / F.col("na") + vb / F.col("nb"))
    delta = F.lit(_MDE_REL_TARGET) * pooled_mean
    return agg.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        dround(mde_abs, 6).alias("mde_abs"),
        dround(mde_abs / pooled_mean, 6).alias("mde_rel"),
        F.ceil(F.lit(z) * F.lit(z) * (va + vb) / (delta * delta))
        .cast("long")
        .alias("n_required_per_arm"),
    )


# ---------------------------------------------------------------------------
# Mutual-information feature ranking (information-gain feature selection,
# Cover & Thomas ch. 2): MI(feature; o_orderstatus) for two candidate
# categorical features, plus the label entropy and the normalized MI.
# One joint-count aggregation per feature; marginals via window sums
# over the joint table (no second fact scan).
# ---------------------------------------------------------------------------


def _mi_sql(feature_expr: str, feature_name: str, joint_src: str) -> str:
    return f"""
SELECT '{feature_name}' AS feature,
       CAST(count(DISTINCT fx) AS BIGINT) AS n_classes,
       {R("sum((c / n) * ln(c * n / (cf * cy)))", 6)} AS mi,
       {R("sum(CASE WHEN rn = 1 THEN -(cy / n) * ln(cy / n) ELSE 0.0 END)", 6)} AS h_label,
       {R("sum((c / n) * ln(c * n / (cf * cy))) / sum(CASE WHEN rn = 1 THEN -(cy / n) * ln(cy / n) ELSE 0.0 END)", 6)} AS nmi
FROM (
    SELECT fx, y, c,
           CAST(sum(c) OVER (PARTITION BY fx) AS DOUBLE) AS cf,
           CAST(sum(c) OVER (PARTITION BY y) AS DOUBLE) AS cy,
           CAST(sum(c) OVER () AS DOUBLE) AS n,
           row_number() OVER (PARTITION BY y ORDER BY fx) AS rn
    FROM (
        SELECT {feature_expr} AS fx, o_orderstatus AS y,
               CAST(count(*) AS DOUBLE) AS c
        FROM {joint_src} GROUP BY 1, 2
    )
)
"""


_MI_SQL = (
    _mi_sql(
        "c_mktsegment",
        "c_mktsegment",
        "(SELECT c_mktsegment, o_orderstatus FROM orders "
        "JOIN customer ON c_custkey = o_custkey)",
    )
    + " UNION ALL "
    + _mi_sql("o_orderpriority", "o_orderpriority", "orders")
)

register_sql("mutual_info_features", _MI_SQL)


# ---------------------------------------------------------------------------
# RFM segmentation (Hughes 1994, the standard direct-marketing customer
# grid): per-customer Recency / Frequency / Monetary, quartile-scored by
# ntile(4), reported as segment cells. Scores are computed on ROUNDED
# monetary sums with customer-id tie-breaks so the quartile order is a
# deterministic total order in both engines.
# ---------------------------------------------------------------------------

_RFM_SQL = f"""
WITH mx AS (SELECT max(floor(epoch(o_orderdate))) AS mxe FROM orders),
cust AS (
    SELECT o_custkey,
           CAST(floor((mx.mxe - max(floor(epoch(o_orderdate)))) / 86400.0) AS BIGINT) AS recency_days,
           CAST(count(*) AS BIGINT) AS freq,
           {R("sum(o_totalprice)", 2)} AS monetary
    FROM orders CROSS JOIN mx
    GROUP BY o_custkey, mx.mxe
),
scored AS (
    SELECT monetary,
           ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
           ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM cust
)
SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       {R("avg(monetary)", 4)} AS avg_monetary
FROM scored GROUP BY 1, 2, 3
"""


@register("rfm_segments", _RFM_SQL)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile grid: customers per (R, F, M) score cell with the
    cell's average monetary value. Quartiles are exact ntile(4) on fully
    tie-broken orders (rounded monetary + custkey), computed scale-safe
    via `operators.ranking.ntile_scores` — chained bin-PARTITIONED rank
    windows with literal-folded bounds/offsets, never a partition-less
    window over the customer grain."""
    o = read_table(spark, sf_dir, "orders")
    # ONE orders scan: the corpus-max order date equals the max over
    # customers of each customer's last order, so it derives from the
    # customer-grain aggregate instead of a second fact scan.
    base = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("long")).alias("last_e"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        dround(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    # Customer-grain aggregate (dimension-scale, bounded): cached because
    # the global-max branch, the melted scorer's bounds+histogram pass
    # and the rank windows all re-derive it — without the cache each
    # branch re-runs the orders scan.
    base = pin(base)
    mx = base.agg(F.max("last_e").alias("mxe"))
    cust = base.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.floor((F.col("mxe") - F.col("last_e")) / 86400.0)
        .cast("long")
        .alias("recency_days"),
        "freq",
        "monetary",
    )
    scored = ntile_scores(
        cust,
        "o_custkey",
        {
            "r_score": (F.col("recency_days"), False),
            "f_score": (F.col("freq"), True),
            "m_score": (F.col("monetary"), True),
        },
        4,
    )
    return scored.groupBy(
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        dround(F.avg("monetary"), 4).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# Forecast backtesting: seasonal-naive (t-7, Hyndman & Athanasopoulos'
# baseline for weekly-seasonal series) vs naive (t-1) daily-revenue
# forecasts, scored by MAE / MAPE / bias over every day with both
# ancestors. The standard "beat the naive baseline or don't ship"
# gate; both predictions are shifted self-joins of the day rollup.
# ---------------------------------------------------------------------------

_BACKTEST_SQL = f"""
WITH {_DAILY_REV},
pred AS (
    SELECT c.d, c.rev AS actual, p1.rev AS naive_pred, p7.rev AS snaive_pred
    FROM daily c
    JOIN daily p1 ON p1.d = c.d - 1
    JOIN daily p7 ON p7.d = c.d - 7
)
SELECT 'naive_t1' AS model, CAST(count(*) AS BIGINT) AS n_days,
       {R("avg(abs(naive_pred - actual))", 4)} AS mae,
       {R("avg(abs(naive_pred - actual) / actual)", 6)} AS mape,
       {R("avg(naive_pred - actual)", 4)} AS bias
FROM pred
UNION ALL
SELECT 'snaive_t7' AS model, CAST(count(*) AS BIGINT) AS n_days,
       {R("avg(abs(snaive_pred - actual))", 4)} AS mae,
       {R("avg(abs(snaive_pred - actual) / actual)", 6)} AS mape,
       {R("avg(snaive_pred - actual)", 4)} AS bias
FROM pred
"""


@register("forecast_backtest_snaive", _BACKTEST_SQL)
def forecast_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE/MAPE/bias of naive(t-1) vs seasonal-naive(t-7) daily-revenue
    forecasts over the joint backtest window."""
    daily = _daily_revenue(spark, sf_dir)
    c = daily.select(F.col("d"), F.col("rev").alias("actual"))
    p1 = daily.select(
        (F.col("d") + 1).alias("d"), F.col("rev").alias("naive_pred")
    )
    p7 = daily.select(
        (F.col("d") + 7).alias("d"), F.col("rev").alias("snaive_pred")
    )
    pred = c.join(p1, "d").join(p7, "d")
    long = pred.select(
        "actual",
        F.expr(
            "stack(2, 'naive_t1', naive_pred, 'snaive_t7', snaive_pred) "
            "as (model, pred)"
        ),
    )
    return long.groupBy("model").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        dround(F.avg(F.abs(F.col("pred") - F.col("actual"))), 4).alias("mae"),
        dround(
            F.avg(F.abs(F.col("pred") - F.col("actual")) / F.col("actual")), 6
        ).alias("mape"),
        dround(F.avg(F.col("pred") - F.col("actual")), 4).alias("bias"),
    )


# ---------------------------------------------------------------------------
# Record linkage (Fellegi-Sunter blocking + comparison): resolve the
# part catalog's near-duplicate names. Records are FIRST consolidated to
# the distinct-name grain (exact-match pre-consolidation — the step that
# turns a records x records comparison into a names x names one), then
# candidate pairs come from attribute blocking on the head noun and are
# classified by edit-distance bands. `implied_record_pairs` carries the
# consolidation weight (how many raw record pairs each name pair
# represents). At 100 TB the same shape holds: the distinct-name table
# is vocabulary-sized, and blocking bounds every comparison batch.
# ---------------------------------------------------------------------------

_LINK_MAXLEV = 3

_LINKAGE_SQL = f"""
WITH names AS (
    SELECT p_name, count(*) AS n_records,
           string_split(p_name, ' ')[2] AS noun
    FROM part GROUP BY p_name
),
pairs AS (
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           a.n_records AS n_records_a, b.n_records AS n_records_b,
           levenshtein(a.p_name, b.p_name) AS lev
    FROM names a JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
)
SELECT name_a, name_b,
       CAST(lev AS BIGINT) AS lev,
       CAST(n_records_a AS BIGINT) AS n_records_a,
       CAST(n_records_b AS BIGINT) AS n_records_b,
       CAST(n_records_a * n_records_b AS BIGINT) AS implied_record_pairs,
       CASE WHEN lev <= 1 THEN 'strong' ELSE 'weak' END AS match_class
FROM pairs WHERE lev <= {_LINK_MAXLEV}
"""


@register("record_linkage_blocking", _LINKAGE_SQL)
def record_linkage_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-grain linkage pairs: noun blocking + levenshtein <= 3, with
    strong/weak bands and consolidation weights."""
    p = read_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_records"))
    names = names.withColumn("noun", F.split(F.col("p_name"), " ")[1])
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_records").alias("n_records_a"),
        "noun",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_records").alias("n_records_b"),
        "noun",
    )
    pairs = (
        a.join(b, "noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .filter(F.col("lev") <= _LINK_MAXLEV)
    )
    return pairs.select(
        "name_a",
        "name_b",
        F.col("lev").cast("long").alias("lev"),
        F.col("n_records_a").cast("long").alias("n_records_a"),
        F.col("n_records_b").cast("long").alias("n_records_b"),
        (F.col("n_records_a") * F.col("n_records_b"))
        .cast("long")
        .alias("implied_record_pairs"),
        F.when(F.col("lev") <= 1, F.lit("strong"))
        .otherwise(F.lit("weak"))
        .alias("match_class"),
    )


# ---------------------------------------------------------------------------
# Golden-record consolidation (the "survivorship" stage of MDM/entity
# resolution): collapse exact-name duplicate part records into one
# canonical record per name, surfacing attribute conflicts the merge
# must resolve (brand disagreement, price spread). One map-side-combined
# aggregation on the name — the exact-dup consolidation that runs BEFORE
# any fuzzy comparison at scale.
# ---------------------------------------------------------------------------

_GOLDEN_SQL = f"""
SELECT p_name,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(min(p_partkey) AS BIGINT) AS canonical_partkey,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
       (count(DISTINCT p_brand) > 1) AS brand_conflict,
       {R("max(p_retailprice) - min(p_retailprice)", 2)} AS price_spread,
       {R("avg(p_retailprice)", 4)} AS merged_price
FROM part GROUP BY p_name
HAVING count(*) > 1
"""

register_sql("golden_record_consolidation", _GOLDEN_SQL)


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (level + trend, Holt 1957): the
# next step up from the EWMA — tracks a local linear trend so the
# one-step forecast is level + trend. Per-user ordered fold with a
# (level, trend) struct accumulator; the fold is sequential in both
# engines, so the arithmetic is bit-identical. Series are user-bounded
# (collect_list of one user's events), the same contract as
# `behavioral.py:ewma_user_value`.
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3

# NOTE: the obvious list_reduce oracle with a {'l','b'} struct
# accumulator mis-evaluates dependent struct fields on DuckDB 1.0.0
# (probed: fold (p,q)->{v: p.v*10+q.v, w: p.v+p.w} over [1..4] returns
# w=1358, not 136), so the oracle replays the recursion as a recursive
# CTE over the per-user step index instead — the same discipline as the
# unrolled iterative oracles, and the arithmetic order is identical to
# the Spark fold, so values match bit-for-bit before rounding.
_HOLT_SQL = f"""
WITH RECURSIVE seq AS (
    SELECT user_id, CAST(value AS DOUBLE) AS x,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM events
),
rec AS (
    SELECT user_id, i, n, x AS l, CAST(0.0 AS DOUBLE) AS b
    FROM seq WHERE i = 1
    UNION ALL
    SELECT s.user_id, s.i, s.n,
           {_HOLT_ALPHA} * s.x + {1 - _HOLT_ALPHA} * (r.l + r.b),
           {_HOLT_BETA} * (({_HOLT_ALPHA} * s.x
               + {1 - _HOLT_ALPHA} * (r.l + r.b)) - r.l)
               + {1 - _HOLT_BETA} * r.b
    FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.i = r.i + 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       {R("l", 6)} AS holt_level,
       {R("b", 6)} AS holt_trend,
       {R("l + b", 6)} AS forecast_1
FROM rec WHERE i = n
"""


@register("holt_trend_smoothing", _HOLT_SQL)
def holt_trend_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final Holt (level, trend) state per user at alpha=0.5, beta=0.3,
    plus the one-step-ahead forecast level + trend."""
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("series"),
    )

    def step(acc, s):
        new_l = (
            F.lit(_HOLT_ALPHA) * s["value"]
            + F.lit(1 - _HOLT_ALPHA) * (acc["l"] + acc["b"])
        )
        new_b = (
            F.lit(_HOLT_BETA) * (new_l - acc["l"])
            + F.lit(1 - _HOLT_BETA) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    first = F.element_at(F.col("series"), 1)["value"]
    holt = F.aggregate(
        F.slice(F.col("series"), 2, F.size("series") - 1),
        F.struct(
            first.cast("double").alias("l"), F.lit(0.0).alias("b")
        ),
        step,
    )
    staged = agg.select(
        "user_id", "n_events", holt.alias("h")
    )
    return staged.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        dround(F.col("h")["l"], 6).alias("holt_level"),
        dround(F.col("h")["b"], 6).alias("holt_trend"),
        dround(F.col("h")["l"] + F.col("h")["b"], 6).alias("forecast_1"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation: does today's error volume predict purchase
# revenue k days later (and vice versa)? The two-series companion of
# acf_daily_revenue — same calendar-day rollup, same shifted-join shape,
# Pearson per (direction, lag). The windowed relation is |days| x
# |lags|, calendar-bounded at any event volume.
# ---------------------------------------------------------------------------

_XCORR_MAXLAG = 3

_XCORR_SQL = f"""
WITH days AS (
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
           sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
               AS rev,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS DOUBLE) AS errs
    FROM events GROUP BY 1
),
lags AS (SELECT v AS lag FROM (VALUES (0), (1), (2), (3)) l(v)),
pairs AS (
    SELECT l.lag, a.errs AS x, b.rev AS y
    FROM lags l
    JOIN days a ON TRUE
    JOIN days b ON b.d = a.d + l.lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {R("corr(x, y)", 6)} AS xcorr_err_to_rev
FROM pairs GROUP BY lag
"""


@register("xcorr_error_revenue", _XCORR_SQL)
def xcorr_error_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of daily error count against purchase revenue
    lag days later (lags 0..3): one day rollup, per-lag shifted join,
    sample Pearson per lag."""
    e = read_table(spark, sf_dir, "events")
    days = e.groupBy(
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("d")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("rev"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("double")
        .alias("errs"),
    )
    lags = spark.range(0, _XCORR_MAXLAG + 1).select(F.col("id").alias("lag"))
    a = days.select("d", F.col("errs").alias("x")).crossJoin(F.broadcast(lags))
    b = days.select(F.col("d").alias("d_next"), F.col("rev").alias("y"))
    pairs = a.join(b, a["d"] + a["lag"] == b["d_next"])
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            dround(F.corr("x", "y"), 6).alias("xcorr_err_to_rev"),
        )
        .select(F.col("lag").cast("long").alias("lag"), "n_pairs", "xcorr_err_to_rev")
    )


# ---------------------------------------------------------------------------
# Split-conformal forecast interval (Vovk; Lei et al.): calibrate a
# distribution-free 90% band for the seasonal-naive daily-revenue
# forecast on the first half of the backtest days, then measure empirical
# coverage on the second half. q_hat is the ceil((n+1)*0.9)-th smallest
# calibration |residual| — an exact order statistic over ROUNDED
# residuals (daily revenue is a parallel double sum, so raw last-ULP
# differences could flip the selection between engines; dround first
# makes the multiset identical). All relations are calendar-day-bounded.
# ---------------------------------------------------------------------------

_CONF_LEVEL = 0.9

_CONFORMAL_SQL = f"""
WITH {_DAILY_REV},
resid AS (
    SELECT c.d, {R("abs(p7.rev - c.rev)", 4)} AS r
    FROM daily c JOIN daily p7 ON p7.d = c.d - 7
),
mid AS (SELECT min(d) + CAST(floor((max(d) - min(d)) / 2) AS BIGINT) AS m
        FROM resid),
cal AS (SELECT r FROM resid CROSS JOIN mid WHERE d < m),
ev AS (SELECT r FROM resid CROSS JOIN mid WHERE d >= m),
ncal AS (SELECT count(*) AS n FROM cal),
ranked AS (
    SELECT r, row_number() OVER (ORDER BY r) AS rk FROM cal
),
qhat AS (
    SELECT r AS q FROM ranked CROSS JOIN ncal
    WHERE rk = least(CAST(ceil((n + 1) * {_CONF_LEVEL}) AS BIGINT), n)
)
SELECT CAST(ncal.n AS BIGINT) AS n_cal,
       CAST(count(*) AS BIGINT) AS n_eval,
       {R("min(q)", 4)} AS q_hat,
       {R("avg(CASE WHEN ev.r <= q THEN 1.0 ELSE 0.0 END)", 6)} AS coverage
FROM ev CROSS JOIN qhat CROSS JOIN ncal
GROUP BY ncal.n
"""


@register("forecast_conformal_interval", _CONFORMAL_SQL)
def forecast_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% split-conformal interval half-width (q_hat) for the
    seasonal-naive daily forecast, plus its empirical coverage on the
    held-out half. The residual-rank window runs over the calibration
    half of the DAY grain — calendar-bounded at any fact volume."""
    daily = _daily_revenue(spark, sf_dir)
    c = daily.select("d", F.col("rev").alias("actual"))
    p7 = daily.select((F.col("d") + 7).alias("d"), F.col("rev").alias("pred"))
    resid = c.join(p7, "d").select(
        "d", dround(F.abs(F.col("pred") - F.col("actual")), 4).alias("r")
    )
    mid = resid.agg(
        (
            F.min("d") + F.floor((F.max("d") - F.min("d")) / 2).cast("long")
        ).alias("m")
    )
    tagged = resid.crossJoin(F.broadcast(mid))
    cal = tagged.filter(F.col("d") < F.col("m")).select("r")
    ev = tagged.filter(F.col("d") >= F.col("m")).select("r")
    n_cal = cal.count()  # driver sees one scalar (calendar-bounded relation)
    if n_cal == 0:  # empty landing: no calibration days, no interval
        return spark.createDataFrame(
            [], "n_cal long, n_eval long, q_hat double, coverage double"
        )
    k = min(math.ceil((n_cal + 1) * _CONF_LEVEL), n_cal)
    w = Window.orderBy("r")
    qhat = (
        cal.select("r", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == k)
        .select(F.col("r").alias("q"))
    )
    return (
        ev.crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            dround(F.min("q"), 4).alias("q_hat"),
            dround(
                F.avg(F.when(F.col("r") <= F.col("q"), 1.0).otherwise(0.0)), 6
            ).alias("coverage"),
        )
        .select(
            F.lit(n_cal).cast("long").alias("n_cal"),
            "n_eval",
            "q_hat",
            "coverage",
        )
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition of daily revenue: trend = centered
# 7-day moving average (only days with the full +-3 neighborhood, so the
# estimate is never edge-biased), seasonal = day-of-week mean of the
# detrended series, residual = value - trend - seasonal, with |residual|
# > 2 sd flagged. The decomposition grain is the calendar-day rollup —
# bounded at any fact volume — and every component is a window or a
# 7-row broadcast join.
# ---------------------------------------------------------------------------

_STL_Z = 2.0

_STL_SQL = f"""
WITH {_DAILY_REV},
trend AS (
    SELECT d, rev,
           CASE WHEN count(*) OVER w = 7 THEN avg(rev) OVER w END AS tr
    FROM daily
    WINDOW w AS (ORDER BY d RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
    SELECT d, rev, tr, rev - tr AS dt, d % 7 AS dow
    FROM trend WHERE tr IS NOT NULL
),
seas AS (SELECT dow, avg(dt) AS s FROM detr GROUP BY dow),
resid AS (
    SELECT t.d, t.rev, t.tr, se.s, t.dt - se.s AS r
    FROM detr t JOIN seas se ON se.dow = t.dow
),
sd AS (
    SELECT sqrt(sum(r * r) / count(*) - pow(sum(r) / count(*), 2)) AS sigma
    FROM resid
)
SELECT CAST(r.d AS BIGINT) AS day,
       {R('r.rev', 4)} AS revenue,
       {R('r.tr', 4)} AS trend,
       {R('r.s', 4)} AS seasonal,
       {R('r.r', 4)} AS residual,
       abs(r.r) > {_STL_Z} * sd.sigma AS is_anomaly
FROM resid r CROSS JOIN sd
"""


@register("stl_decomposition_lite", _STL_SQL)
def stl_decomposition_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend/seasonal/residual decomposition of daily revenue with 2-sigma
    residual anomaly flags. The RANGE window over the day grain gives the
    centered MA without a self-join (day grain = calendar-bounded at any
    fact volume); population sd from explicit sums
    (the repo's moment discipline)."""
    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("d").rangeBetween(-3, 3)
    trend = daily.select(
        "d",
        "rev",
        F.when(F.count(F.lit(1)).over(w) == 7, F.avg("rev").over(w)).alias(
            "tr"
        ),
    )
    detr = trend.filter(F.col("tr").isNotNull()).select(
        "d",
        "rev",
        "tr",
        (F.col("rev") - F.col("tr")).alias("dt"),
        (F.col("d") % 7).alias("dow"),
    )
    seas = detr.groupBy("dow").agg(F.avg("dt").alias("s"))
    resid = detr.join(F.broadcast(seas), "dow").select(
        "d", "rev", "tr", "s", (F.col("dt") - F.col("s")).alias("r")
    )
    sd = resid.agg(
        F.sqrt(
            F.sum(F.col("r") * F.col("r")) / F.count(F.lit(1))
            - F.pow(F.sum("r") / F.count(F.lit(1)), 2)
        ).alias("sigma")
    )
    return resid.crossJoin(F.broadcast(sd)).select(
        F.col("d").cast("long").alias("day"),
        dround(F.col("rev"), 4).alias("revenue"),
        dround(F.col("tr"), 4).alias("trend"),
        dround(F.col("s"), 4).alias("seasonal"),
        dround(F.col("r"), 4).alias("residual"),
        (F.abs(F.col("r")) > _STL_Z * F.col("sigma")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Quantile forecast evaluation by pinball loss (Koenker & Bassett's
# quantile-regression loss; the CRPS-decomposition standard for judging
# probabilistic forecasts, e.g. the M5-uncertainty metric). Quantile
# forecasts are built the split-conformal way: seasonal-naive point
# forecast + the tau-quantile of CALIBRATION-half signed residuals
# (exact percentile over dround'd residuals — DuckDB quantile_cont and
# Spark percentile share the (n-1)*p interpolation, and rounding first
# makes the multiset identical across engines); the HOLDOUT half scores
# each tau with mean pinball loss and the empirical below-forecast rate.
# All relations are calendar-day-bounded.
# ---------------------------------------------------------------------------

_PINBALL_TAUS = (0.1, 0.5, 0.9)

_PINBALL_SQL = f"""
WITH {_DAILY_REV},
pr AS (
    SELECT c.d, c.rev AS actual, p7.rev AS pred,
           {R("c.rev - p7.rev", 4)} AS r
    FROM daily c JOIN daily p7 ON p7.d = c.d - 7
),
mid AS (SELECT min(d) + CAST(floor((max(d) - min(d)) / 2) AS BIGINT) AS m
        FROM pr),
qs AS (
    SELECT {", ".join(
        f'{R(f"quantile_cont(r, {t})", 4)} AS q{int(t * 100)}'
        for t in _PINBALL_TAUS
    )}
    FROM pr CROSS JOIN mid WHERE d < m
)
SELECT tau,
       q_shift,
       CAST(count(*) AS BIGINT) AS n_eval,
       {R("avg(greatest(tau * (actual - fq), (tau - 1.0) * (actual - fq)))", 6)}
           AS pinball,
       {R("avg(CASE WHEN actual <= fq THEN 1.0 ELSE 0.0 END)", 6)}
           AS below_rate
FROM (
    SELECT pr.actual, t.tau, t.q_shift, pr.pred + t.q_shift AS fq
    FROM pr CROSS JOIN mid CROSS JOIN qs
    CROSS JOIN (VALUES {", ".join(
        f"(CAST({t} AS DOUBLE), q{int(t * 100)})" for t in _PINBALL_TAUS
    )}) t(tau, q_shift)
    WHERE pr.d >= mid.m
)
GROUP BY tau, q_shift
"""


@register("forecast_pinball_quantiles", _PINBALL_SQL)
def forecast_pinball_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout pinball loss + below-forecast rate for calibration-shifted
    seasonal-naive quantile forecasts at tau in {0.1, 0.5, 0.9}."""
    daily = _daily_revenue(spark, sf_dir)
    c = daily.select("d", F.col("rev").alias("actual"))
    p7 = daily.select((F.col("d") + 7).alias("d"), F.col("rev").alias("pred"))
    pr = c.join(p7, "d").select(
        "d", "actual", "pred",
        dround(F.col("actual") - F.col("pred"), 4).alias("r"),
    )
    mid = pr.agg(
        (F.min("d") + F.floor((F.max("d") - F.min("d")) / 2).cast("long"))
        .alias("m")
    )
    cal = pr.crossJoin(F.broadcast(mid)).filter(F.col("d") < F.col("m"))
    qs = cal.agg(
        *[
            dround(F.percentile(F.col("r"), F.lit(t)), 4).alias(
                f"q{int(t * 100)}"
            )
            for t in _PINBALL_TAUS
        ]
    )
    taus = values_frame(
        spark,
        [(float(t), f"q{int(t * 100)}") for t in _PINBALL_TAUS],
        ["tau", "qname"],
    )
    ev = (
        pr.crossJoin(F.broadcast(mid))
        .filter(F.col("d") >= F.col("m"))
        .crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(taus))
        .select(
            "actual",
            "tau",
            F.when(F.col("qname") == "q10", F.col("q10"))
            .when(F.col("qname") == "q50", F.col("q50"))
            .otherwise(F.col("q90"))
            .alias("q_shift"),
            (
                F.col("pred")
                + F.when(F.col("qname") == "q10", F.col("q10"))
                .when(F.col("qname") == "q50", F.col("q50"))
                .otherwise(F.col("q90"))
            ).alias("fq"),
        )
    )
    err = F.col("actual") - F.col("fq")
    return ev.groupBy("tau", "q_shift").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        dround(
            F.avg(
                F.greatest(
                    F.col("tau") * err, (F.col("tau") - 1.0) * err
                )
            ),
            6,
        ).alias("pinball"),
        dround(
            F.avg(F.when(F.col("actual") <= F.col("fq"), 1.0).otherwise(0.0)),
            6,
        ).alias("below_rate"),
    )


# ---------------------------------------------------------------------------
# Recommender offline evaluation: leave-LAST-basket-out hit-rate@5 /
# precision@5 for the item-item cosine recommender (the standard offline
# protocol: train co-occurrence on every basket but each customer's most
# recent order, recommend into that held-out basket). Completes the
# recommendation family: `item_item_cosine` ships the model, this ships
# the accept gate.
#
# Scale shape: the temporal split is a window PARTITIONED by customer;
# CF training reuses the Apriori-pruned basket self-join discipline
# (individually-frequent items only); per-item neighbor lists are capped
# at 10 by a per-item rank window (WindowGroupLimit); scoring joins the
# (customer, item) train history to the capped neighbor lists — bounded
# by |history| x 10, never |customers| x |catalog| — and the final top-5
# is a per-customer rank window. All scores rank on ROUNDED cosine sums
# with item-id tie-breaks so both engines pick identical rec lists.
# ---------------------------------------------------------------------------

_CFEVAL_MINSUP = 3
_CFEVAL_NEIGHBORS = 10
_CFEVAL_K = 5

_CFEVAL_SQL = f"""
WITH ords AS (
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
           count(*) OVER (PARTITION BY o_custkey) AS n_ord
    FROM orders
),
test_b AS (SELECT o_custkey, o_orderkey FROM ords WHERE rn = 1 AND n_ord >= 2),
train_b AS (SELECT o_custkey, o_orderkey FROM ords WHERE rn > 1),
bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
train_ui AS (
    SELECT DISTINCT t.o_custkey AS cust, b.l_partkey AS item
    FROM train_b t JOIN bi b ON b.l_orderkey = t.o_orderkey
),
test_ui AS (
    SELECT DISTINCT t.o_custkey AS cust, b.l_partkey AS item
    FROM test_b t JOIN bi b ON b.l_orderkey = t.o_orderkey
),
tb AS (SELECT bi.* FROM bi SEMI JOIN train_b t ON t.o_orderkey = bi.l_orderkey),
freq AS (
    SELECT l_partkey, count(*) AS c FROM tb GROUP BY 1
    HAVING count(*) >= {_CFEVAL_MINSUP}
),
fbp AS (SELECT tb.* FROM tb SEMI JOIN freq USING (l_partkey)),
co AS (
    SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS support
    FROM fbp a JOIN fbp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {_CFEVAL_MINSUP}
),
sims0 AS (
    SELECT co.item_a, co.item_b,
           {R("co.support / sqrt(CAST(fa.c AS DOUBLE) * fb.c)", 6)} AS cosine
    FROM co
    JOIN freq fa ON fa.l_partkey = co.item_a
    JOIN freq fb ON fb.l_partkey = co.item_b
),
sims AS (
    SELECT item_a, item_b, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY item_a
                                     ORDER BY cosine DESC, item_b ASC) AS r
        FROM sims0
    ) WHERE r <= {_CFEVAL_NEIGHBORS}
),
scores AS (
    SELECT ui.cust, s.item_b AS cand, {R("sum(s.cosine)", 6)} AS score
    FROM train_ui ui
    JOIN sims s ON s.item_a = ui.item
    LEFT JOIN train_ui own ON own.cust = ui.cust AND own.item = s.item_b
    WHERE own.item IS NULL
    GROUP BY 1, 2
),
recs AS (
    SELECT cust, cand FROM (
        SELECT cust, cand, row_number() OVER (PARTITION BY cust
                                              ORDER BY score DESC, cand ASC) AS r
        FROM scores
    ) WHERE r <= {_CFEVAL_K}
),
eval_cust AS (SELECT DISTINCT cust FROM test_ui),
hits AS (
    SELECT ec.cust, CAST(count(t.item) AS BIGINT) AS n_hits
    FROM eval_cust ec
    LEFT JOIN recs r2 ON r2.cust = ec.cust
    LEFT JOIN test_ui t ON t.cust = r2.cust AND t.item = r2.cand
    GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_eval_customers,
       {R("avg(CASE WHEN n_hits > 0 THEN 1.0 ELSE 0.0 END)", 6)}
           AS hit_rate_at_5,
       {R(f"avg(n_hits / {_CFEVAL_K}.0)", 6)} AS precision_at_5
FROM hits
"""


@register("item_cf_holdout_hitrate", _CFEVAL_SQL)
def item_cf_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-basket-out hit@5 / precision@5 of the item-item cosine
    recommender (train on all but each customer's last order)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    wc = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    # bi is pinned: it feeds the train/test baskets AND the
    # co-occurrence base. The other shared frames (ords, train_ui,
    # test_ui) measured no faster pinned, cold at sf0.1.
    ords = o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(wc).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("n_ord"),
    )
    test_b = ords.filter((F.col("rn") == 1) & (F.col("n_ord") >= 2)).select(
        "o_custkey", "o_orderkey"
    )
    train_b = ords.filter(F.col("rn") > 1).select("o_custkey", "o_orderkey")
    bi = pin(li.select("l_orderkey", "l_partkey").distinct())
    train_ui = (
        train_b.join(bi, train_b.o_orderkey == bi.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    test_ui = (
        test_b.join(bi, test_b.o_orderkey == bi.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    tb = bi.join(
        train_b.select("o_orderkey"),
        bi.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    freq = (
        tb.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _CFEVAL_MINSUP)
    )
    fbp = tb.join(
        F.broadcast(freq.select("l_partkey")), "l_partkey", "left_semi"
    )
    # r10: posting-list pair expansion (operators/similarity.group_pairs) —
    # one basket exchange instead of the double-shuffled self-join.
    co = (
        group_pairs(fbp, "l_orderkey", "l_partkey", ordered=False)
        .groupBy(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _CFEVAL_MINSUP)
    )
    fa = freq.select(F.col("l_partkey").alias("item_a"), F.col("c").alias("ca"))
    fb = freq.select(F.col("l_partkey").alias("item_b"), F.col("c").alias("cb"))
    sims0 = (
        co.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .select(
            "item_a",
            "item_b",
            dround(
                F.col("support")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("cosine"),
        )
    )
    wn = Window.partitionBy("item_a").orderBy(F.desc("cosine"), F.asc("item_b"))
    sims = (
        sims0.withColumn("r", F.row_number().over(wn))
        .filter(F.col("r") <= _CFEVAL_NEIGHBORS)
        .select("item_a", "item_b", "cosine")
    )
    scores = (
        train_ui.join(sims, train_ui.item == sims.item_a)
        .select("cust", F.col("item_b").alias("cand"), "cosine")
        .join(
            train_ui.select(
                F.col("cust").alias("cust"), F.col("item").alias("cand")
            ),
            ["cust", "cand"],
            "left_anti",
        )
        .groupBy("cust", "cand")
        .agg(dround(F.sum("cosine"), 6).alias("score"))
    )
    wr = Window.partitionBy("cust").orderBy(F.desc("score"), F.asc("cand"))
    recs = (
        scores.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= _CFEVAL_K)
        .select("cust", "cand")
    )
    eval_cust = test_ui.select("cust").distinct()
    # hits: count of recommended items present in the test basket
    matched = recs.join(
        test_ui.select("cust", F.col("item").alias("cand")), ["cust", "cand"]
    ).groupBy("cust").agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    hits = eval_cust.join(matched, "cust", "left").select(
        "cust", F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits")
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_customers"),
        dround(
            F.avg(F.when(F.col("n_hits") > 0, 1.0).otherwise(0.0)), 6
        ).alias("hit_rate_at_5"),
        dround(F.avg(F.col("n_hits") / float(_CFEVAL_K)), 6).alias(
            "precision_at_5"
        ),
    )
