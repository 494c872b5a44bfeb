"""In-engine linear algebra / classic ML primitives (round-2c): PCA by
relational power iteration and multi-feature OLS by closed-form normal
equations. Both run entirely as DataFrame plans — the "ML on the query
engine" tier that avoids exporting 100 TB to a separate system for
models this small.

Scale design:
- PCA: the covariance matrix is built from ONE pass over the exploded
  (vector, dim, value) table — per-vector (i, j) product pairs feed a
  map-side-combined sum keyed on (i, j), so the shuffle is d^2 cells,
  not N rows. Power iterations are matrix-vector products expressed as
  a join on the shared dim index + a groupBy sum: each iteration moves
  only d^2 + d rows. Three iterations are unrolled statically (same
  discipline as `iterative.py:kmeans_embeddings`'s unrolled oracle).
- OLS: the normal equations' moment matrix (X'X, X'y) is one
  conditional-sum scan emitting 9 monoid columns; the 3x3 solve is
  Cramer's rule in plain arithmetic on a 1-row frame. No iteration, no
  driver loop, bit-identical across engines before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_md5_hex6_to_int
from ..session import pin
from ..sources.tables import read_table
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# PCA top component via power iteration (Mises-Pollaczek 1929; the
# standard big-data PCA when only the leading components are needed).
# Mean-centered covariance C = E[xx'] - mu mu'; v_{k+1} = C v_k / |C v_k|
# from the uniform start vector; 3 unrolled iterations; Rayleigh
# quotient as the eigenvalue estimate.
# ---------------------------------------------------------------------------

_PCA_ITERS = 3


def _pca_sql() -> str:
    # One iteration: w = C v (join on j, sum over i), then normalize.
    def iter_cte(k: int) -> str:
        return f"""
w{k} AS (
    SELECT c.i, sum(c.c * v.x) AS x
    FROM cov c JOIN v{k - 1} v ON c.j = v.i
    GROUP BY c.i
),
n{k} AS (SELECT sqrt(sum(x * x)) AS nrm FROM w{k}),
v{k} AS (SELECT i, x / nrm AS x FROM w{k} CROSS JOIN n{k})"""

    iters = ",".join(iter_cte(k) for k in range(1, _PCA_ITERS + 1))
    last = f"v{_PCA_ITERS}"
    return f"""
WITH ev AS (
    SELECT vec_id, i - 1 AS i, CAST(x AS DOUBLE) AS x
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
mu AS (SELECT i, avg(x) AS m FROM ev GROUP BY i),
n_ AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS n FROM ev),
cov AS (
    SELECT a.i AS i, b.i AS j,
           sum(a.x * b.x) / (SELECT n FROM n_) - ma.m * mb.m AS c
    FROM ev a
    JOIN ev b ON a.vec_id = b.vec_id
    JOIN mu ma ON ma.i = a.i
    JOIN mu mb ON mb.i = b.i
    GROUP BY a.i, b.i, ma.m, mb.m
),
d_ AS (SELECT count(*) AS d FROM mu),
v0 AS (SELECT i, 1.0 / sqrt((SELECT d FROM d_)) AS x FROM mu),
{iters},
ray AS (
    SELECT sum(v.x * c.c * u.x) AS lam
    FROM {last} v JOIN cov c ON c.i = v.i JOIN {last} u ON u.i = c.j
)
SELECT CAST(v.i AS BIGINT) AS dim,
       {R("v.x", 6)} AS loading,
       {R("(SELECT lam FROM ray)", 4)} AS eigenvalue
FROM {last} v
"""


_PCA_SQL = _pca_sql()


@register("pca_power_iteration", _PCA_SQL)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus: relational
    covariance + 3 unrolled power iterations + Rayleigh eigenvalue."""
    emb = read_table(spark, sf_dir, "embeddings")
    ev = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("vec_id", F.col("pos").alias("i"), F.col("col").alias("x"))
    mu = ev.groupBy("i").agg(F.avg("x").alias("m"))
    n_rows = ev.select("vec_id").distinct().count()
    head = emb.select(F.size("embedding").alias("d")).first()
    # Empty corpus: no dims exist, every downstream frame is empty; any
    # positive d keeps the start-vector literal finite.
    d = head["d"] if head is not None else 1
    n_rows = n_rows or 1
    a = ev.select(F.col("vec_id"), F.col("i"), F.col("x"))
    b = ev.select(
        F.col("vec_id"), F.col("i").alias("j"), F.col("x").alias("xb")
    )
    prod = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg((F.sum(F.col("x") * F.col("xb")) / F.lit(float(n_rows))).alias("exx"))
    )
    mua = mu.select(F.col("i"), F.col("m").alias("ma"))
    mub = mu.select(F.col("i").alias("j"), F.col("m").alias("mb"))
    cov = pin(
        prod.join(F.broadcast(mua), "i")
        .join(F.broadcast(mub), "j")
        .select("i", "j", (F.col("exx") - F.col("ma") * F.col("mb")).alias("c"))
    )
    v = mu.select("i", F.lit(1.0 / float(d) ** 0.5).alias("x"))
    for _ in range(_PCA_ITERS):
        w = (
            cov.join(v.select(F.col("i").alias("j"), "x"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("x")).alias("x"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            "i", (F.col("x") / F.col("nrm")).alias("x")
        )
    u = v.select(F.col("i").alias("j"), F.col("x").alias("u"))
    ray = (
        v.join(cov, "i")
        .join(u, "j")
        .agg(F.sum(F.col("x") * F.col("c") * F.col("u")).alias("lam"))
    )
    return v.crossJoin(F.broadcast(ray)).select(
        F.col("i").cast("long").alias("dim"),
        dround(F.col("x"), 6).alias("loading"),
        dround(F.col("lam"), 4).alias("eigenvalue"),
    )


# ---------------------------------------------------------------------------
# Multi-feature OLS by normal equations (the closed form every
# in-warehouse regression uses below ~100 features): y = b0 + b1 x1 +
# b2 x2 over lineitem (y = extendedprice, x1 = quantity, x2 = discount).
# X'X and X'y are 9 monoid sums from ONE scan; the 3x3 system solves by
# Cramer's rule; R^2 from the residual identity. `stats_corr_regr_by_flag`
# is the single-feature form — this is the general shape.
# ---------------------------------------------------------------------------

_OLS_SQL = f"""
WITH m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(l_quantity) AS s1, sum(l_discount) AS s2,
           sum(l_quantity * l_quantity) AS s11,
           sum(l_quantity * l_discount) AS s12,
           sum(l_discount * l_discount) AS s22,
           sum(l_extendedprice) AS sy,
           sum(l_quantity * l_extendedprice) AS sy1,
           sum(l_discount * l_extendedprice) AS sy2,
           sum(l_extendedprice * l_extendedprice) AS syy
    FROM lineitem
),
det AS (
    SELECT *,
           n * (s11 * s22 - s12 * s12)
         - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2) AS dd
    FROM m
),
beta AS (
    SELECT *,
           (sy * (s11 * s22 - s12 * s12)
          - s1 * (sy1 * s22 - s12 * sy2)
          + s2 * (sy1 * s12 - s11 * sy2)) / dd AS b0,
           (n * (sy1 * s22 - sy2 * s12)
          - sy * (s1 * s22 - s12 * s2)
          + s2 * (s1 * sy2 - sy1 * s2)) / dd AS b1,
           (n * (s11 * sy2 - s12 * sy1)
          - s1 * (s1 * sy2 - sy1 * s2)
          + sy * (s1 * s12 - s11 * s2)) / dd AS b2
    FROM det
)
SELECT CAST(n AS BIGINT) AS n_rows,
       {R("b0", 4)} AS beta0, {R("b1", 4)} AS beta1, {R("b2", 4)} AS beta2,
       {R("1 - (syy - b0 * sy - b1 * sy1 - b2 * sy2) / (syy - sy * sy / n)", 6)} AS r2
FROM beta
"""

register_sql("ols_normal_equations", _OLS_SQL)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection with distortion verification:
# project the 64-dim embeddings to 16 dims with a deterministic +-1 sign
# matrix (md5-derived, built as its own 1024-row relation — the hash
# runs once per MATRIX cell, never per data row) and measure pairwise
# squared-distance distortion on a fixed 20-vector panel. JL promises
# ||ya-yb||^2 / (k * ||xa-xb||^2) ~ 1; the query reports the mean ratio
# and the share inside [0.5, 2].
#
# Exactness: coordinates are quantized to integers (round(x * 2^20)) so
# every sum is order-independent and bit-identical across engines — no
# float fold anywhere; the scale cancels inside the ratio. Magnitudes:
# |y_i| <= 64 * 2^21 ~ 2^27, squared-sums over 16 dims < 2^58 — inside
# long range.
#
# Scale: the projection is (rows x 64) exploded coordinates joined to a
# BROADCAST 1024-cell sign matrix, then an integer groupBy — linear in
# input, shuffles on (vec_id, proj_dim). The panel self-joins are
# 20-vector bounded by construction.
# ---------------------------------------------------------------------------

_JL_IN_DIMS = 64
_JL_OUT_DIMS = 16
_JL_PANEL = 20
_JL_Q = 1 << 20

_JL_SQL = f"""
WITH panel AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_JL_PANEL}
),
coords AS (
    SELECT vec_id, j,
           -- CAST to DOUBLE before scaling (FLOAT*INT stays float in
           -- DuckDB) and floor(v + 0.5) instead of round() (tie rule is
           -- engine-defined; floor+0.5 is not)
           CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * {_JL_Q} + 0.5)
                AS BIGINT) AS xq
    FROM (SELECT vec_id, embedding,
                 unnest(range(0, {_JL_IN_DIMS})) AS j
          FROM panel)
),
signs AS (
    -- the projection-dim column is named oi, NOT i: the md5 fragment's
    -- internal list_transform lambda binds i and would SHADOW the column
    -- (probed: the key silently hashed the lambda index -> sign matrix
    -- constant across output dims)
    SELECT oi, j,
           CASE WHEN ({sql_md5_hex6_to_int(
               "concat_ws('', 'jl_', CAST(oi AS VARCHAR), '_', CAST(j AS VARCHAR))"
           )}) % 2 = 0 THEN 1 ELSE -1 END AS s
    FROM (SELECT unnest(range(0, {_JL_OUT_DIMS})) AS oi) a
    CROSS JOIN (SELECT unnest(range(0, {_JL_IN_DIMS})) AS j) b
),
proj AS (
    SELECT c.vec_id, s.oi, sum(s.s * c.xq) AS y
    FROM coords c JOIN signs s ON s.j = c.j
    GROUP BY c.vec_id, s.oi
),
ydist AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           sum((a.y - b.y) * (a.y - b.y)) AS dy2
    FROM proj a JOIN proj b ON a.oi = b.oi AND a.vec_id < b.vec_id
    GROUP BY a.vec_id, b.vec_id
),
xdist AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           sum((a.xq - b.xq) * (a.xq - b.xq)) AS dx2
    FROM coords a JOIN coords b ON a.j = b.j AND a.vec_id < b.vec_id
    GROUP BY a.vec_id, b.vec_id
),
ratios AS (
    SELECT CAST(y.dy2 AS DOUBLE)
           / ({_JL_OUT_DIMS} * CAST(x.dx2 AS DOUBLE)) AS r
    FROM ydist y JOIN xdist x ON x.va = y.va AND x.vb = y.vb
    WHERE x.dx2 > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       {R("avg(r)", 6)} AS mean_ratio,
       {R("avg(CASE WHEN r >= 0.5 AND r <= 2.0 THEN 1.0 ELSE 0.0 END)", 6)}
           AS share_within_2x
FROM ratios
"""


@register("jl_projection_distortion", _JL_SQL)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64->16-dim +-1 random projection of a 20-vector panel with
    pairwise squared-distance distortion stats (mean ratio, share within
    [0.5, 2]). All integer arithmetic up to the final two divisions."""
    from ..functions.text import md5_hex6_to_int

    emb = read_table(spark, sf_dir, "embeddings")
    panel = emb.filter(F.col("vec_id") < _JL_PANEL)
    coords = panel.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "x"),
    ).select(
        "vec_id",
        "j",
        F.floor(F.col("x") * _JL_Q + 0.5).cast("long").alias("xq"),
    )
    ij = spark.range(_JL_OUT_DIMS).select(F.col("id").alias("i")).crossJoin(
        spark.range(_JL_IN_DIMS).select(F.col("id").alias("j"))
    )
    sign_key = F.concat_ws(
        "",
        F.lit("jl_"),
        F.col("i").cast("string"),
        F.lit("_"),
        F.col("j").cast("string"),
    )
    signs = ij.select(
        "i",
        "j",
        F.when(md5_hex6_to_int(sign_key) % 2 == 0, 1).otherwise(-1).alias("s"),
    )
    proj = (
        coords.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "i")
        .agg(F.sum(F.col("s") * F.col("xq")).alias("y"))
    )
    pa = proj.alias("pa")
    pb = proj.alias("pb")
    ydist = (
        pa.join(
            pb,
            (F.col("pa.i") == F.col("pb.i"))
            & (F.col("pa.vec_id") < F.col("pb.vec_id")),
        )
        .groupBy(
            F.col("pa.vec_id").alias("va"), F.col("pb.vec_id").alias("vb")
        )
        .agg(
            F.sum(
                (F.col("pa.y") - F.col("pb.y"))
                * (F.col("pa.y") - F.col("pb.y"))
            ).alias("dy2")
        )
    )
    ca = coords.alias("ca")
    cb = coords.alias("cb")
    xdist = (
        ca.join(
            cb,
            (F.col("ca.j") == F.col("cb.j"))
            & (F.col("ca.vec_id") < F.col("cb.vec_id")),
        )
        .groupBy(
            F.col("ca.vec_id").alias("va"), F.col("cb.vec_id").alias("vb")
        )
        .agg(
            F.sum(
                (F.col("ca.xq") - F.col("cb.xq"))
                * (F.col("ca.xq") - F.col("cb.xq"))
            ).alias("dx2")
        )
    )
    ratios = (
        ydist.join(xdist, ["va", "vb"])
        .filter(F.col("dx2") > 0)
        .select(
            (
                F.col("dy2").cast("double")
                / (F.lit(_JL_OUT_DIMS) * F.col("dx2").cast("double"))
            ).alias("r")
        )
    )
    return ratios.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        dround(F.avg("r"), 6).alias("mean_ratio"),
        dround(
            F.avg(
                F.when((F.col("r") >= 0.5) & (F.col("r") <= 2.0), 1.0).otherwise(
                    0.0
                )
            ),
            6,
        ).alias("share_within_2x"),
    )


# ---------------------------------------------------------------------------
# In-engine logistic regression (IRLS / Newton-Raphson, McCullagh &
# Nelder GLM ch. 4): P(order is finalized) ~ sigmoid(b0 + b1 x1 + b2 x2)
# with x1 = ln(1 + o_totalprice), x2 = order epoch scaled by 1e-9 (the
# labels are a balanced three-way status mix, so the MLE is finite —
# the first draft predicted user conversion, which the fixture
# SATURATES (every user converts -> complete separation, the intercept
# walks off with every Newton step); order status is the honest
# target), trained by TWO unrolled Newton steps from beta = 0. Extends the linalg family past
# OLS: each step is ONE map-side-combined weighted-moment aggregate
# (H = X'WX, g = X'(y - mu) — 9 sums) followed by the same Cramer 3x3
# solve `ols_normal_equations` uses; the 1-row step result broadcasts
# back onto the user grain for the next step's mu. No driver-side float
# math — both engines chain the identical expression DAG, so the betas
# agree to the rounding contract (exp/ln ULP noise dies in dround).
# Two steps are the documented budget (quadratic Newton convergence gets
# within rounding of the MLE on well-conditioned 3-parameter problems);
# the unroll pattern extends mechanically, like the k-means iterations.
# ---------------------------------------------------------------------------


def _cramer3(c, s11, s12, s13, s22, s23, s33, g1, g2, g3):
    """Solve the symmetric 3x3 system H d = g by Cramer's rule; `c` maps
    names -> column-like operands (works for Spark Columns)."""
    a, b_, cc = c[s11], c[s12], c[s13]
    d, e = c[s22], c[s23]
    f = c[s33]
    r1, r2, r3 = c[g1], c[g2], c[g3]
    det = a * (d * f - e * e) - b_ * (b_ * f - e * cc) + cc * (b_ * e - d * cc)
    d1 = r1 * (d * f - e * e) - b_ * (r2 * f - e * r3) + cc * (r2 * e - d * r3)
    d2 = a * (r2 * f - e * r3) - r1 * (b_ * f - e * cc) + cc * (b_ * r3 - r2 * cc)
    d3 = a * (d * r3 - r2 * e) - b_ * (b_ * r3 - r2 * cc) + r1 * (b_ * e - d * cc)
    return d1 / det, d2 / det, d3 / det


def _cramer3_sql(p, s11, s12, s13, s22, s23, s33, g1, g2, g3):
    c = {
        k: f"{p}{k}"
        for k in (s11, s12, s13, s22, s23, s33, g1, g2, g3)
    }

    class _S(str):
        def __mul__(self, o):
            return _S(f"({self} * {o})")

        def __sub__(self, o):
            return _S(f"({self} - {o})")

        def __add__(self, o):
            return _S(f"({self} + {o})")

        def __truediv__(self, o):
            return _S(f"({self} / {o})")

    return _cramer3(
        {k: _S(v) for k, v in c.items()},
        s11, s12, s13, s22, s23, s33, g1, g2, g3,
    )


_LOGREG_SQL_USERS = """
users AS (
    SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS y,
           ln(1 + o_totalprice) AS x1,
           CAST(floor(epoch(o_orderdate)) AS DOUBLE) / 1e9 AS x2
    FROM orders
)
"""


def _logreg_sql() -> str:
    # step 1 (beta = 0): mu = 0.5, w = 0.25
    b0_1, b1_1, b2_1 = _cramer3_sql(
        "", "h11", "h12", "h13", "h22", "h23", "h33", "g1", "g2", "g3"
    )
    # step 2 solves the same system with beta-1 weights
    d0, d1, d2 = _cramer3_sql(
        "", "h11", "h12", "h13", "h22", "h23", "h33", "g1", "g2", "g3"
    )
    return f"""
WITH {_LOGREG_SQL_USERS},
m1 AS (
    SELECT 0.25 * count(*) AS h11, 0.25 * sum(x1) AS h12, 0.25 * sum(x2) AS h13,
           0.25 * sum(x1 * x1) AS h22, 0.25 * sum(x1 * x2) AS h23,
           0.25 * sum(x2 * x2) AS h33,
           sum(y - 0.5) AS g1, sum(x1 * (y - 0.5)) AS g2,
           sum(x2 * (y - 0.5)) AS g3
    FROM users
),
b1 AS (SELECT {b0_1} AS b0, {b1_1} AS b1, {b2_1} AS b2 FROM m1),
sc2 AS (
    SELECT u.y, u.x1, u.x2,
           1.0 / (1.0 + exp(-(b.b0 + b.b1 * u.x1 + b.b2 * u.x2))) AS mu
    FROM users u CROSS JOIN b1 b
),
m2 AS (
    SELECT sum(mu * (1 - mu)) AS h11, sum(mu * (1 - mu) * x1) AS h12,
           sum(mu * (1 - mu) * x2) AS h13,
           sum(mu * (1 - mu) * x1 * x1) AS h22,
           sum(mu * (1 - mu) * x1 * x2) AS h23,
           sum(mu * (1 - mu) * x2 * x2) AS h33,
           sum(y - mu) AS g1, sum(x1 * (y - mu)) AS g2,
           sum(x2 * (y - mu)) AS g3,
           CAST(count(*) AS BIGINT) AS n
    FROM sc2
),
b2 AS (
    SELECT b1.b0 + ({d0}) AS b0, b1.b1 + ({d1}) AS b1, b1.b2 + ({d2}) AS b2,
           m2.n
    FROM m2 CROSS JOIN b1
),
fit AS (
    SELECT b.n, b.b0, b.b1, b.b2,
           1.0 / (1.0 + exp(-(b.b0 + b.b1 * u.x1 + b.b2 * u.x2))) AS mu,
           u.y
    FROM users u CROSS JOIN b2 b
)
SELECT CAST(n AS BIGINT) AS n_orders,
       {R("b0", 4)} AS beta0, {R("b1", 4)} AS beta1, {R("b2", 4)} AS beta2,
       {R("avg(-(y * ln(mu) + (1 - y) * ln(1 - mu)))", 6)} AS log_loss
FROM fit GROUP BY n, b0, b1, b2
"""


@register("logreg_newton_irls", _logreg_sql())
def logreg_newton_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of order finalization on price + recency
    features: two unrolled Newton/IRLS steps, Cramer 3x3 solves, train
    log-loss."""
    o = read_table(spark, sf_dir, "orders")
    users = o.select(
        F.when(F.col("o_orderstatus") == "F", 1.0)
        .otherwise(0.0)
        .alias("y"),
        F.log(1 + F.col("o_totalprice")).alias("x1"),
        (
            F.floor(F.col("o_orderdate").cast("long")).cast("double") / 1e9
        ).alias("x2"),
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    m1 = users.agg(
        (0.25 * F.count(F.lit(1))).alias("h11"),
        (0.25 * F.sum(x1)).alias("h12"),
        (0.25 * F.sum(x2)).alias("h13"),
        (0.25 * F.sum(x1 * x1)).alias("h22"),
        (0.25 * F.sum(x1 * x2)).alias("h23"),
        (0.25 * F.sum(x2 * x2)).alias("h33"),
        F.sum(y - 0.5).alias("g1"),
        F.sum(x1 * (y - 0.5)).alias("g2"),
        F.sum(x2 * (y - 0.5)).alias("g3"),
    )
    cols = {k: F.col(k) for k in
            ("h11", "h12", "h13", "h22", "h23", "h33", "g1", "g2", "g3")}
    s0, s1, s2 = _cramer3(
        cols, "h11", "h12", "h13", "h22", "h23", "h33", "g1", "g2", "g3"
    )
    b1df = m1.select(s0.alias("b0"), s1.alias("b1"), s2.alias("b2"))
    mu1 = 1.0 / (
        1.0 + F.exp(-(F.col("b0") + F.col("b1") * x1 + F.col("b2") * x2))
    )
    sc2 = users.crossJoin(F.broadcast(b1df)).select(
        "y", "x1", "x2", mu1.alias("mu"),
        "b0", "b1", "b2",
    )
    w = F.col("mu") * (1 - F.col("mu"))
    m2 = sc2.agg(
        F.sum(w).alias("h11"),
        F.sum(w * x1).alias("h12"),
        F.sum(w * x2).alias("h13"),
        F.sum(w * x1 * x1).alias("h22"),
        F.sum(w * x1 * x2).alias("h23"),
        F.sum(w * x2 * x2).alias("h33"),
        F.sum(y - F.col("mu")).alias("g1"),
        F.sum(x1 * (y - F.col("mu"))).alias("g2"),
        F.sum(x2 * (y - F.col("mu"))).alias("g3"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("b0").alias("pb0"),
        F.max("b1").alias("pb1"),
        F.max("b2").alias("pb2"),
    )
    d0, d1, d2 = _cramer3(
        cols, "h11", "h12", "h13", "h22", "h23", "h33", "g1", "g2", "g3"
    )
    b2df = m2.select(
        (F.col("pb0") + d0).alias("b0"),
        (F.col("pb1") + d1).alias("b1"),
        (F.col("pb2") + d2).alias("b2"),
        "n",
    )
    mu2 = 1.0 / (
        1.0 + F.exp(-(F.col("b0") + F.col("b1") * x1 + F.col("b2") * x2))
    )
    fit = users.crossJoin(F.broadcast(b2df)).select(
        "y", "n", "b0", "b1", "b2", mu2.alias("mu")
    )
    loss = F.avg(
        -(y * F.log(F.col("mu")) + (1 - y) * F.log(1 - F.col("mu")))
    )
    return fit.groupBy("n", "b0", "b1", "b2").agg(
        dround(loss, 6).alias("log_loss")
    ).select(
        F.col("n").cast("long").alias("n_orders"),
        dround(F.col("b0"), 4).alias("beta0"),
        dround(F.col("b1"), 4).alias("beta1"),
        dround(F.col("b2"), 4).alias("beta2"),
        "log_loss",
    )


# ---------------------------------------------------------------------------
# Ridge regression lambda sweep with holdout selection (round 4): the
# model-selection companion of cv_fold_rmse / learning_curve_scaling.
# Same two-feature problem as ols_normal_equations; the intercept is NOT
# penalized (the standard convention), so the normal matrix is X'X with
# lambda added to the two feature diagonals only.
#
# Scale design: ONE training-split scan produces the 10 moment sums; the
# per-lambda solves are Cramer determinant algebra on that single row
# cross-joined with a CONSTANT 5-row lambda relation (lambda enters the
# determinants as a column — no per-lambda unrolling, no extra scans);
# ONE holdout scan cross-joins the 5-row beta table and scores every
# lambda at once. Two fact passes total, independent of |lambdas|. Both
# engines run this one text, determinants (_det3) included.
# ---------------------------------------------------------------------------

_RIDGE_LAMBDAS = (0.0, 0.1, 1.0, 10.0, 100.0)


def _det3(
    a1: str, a2: str, a3: str,
    b1: str, b2: str, b3: str,
    c1: str, c2: str, c3: str,
) -> str:
    """Shared 3x3 determinant expansion (first-row cofactors) — the ONE
    arithmetic tree both engines evaluate."""
    return (
        f"({a1}) * (({b2}) * ({c3}) - ({b3}) * ({c2})) "
        f"- ({a2}) * (({b1}) * ({c3}) - ({b3}) * ({c1})) "
        f"+ ({a3}) * (({b1}) * ({c2}) - ({b2}) * ({c1}))"
    )


# Normal matrix with the unpenalized intercept: row1 = (n, s1, s2),
# row2 = (s1, s11+lam, s12), row3 = (s2, s12, s22+lam); RHS = (sy, sy1, sy2).
_RIDGE_DD = _det3("n", "s1", "s2",
                  "s1", "s11 + lam", "s12",
                  "s2", "s12", "s22 + lam")
_RIDGE_B0 = _det3("sy", "s1", "s2",
                  "sy1", "s11 + lam", "s12",
                  "sy2", "s12", "s22 + lam")
_RIDGE_B1 = _det3("n", "sy", "s2",
                  "s1", "sy1", "s12",
                  "s2", "sy2", "s22 + lam")
_RIDGE_B2 = _det3("n", "s1", "sy",
                  "s1", "s11 + lam", "sy1",
                  "s2", "s12", "sy2")


def _ridge_sql() -> str:
    from .trainset import knuth_sql

    split = f"{knuth_sql('l_orderkey')} % 10"
    lams = ", ".join(f"({v})" for v in _RIDGE_LAMBDAS)
    return f"""
WITH base AS (
    SELECT {split} AS bucket, l_quantity AS x1, l_discount AS x2,
           l_extendedprice AS y
    FROM lineitem
),
m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(x1) AS s1, sum(x2) AS s2,
           sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
           sum(y) AS sy, sum(x1 * y) AS sy1, sum(x2 * y) AS sy2
    FROM base WHERE bucket < 8
),
lams(lam) AS (VALUES {lams}),
betas AS (
    SELECT lam,
           ({_RIDGE_B0}) / ({_RIDGE_DD}) AS b0,
           ({_RIDGE_B1}) / ({_RIDGE_DD}) AS b1,
           ({_RIDGE_B2}) / ({_RIDGE_DD}) AS b2
    FROM m CROSS JOIN lams
)
SELECT {R('b.lam', 2)} AS lam,
       {R('b.b0', 4)} AS beta0,
       {R('b.b1', 4)} AS beta1,
       {R('b.b2', 4)} AS beta2,
       CAST(count(*) AS BIGINT) AS n_eval,
       {R('sqrt(sum((e.y - (b.b0 + b.b1 * e.x1 + b.b2 * e.x2)) '
          '* (e.y - (b.b0 + b.b1 * e.x1 + b.b2 * e.x2))) / count(*))', 4)}
           AS rmse_holdout
FROM (SELECT * FROM base WHERE bucket >= 8) e
CROSS JOIN betas b
GROUP BY b.lam, b.b0, b.b1, b.b2
"""

register_sql("ridge_lambda_sweep", _ridge_sql())
