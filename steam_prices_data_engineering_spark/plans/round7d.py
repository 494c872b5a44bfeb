"""Round-7 part D: probabilistic record linkage a la Fellegi-Sunter
(Fellegi & Sunter 1969) with EM-estimated m/u probabilities (Winkler
1988) — the statistical layer ABOVE the deterministic blocking the
repo already ships (`record_linkage_blocking`: noun blocking +
levenshtein bands).

Candidate name pairs (noun block, levenshtein <= 3, exact-duplicate
records consolidated to the name grain FIRST — the aggregate-then-
compare rule) get a 3-field binary comparison vector:
  a1 = near-exact name (levenshtein <= 1)
  a2 = consolidated brand agrees
  a3 = consolidated type agrees
The 2^3 = 8 pattern counts are a BOUNDED frame; EM alternates
  E: w_j = p Π m_k^a (1-m_k)^(1-a) / (p Π m + (1-p) Π u)
  M: m_k = Σ w c a_k / Σ w c,  u_k = Σ (1-w) c a_k / Σ (1-w) c,
     p = Σ w c / Σ c
for 3 fixed iterations from (m=0.8, u=0.2, p=0.1). Per pattern the
output reports the count, the Fellegi-Sunter match weight
log2(P_m/P_u), and the EM posterior — the table a linkage review reads
to set upper/lower thresholds.

Scale shape: the only fact-scale work is the blocked pair build (the
same bounded noun-block join record_linkage_blocking runs); EM runs
driver-side on the COLLECTED 8-row pattern table (the bounded
Markov-transition/BPE discipline), and the oracle unrolls the same 3
iterations as materialized scalar CTEs. All literals CAST to DOUBLE
(the bare-decimal division gotcha); outputs dround(6).

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

_FS_MAXLEV = 3
_FS_ITERS = 3
_FS_M0, _FS_U0, _FS_P0 = 0.8, 0.2, 0.1


def _fs_pairs_sql() -> str:
    return f"""
names AS (
    SELECT p_name,
           min(p_brand) AS brand, min(p_type) AS ptype
    FROM part GROUP BY p_name
),
nn AS (
    SELECT p_name, brand, ptype,
           string_split(p_name, ' ')[2] AS noun
    FROM names
),
cand AS (
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS lev,
           CASE WHEN a.brand = b.brand THEN 1 ELSE 0 END AS a2,
           CASE WHEN a.ptype = b.ptype THEN 1 ELSE 0 END AS a3
    FROM nn a JOIN nn b ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FS_MAXLEV}
),
pat AS MATERIALIZED (
    SELECT CASE WHEN lev <= 1 THEN 1 ELSE 0 END AS a1, a2, a3,
           CAST(count(*) AS DOUBLE) AS c
    FROM cand GROUP BY 1, 2, 3
)"""


def _fs_em_sql() -> str:
    def e_step(prev: str) -> str:
        pm = (
            f"(CASE WHEN a1 = 1 THEN {prev}.m1 ELSE 1 - {prev}.m1 END)"
            f" * (CASE WHEN a2 = 1 THEN {prev}.m2 ELSE 1 - {prev}.m2 END)"
            f" * (CASE WHEN a3 = 1 THEN {prev}.m3 ELSE 1 - {prev}.m3 END)"
        )
        pu = (
            f"(CASE WHEN a1 = 1 THEN {prev}.u1 ELSE 1 - {prev}.u1 END)"
            f" * (CASE WHEN a2 = 1 THEN {prev}.u2 ELSE 1 - {prev}.u2 END)"
            f" * (CASE WHEN a3 = 1 THEN {prev}.u3 ELSE 1 - {prev}.u3 END)"
        )
        return (
            f"{prev}.p * {pm} / ({prev}.p * {pm} + (1 - {prev}.p) * {pu})"
        )

    init = (
        f"it0 AS (SELECT CAST({_FS_M0} AS DOUBLE) AS m1,"
        f" CAST({_FS_M0} AS DOUBLE) AS m2, CAST({_FS_M0} AS DOUBLE) AS m3,"
        f" CAST({_FS_U0} AS DOUBLE) AS u1, CAST({_FS_U0} AS DOUBLE) AS u2,"
        f" CAST({_FS_U0} AS DOUBLE) AS u3, CAST({_FS_P0} AS DOUBLE) AS p)"
    )
    levels = [init]
    for t in range(1, _FS_ITERS + 1):
        prev = f"it{t - 1}"
        w = e_step(prev)
        levels.append(
            f"""it{t} AS MATERIALIZED (
    SELECT sum(w * c * a1) / sum(w * c) AS m1,
           sum(w * c * a2) / sum(w * c) AS m2,
           sum(w * c * a3) / sum(w * c) AS m3,
           sum((1 - w) * c * a1) / sum((1 - w) * c) AS u1,
           sum((1 - w) * c * a2) / sum((1 - w) * c) AS u2,
           sum((1 - w) * c * a3) / sum((1 - w) * c) AS u3,
           sum(w * c) / sum(c) AS p
    FROM (SELECT a1, a2, a3, c, {w} AS w FROM pat CROSS JOIN {prev}) z
)"""
        )
    return ",\n".join(levels)


def _fs_sql() -> str:
    final = f"it{_FS_ITERS}"
    pm = (
        f"(CASE WHEN a1 = 1 THEN f.m1 ELSE 1 - f.m1 END)"
        f" * (CASE WHEN a2 = 1 THEN f.m2 ELSE 1 - f.m2 END)"
        f" * (CASE WHEN a3 = 1 THEN f.m3 ELSE 1 - f.m3 END)"
    )
    pu = (
        f"(CASE WHEN a1 = 1 THEN f.u1 ELSE 1 - f.u1 END)"
        f" * (CASE WHEN a2 = 1 THEN f.u2 ELSE 1 - f.u2 END)"
        f" * (CASE WHEN a3 = 1 THEN f.u3 ELSE 1 - f.u3 END)"
    )
    return f"""
WITH {_fs_pairs_sql()},
{_fs_em_sql()}
SELECT CAST(a1 AS BIGINT) AS name_agrees,
       CAST(a2 AS BIGINT) AS brand_agrees,
       CAST(a3 AS BIGINT) AS type_agrees,
       CAST(c AS BIGINT) AS n_pairs,
       {R(f'log2(({pm}) / ({pu}))', 6)} AS match_weight,
       {R(f'f.p * ({pm}) / (f.p * ({pm}) + (1 - f.p) * ({pu}))', 6)}
           AS posterior,
       {R('f.p', 6)} AS est_match_share
FROM pat CROSS JOIN {final} f
"""


@register("fellegi_sunter_em", _fs_sql())
def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per comparison-pattern Fellegi-Sunter match weights and EM
    posteriors over noun-blocked part-name pairs."""
    import math

    p = read_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(
        F.min("p_brand").alias("brand"), F.min("p_type").alias("ptype")
    )
    nn = names.withColumn("noun", F.split(F.col("p_name"), " ")[1])
    a = nn.select(
        F.col("p_name").alias("name_a"),
        F.col("brand").alias("brand_a"),
        F.col("ptype").alias("type_a"),
        "noun",
    )
    b = nn.select(
        F.col("p_name").alias("name_b"),
        F.col("brand").alias("brand_b"),
        F.col("ptype").alias("type_b"),
        "noun",
    )
    cand = (
        a.join(b, "noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .filter(F.col("lev") <= _FS_MAXLEV)
    )
    pat = (
        cand.select(
            F.when(F.col("lev") <= 1, 1).otherwise(0).alias("a1"),
            F.when(F.col("brand_a") == F.col("brand_b"), 1)
            .otherwise(0)
            .alias("a2"),
            F.when(F.col("type_a") == F.col("type_b"), 1)
            .otherwise(0)
            .alias("a3"),
        )
        .groupBy("a1", "a2", "a3")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    pat = pin(pat)  # EM collect + final report
    rows = sorted(
        (int(r["a1"]), int(r["a2"]), int(r["a3"]), float(r["c"]))
        for r in pat.collect()
    )
    # sorted(): collect order varies with run-to-run partitioning, and
    # the EM's float accumulations are order-sensitive — an unsorted
    # loop can drift m/u/p in the last ULP and flip a dround(6)-compared
    # posterior on a half-boundary (the rolling_origin_backtest flake
    # class; ADVICE r7). The (a1,a2,a3) key is unique per row, so the
    # sort is total.
    if not rows:
        return spark.createDataFrame(
            [],
            "name_agrees long, brand_agrees long, type_agrees long, "
            "n_pairs long, match_weight double, posterior double, "
            "est_match_share double",
        )
    m = [_FS_M0] * 3
    u = [_FS_U0] * 3
    pr = _FS_P0
    for _ in range(_FS_ITERS):
        num_m = [0.0] * 3
        num_u = [0.0] * 3
        den_m = den_u = tot = wc_tot = 0.0
        for a1, a2, a3, c in rows:
            av = (a1, a2, a3)
            pm = 1.0
            pu = 1.0
            for k in range(3):
                pm *= m[k] if av[k] == 1 else 1 - m[k]
                pu *= u[k] if av[k] == 1 else 1 - u[k]
            w = pr * pm / (pr * pm + (1 - pr) * pu)
            for k in range(3):
                num_m[k] += w * c * av[k]
                num_u[k] += (1 - w) * c * av[k]
            den_m += w * c
            den_u += (1 - w) * c
            wc_tot += w * c
            tot += c
        m = [num_m[k] / den_m for k in range(3)]
        u = [num_u[k] / den_u for k in range(3)]
        pr = wc_tot / tot

    def pm_col():
        out = F.lit(1.0)
        for k, name in enumerate(("a1", "a2", "a3")):
            out = out * F.when(
                F.col(name) == 1, F.lit(m[k])
            ).otherwise(F.lit(1 - m[k]))
        return out

    def pu_col():
        out = F.lit(1.0)
        for k, name in enumerate(("a1", "a2", "a3")):
            out = out * F.when(
                F.col(name) == 1, F.lit(u[k])
            ).otherwise(F.lit(1 - u[k]))
        return out

    pm, pu = pm_col(), pu_col()
    return pat.select(
        F.col("a1").cast("long").alias("name_agrees"),
        F.col("a2").cast("long").alias("brand_agrees"),
        F.col("a3").cast("long").alias("type_agrees"),
        F.col("c").cast("long").alias("n_pairs"),
        dround(F.log2(pm / pu), 6).alias("match_weight"),
        dround(
            F.lit(pr) * pm / (F.lit(pr) * pm + F.lit(1 - pr) * pu), 6
        ).alias("posterior"),
        dround(F.lit(pr), 6).alias("est_match_share"),
    )
