"""Round-8 part B: optimizer/curation internals the tier-A batch left
uncovered — V-optimal histogram construction (the selectivity-
estimation structure a query optimizer builds), UniMax mixture
allocation (the epoch-capped uniform token allocator), Krippendorff's
alpha (inter-rater agreement WITH missing ratings — the generalization
Fleiss/Cohen cannot express), a partition content-fingerprint diff
(the incremental-recompute planner for a 100 TB landing), and
negative-binomial overdispersion diagnostics for event counts.

No counterpart in the reference (a single-threaded 2-job pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py:1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import pin
from ..sources.tables import read_table
from .registry import register

# ===========================================================================
# V-optimal histogram (Jagadish et al. 1998): the bucket boundaries
# that minimize total within-bucket SSE — the histogram class
# optimizers build for selectivity estimation (vs the equi-width /
# equi-depth histograms already registered). Output: the optimal total
# SSE for every bucket budget b = 1..B over an N-cell integer-unit
# pre-aggregation — the elbow curve that says how many buckets the
# column actually needs. (Boundary RECOVERY is the driver-side twin,
# pinned against a Python DP in tests/test_round8b_tier.py.)
#
# Determinism: values quantize to integer $10 units; per-cell (cnt, s,
# ss) are exact integers; every segment cost ss - s*s/cnt is the SAME
# double expression tree in both engines (s < 2^31 so s*s stays exact
# BIGINT before the one double division); the DP min is order-free.
#
# Scale shape: ONE fact pass reduces to the N-cell grain (map-side
# combined); the O(B * N^2) DP runs on that bounded grain — driver-side
# in Spark (the Markov/kmeans collected-grain discipline), unrolled
# pair-join CTEs in the oracle. N and B are literals; at 100 TB only
# the first pass touches facts.
# ===========================================================================

_VO_N = 24  # value cells
_VO_B = 6  # max bucket budget


def _vo_cell_ctes() -> str:
    """units -> bounds -> cells: integer $10-unit values reduced to the
    N-cell grain with exact integer (cnt, s, ss)."""
    return f"""units AS (
    SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) // 1000 AS v
    FROM orders
),
bounds AS MATERIALIZED (
    SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM units
),
cells AS MATERIALIZED (
    SELECT least(CAST(((v - lo) * {_VO_N}) // (hi - lo + 1) AS BIGINT),
                 {_VO_N - 1}) AS cell,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(v) AS BIGINT) AS s,
           CAST(sum(v * v) AS BIGINT) AS ss
    FROM units CROSS JOIN bounds
    GROUP BY 1
)"""


def _vo_sql() -> str:
    # prefix sums over the dense 0..N-1 cell index (missing cells are
    # zero rows) -> segment cost(j+1..i) from prefix differences; then
    # B unrolled DP levels d1..dB over pair joins on the bounded grain.
    parts = [
        _vo_cell_ctes(),
        f"""idx AS (SELECT unnest(range(0, {_VO_N})) AS i),
pre AS MATERIALIZED (
    SELECT i.i,
           CAST(sum(coalesce(c.cnt, 0)) OVER w AS BIGINT) AS pc,
           CAST(sum(coalesce(c.s, 0)) OVER w AS BIGINT) AS psum,
           CAST(sum(coalesce(c.ss, 0)) OVER w AS BIGINT) AS pss
    FROM idx i LEFT JOIN cells c ON c.cell = i.i
    WINDOW w AS (ORDER BY i.i ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
),
seg AS MATERIALIZED (
    -- cost of cells (j+1 .. i), j = -1 encoded as the zero prefix
    SELECT lo.j, hi.i,
           CASE WHEN hi.pc - lo.pc0 = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(hi.pss - lo.pss0 AS DOUBLE)
                     - CAST((hi.psum - lo.psum0) AS DOUBLE)
                       * (hi.psum - lo.psum0) / (hi.pc - lo.pc0)
           END AS cost
    FROM (SELECT i, pc, psum, pss FROM pre) hi
    JOIN (SELECT i AS j, pc AS pc0, psum AS psum0, pss AS pss0 FROM pre
          UNION ALL SELECT -1, 0, 0, 0) lo
      ON lo.j < hi.i
)""",
        f"d1 AS MATERIALIZED (SELECT i, cost AS c FROM seg WHERE j = -1)",
    ]
    for b in range(2, _VO_B + 1):
        parts.append(
            f"d{b} AS MATERIALIZED ("
            f"SELECT s.i, min(p.c + s.cost) AS c "
            f"FROM d{b - 1} p JOIN seg s ON s.j = p.i "
            f"GROUP BY s.i)"
        )
    unions = " UNION ALL ".join(
        f"SELECT {b} AS n_buckets, {R(f'(SELECT c FROM d{b} WHERE i = {_VO_N - 1})', 4)} AS total_sse"
        for b in range(1, _VO_B + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM ({unions})"


@register("voptimal_histogram", _vo_sql())
def voptimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal total within-bucket SSE for b = 1..6 buckets over the
    24-cell integer-unit order-total distribution."""
    o = read_table(spark, sf_dir, "orders")
    units = o.select(
        F.expr(
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) DIV 1000"
        ).alias("v")
    )
    b = units.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("v").alias("n")
    ).collect()[0]
    if not b["n"]:
        # empty landing: the oracle's zero-prefix DP still yields the
        # 6-row curve with SSE 0 — mirror it
        return spark.createDataFrame(
            [(b_i, 0.0) for b_i in range(1, _VO_B + 1)],
            "n_buckets int, total_sse double",
        )
    lo, hi = int(b["lo"]), int(b["hi"])
    # integer division mirrored verbatim (DIV here, // in the oracle)
    cell = F.expr(
        f"least(((v - {lo}) * {_VO_N}) DIV {hi - lo + 1}, {_VO_N - 1})"
    )
    cells = (
        units.groupBy(cell.cast("long").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("v").cast("long").alias("s"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
        )
        .collect()
    )
    # bounded N-cell grain -> driver-side DP (the kmeans/Markov
    # collected-grain discipline); float arithmetic mirrors the oracle's
    # expression tree exactly (cost = double(ss) - double(s)*s/cnt).
    agg = {int(r["cell"]): (r["cnt"], r["s"], r["ss"]) for r in cells}
    pc = [0] * (_VO_N + 1)
    psum = [0] * (_VO_N + 1)
    pss = [0] * (_VO_N + 1)
    for i in range(_VO_N):
        c, s, ss = agg.get(i, (0, 0, 0))
        pc[i + 1] = pc[i] + c
        psum[i + 1] = psum[i] + s
        pss[i + 1] = pss[i] + ss

    def cost(j: int, i: int) -> float:
        # cells j+1..i, prefix indices are +1-shifted
        n = pc[i + 1] - pc[j + 1]
        if n == 0:
            return 0.0
        s = psum[i + 1] - psum[j + 1]
        ss = pss[i + 1] - pss[j + 1]
        return float(ss) - float(s) * s / n

    INF = float("inf")
    dp = [cost(-1, i) for i in range(_VO_N)]
    out = [(1, dp[_VO_N - 1])]
    for b_i in range(2, _VO_B + 1):
        nxt = [
            min(
                (dp[j] + cost(j, i) for j in range(i)),
                default=INF,
            )
            for i in range(_VO_N)
        ]
        dp = nxt
        out.append((b_i, dp[_VO_N - 1]))
    rows = [
        (b_i, float(dround_py(v, 4))) for b_i, v in out
    ]
    return spark.createDataFrame(rows, "n_buckets int, total_sse double")


def dround_py(x: float, scale: int) -> float:
    """Python twin of functions/rounding.py:dround — the identical
    floor(x * 10^s + 0.5) / 10^s IEEE arithmetic for driver-side
    results that feed oracle-compared frames."""
    import math

    f = float(10**scale)
    return math.floor(x * f + 0.5) / f


# ===========================================================================
# UniMax mixture allocation (Chung et al. 2023): allocate a total token
# budget across sources as UNIFORMLY as possible subject to a per-source
# epoch cap E — the anti-duplication alternative to temperature
# sampling (which over-samples small sources past useful repetition).
# Closed form on the source grain: sort sources by available tokens
# ascending; source k gets min(E * n_k, (T - sum of earlier FINAL
# allocations) / (#sources remaining)), and once the running uniform
# level drops below E * n_k every later source takes the uniform level.
# Expressed as prefix sums + a first-crossing pick over the sorted
# bounded grain — no iteration.
#
# Determinism: token counts are exact integers; the uniform level is
# one double division per candidate row, same tree in both engines;
# the crossing pick orders by (n_tokens, source) — total.
# ===========================================================================

_UM_BUDGET_FRAC = "CAST(0.5 AS DOUBLE)"  # budget = half the corpus
_UM_EPOCH_CAP = "CAST(2.0 AS DOUBLE)"  # max 2 epochs per source

_UM_SQL = f"""
WITH stok AS MATERIALIZED (
    SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY source
),
tot AS MATERIALIZED (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus,
           CAST(count(*) AS BIGINT) AS n_src
    FROM stok
),
ranked AS (
    SELECT source, n_tokens,
           row_number() OVER (ORDER BY n_tokens, source) AS rk,
           CAST(coalesce(sum({_UM_EPOCH_CAP} * n_tokens) OVER (
               ORDER BY n_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS DOUBLE)) AS DOUBLE) AS capped_before
    FROM stok
),
lvl AS MATERIALIZED (
    -- first rank where the uniform split of what's left fits under the
    -- cap: every source from there on takes the uniform level
    SELECT min(rk) AS rk_star
    FROM ranked CROSS JOIN tot
    WHERE ({_UM_BUDGET_FRAC} * corpus - capped_before) / (n_src - rk + 1)
          <= {_UM_EPOCH_CAP} * n_tokens
),
lvl_val AS MATERIALIZED (
    SELECT ({_UM_BUDGET_FRAC} * t.corpus - r.capped_before)
               / (t.n_src - r.rk + 1) AS u
    FROM ranked r CROSS JOIN tot t CROSS JOIN lvl l
    WHERE r.rk = l.rk_star
)
SELECT r.source, r.n_tokens,
       {R(f'CASE WHEN l.rk_star IS NOT NULL AND r.rk >= l.rk_star '
          f'THEN v.u ELSE {_UM_EPOCH_CAP} * r.n_tokens END', 4)}
           AS alloc_tokens,
       {R(f'CASE WHEN l.rk_star IS NOT NULL AND r.rk >= l.rk_star '
          f'THEN v.u ELSE {_UM_EPOCH_CAP} * r.n_tokens END '
          f'/ r.n_tokens', 6)} AS epochs
FROM ranked r CROSS JOIN lvl l LEFT JOIN lvl_val v ON TRUE
"""


@register("unimax_allocation", _UM_SQL)
def unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token allocation per source: budget = 50% of corpus
    tokens, epoch cap 2.0."""
    from pyspark.sql import Window

    from ..functions.text import token_count

    d = read_table(spark, sf_dir, "documents")
    stok = d.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens")
    )
    tot = stok.agg(
        F.sum("n_tokens").cast("long").alias("corpus"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    cap = F.expr(_UM_EPOCH_CAP)
    budget = F.expr(_UM_BUDGET_FRAC)
    w = Window.orderBy("n_tokens", "source")
    ranked = stok.select(
        "source",
        "n_tokens",
        F.row_number().over(w).alias("rk"),
        F.coalesce(
            F.sum(cap * F.col("n_tokens")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        ).alias("capped_before"),
    ).crossJoin(F.broadcast(tot))
    u_at = (budget * F.col("corpus") - F.col("capped_before")) / (
        F.col("n_src") - F.col("rk") + 1
    )
    lvl = ranked.filter(u_at <= cap * F.col("n_tokens")).agg(
        F.min("rk").alias("rk_star")
    )
    lvl_val = (
        ranked.join(F.broadcast(lvl), F.col("rk") == F.col("rk_star"))
        .select(u_at.alias("u"))
    )
    alloc = F.when(
        F.col("rk_star").isNotNull() & (F.col("rk") >= F.col("rk_star")),
        F.col("u"),
    ).otherwise(cap * F.col("n_tokens"))
    return (
        ranked.crossJoin(F.broadcast(lvl))
        .join(F.broadcast(lvl_val), F.lit(True), "left")
        .select(
            "source",
            "n_tokens",
            dround(alloc, 4).alias("alloc_tokens"),
            dround(alloc / F.col("n_tokens"), 6).alias("epochs"),
        )
    )


# ===========================================================================
# Krippendorff's alpha, nominal, WITH missing ratings — the agreement
# coefficient that handles raters abstaining per unit (Cohen needs
# exactly 2 raters, Fleiss needs a constant rater count). Raters here
# are three deterministic audit rules over documents, the third of
# which ABSTAINS on doc_id % 5 == 0 (exercising the m_u-varying path).
# Coincidence-matrix form (Krippendorff 2011): per unit u with m_u >= 2
# ratings, o_ck += n_uc * n_uk / (m_u - 1) (c != k), o_cc += n_uc *
# (n_uc - 1) / (m_u - 1); alpha = 1 - Do/De with Do = sum_{c!=k} o_ck,
# De = sum_{c!=k} nbar_c * nbar_k / (n - 1).
#
# Determinism: with <= 3 raters, m_u - 1 is 1 or 2, so every o_ck term
# is an exact binary half — float sums are order-free.
# Scale shape: one doc scan to (unit, category) counts, two bounded
# rollups (category grain is {hi, lo}).
# ===========================================================================

_KA_SQL = f"""
WITH sp AS (
    SELECT doc_id, n_chars, string_split(text, ' ') AS sp FROM documents
),
rated AS (
    SELECT doc_id,
           CASE WHEN CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp)
                     >= 0.5 THEN 'hi' ELSE 'lo' END AS r1,
           CASE WHEN len(sp) >= 60 THEN 'hi' ELSE 'lo' END AS r2,
           CASE WHEN doc_id % 5 = 0 THEN NULL
                WHEN n_chars >= 300 THEN 'hi' ELSE 'lo' END AS r3
    FROM sp
),
long_r AS (
    SELECT doc_id, r FROM (
        SELECT doc_id, unnest([r1, r2, r3]) AS r FROM rated
    ) WHERE r IS NOT NULL
),
uc AS MATERIALIZED (
    SELECT doc_id, r, CAST(count(*) AS BIGINT) AS n_uc,
           CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS BIGINT) AS m_u
    FROM long_r GROUP BY doc_id, r
),
o_diag AS (
    SELECT r AS c, sum(CAST(n_uc * (n_uc - 1) AS DOUBLE) / (m_u - 1)) AS o
    FROM uc WHERE m_u >= 2 GROUP BY r
),
o_off AS (
    SELECT a.r AS c, b.r AS k,
           sum(CAST(a.n_uc * b.n_uc AS DOUBLE) / (a.m_u - 1)) AS o
    FROM uc a JOIN uc b ON a.doc_id = b.doc_id AND a.r <> b.r
    WHERE a.m_u >= 2
    GROUP BY 1, 2
),
marg AS MATERIALIZED (
    SELECT c, sum(o) AS nbar FROM (
        SELECT c, o FROM o_diag UNION ALL SELECT c, o FROM o_off
    ) GROUP BY c
),
tots AS MATERIALIZED (
    SELECT (SELECT coalesce(sum(o), CAST(0 AS DOUBLE)) FROM o_off) AS do_,
           (SELECT sum(nbar) FROM marg) AS n,
           (SELECT sum(a.nbar * b.nbar)
            FROM marg a JOIN marg b ON a.c <> b.c) AS cross_
)
SELECT CAST((SELECT count(*) FROM uc WHERE m_u >= 2) AS BIGINT)
           AS n_rating_rows,
       {R('do_', 6)} AS disagreement_obs,
       {R('cross_ / (n - 1)', 6)} AS disagreement_exp,
       {R('1 - do_ / (cross_ / (n - 1))', 6)} AS alpha
FROM tots
"""


@register("krippendorff_alpha_rules", _KA_SQL)
def krippendorff_alpha_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nominal Krippendorff's alpha over three audit rules, the third
    abstaining on doc_id % 5 == 0."""
    from pyspark.sql import Window

    from ..functions.text import distinct_token_ratio, token_count

    d = read_table(spark, sf_dir, "documents")
    rated = d.select(
        "doc_id",
        F.when(distinct_token_ratio(F.col("text")) >= 0.5, "hi")
        .otherwise("lo")
        .alias("r1"),
        F.when(token_count(F.col("text")) >= 60, "hi")
        .otherwise("lo")
        .alias("r2"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None))
        .when(F.col("n_chars") >= 300, "hi")
        .otherwise("lo")
        .alias("r3"),
    )
    long_r = (
        rated.select(
            "doc_id", F.explode(F.array("r1", "r2", "r3")).alias("r")
        )
        .filter(F.col("r").isNotNull())
    )
    wu = Window.partitionBy("doc_id")
    uc = (
        long_r.groupBy("doc_id", "r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_uc"))
        .withColumn("m_u", F.sum("n_uc").over(wu).cast("long"))
        .filter(F.col("m_u") >= 2)
    )
    uc = pin(uc)  # diag + off-diag + count
    o_diag = uc.groupBy(F.col("r").alias("c")).agg(
        F.sum(
            (F.col("n_uc") * (F.col("n_uc") - 1)).cast("double")
            / (F.col("m_u") - 1)
        ).alias("o")
    )
    b = uc.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("r").alias("k"),
        F.col("n_uc").alias("n_uk"),
    )
    o_off = (
        uc.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("r") != F.col("k")),
        )
        .groupBy(F.col("r").alias("c"), "k")
        .agg(
            F.sum(
                (F.col("n_uc") * F.col("n_uk")).cast("double")
                / (F.col("m_u") - 1)
            ).alias("o")
        )
    )
    marg = (
        o_diag.select("c", "o")
        .unionAll(o_off.select("c", "o"))
        .groupBy("c")
        .agg(F.sum("o").alias("nbar"))
    )
    marg = pin(marg)  # n + cross terms
    do_ = o_off.agg(
        F.coalesce(F.sum("o"), F.lit(0.0)).alias("do_")
    )
    n_tot = marg.agg(F.sum("nbar").alias("n"))
    m2 = marg.select(F.col("c").alias("c2"), F.col("nbar").alias("nbar2"))
    cross = (
        marg.join(m2, F.col("c") != F.col("c2"))
        .agg(F.sum(F.col("nbar") * F.col("nbar2")).alias("cross_"))
    )
    n_rows = uc.agg(
        F.count(F.lit(1)).cast("long").alias("n_rating_rows")
    )
    one = (
        n_rows.crossJoin(F.broadcast(do_))
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(cross))
    )
    de = F.col("cross_") / (F.col("n") - 1)
    return one.select(
        "n_rating_rows",
        dround(F.col("do_"), 6).alias("disagreement_obs"),
        dround(de, 6).alias("disagreement_exp"),
        dround(1 - F.col("do_") / de, 6).alias("alpha"),
    )


# ===========================================================================
# Partition content-fingerprint diff — the incremental-recompute
# planner: which day partitions of the events landing changed between
# two snapshots (prior = the landing minus days >= 21 and minus the
# late-arriving error rows of days 15-20; current = the full landing)?
# A 100 TB backfill must touch ONLY added/changed partitions; this is
# the detector that scopes it.
#
# Determinism: the fingerprint is an ORDER-FREE exact-integer
# aggregate — sum of per-row md5 ints (each < 2^24; partition sums are
# far below 2^63) — so partitioning/merge order cannot flip it.
# Scale shape: two pruned scans to the day grain, map-side combined;
# the diff is a day-grain full outer join (bounded by the calendar).
# ===========================================================================

_PF_CUT_DAY = 21
_PF_LATE_LO, _PF_LATE_HI = 15, 20


def _pf_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int

    row_h = sql_md5_hex6_to_int(
        "concat_ws('|', CAST(event_id AS VARCHAR), "
        "CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR), "
        "CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS VARCHAR))"
    )
    base = f"""
    SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({row_h}) AS BIGINT) AS fp
    FROM events
"""
    return f"""
WITH cur AS ({base} GROUP BY 1),
prior AS ({base}
    WHERE CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)
          - (SELECT min(CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT))
             FROM events) < {_PF_CUT_DAY}
      AND NOT (event_type = 'error'
               AND CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)
                   - (SELECT min(CAST(floor(floor(epoch(ts)) / 86400)
                      AS BIGINT)) FROM events)
                   BETWEEN {_PF_LATE_LO} AND {_PF_LATE_HI})
    GROUP BY 1)
SELECT c.day * 86400 AS day_start,
       coalesce(p.n, 0) AS n_prior,
       c.n AS n_current,
       CASE WHEN p.day IS NULL THEN 'added'
            WHEN p.fp <> c.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM cur c LEFT JOIN prior p ON p.day = c.day
"""


@register("partition_fingerprint_diff", _pf_sql())
def partition_fingerprint_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partition added/changed/unchanged report between a prior
    snapshot (pre-day-21, late errors missing) and the full landing."""
    from ..functions.text import md5_hex6_to_int

    e = read_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("long") / 86400).cast("long")
    row_h = md5_hex6_to_int(
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("ts").cast("long").cast("string"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").cast("string"),
        )
    )
    base = e.select(
        day.alias("day"), row_h.alias("h"), "event_type"
    )
    base = pin(base)  # cur + prior + min-day
    d0 = base.agg(F.min("day")).collect()[0][0]
    cur = base.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_current"),
        F.sum("h").cast("long").alias("fp_c"),
    )
    if d0 is None:
        return cur.select(
            (F.col("day") * 86400).alias("day_start"),
            F.lit(0).cast("long").alias("n_prior"),
            "n_current",
            F.lit("added").alias("status"),
        )
    rel = F.col("day") - F.lit(int(d0))
    prior = (
        base.filter(
            (rel < _PF_CUT_DAY)
            & ~(
                (F.col("event_type") == "error")
                & rel.between(_PF_LATE_LO, _PF_LATE_HI)
            )
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_prior"),
            F.sum("h").cast("long").alias("fp_p"),
        )
    )
    return cur.join(prior, "day", "left").select(
        (F.col("day") * 86400).alias("day_start"),
        F.coalesce(F.col("n_prior"), F.lit(0)).cast("long").alias("n_prior"),
        "n_current",
        F.when(F.col("fp_p").isNull(), "added")
        .when(F.col("fp_p") != F.col("fp_c"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# ===========================================================================
# Negative-binomial overdispersion diagnostics: per event type, is the
# daily event-count series Poisson (dispersion ~ 1) or overdispersed —
# and if so, the method-of-moments NB size r = mean^2 / (var - mean).
# The count-model sanity check before rate-based alerting (a Poisson
# assumption under real burstiness fires alerts at the wrong
# threshold; interarrival_burstiness is the gap-grain sibling).
#
# Determinism: daily counts are exact integers; mean/variance computed
# from integer (n, sum, sumsq) with one division — same tree in both
# engines (sample variance, n-1 denominator).
# ===========================================================================

_NB_SQL = f"""
WITH daily AS (
    SELECT event_type,
           CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT) AS s,
           CAST(sum(c * c) AS BIGINT) AS ss
    FROM daily GROUP BY 1
)
SELECT event_type, n_days,
       {R('CAST(s AS DOUBLE) / n_days', 6)} AS mean_daily,
       {R('(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) '
          '/ (n_days - 1)', 6)} AS var_daily,
       {R('((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) '
          '/ (n_days - 1)) / (CAST(s AS DOUBLE) / n_days)', 6)}
           AS dispersion,
       {R('CASE WHEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) '
          '/ (n_days - 1) > CAST(s AS DOUBLE) / n_days '
          'THEN (CAST(s AS DOUBLE) / n_days) * (CAST(s AS DOUBLE) / n_days) '
          '/ ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) '
          '/ (n_days - 1) - CAST(s AS DOUBLE) / n_days) '
          'ELSE NULL END', 6)} AS nb_size_r
FROM stats
WHERE n_days > 1
"""


@register("nb_overdispersion_daily", _NB_SQL)
def nb_overdispersion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count dispersion index + method-of-moments NB size per
    event type."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_days")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    return stats.filter(F.col("n_days") > 1).select(
        "event_type",
        "n_days",
        dround(mean, 6).alias("mean_daily"),
        dround(var, 6).alias("var_daily"),
        dround(var / mean, 6).alias("dispersion"),
        dround(
            F.when(var > mean, mean * mean / (var - mean)).otherwise(
                F.lit(None)
            ),
            6,
        ).alias("nb_size_r"),
    )
