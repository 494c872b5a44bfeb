"""Round-6 extension operators, part C: PSI drift monitoring, IPF
raking weights (Deming & Stephan 1940), data-constrained scaling
(Muennighoff et al. 2023), HITS hubs/authorities (Kleinberg 1999),
Hill tail-index estimation (Hill 1975), and a shard-order shuffle-
quality audit.

Same discipline as plans/round6.py / round6b.py: fact-scale work is
one map-side-combined scan per input; grids, margins and node sets are
bounded frames riding broadcast joins; bounded iterations either stay
on the bounded grain (IPF's 16-cell grid) or collect ONCE and iterate
driver-side (HITS, the kmeans/BPE/Markov discipline); cross-engine
arithmetic that must match to the last ULP is ONE SQL fragment both
engines evaluate (the linalg _det3 pattern).

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the monitoring, survey-weighting, scaling-law, graph and
training-order jobs a 100 TB data platform runs on the same engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import pin
from ..sources.tables import read_table, values_frame
from .registry import register

# ===========================================================================
# Population Stability Index (the standard industry drift score credit
# risk/ML monitoring runs daily): split the event log at its epoch
# midpoint, bin CURRENT values by the REFERENCE decile edges, and report
# per-bin shares + PSI contributions. PSI = sum (p_cur - p_ref) *
# ln(p_cur / p_ref); <0.10 stable, 0.10-0.25 moderate, >0.25 shifted.
#
# Scale shape: one 1-row min/max aggregate for the split point, one
# reference-side exact-percentile aggregate for the 9 edges (swap to
# percentile_approx at corpus scale — the trainset_curriculum_shards
# precedent), then ONE binned (side, bin) aggregate; everything
# downstream is the bounded 10-bin grain. Edges are dround(6) in BOTH
# engines before the comparisons so a value sitting on an interpolated
# edge bins identically (Spark `percentile` == DuckDB `quantile_cont`,
# same (n-1)*p interpolation — the pinned interop).
# ===========================================================================

_PSI_EPS = "CAST(0.000001 AS DOUBLE)"


def _psi_sql() -> str:
    edges = ", ".join(
        f"{R(f'quantile_cont(CASE WHEN side = 0 THEN value END, 0.{i})', 6)}"
        f" AS e{i}"
        for i in range(1, 10)
    )
    binexpr = "1 + " + " + ".join(
        f"CASE WHEN value > e{i} THEN 1 ELSE 0 END" for i in range(1, 10)
    )
    return f"""
WITH ev AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
cut AS (
    SELECT CAST(floor((min(sec) + max(sec)) / 2.0) AS BIGINT) AS mid
    FROM ev
),
sided AS MATERIALIZED (
    SELECT CASE WHEN e.sec <= c.mid THEN 0 ELSE 1 END AS side, e.value
    FROM ev e CROSS JOIN cut c
),
edges AS (SELECT {edges} FROM sided),
binned AS (
    SELECT s.side, {binexpr} AS bin
    FROM sided s CROSS JOIN edges e
),
cnt AS (
    SELECT side, bin, CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY side, bin
),
tot AS (SELECT side, sum(n) AS z FROM cnt GROUP BY side),
shares AS (
    SELECT b.bin,
           coalesce(r.n, 0) AS n_ref, coalesce(c.n, 0) AS n_cur,
           coalesce(CAST(r.n AS DOUBLE) / tr.z, 0.0) AS p_ref,
           coalesce(CAST(c.n AS DOUBLE) / tc.z, 0.0) AS p_cur
    FROM (SELECT DISTINCT bin FROM cnt) b
    LEFT JOIN cnt r ON r.bin = b.bin AND r.side = 0
    LEFT JOIN cnt c ON c.bin = b.bin AND c.side = 1
    CROSS JOIN (SELECT z FROM tot WHERE side = 0) tr
    CROSS JOIN (SELECT z FROM tot WHERE side = 1) tc
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       {R('p_ref', 6)} AS p_ref, {R('p_cur', 6)} AS p_cur,
       {R(f'''(p_cur - p_ref)
              * ln(greatest(p_cur, {_PSI_EPS})
                   / greatest(p_ref, {_PSI_EPS}))''', 6)} AS psi_term
FROM shares
"""


@register("psi_value_drift", _psi_sql())
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin PSI of event values, first vs second half of the log."""
    e = read_table(spark, sf_dir, "events")
    ev = e.select(
        F.floor(F.col("ts").cast("long")).cast("long").alias("sec"),
        "value",
    )
    cut = ev.agg(
        F.floor((F.min("sec") + F.max("sec")) / 2.0)
        .cast("long")
        .alias("mid")
    )
    sided = ev.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("sec") <= F.col("mid"), 0).otherwise(1).alias("side"),
        "value",
    )
    edges = sided.agg(
        *[
            dround(
                F.percentile(
                    F.when(F.col("side") == 0, F.col("value")), i / 10.0
                ),
                6,
            ).alias(f"e{i}")
            for i in range(1, 10)
        ]
    )
    binexpr = F.lit(1)
    for i in range(1, 10):
        binexpr = binexpr + F.when(
            F.col("value") > F.col(f"e{i}"), 1
        ).otherwise(0)
    cnt = (
        sided.crossJoin(F.broadcast(edges))
        .select("side", binexpr.alias("bin"))
        .groupBy("side", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cnt = pin(cnt)  # spine + two side branches
    # a missing side drops ALL rows (mirrors the oracle's empty scalar
    # cross join — degenerate single-timestamp logs emit no comparison)
    tot_r = (
        cnt.filter(F.col("side") == 0)
        .agg(F.sum("n").cast("double").alias("zr"))
        .filter(F.col("zr").isNotNull())
    )
    tot_c = (
        cnt.filter(F.col("side") == 1)
        .agg(F.sum("n").cast("double").alias("zc"))
        .filter(F.col("zc").isNotNull())
    )
    spine = cnt.select("bin").distinct()
    r = cnt.filter(F.col("side") == 0).select(
        "bin", F.col("n").alias("nr")
    )
    c = cnt.filter(F.col("side") == 1).select(
        "bin", F.col("n").alias("nc")
    )
    shares = (
        spine.join(r, "bin", "left")
        .join(c, "bin", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_c))
        .select(
            "bin",
            F.coalesce(F.col("nr"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("nc"), F.lit(0)).alias("n_cur"),
            F.coalesce(F.col("nr").cast("double") / F.col("zr"), F.lit(0.0))
            .alias("p_ref"),
            F.coalesce(F.col("nc").cast("double") / F.col("zc"), F.lit(0.0))
            .alias("p_cur"),
        )
    )
    eps = F.expr(_PSI_EPS)
    return shares.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        dround(F.col("p_ref"), 6).alias("p_ref"),
        dround(F.col("p_cur"), 6).alias("p_cur"),
        dround(
            (F.col("p_cur") - F.col("p_ref"))
            * F.log(
                F.greatest(F.col("p_cur"), eps)
                / F.greatest(F.col("p_ref"), eps)
            ),
            6,
        ).alias("psi_term"),
    )


# ===========================================================================
# Raking / iterative proportional fitting (Deming & Stephan 1940): cell
# weights over the (lang x source) contingency grid so that BOTH
# weighted margins approach uniform targets (the post-stratification
# step survey-weighted eval sets need). Three full IPF double-iterations
# (lang-adjust then source-adjust), unrolled.
#
# Scale shape: ONE doc scan collapses the corpus to the bounded
# (lang x source) grid; the six scaling steps are window-sum passes over
# that tiny cached frame (windows PARTITIONED by lang or source — never
# global). Weights stay raw doubles through the iteration; outputs round
# at 6 (sums span <= |grid| terms, so engine accumulation-order drift is
# ~1e-15, far inside the rounding grid).
# ===========================================================================

_IPF_ITERS = 3


def _ipf_sql() -> str:
    steps = []
    prev = "w0"
    for it in range(_IPF_ITERS):
        steps.append(
            f"""s{it}a AS (
    SELECT lang, source, n, tl, ts2,
           w * (tl / sum(w * n) OVER (PARTITION BY lang)) AS w
    FROM {prev}
)"""
        )
        steps.append(
            f"""s{it}b AS (
    SELECT lang, source, n, tl, ts2,
           w * (ts2 / sum(w * n) OVER (PARTITION BY source)) AS w
    FROM s{it}a
)"""
        )
        prev = f"s{it}b"
    chain = ",\n".join(steps)
    return f"""
WITH cells AS MATERIALIZED (
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source
),
gl AS MATERIALIZED (
    SELECT CAST(sum(n) AS DOUBLE) / count(DISTINCT lang) AS tl,
           CAST(sum(n) AS DOUBLE) / count(DISTINCT source) AS ts2,
           CAST(sum(n) AS DOUBLE) AS nt
    FROM cells
),
w0 AS (
    SELECT c.lang, c.source, c.n, g.tl, g.ts2, CAST(1.0 AS DOUBLE) AS w
    FROM cells c CROSS JOIN gl g
),
{chain}
SELECT f.lang, f.source, CAST(f.n AS BIGINT) AS n_docs,
       {R('f.w', 6)} AS raking_weight,
       {R('CAST(f.n AS DOUBLE) / g.nt', 6)} AS raw_share,
       {R('f.w * f.n / g.nt', 6)} AS weighted_share
FROM {prev} f CROSS JOIN gl g
"""


@register("raking_ipf_weights", _ipf_sql())
def raking_ipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled IPF iterations toward uniform lang/source margins."""
    d = read_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    gl = cells.agg(
        (F.sum("n").cast("double") / F.countDistinct("lang")).alias("tl"),
        (F.sum("n").cast("double") / F.countDistinct("source")).alias(
            "ts2"
        ),
        F.sum("n").cast("double").alias("nt"),
    )
    cur = cells.crossJoin(F.broadcast(gl)).withColumn(
        "w", F.lit(1.0).cast("double")
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    for _ in range(_IPF_ITERS):
        cur = cur.withColumn(
            "w",
            F.col("w") * (F.col("tl") / F.sum(F.col("w") * F.col("n")).over(wl)),
        )
        cur = cur.withColumn(
            "w",
            F.col("w")
            * (F.col("ts2") / F.sum(F.col("w") * F.col("n")).over(ws)),
        )
    return cur.select(
        "lang",
        "source",
        F.col("n").cast("long").alias("n_docs"),
        dround(F.col("w"), 6).alias("raking_weight"),
        dround(F.col("n").cast("double") / F.col("nt"), 6).alias(
            "raw_share"
        ),
        dround(F.col("w") * F.col("n") / F.col("nt"), 6).alias(
            "weighted_share"
        ),
    )


# ===========================================================================
# Data-constrained scaling (Muennighoff et al. 2023, "Scaling
# Data-Constrained Language Models"): with U unique tokens available and
# a compute budget of D = epochs x U total training tokens, repeated
# data decays in value — effective data D' = U + U * R* * (1 -
# exp(-(epochs - 1) / R*)) with the fitted R* = 15.39. Per-source report
# of effective tokens and the marginal value of each doubling — the
# "how many epochs is this source still worth" planner.
#
# Scale shape: U comes from ONE distinct-text scan (dedup grain:
# md5 of the body — 32-byte keys, the dedup_exact_by_hash discipline);
# the (source x epochs) grid is bounded and broadcast. The decay formula
# is ONE SQL fragment both engines evaluate via expr (the _det3
# discipline).
# ===========================================================================

_DCS_RSTAR = "CAST(15.39 AS DOUBLE)"
_DCS_EPOCHS = (1, 2, 4, 8, 16)
# columns: u (unique tokens, DOUBLE), m (epochs, DOUBLE)
_DCS_EFF_FRAG = (
    f"u * (1.0 + {_DCS_RSTAR} * (1.0 - exp(-(m - 1.0) / {_DCS_RSTAR})))"
)


def _dcs_sql() -> str:
    evals = ", ".join(f"({m})" for m in _DCS_EPOCHS)
    return f"""
WITH uniq AS (
    SELECT source, md5(text) AS h,
           min(len(string_split(text, ' '))) AS toks
    FROM documents GROUP BY source, md5(text)
),
per AS (
    SELECT source, CAST(sum(toks) AS DOUBLE) AS u FROM uniq GROUP BY source
),
grid AS (
    SELECT p.source, p.u, CAST(g.m AS DOUBLE) AS m
    FROM per p CROSS JOIN (VALUES {evals}) g(m)
)
SELECT source, CAST(m AS BIGINT) AS epochs,
       CAST(u AS BIGINT) AS unique_tokens,
       CAST(u * m AS BIGINT) AS budget_tokens,
       {R(f'({_DCS_EFF_FRAG})', 2)} AS effective_tokens,
       {R(f'({_DCS_EFF_FRAG}) / (u * m)', 6)} AS effective_fraction
FROM grid
"""


@register("data_constrained_scaling", _dcs_sql())
def data_constrained_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Muennighoff effective-data curve per source over an epoch grid."""
    from ..functions.text import token_count

    d = read_table(spark, sf_dir, "documents")
    uniq = d.groupBy("source", F.md5("text").alias("h")).agg(
        F.min(token_count(F.col("text"))).alias("toks")
    )
    per = uniq.groupBy("source").agg(
        F.sum("toks").cast("double").alias("u")
    )
    epochs = values_frame(spark, [(float(m),) for m in _DCS_EPOCHS], ["m"])
    grid = per.crossJoin(F.broadcast(epochs))
    eff = F.expr(_DCS_EFF_FRAG)
    return grid.select(
        "source",
        F.col("m").cast("long").alias("epochs"),
        F.col("u").cast("long").alias("unique_tokens"),
        (F.col("u") * F.col("m")).cast("long").alias("budget_tokens"),
        dround(eff, 2).alias("effective_tokens"),
        dround(eff / (F.col("u") * F.col("m")), 6).alias(
            "effective_fraction"
        ),
    )


# ===========================================================================
# HITS hubs & authorities (Kleinberg 1999) over the user-journey
# event-type transition graph (the edge aggregation composes
# event_transition_matrix's lead-window shape): 4 power iterations with
# L1 normalization.
#
# Scale shape: ONE fact scan builds the (src, dst, n) edge aggregate on
# the BOUNDED event-type vocabulary (tens of rows at any corpus size);
# the iteration is a bounded driver-coordination point — collect the
# edge matrix once and iterate in Python with deterministic (sorted)
# accumulation order, the kmeans/BPE/Markov discipline (in-engine
# variants measured in plans/round5.py: ~70 s of plan analysis for 12
# nested lazy aggregate-joins). The oracle unrolls the same 4
# iterations as materialized CTEs.
# ===========================================================================

_HITS_ITERS = 4


def _hits_sql() -> str:
    steps = []
    prev_h = "h0"
    for it in range(1, _HITS_ITERS + 1):
        steps.append(
            f"""a{it}r AS MATERIALIZED (
    SELECT n.v, coalesce(s.a, 0.0) AS a
    FROM nodes n LEFT JOIN (
        SELECT c.dst AS v, sum(c.n * h.h) AS a
        FROM cnt c JOIN {prev_h} h ON h.v = c.src GROUP BY c.dst
    ) s ON s.v = n.v
)"""
        )
        steps.append(
            f"""a{it} AS MATERIALIZED (
    SELECT v, a / (SELECT sum(a) FROM a{it}r) AS a FROM a{it}r
)"""
        )
        steps.append(
            f"""h{it}r AS MATERIALIZED (
    SELECT n.v, coalesce(s.h, 0.0) AS h
    FROM nodes n LEFT JOIN (
        SELECT c.src AS v, sum(c.n * a.a) AS h
        FROM cnt c JOIN a{it} a ON a.v = c.dst GROUP BY c.src
    ) s ON s.v = n.v
)"""
        )
        steps.append(
            f"""h{it} AS MATERIALIZED (
    SELECT v, h / (SELECT sum(h) FROM h{it}r) AS h FROM h{it}r
)"""
        )
        prev_h = f"h{it}"
    chain = ",\n".join(steps)
    return f"""
WITH nxt AS (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events
),
cnt AS MATERIALIZED (
    SELECT src, dst, CAST(count(*) AS DOUBLE) AS n FROM nxt
    WHERE dst IS NOT NULL GROUP BY 1, 2
),
nodes AS MATERIALIZED (
    SELECT src AS v FROM cnt UNION SELECT dst FROM cnt
),
h0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS h FROM nodes),
{chain}
SELECT n.v AS node,
       {R('a.a', 6)} AS authority,
       {R('h.h', 6)} AS hub
FROM nodes n
JOIN a{_HITS_ITERS} a ON a.v = n.v
JOIN h{_HITS_ITERS} h ON h.v = n.v
"""


@register("hits_event_graph", _hits_sql())
def hits_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-iteration L1-normalized HITS over event-type transitions."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    cnt = (
        nxt.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    # The edge matrix lives on the BOUNDED event-type vocabulary (tens
    # of rows at any corpus size) — a bounded driver-coordination point,
    # same discipline as the k-means/BPE/Markov loops.
    edges = sorted(
        ((r["src"], r["dst"], r["n"]) for r in cnt.collect()),
        key=lambda t: (t[0], t[1]),
    )
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    if not nodes:
        return spark.createDataFrame(
            [], "node string, authority double, hub double"
        )
    h = {v: 1.0 for v in nodes}
    a = {}
    for _ in range(_HITS_ITERS):
        a = {v: 0.0 for v in nodes}
        for s, t, n in edges:
            a[t] += n * h[s]
        za = sum(a[v] for v in nodes)
        a = {v: a[v] / za for v in nodes}
        h = {v: 0.0 for v in nodes}
        for s, t, n in edges:
            h[s] += n * a[t]
        zh = sum(h[v] for v in nodes)
        h = {v: h[v] / zh for v in nodes}
    out = spark.createDataFrame(
        [(v, a[v], h[v]) for v in nodes],
        "node string, authority double, hub double",
    )
    return out.select(
        "node",
        dround(F.col("authority"), 6).alias("authority"),
        dround(F.col("hub"), 6).alias("hub"),
    )


# ===========================================================================
# Hill tail-index estimator (Hill 1975) on order totals: alpha =
# 1 / mean(ln(x_(i) / x_(k+1))) over the top k = 100 order statistics.
# The heavy-tail diagnostic behind "can I trust a mean here" — alpha
# <= 2 means infinite variance, <= 1 infinite mean (complements the
# Zipf/Pareto fits on the token side).
#
# Scale shape: the ONLY fact-scale op is a global top-(k+1) with a full
# deterministic tie-break, which plans as TakeOrderedAndProject
# (streaming per-partition top-k + driver merge — never a global sort);
# the rank window runs on the 101 post-limit survivors
# (census-allowlisted precedent: vocab_coverage_sweep). Output is keyed
# by k so an empty input yields zero rows, not a NULL row.
# ===========================================================================

_HILL_K = 100

_HILL_SQL = f"""
WITH top AS MATERIALIZED (
    SELECT o_totalprice AS x, o_orderkey
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT {_HILL_K + 1}
),
rk AS (
    SELECT x, row_number() OVER (ORDER BY x DESC, o_orderkey ASC) AS rn
    FROM top
),
kth AS (SELECT x AS xk FROM rk WHERE rn = {_HILL_K + 1})
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       {R('k2.xk', 4)} AS x_kplus1,
       {R('avg(ln(r.x / k2.xk))', 6)} AS hill_mean_log,
       {R('1.0 / avg(ln(r.x / k2.xk))', 6)} AS tail_alpha
FROM rk r CROSS JOIN kth k2
WHERE r.rn <= {_HILL_K}
GROUP BY k2.xk
"""


@register("hill_tail_index", _HILL_SQL)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator over the top-100 order totals."""
    o = read_table(spark, sf_dir, "orders")
    top = (
        o.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.desc("x"), F.asc("o_orderkey"))
        .limit(_HILL_K + 1)
    )
    wr = Window.orderBy(F.desc("x"), F.asc("o_orderkey"))
    rk = top.select("x", F.row_number().over(wr).alias("rn"))
    rk = pin(rk)  # kth + head branches
    kth = rk.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("x").alias("xk")
    )
    return (
        rk.filter(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(kth))
        .groupBy("xk")
        .agg(
            F.avg(F.log(F.col("x") / F.col("xk"))).alias("hm"),
        )
        .select(
            F.lit(_HILL_K).cast("long").alias("k"),
            dround(F.col("xk"), 4).alias("x_kplus1"),
            dround(F.col("hm"), 6).alias("hill_mean_log"),
            dround(F.lit(1.0) / F.col("hm"), 6).alias("tail_alpha"),
        )
    )



# ===========================================================================
# Shard-order shuffle-quality audit: within each hash shard (the SAME
# 16-way 'shard1' sharding shard_skew_audit plans), documents train in
# hash order — so adjacent docs should look source-independent. Compare
# the observed lag-1 same-source rate against the exact expectation for
# a random permutation, sum_s n_s(n_s-1) / (n(n-1)); ratio >> 1 means
# the order is source-clumped and the shuffle is broken.
#
# Scale shape: one doc scan -> (shard, digest-ordered lag) window; the
# window partitions by shard, and a shard is the bounded training-file
# unit by design (the shard_skew_audit premise), so no task sees more
# than one shard file's rows. Aggregates are map-side combined on the
# 16-row shard grain.
#
# Determinism (the r7+r8+r9 driver-red history of this query): the lag
# window's order must be TOTAL and TYPE-PROOF. Ordering by raw doc_id is
# neither — a driver regeneration that flips doc_id's physical type
# (events.ts precedent) orders differently raw-vs-canonical (DuckDB
# reads the raw view; Spark reads read_table's canonical long), and
# 24-bit h prefixes collide. r9 switched to the FULL md5 DIGEST STRING
# of the seeded key (collision-free, bytewise-comparable lowercase hex)
# and STILL went driver-red, so r10 removes string collation from the
# channel entirely: the order key is the digest parsed as FOUR 8-char
# (32-bit) BIGINT slices (h1..h4) — numeric comparison is
# collation-impossible-to-diverge and equivalent to the fixed-width hex
# lexicographic order. doc_id itself is normalized to BIGINT before
# rendering on BOTH sides (the read_table canonical cast, mirrored in
# the oracle), so the digest inputs cannot drift either. Remaining ties
# = identical (doc_id, source) rows, which leave lag(source) invariant.
#
# Bisection (VERDICT r9 Next-round #1): the driver emits ONE hash bit
# per QUERY, so the r9 single-query probe could not distinguish
# "input differs" from "lag order differs" — both produced the same red
# bit. r10 splits it into stage-pure queries, each buying one
# independent driver bit:
#   shard_order_probe_inputs  red -> the md5 INPUT differs (doc_id
#                                    rendering / physical type / rows);
#   shard_order_probe_pairs   red -> the composition stage differs;
#   both green + autocorr     red -> the lag ORDER is the channel.
#
# ROOT CAUSE FOUND (r11): BOTH probes came back red in r10, which the
# truth table above read as "input rendering differs" — but the probes
# shared one more thing with autocorr that no green query has: the
# un-CAST `shard` OUTPUT column. DuckDB types `list_sum(...) % 16` as
# HUGEINT (fetches as decimal.Decimal / arrow decimal128(38,0)) while
# Spark emits BIGINT. Value-equal, so tools/check_oracle.py (Python
# `Decimal(3) == 3`) passes locally — but a type-carrying driver hash
# flips on every row, deterministically, every round, independent of
# data generation. That explains four rounds of red with rows/schema
# green. Fix: CAST the shard to BIGINT in all three oracles (pure type
# normalization; 16 output rows bit-identical otherwise). Pinned by
# tests/test_oracle_types.py, which DESCRIBEs every registered oracle
# and forbids HUGEINT outputs repo-wide.
# ===========================================================================

_SOA_N = 16
_SOA_SEED = "shard1"
# doc_id rendered via the canonical BIGINT cast (matches read_table's
# declared schema even when the raw parquet stores a wider type).
_SOA_KEY_SQL = (
    f"md5(concat_ws('|', '{_SOA_SEED}', "
    f"CAST(CAST(doc_id AS BIGINT) AS VARCHAR)))"
)


# the digest as four 32-bit numeric slices: a collation-proof total
# order (equivalent to fixed-width-hex lexicographic order)
def _soa_digest_slices_sql() -> str:
    from ..functions.sqlfrag import sql_hex_slice_to_int

    return ", ".join(
        f"{sql_hex_slice_to_int('m', s, 8)} AS h{k}"
        for k, s in enumerate((1, 9, 17, 25), start=1)
    )


def _soa_sql() -> str:
    from ..functions.sqlfrag import sql_hex6_to_int

    return f"""
WITH keyed AS MATERIALIZED (
    SELECT {_SOA_KEY_SQL} AS m, source FROM documents
),
sharded AS MATERIALIZED (
    SELECT CAST({sql_hex6_to_int('m')} % {_SOA_N} AS BIGINT) AS shard,
           {_soa_digest_slices_sql()}, source
    FROM keyed
),
lagged AS (
    SELECT shard, source,
           lag(source) OVER (PARTITION BY shard
                             ORDER BY h1, h2, h3, h4, source NULLS FIRST
                            ) AS prev_source
    FROM sharded
),
obs AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN source = prev_source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same
    FROM lagged GROUP BY shard
),
comp AS (
    SELECT shard, source, CAST(count(*) AS DOUBLE) AS ns
    FROM sharded GROUP BY 1, 2
),
exp_r AS (
    SELECT shard,
           sum(ns * (ns - 1.0)) / (sum(ns) * (sum(ns) - 1.0)) AS e
    FROM comp GROUP BY shard
)
SELECT o.shard, o.n_docs, o.n_same,
       {R('CAST(o.n_same AS DOUBLE) / (o.n_docs - 1)', 6)} AS agree_rate,
       {R('e.e', 6)} AS expected_rate,
       {R('CAST(o.n_same AS DOUBLE) / (o.n_docs - 1) / nullif(e.e, 0.0)', 6)}
           AS order_bias_ratio
FROM obs o JOIN exp_r e ON e.shard = o.shard
WHERE o.n_docs > 1
"""


def _soa_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, m, h1..h4, doc_id, source) over documents: m = full md5
    digest of the seeded canonical-BIGINT-rendered doc_id, h1..h4 = the
    digest as four 32-bit numeric slices (the collation-proof lag
    order), shard = 24-bit prefix mod 16. The single staged input every
    shard-order query windows and aggregates over."""
    from ..functions.text import hex6_to_int, hex_slice_to_int

    d = read_table(spark, sf_dir, "documents")
    keyed = d.select(
        F.md5(
            F.concat_ws(
                "|", F.lit(_SOA_SEED), F.col("doc_id").cast("string")
            )
        ).alias("m"),
        "doc_id",
        "source",
    )
    return keyed.select(
        F.pmod(hex6_to_int(F.col("m")), F.lit(_SOA_N)).alias("shard"),
        "m",
        *[
            hex_slice_to_int(F.col("m"), s, 8).alias(f"h{k}")
            for k, s in enumerate((1, 9, 17, 25), start=1)
        ],
        "doc_id",
        "source",
    )


_SOA_LAG_ORDER = ("h1", "h2", "h3", "h4")


@register("shard_order_autocorr", _soa_sql())
def shard_order_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 same-source rate vs random-permutation expectation, per
    shard. Lag order = (digest quarters h1..h4 as BIGINTs, source NULLS
    FIRST) — total, type-proof, collision-free, and NUMERIC so string
    collation cannot be a cross-engine channel; see the section comment
    for the r7-r9 driver-red history this design answers."""
    sharded = _soa_sharded(spark, sf_dir).drop("doc_id", "m")
    wlag = Window.partitionBy("shard").orderBy(
        *[F.col(c).asc() for c in _SOA_LAG_ORDER],
        F.col("source").asc_nulls_first(),
    )
    lagged = sharded.select(
        "shard",
        "source",
        F.lag("source").over(wlag).alias("prev_source"),
    )
    obs = lagged.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("source") == F.col("prev_source"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_same"),
    )
    comp = sharded.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("double").alias("ns")
    )
    exp_r = comp.groupBy("shard").agg(
        (
            F.sum(F.col("ns") * (F.col("ns") - 1.0))
            / (F.sum("ns") * (F.sum("ns") - 1.0))
        ).alias("e")
    )
    return (
        obs.join(exp_r, "shard")
        .filter(F.col("n_docs") > 1)
        .select(
            "shard",
            "n_docs",
            "n_same",
            dround(
                F.col("n_same").cast("double") / (F.col("n_docs") - 1), 6
            ).alias("agree_rate"),
            dround(F.col("e"), 6).alias("expected_rate"),
            dround(
                F.col("n_same").cast("double")
                / (F.col("n_docs") - 1)
                / F.nullif(F.col("e"), F.lit(0.0)),
                6,
            ).alias("order_bias_ratio"),
        )
    )


# ===========================================================================
# shard_order_probe_inputs / shard_order_probe_pairs: STAGE-PURE
# bisection companions to shard_order_autocorr (VERDICT r9 Next-round
# #1). The driver emits ONE hash bit per QUERY, so the r9 single-query
# probe (which bundled order-free input checksums AND the lag-stage
# n_same) could not say WHICH stage diverged. Each query below contains
# exactly one stage, so the r10 CORRECTNESS rows read as a truth table:
#   inputs red                  -> the md5 INPUT differs (doc_id
#                                  rendering / physical type / the rows
#                                  themselves);
#   inputs green, pairs red     -> the source-composition stage differs;
#   both green, autocorr red    -> the lag ORDER is the channel
#                                  (now numeric h1..h4 — see above).
# Every column is an exact integer or a raw hex string; every aggregate
# is order-free.
# ===========================================================================


def _soa_probe_inputs_sql() -> str:
    from ..functions.sqlfrag import sql_hex6_to_int

    return f"""
WITH keyed AS MATERIALIZED (
    SELECT {_SOA_KEY_SQL} AS m, doc_id, source FROM documents
),
sharded AS MATERIALIZED (
    SELECT CAST({sql_hex6_to_int('m')} AS BIGINT) AS h,
           CAST({sql_hex6_to_int('m')} % {_SOA_N} AS BIGINT) AS shard,
           m, doc_id, source
    FROM keyed
)
SELECT shard,
       CAST(sum(h) AS BIGINT) AS h_sum,
       min(m) AS m_min,
       max(m) AS m_max,
       CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_h_dup,
       CAST(count(*) - count(DISTINCT m) AS BIGINT) AS n_m_dup,
       CAST(count(DISTINCT concat_ws('|', m, source)) AS BIGINT) AS n_msrc,
       CAST(sum(CAST(floor(TRY_CAST(doc_id AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS doc_chk,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_doc,
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_src
FROM sharded GROUP BY shard
"""


@register("shard_order_probe_inputs", _soa_probe_inputs_sql())
def shard_order_probe_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLY the order-free input checksums of the shard-order audit:
    digest sum/min/max, 24-bit and full-digest duplicate counts, the
    (digest, source) census, the doc_id checksum and NULL censuses. A
    red driver bit here means the INPUT rows/rendering differ — nothing
    in this query depends on any ordering."""
    from ..functions.text import hex6_to_int

    sharded = (
        _soa_sharded(spark, sf_dir)
        .drop("h1", "h2", "h3", "h4")
        .withColumn("h", hex6_to_int(F.col("m")))
    )
    return sharded.groupBy("shard").agg(
        F.sum("h").cast("long").alias("h_sum"),
        F.min("m").alias("m_min"),
        F.max("m").alias("m_max"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("h")))
        .cast("long")
        .alias("n_h_dup"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("m")))
        .cast("long")
        .alias("n_m_dup"),
        F.count_distinct(F.concat_ws("|", F.col("m"), F.col("source")))
        .cast("long")
        .alias("n_msrc"),
        F.sum(F.floor(F.col("doc_id").cast("double")).cast("long"))
        .cast("long")
        .alias("doc_chk"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_doc"),
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_src"),
    )


def _soa_probe_pairs_sql() -> str:
    from ..functions.sqlfrag import sql_hex6_to_int

    return f"""
WITH keyed AS MATERIALIZED (
    SELECT {_SOA_KEY_SQL} AS m, source FROM documents
),
sharded AS MATERIALIZED (
    SELECT CAST({sql_hex6_to_int('m')} % {_SOA_N} AS BIGINT) AS shard,
           source
    FROM keyed
),
comp AS (
    SELECT shard, source, CAST(count(*) AS BIGINT) AS ns
    FROM sharded GROUP BY 1, 2
)
SELECT shard,
       CAST(sum(ns) AS BIGINT) AS n_docs,
       CAST(sum(ns * (ns - 1)) AS BIGINT) AS num,
       CAST(sum(ns) * (sum(ns) - 1) AS BIGINT) AS den
FROM comp GROUP BY shard
"""


@register("shard_order_probe_pairs", _soa_probe_pairs_sql())
def shard_order_probe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLY the source-composition stage of the shard-order audit: the
    same-source pair count num = sum_s ns(ns-1) and the total pair
    count den = n(n-1) per shard (the expected-rate numerator and
    denominator). Order-free; a red driver bit here with green inputs
    means the composition rollup itself diverges."""
    sharded = _soa_sharded(spark, sf_dir).select("shard", "source")
    comp = sharded.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    return comp.groupBy("shard").agg(
        F.sum("ns").cast("long").alias("n_docs"),
        F.sum(F.col("ns") * (F.col("ns") - 1)).cast("long").alias("num"),
        (F.sum("ns") * (F.sum("ns") - 1)).cast("long").alias("den"),
    )
