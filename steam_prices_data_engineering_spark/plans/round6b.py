"""Round-6 extension operators, part B: Neyman-optimal stratified
allocation, embedding anisotropy (Ethayarajh 2019 / Mu & Viswanath
2018), confident-learning label-noise estimation (Northcutt et al.
2021), and RM3-style pseudo-relevance query expansion.

Same discipline as plans/round6.py: fact-scale work is map-side-
combined aggregation or hash-key equi joins, bounded grids/panels ride
broadcast joins, global rank windows appear only on documented bounded
grains (census-allowlisted), and shared arithmetic composes from
functions/sqlfrag.py / functions/text.py so the two engines cannot
drift.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the sampling-design, label-QA, embedding-health and
retrieval jobs a 100 TB training-data platform runs on the same
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import SQL_QUALITY_EXPR, sql_quality_feat_ctes
from ..functions.text import (
    distinct_token_ratio,
    quality_score,
    token_count,
)
from ..session import pin
from ..sources.tables import read_table
from .registry import register

# ===========================================================================
# Neyman-optimal stratified allocation (Neyman 1934): split a fixed
# eval-annotation budget of 100 docs across sources proportional to
# N_h * S_h (stratum size x within-stratum token-length spread), vs the
# naive proportional allocation — the sampling-design step BEFORE the
# reservoir carve-out (eval_reservoir_sample). Integerized by the same
# largest-remainder rule as mixture_token_allocation, so both
# allocations sum exactly to the budget.
#
# Scale shape: one doc scan -> per-source (n, sum, sumsq) monoid
# aggregate (map-side combined); everything downstream is the bounded
# source grain. S_h is the explicit sqrt((q - s^2/n)/(n-1)) monoid form
# (the gbm/ridge discipline) — never an engine-native stddev, so the
# two engines share one summation shape. The two remainder-rank windows
# run on the bounded source grain (census-allowlisted).
# ===========================================================================

_NEY_BUDGET = 100

_NEYMAN_SQL = f"""
WITH per AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS s,
           CAST(sum(len(string_split(text, ' '))
                    * len(string_split(text, ' '))) AS DOUBLE) AS q
    FROM documents GROUP BY source
),
sd AS (
    SELECT source, n_docs,
           CASE WHEN n_docs > 1
                THEN sqrt(greatest(q - s * s / n_docs, 0.0) / (n_docs - 1))
                ELSE 0.0 END AS sd_toks
    FROM per
),
tot AS (
    SELECT sum(n_docs * sd_toks) AS z_ney,
           sum(n_docs) AS z_prop
    FROM sd
),
ideal AS (
    SELECT s.source, s.n_docs, s.sd_toks,
           {_NEY_BUDGET} * s.n_docs * s.sd_toks / t.z_ney AS i_ney,
           {_NEY_BUDGET} * CAST(s.n_docs AS DOUBLE) / t.z_prop AS i_prop
    FROM sd s CROSS JOIN tot t
),
fl AS (
    SELECT source, n_docs, sd_toks, i_ney, i_prop,
           CAST(floor(i_ney) AS BIGINT) AS fn,
           {R('i_ney - floor(i_ney)', 6)} AS rn,
           CAST(floor(i_prop) AS BIGINT) AS fp,
           {R('i_prop - floor(i_prop)', 6)} AS rp
    FROM ideal
),
short AS (
    SELECT {_NEY_BUDGET} - sum(fn) AS kn, {_NEY_BUDGET} - sum(fp) AS kp
    FROM fl
),
ranked AS (
    SELECT f.*, s.kn, s.kp,
           row_number() OVER (ORDER BY rn DESC, source ASC) AS rrn,
           row_number() OVER (ORDER BY rp DESC, source ASC) AS rrp
    FROM fl f CROSS JOIN short s
)
SELECT source, n_docs,
       {R('sd_toks', 4)} AS sd_tokens,
       {R('i_ney', 4)} AS ideal_neyman,
       CAST(fn + CASE WHEN rrn <= kn THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_neyman,
       {R('i_prop', 4)} AS ideal_proportional,
       CAST(fp + CASE WHEN rrp <= kp THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_proportional
FROM ranked
"""


@register("neyman_allocation", _NEYMAN_SQL)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman vs proportional integer allocation of a 100-doc budget."""
    d = read_table(spark, sf_dir, "documents")
    tc = token_count(F.col("text")).cast("double")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tc).alias("s"),
        F.sum(tc * tc).alias("q"),
    )
    sd = per.select(
        "source",
        "n_docs",
        F.when(
            F.col("n_docs") > 1,
            F.sqrt(
                F.greatest(
                    F.col("q") - F.col("s") * F.col("s") / F.col("n_docs"),
                    F.lit(0.0),
                )
                / (F.col("n_docs") - 1)
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("sd_toks"),
    )
    tot = sd.agg(
        F.sum(F.col("n_docs") * F.col("sd_toks")).alias("z_ney"),
        F.sum("n_docs").alias("z_prop"),
    )
    ideal = sd.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sd_toks",
        (
            F.lit(_NEY_BUDGET)
            * F.col("n_docs")
            * F.col("sd_toks")
            / F.col("z_ney")
        ).alias("i_ney"),
        (
            F.lit(_NEY_BUDGET)
            * F.col("n_docs").cast("double")
            / F.col("z_prop")
        ).alias("i_prop"),
    )
    fl = ideal.select(
        "source",
        "n_docs",
        "sd_toks",
        "i_ney",
        "i_prop",
        F.floor("i_ney").cast("long").alias("fn"),
        dround(F.col("i_ney") - F.floor("i_ney"), 6).alias("rn"),
        F.floor("i_prop").cast("long").alias("fp"),
        dround(F.col("i_prop") - F.floor("i_prop"), 6).alias("rp"),
    )
    fl = pin(fl)  # shortfall + two rank branches
    short = fl.agg(
        (F.lit(_NEY_BUDGET) - F.sum("fn")).cast("long").alias("kn"),
        (F.lit(_NEY_BUDGET) - F.sum("fp")).cast("long").alias("kp"),
    )
    wn = Window.orderBy(F.desc("rn"), F.asc("source"))
    wp = Window.orderBy(F.desc("rp"), F.asc("source"))
    ranked = fl.crossJoin(F.broadcast(short)).select(
        "*",
        F.row_number().over(wn).cast("long").alias("rrn"),
        F.row_number().over(wp).cast("long").alias("rrp"),
    )
    return ranked.select(
        "source",
        "n_docs",
        dround(F.col("sd_toks"), 4).alias("sd_tokens"),
        dround(F.col("i_ney"), 4).alias("ideal_neyman"),
        (
            F.col("fn")
            + F.when(F.col("rrn") <= F.col("kn"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_neyman"),
        dround(F.col("i_prop"), 4).alias("ideal_proportional"),
        (
            F.col("fp")
            + F.when(F.col("rrp") <= F.col("kp"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_proportional"),
    )


# ===========================================================================
# Embedding anisotropy audit (Ethayarajh 2019; Mu & Viswanath 2018
# "All-but-the-Top"): the expected pairwise cosine between distinct
# vectors, raw vs after mean-centering. A healthy embedding space reads
# near 0; a collapsed/anisotropic one reads high, and the raw-minus-
# centered gap is the "common direction" mass the post-processing would
# remove.
#
# Scale shape: NO pairwise join — for unit-normalized u_i the identity
# mean_{i != j} cos(u_i, u_j) = (||sum_i u_i||^2 - n) / (n * (n - 1))
# reduces the whole computation to one dim-explode, a per-vector norm
# aggregate, and a 64-row per-dim sum. O(n x d) exactly like the
# centroid-drift and outlier audits.
# ===========================================================================

_ANISOTROPY_SQL = f"""
WITH d AS (
    SELECT vec_id,
           unnest(range(1, len(embedding) + 1)) AS dim,
           unnest(embedding::DOUBLE[]) AS x
    FROM embeddings
),
nrm AS (
    SELECT vec_id, sqrt(sum(x * x)) AS nr FROM d GROUP BY vec_id
),
mu AS (SELECT dim, avg(x) AS m FROM d GROUP BY dim),
cnrm AS (
    SELECT d.vec_id, sqrt(sum((d.x - mu.m) * (d.x - mu.m))) AS nr
    FROM d JOIN mu ON mu.dim = d.dim GROUP BY d.vec_id
),
raw_dim AS (
    SELECT d.dim, sum(d.x / n.nr) AS sd
    FROM d JOIN nrm n ON n.vec_id = d.vec_id
    GROUP BY d.dim
),
cen_dim AS (
    SELECT d.dim, sum((d.x - mu.m) / c.nr) AS sd
    FROM d JOIN mu ON mu.dim = d.dim
    JOIN cnrm c ON c.vec_id = d.vec_id
    GROUP BY d.dim
),
counts AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nrm),
agg AS (
    SELECT (SELECT sum(sd * sd) FROM raw_dim) AS ss_raw,
           (SELECT sum(sd * sd) FROM cen_dim) AS ss_cen,
           (SELECT n FROM counts) AS n
)
SELECT CAST(n AS BIGINT) AS n_vecs,
       {R('(ss_raw - n) / (n * (n - 1.0))', 6)} AS mean_cos_raw,
       {R('(ss_cen - n) / (n * (n - 1.0))', 6)} AS mean_cos_centered,
       {R('(ss_raw - n) / (n * (n - 1.0)) - (ss_cen - n) / (n * (n - 1.0))', 6)}
           AS anisotropy_gap
FROM agg
"""


@register("embedding_anisotropy", _ANISOTROPY_SQL)
def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise cosine raw vs mean-centered, via the sum-vector
    identity (no pairwise join)."""
    e = read_table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "x")
    nrm = d.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nr")
    )
    mu = d.groupBy("dim").agg(F.avg("x").alias("m"))
    cnrm = (
        d.join(F.broadcast(mu), "dim")
        .groupBy("vec_id")
        .agg(
            F.sqrt(
                F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
            ).alias("nr")
        )
    )
    raw_dim = (
        d.join(nrm, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("x") / F.col("nr")).alias("sd"))
    )
    cen_dim = (
        d.join(F.broadcast(mu), "dim")
        .join(cnrm, "vec_id")
        .groupBy("dim")
        .agg(F.sum((F.col("x") - F.col("m")) / F.col("nr")).alias("sd"))
    )
    agg = (
        raw_dim.agg(F.sum(F.col("sd") * F.col("sd")).alias("ss_raw"))
        .crossJoin(
            cen_dim.agg(F.sum(F.col("sd") * F.col("sd")).alias("ss_cen"))
        )
        .crossJoin(nrm.agg(F.count(F.lit(1)).cast("double").alias("n")))
    )
    raw_mean = (F.col("ss_raw") - F.col("n")) / (
        F.col("n") * (F.col("n") - 1.0)
    )
    cen_mean = (F.col("ss_cen") - F.col("n")) / (
        F.col("n") * (F.col("n") - 1.0)
    )
    return agg.select(
        F.col("n").cast("long").alias("n_vecs"),
        dround(raw_mean, 6).alias("mean_cos_raw"),
        dround(cen_mean, 6).alias("mean_cos_centered"),
        dround(raw_mean - cen_mean, 6).alias("anisotropy_gap"),
    )


# ===========================================================================
# Confident-learning label-noise estimation (Northcutt, Jiang & Chuang
# 2021, binary form): noisy labels s = the high-diversity indicator,
# model score p = the shared composite quality score (read as
# P(class = hi)). Per-class self-confidence thresholds t_c = mean
# predicted probability of c over examples LABELED c; an example joins
# the confident joint cell C[s][y*] when its probability for y*
# clears t_{y*} (argmax over clearing classes). Off-diagonal mass is
# the estimated label-error rate a labeling pipeline acts on.
#
# Scale shape: one scored doc scan; thresholds are a broadcast 1-row
# conditional aggregate; the joint is a bounded 2x2 (+1 unconfident
# bucket) aggregate. Threshold comparisons happen on dround(6) scores
# so the cell assignment is engine-identical.
# ===========================================================================

_CL_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS (
    SELECT f.doc_id,
           CASE WHEN f.diversity >= 0.5 THEN 'hi' ELSE 'lo' END AS s,
           {R(f"({SQL_QUALITY_EXPR})", 6)} AS p_hi
    FROM feat f
),
thr AS (
    SELECT avg(CASE WHEN s = 'hi' THEN p_hi END) AS t_hi,
           avg(CASE WHEN s = 'lo' THEN 1.0 - p_hi END) AS t_lo
    FROM scored
),
cells AS (
    SELECT s.s,
           CASE
               WHEN s.p_hi >= t.t_hi
                    AND (1.0 - s.p_hi < t.t_lo OR s.p_hi >= 1.0 - s.p_hi)
                   THEN 'hi'
               WHEN 1.0 - s.p_hi >= t.t_lo THEN 'lo'
               ELSE 'none'
           END AS y_star
    FROM scored s CROSS JOIN thr t
),
joint AS (
    SELECT s, y_star, CAST(count(*) AS BIGINT) AS n
    FROM cells WHERE y_star <> 'none' GROUP BY s, y_star
),
tot AS (SELECT sum(n) AS z FROM joint)
SELECT j.s AS given_label, j.y_star AS confident_label, j.n,
       {R('CAST(j.n AS DOUBLE) / t.z', 6)} AS q_joint,
       CAST(j.s <> j.y_star AS BOOLEAN) AS is_error_cell
FROM joint j CROSS JOIN tot t
"""


@register("confident_learning_noise", _CL_SQL)
def confident_learning_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary confident joint of quality-score vs diversity labels."""
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    scored = d.select(
        F.when(distinct_token_ratio(text) >= 0.5, "hi")
        .otherwise("lo")
        .alias("s"),
        dround(quality_score(text), 6).alias("p_hi"),
    )
    scored = pin(scored)  # thresholds + cells
    thr = scored.agg(
        F.avg(F.when(F.col("s") == "hi", F.col("p_hi"))).alias("t_hi"),
        F.avg(F.when(F.col("s") == "lo", 1.0 - F.col("p_hi"))).alias(
            "t_lo"
        ),
    )
    conf_hi = (F.col("p_hi") >= F.col("t_hi")) & (
        (1.0 - F.col("p_hi") < F.col("t_lo"))
        | (F.col("p_hi") >= 1.0 - F.col("p_hi"))
    )
    cells = scored.crossJoin(F.broadcast(thr)).select(
        "s",
        F.when(conf_hi, "hi")
        .when(1.0 - F.col("p_hi") >= F.col("t_lo"), "lo")
        .otherwise("none")
        .alias("y_star"),
    )
    joint = (
        cells.filter(F.col("y_star") != "none")
        .groupBy("s", "y_star")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = joint.agg(F.sum("n").alias("z"))
    return joint.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("given_label"),
        F.col("y_star").alias("confident_label"),
        "n",
        dround(F.col("n").cast("double") / F.col("z"), 6).alias("q_joint"),
        (F.col("s") != F.col("y_star")).alias("is_error_cell"),
    )


# ===========================================================================
# RM3-style pseudo-relevance query expansion (Lavrenko & Croft 2001
# relevance models; Abdul-Jaleel et al. 2004 RM3): take each panel
# query's BM25 top-5 as the pseudo-relevant set, estimate the relevance
# model p(w|R) = sum_d p(d|q) * p(w|d) with p(d|q) = the doc's share of
# the feedback set's BM25 score mass (linear, not softmax — exp() has
# no cross-engine parity contract) and p(w|d) = tf/dl, then interpolate
# with the uniform original-query model at lambda = 0.5 and keep the
# top-8 expansion terms per query. The query-rewriting step between
# lexical retrieval (bm25_search_topk) and hybrid fusion
# (hybrid_rrf_fusion).
#
# Scale shape: the feedback set is <= 15 (q, doc) rows — it broadcasts
# onto the token explode so only feedback-doc tokens survive the map
# side (the corpus never aggregates). Windows partition by q_id; rank
# compares on the ROUNDED weight with a term tie-break. The BM25 stage
# is REUSED (plans/retrieval.py), not re-derived, in both engines.
# ===========================================================================

_RM3_FB_K = 5
_RM3_TOP = 8
_RM3_LAMBDA = "CAST(0.5 AS DOUBLE)"


def _rm3_sql() -> str:
    from .retrieval import _BM25_SQL, _PANEL_VALUES

    return f"""
WITH fb AS (
    SELECT q_id, doc_id, score FROM ({_BM25_SQL}) b
    WHERE rank <= {_RM3_FB_K}
),
pd AS (
    SELECT q_id, doc_id,
           score / sum(score) OVER (PARTITION BY q_id) AS pd
    FROM fb
),
tok AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents
),
tf AS (
    SELECT t.doc_id, t.dl, t.term, CAST(count(*) AS DOUBLE) AS tf
    FROM tok t
    JOIN (SELECT DISTINCT doc_id FROM fb) fd ON fd.doc_id = t.doc_id
    GROUP BY 1, 2, 3
),
rel AS (
    SELECT p.q_id, f.term, sum(p.pd * f.tf / f.dl) AS p_rel
    FROM tf f JOIN pd p ON p.doc_id = f.doc_id
    GROUP BY 1, 2
),
panel(q_id, term) AS (VALUES {_PANEL_VALUES}),
qn AS (SELECT q_id, CAST(count(*) AS DOUBLE) AS nq FROM panel GROUP BY 1),
qp AS (
    SELECT p.q_id, p.term, 1.0 / n.nq AS p_q
    FROM panel p JOIN qn n ON n.q_id = p.q_id
),
mix AS (
    SELECT coalesce(r.q_id, q.q_id) AS q_id,
           coalesce(r.term, q.term) AS term,
           (1.0 - {_RM3_LAMBDA}) * coalesce(q.p_q, 0.0)
               + {_RM3_LAMBDA} * coalesce(r.p_rel, 0.0) AS w,
           q.term IS NOT NULL AS in_query
    FROM rel r FULL OUTER JOIN qp q
        ON q.q_id = r.q_id AND q.term = r.term
),
ranked AS (
    SELECT q_id, term, {R('w', 6)} AS rm3_weight, in_query,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY {R('w', 6)} DESC, term ASC) AS rnk
    FROM mix
)
SELECT CAST(q_id AS INTEGER) AS q_id, term, rm3_weight, in_query,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_RM3_TOP}
"""


@register("rm3_query_expansion", _rm3_sql())
def rm3_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 RM3 expansion terms per panel query (lambda=0.5, fb=5)."""
    from .retrieval import bm25_search_topk, panel_df

    fb = (
        bm25_search_topk(spark, sf_dir)
        .filter(F.col("rank") <= _RM3_FB_K)
        .select("q_id", "doc_id", "score")
    )
    wq = Window.partitionBy("q_id")
    pd = fb.select(
        "q_id",
        "doc_id",
        (F.col("score") / F.sum("score").over(wq)).alias("pd"),
    )
    # Materialize the BM25 sub-stage ONCE, at build time (VERDICT r6
    # task 4): the r6 shape fed pd into TWO broadcast exchanges (the
    # doc-id filter and the weight join) whose build threads raced to
    # populate the cold cache, re-executing the full BM25 chain — rm3
    # measured ~2x the standalone BM25 wall time. The feedback frame is
    # bounded (panel x fb_k <= 15 rows), so ONE collect here is a
    # driver-coordination point in the kmeans-seed sense, not a
    # fact-scale fetch; re-injecting the collected rows as a local
    # relation removes the cache AND both broadcast-exchange jobs, and
    # the isin() literal pushes the doc filter INTO the parquet scan,
    # where a broadcast-join residual cannot go. Float64 round-trips
    # bit-exactly through collect/createDataFrame, so the oracle
    # comparison is unaffected.
    pd_rows = [(r["q_id"], r["doc_id"], r["pd"]) for r in pd.collect()]
    pd = spark.createDataFrame(pd_rows, "q_id int, doc_id long, pd double")
    fb_doc_ids = sorted({r[1] for r in pd_rows})
    # the feedback-doc tokens come from the SAME cached token projection
    # the embedded BM25 stage just built (retrieval.corpus_tokens — the
    # r8 stage-reuse fix): the filter runs over 5k cached arrays instead
    # of re-scanning + re-tokenizing the parquet text column, and only
    # the <=15 feedback docs pay the explode.
    from .retrieval import corpus_tokens

    tok = corpus_tokens(spark, sf_dir).filter(
        F.col("doc_id").isin(fb_doc_ids)
    ).select(
        "doc_id",
        F.size("th").alias("dl"),
        F.explode("th").alias("term"),
    )
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    rel = (
        tf.join(F.broadcast(pd), "doc_id")
        .groupBy("q_id", "term")
        .agg(
            F.sum(F.col("pd") * F.col("tf") / F.col("dl")).alias("p_rel")
        )
    )
    panel = panel_df(spark)
    qn = panel.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("double").alias("nq")
    )
    qp = panel.join(qn, "q_id").select(
        "q_id", "term", (F.lit(1.0) / F.col("nq")).alias("p_q")
    )
    lam = F.expr(_RM3_LAMBDA)
    mix = rel.join(qp, ["q_id", "term"], "full_outer").select(
        "q_id",
        "term",
        (
            (1.0 - lam) * F.coalesce(F.col("p_q"), F.lit(0.0))
            + lam * F.coalesce(F.col("p_rel"), F.lit(0.0))
        ).alias("w"),
        F.col("p_q").isNotNull().alias("in_query"),
    )
    wr = Window.partitionBy("q_id").orderBy(
        dround(F.col("w"), 6).desc(), F.asc("term")
    )
    return (
        mix.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _RM3_TOP)
        .select(
            F.col("q_id").cast("int").alias("q_id"),
            "term",
            dround(F.col("w"), 6).alias("rm3_weight"),
            "in_query",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ===========================================================================
# Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995; Chen &
# Goodman 1999): the LM-quality gate CCNet-style pipelines run with a
# KenLM model — here the bigram absolute-discount form with CONTINUATION
# counts (how many distinct contexts precede w), which is what separates
# KN from the add-k/backoff LMs already in plans/corpus_eval.py. Train/
# val split composes trainset_group_holdout's md5 source-bucket rule
# (the same shared fragment holdout_lm_perplexity uses). The smoothed
# continuation probability pc(w) = (N1+(.w) + 1) / (N1+(..) + V + 1)
# absorbs OOV words; an OOV CONTEXT backs off to pc(w) alone and is
# reported as oov_context_rate.
#
# Scale shape: bigram/context/continuation tables are map-side-combined
# token-key aggregates; the eval pass is LEFT equi joins on token keys
# (hint-free, AQE-sized — the unbounded-vocab discipline pinned by
# test_no_broadcast_hint_on_unbounded_frames); scalars ride broadcast
# 1-row frames.
# ===========================================================================

_KN_D = "CAST(0.75 AS DOUBLE)"


def _kn_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int as _sql_md5i

    key = "concat_ws('', 'gh_', source)"
    split_case = (
        f"CASE WHEN ({_sql_md5i(key)}) % 10 = 0"
        " THEN 'val' ELSE 'train' END"
    )
    return f"""
WITH t AS (
    SELECT {split_case} AS split, source, string_split(text, ' ') AS sp
    FROM documents
),
big AS (
    SELECT split, source,
           unnest(list_transform(range(1, len(sp)),
                                 i -> sp[i] || ' ' || sp[i + 1])) AS bg
    FROM t WHERE len(sp) >= 2
),
bsp AS (
    SELECT split, source, string_split(bg, ' ')[1] AS v,
           string_split(bg, ' ')[2] AS w
    FROM big
),
tb AS (
    SELECT v, w, CAST(count(*) AS DOUBLE) AS c
    FROM bsp WHERE split = 'train' GROUP BY v, w
),
ctx AS (
    SELECT v, sum(c) AS cv, CAST(count(*) AS DOUBLE) AS n1v
    FROM tb GROUP BY v
),
cont AS (SELECT w, CAST(count(*) AS DOUBLE) AS n1w FROM tb GROUP BY w),
gl AS (
    SELECT (SELECT CAST(count(*) AS DOUBLE) FROM tb) AS n1dd,
           (SELECT CAST(count(DISTINCT tok) AS DOUBLE) FROM
               (SELECT unnest(sp) AS tok FROM t WHERE split = 'train') u)
               AS vsz
),
ev AS (
    SELECT source, v, w, CAST(count(*) AS DOUBLE) AS n
    FROM bsp WHERE split = 'val' GROUP BY source, v, w
),
sc AS (
    SELECT e.source, e.n, (c.v IS NULL) AS oov_ctx,
           CASE WHEN c.v IS NULL
               THEN (coalesce(ct.n1w, 0.0) + 1.0) / (g.n1dd + g.vsz + 1.0)
               ELSE (greatest(coalesce(t2.c, 0.0) - {_KN_D}, 0.0)
                     + {_KN_D} * c.n1v
                       * (coalesce(ct.n1w, 0.0) + 1.0)
                       / (g.n1dd + g.vsz + 1.0))
                    / c.cv
           END AS p
    FROM ev e
    LEFT JOIN tb t2 ON t2.v = e.v AND t2.w = e.w
    LEFT JOIN ctx c ON c.v = e.v
    LEFT JOIN cont ct ON ct.w = e.w
    CROSS JOIN gl g
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_bigrams,
       {R('sum(n * -ln(p)) / sum(n)', 6)} AS mean_surprisal,
       {R('exp(sum(n * -ln(p)) / sum(n))', 4)} AS perplexity,
       {R('sum(CASE WHEN oov_ctx THEN n ELSE 0.0 END) / sum(n)', 6)}
           AS oov_context_rate
FROM sc GROUP BY source
"""


@register("kneser_ney_bigram_ppl", _kn_sql())
def kneser_ney_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Val-split per-source perplexity under the train KN bigram LM."""
    from ..functions.text import md5_hex6_to_int as _md5i
    from ..functions.text import token_ngrams, tokens

    d = read_table(spark, sf_dir, "documents")
    bucket = _md5i(F.concat_ws("", F.lit("gh_"), F.col("source"))) % 10
    # One token array per row feeds both the bigram stream and `vsz`.
    tagged = d.select(
        F.when(bucket == 0, "val").otherwise("train").alias("split"),
        "source",
        tokens(F.col("text")).alias("t"),
    )
    # (v, w) straight from the token array's bigram structs: no joined
    # gram string to split again.
    bsp = tagged.select(
        "split", "source", F.explode(token_ngrams(F.col("t"), 2)).alias("bg")
    ).select(
        "split",
        "source",
        F.col("bg.g0").alias("v"),
        F.col("bg.g1").alias("w"),
    )
    tb = (
        bsp.filter(F.col("split") == "train")
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    tb = pin(tb)  # ctx/cont/n1dd + the eval join
    ctx = tb.groupBy("v").agg(
        F.sum("c").alias("cv"),
        F.count(F.lit(1)).cast("double").alias("n1v"),
    )
    cont = tb.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("n1w")
    )
    n1dd = tb.agg(F.count(F.lit(1)).cast("double").alias("n1dd"))
    vsz = (
        tagged.filter(F.col("split") == "train")
        .select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("vsz"))
    )
    ev = (
        bsp.filter(F.col("split") == "val")
        .groupBy("source", "v", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    dd = F.expr(_KN_D)
    pc = (F.coalesce(F.col("n1w"), F.lit(0.0)) + 1.0) / (
        F.col("n1dd") + F.col("vsz") + 1.0
    )
    p = F.when(F.col("cv").isNull(), pc).otherwise(
        (
            F.greatest(
                F.coalesce(F.col("c"), F.lit(0.0)) - dd, F.lit(0.0)
            )
            + dd * F.col("n1v") * pc
        )
        / F.col("cv")
    )
    sc = (
        ev.join(tb, ["v", "w"], "left")
        .join(ctx, "v", "left")
        .join(cont, "w", "left")
        .crossJoin(F.broadcast(n1dd))
        .crossJoin(F.broadcast(vsz))
        .select(
            "source",
            "n",
            F.col("cv").isNull().alias("oov_ctx"),
            p.alias("p"),
        )
    )
    return sc.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        dround(
            F.sum(F.col("n") * -F.log("p")) / F.sum("n"), 6
        ).alias("mean_surprisal"),
        dround(
            F.exp(F.sum(F.col("n") * -F.log("p")) / F.sum("n")), 4
        ).alias("perplexity"),
        dround(
            F.sum(F.when(F.col("oov_ctx"), F.col("n")).otherwise(0.0))
            / F.sum("n"),
            6,
        ).alias("oov_context_rate"),
    )
