"""In-engine ML training/evaluation, round 3: supervised classification
trained and scored entirely as relational plans.

Extends the in-engine ML family (`plans/linalg.py` OLS/PCA,
`plans/insights.py` logreg/isotonic/uplift) with the three classic
evaluation workloads a corpus pipeline runs before shipping a filter
model:

- multinomial Naive Bayes language classifier, trained on the
  hash-split train partition and scored on held-out docs (confusion
  matrix) — the standard cheap lang-ID / quality-gate baseline;
- decision-stump induction (best single information-gain split), the
  1R baseline every feature-importance audit starts from;
- Murphy decomposition of the Brier score (reliability - resolution +
  uncertainty) for the quality-score -> Gopher-keep forecast, the
  calibration companion to `auc_quality_gate` / `quality_calibration_bins`.

No counterpart in the reference (its pandas scripts stop at grouped
means — e.g. /root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the standard published techniques a production corpus platform
layers on the same facts.

Scale design (100 TB):
- NB train is explode+groupBy (codegen, map-side combine) to the
  (lang, token) grain; the smoothed log-prob table is vocab x |langs|
  (vocab-scale, relational — never collected); scoring joins exploded
  eval tokens on the token key (shuffle equi join) and the per-doc
  argmax window is PARTITIONED by doc with |langs|-bounded rows.
- the stump crossJoins a BROADCAST 1-row percentile frame and computes
  all candidate-split counts in ONE fact pass of conditional aggregates
  (no row blowup); the argmax runs over 9 candidate rows.
- Brier bins are constant-count (10); everything after the one fact
  aggregation is arithmetic on a 10-row frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_md5_hex6_to_int
from ..functions.text import quality_score, tokens
from ..sources.tables import read_table
from .registry import register, register_sql

# The canonical deterministic doc split (plans/trainset.py) — composed,
# never re-derived, per the shared-hash-arithmetic rule. Both twins come
# from trainset so the engines cannot drift.
from .trainset import _SPLIT_EXPR, split_bucket as _split_bucket_spark


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier (McCallum & Nigam 1998,
# "A comparison of event models for Naive Bayes text classification").
# Train on split buckets 0-7, evaluate on 8-9. Laplace (+1) smoothing
# over the TRAIN vocabulary; eval tokens outside the train vocabulary
# are dropped (the standard closed-vocabulary protocol — both engines
# drop identically via the inner join). Argmax per doc is taken on the
# dround(6) posterior with a lexicographic class tie-break so both
# engines pick identical predictions.
# ---------------------------------------------------------------------------

_NB_SQL = f"""
WITH base AS (
    SELECT doc_id, lang, text,
           CASE WHEN {_SPLIT_EXPR} < 8 THEN 'train' ELSE 'eval' END AS split
    FROM documents
),
tr_tok AS (
    SELECT lang, unnest(string_split(text, ' ')) AS tok
    FROM base WHERE split = 'train'
),
tok_cnt AS (SELECT lang, tok, count(*) AS c FROM tr_tok GROUP BY lang, tok),
vocab AS (SELECT DISTINCT tok FROM tr_tok),
vsize AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
cls AS (
    SELECT lang, CAST(count(*) AS DOUBLE) AS n_docs
    FROM base WHERE split = 'train' GROUP BY lang
),
ntot AS (SELECT sum(n_docs) AS nd FROM cls),
ctot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS tot FROM tok_cnt GROUP BY lang),
dense AS (
    SELECT vb.tok, cl.lang,
           ln((coalesce(tc.c, 0) + 1.0) / (ct.tot + vs.v)) AS lp
    FROM vocab vb
    CROSS JOIN cls cl
    JOIN ctot ct ON ct.lang = cl.lang
    CROSS JOIN vsize vs
    LEFT JOIN tok_cnt tc ON tc.tok = vb.tok AND tc.lang = cl.lang
),
ev_tok AS (
    SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS tok
    FROM base WHERE split = 'eval'
),
sums AS (
    SELECT ev.doc_id, ev.true_lang, de.lang AS cand, sum(de.lp) AS s
    FROM ev_tok ev JOIN dense de ON de.tok = ev.tok
    GROUP BY ev.doc_id, ev.true_lang, de.lang
),
post AS (
    SELECT su.doc_id, su.true_lang, su.cand,
           {R('su.s + ln(cl.n_docs / nt.nd)', 6)} AS score
    FROM sums su JOIN cls cl ON cl.lang = su.cand CROSS JOIN ntot nt
),
pred AS (
    SELECT doc_id, true_lang, cand AS pred_lang FROM (
        SELECT post.*, row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, cand ASC) AS rk
        FROM post
    ) WHERE rk = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
"""


@register("naive_bayes_lang_eval", _NB_SQL)
def naive_bayes_lang_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix (true_lang, pred_lang, n_docs) of a multinomial
    Naive Bayes language classifier trained on the 80% hash-split and
    scored on the 20% holdout. Train = explode+groupBy token counts;
    the Laplace-smoothed log-prob table stays a vocab x |langs|
    relation; scoring is a token equi join + per-doc sum + a
    doc-partitioned |langs|-row argmax window."""
    d = read_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        "text",
        F.when(_split_bucket_spark() < 8, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    tr = base.filter(F.col("split") == "train")
    tr_tok = tr.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    tok_cnt = tr_tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = tr_tok.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("double").alias("v"))
    cls = tr.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    ntot = cls.agg(F.sum("n_docs").alias("nd"))
    ctot = tok_cnt.groupBy("lang").agg(F.sum("c").cast("double").alias("tot"))
    cls_tot = cls.join(ctot, "lang")  # |langs| rows
    dense = (
        vocab.crossJoin(F.broadcast(cls_tot))
        .crossJoin(F.broadcast(vsize))
        .join(tok_cnt, ["tok", "lang"], "left")
        .select(
            "tok",
            "lang",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("tot") + F.col("v"))
            ).alias("lp"),
        )
    )
    ev_tok = base.filter(F.col("split") == "eval").select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    sums = (
        ev_tok.join(dense.withColumnRenamed("lang", "cand"), "tok")
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum("lp").alias("s"))
    )
    post = (
        sums.join(
            F.broadcast(cls.withColumnRenamed("lang", "cand")), "cand"
        )
        .crossJoin(F.broadcast(ntot))
        .select(
            "doc_id",
            "true_lang",
            "cand",
            dround(
                F.col("s") + F.log(F.col("n_docs") / F.col("nd")), 6
            ).alias("score"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cand")
    )
    pred = (
        post.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") == 1)
        .select("true_lang", F.col("cand").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Decision stump (1R) induction: the single best information-gain split
# of o_totalprice predicting urgency (Holte 1993, "Very simple
# classification rules perform well on most commonly used datasets").
# Candidate thresholds are the integer-floored exact deciles — integers
# so the <= comparisons are bit-identical across engines.
# ---------------------------------------------------------------------------

_STUMP_PS = tuple((k + 1) / 10.0 for k in range(9))


def _sql_entropy(p: str) -> str:
    """Binary entropy (nats) with the 0*ln(0) = 0 convention."""
    return (
        f"(CASE WHEN ({p}) <= 0.0 OR ({p}) >= 1.0 THEN 0.0 "
        f"ELSE -({p}) * ln({p}) - (1.0 - ({p})) * ln(1.0 - ({p})) END)"
    )


def _stump_sql() -> str:
    qcols = ", ".join(
        f"CAST(floor(quantile_cont(o_totalprice, {p})) AS BIGINT) AS t{k}"
        for k, p in enumerate(_STUMP_PS)
    )
    tlist = ", ".join(f"t{k}" for k in range(len(_STUMP_PS)))
    h_parent = _sql_entropy("pos / n")
    h_left = _sql_entropy("pos_l / n_l")
    h_right = _sql_entropy("(pos - pos_l) / (n - n_l)")
    gain = (
        f"({h_parent} "
        f"- (CASE WHEN n_l = 0 THEN 0.0 ELSE (n_l / n) * {h_left} END) "
        f"- (CASE WHEN n - n_l = 0 THEN 0.0 "
        f"   ELSE ((n - n_l) / n) * {h_right} END))"
    )
    return f"""
WITH qrow AS (SELECT {qcols} FROM orders),
cand AS (SELECT DISTINCT unnest([{tlist}]) AS thr FROM qrow),
counts AS (
    SELECT cd.thr,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(count(*) FILTER (o.o_orderpriority = '1-URGENT') AS DOUBLE)
               AS pos,
           CAST(count(*) FILTER (o.o_totalprice <= cd.thr) AS DOUBLE) AS n_l,
           CAST(count(*) FILTER (o.o_totalprice <= cd.thr
                AND o.o_orderpriority = '1-URGENT') AS DOUBLE) AS pos_l
    FROM orders o CROSS JOIN cand cd
    GROUP BY cd.thr
)
SELECT CAST(thr AS BIGINT) AS split_threshold,
       {R(gain, 6)} AS info_gain,
       CAST(n_l AS BIGINT) AS n_left,
       CAST(n - n_l AS BIGINT) AS n_right,
       {R('CASE WHEN n_l = 0 THEN 0.0 ELSE pos_l / n_l END', 6)}
           AS pos_rate_left,
       {R('CASE WHEN n - n_l = 0 THEN 0.0 ELSE (pos - pos_l) / (n - n_l) END', 6)}
           AS pos_rate_right
FROM counts
ORDER BY {R(gain, 6)} DESC, thr ASC
LIMIT 1
"""


@register("decision_stump_infogain", _stump_sql())
def decision_stump_infogain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single split of o_totalprice predicting 1-URGENT priority by
    information gain, over the 9 integer-floored exact-decile candidate
    thresholds. ONE fact pass: the 1-row decile frame is broadcast-
    crossJoined and all per-candidate left-side counts are conditional
    aggregates of the same scan (no 9x row blowup; the SQL oracle keeps
    the simpler exploded form). The argmax ranks 9 candidate rows."""
    o = read_table(spark, sf_dir, "orders")
    nq = len(_STUMP_PS)
    qrow = o.agg(
        *[
            F.floor(F.percentile("o_totalprice", F.lit(p)))
            .cast("long")
            .alias(f"t{k}")
            for k, p in enumerate(_STUMP_PS)
        ]
    )
    urgent = F.col("o_orderpriority") == "1-URGENT"
    aggs = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(urgent, 1).otherwise(0)).cast("double").alias("pos"),
    ]
    for k in range(nq):
        left = F.col("o_totalprice") <= F.col(f"t{k}")
        aggs.append(
            F.sum(F.when(left, 1).otherwise(0))
            .cast("double")
            .alias(f"nl{k}")
        )
        aggs.append(
            F.sum(F.when(left & urgent, 1).otherwise(0))
            .cast("double")
            .alias(f"posl{k}")
        )
        # Carry the threshold through the aggregate (constant within the
        # crossJoin) instead of re-crossJoining qrow afterwards — a second
        # crossJoin re-executes the full percentile scan over orders.
        aggs.append(F.first(F.col(f"t{k}")).alias(f"t{k}"))
    one = o.crossJoin(F.broadcast(qrow)).agg(*aggs)
    cand = one.select(
        "n",
        "pos",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"t{k}").alias("thr"),
                        F.col(f"nl{k}").alias("n_l"),
                        F.col(f"posl{k}").alias("pos_l"),
                    )
                    for k in range(nq)
                ]
            )
        ).alias("sp"),
    ).select("n", "pos", "sp.*").distinct()

    def entropy(p: F.Column) -> F.Column:
        return (
            F.when((p <= 0.0) | (p >= 1.0), F.lit(0.0))
            .otherwise(-p * F.log(p) - (1.0 - p) * F.log(1.0 - p))
        )

    n, pos = F.col("n"), F.col("pos")
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    n_r, pos_r = n - n_l, pos - pos_l
    gain = (
        entropy(pos / n)
        - F.when(n_l == 0, 0.0).otherwise((n_l / n) * entropy(pos_l / n_l))
        - F.when(n_r == 0, 0.0).otherwise((n_r / n) * entropy(pos_r / n_r))
    )
    scored = cand.select(
        F.col("thr").cast("long").alias("split_threshold"),
        dround(gain, 6).alias("info_gain"),
        n_l.cast("long").alias("n_left"),
        n_r.cast("long").alias("n_right"),
        dround(F.when(n_l == 0, 0.0).otherwise(pos_l / n_l), 6).alias(
            "pos_rate_left"
        ),
        dround(F.when(n_r == 0, 0.0).otherwise(pos_r / n_r), 6).alias(
            "pos_rate_right"
        ),
    )
    return scored.orderBy(
        F.desc("info_gain"), F.asc("split_threshold")
    ).limit(1)


# ---------------------------------------------------------------------------
# Murphy (1973) decomposition of the Brier score: brier = reliability -
# resolution + uncertainty, exact when forecasts are the 10 quantized
# bin midpoints. Forecast = quality score binned to deciles; outcome =
# the Gopher keep gate. Complements quality_calibration_bins (per-bin
# table) with the single-number calibration/sharpness split.
# ---------------------------------------------------------------------------


def _brier_sql() -> str:
    from .corpus_eval import _GOPHER_SQL
    from .registry import _DOC_QUALITY_SQL

    return f"""
WITH q AS ({_DOC_QUALITY_SQL}),
g AS ({_GOPHER_SQL}),
j AS (
    SELECT (least(CAST(floor(q.quality * 10) AS BIGINT), 9) + 0.5) / 10.0
               AS fc,
           CAST(g.keep AS DOUBLE) AS y
    FROM q JOIN g ON g.doc_id = q.doc_id
),
per AS (
    SELECT fc, CAST(count(*) AS DOUBLE) AS nk, avg(y) AS ybar_k
    FROM j GROUP BY fc
),
tot AS (SELECT sum(nk) AS n, sum(nk * ybar_k) / sum(nk) AS ybar FROM per)
SELECT CAST(t.n AS BIGINT) AS n_docs,
       {R('sum(p.nk * ((p.fc - p.ybar_k) * (p.fc - p.ybar_k) '
          '+ p.ybar_k * (1.0 - p.ybar_k))) / t.n', 6)} AS brier,
       {R('sum(p.nk * (p.fc - p.ybar_k) * (p.fc - p.ybar_k)) / t.n', 6)}
           AS reliability,
       {R('sum(p.nk * (p.ybar_k - t.ybar) * (p.ybar_k - t.ybar)) / t.n', 6)}
           AS resolution,
       {R('t.ybar * (1.0 - t.ybar)', 6)} AS uncertainty,
       abs(sum(p.nk * ((p.fc - p.ybar_k) * (p.fc - p.ybar_k)
               + p.ybar_k * (1.0 - p.ybar_k))) / t.n
           - (sum(p.nk * (p.fc - p.ybar_k) * (p.fc - p.ybar_k)) / t.n
              - sum(p.nk * (p.ybar_k - t.ybar) * (p.ybar_k - t.ybar)) / t.n
              + t.ybar * (1.0 - t.ybar))) < 1e-9 AS identity_ok
FROM per p CROSS JOIN tot t
GROUP BY t.n, t.ybar
"""


@register("brier_score_decomposition", _brier_sql())
def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Murphy decomposition (brier, reliability, resolution,
    uncertainty, identity_ok) of the decile-quantized quality score as a
    probability forecast of the Gopher keep gate. One fact aggregation
    to the 10 constant bins; everything after is 10-row arithmetic."""
    from .corpus_eval import gopher_quality_rules

    d = read_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", dround(quality_score(F.col("text")), 6).alias("quality")
    )
    g = gopher_quality_rules(spark, sf_dir).select("doc_id", "keep")
    j = q.join(g, "doc_id").select(
        (
            (
                F.least(
                    F.floor(F.col("quality") * 10).cast("long"), F.lit(9)
                )
                + 0.5
            )
            / 10.0
        ).alias("fc"),
        F.col("keep").cast("double").alias("y"),
    )
    per = j.groupBy("fc").agg(
        F.count(F.lit(1)).cast("double").alias("nk"),
        F.avg("y").alias("ybar_k"),
    )
    tot = per.agg(
        F.sum("nk").alias("n"),
        (F.sum(F.col("nk") * F.col("ybar_k")) / F.sum("nk")).alias("ybar"),
    )
    fc, nk, ybar_k = F.col("fc"), F.col("nk"), F.col("ybar_k")
    n, ybar = F.col("n"), F.col("ybar")
    brier = (
        F.sum(nk * ((fc - ybar_k) * (fc - ybar_k) + ybar_k * (1.0 - ybar_k)))
        / F.first(n)
    )
    rel = F.sum(nk * (fc - ybar_k) * (fc - ybar_k)) / F.first(n)
    res = F.sum(nk * (ybar_k - ybar) * (ybar_k - ybar)) / F.first(n)
    unc = F.first(ybar) * (1.0 - F.first(ybar))
    return (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.first(n).cast("long").alias("n_docs"),
            dround(brier, 6).alias("brier"),
            dround(rel, 6).alias("reliability"),
            dround(res, 6).alias("resolution"),
            dround(unc, 6).alias("uncertainty"),
            (F.abs(brier - (rel - res + unc)) < 1e-9).alias("identity_ok"),
        )
    )


# ---------------------------------------------------------------------------
# K-fold cross-validation (Stone 1974): leave-one-fold-out evaluation of
# the per-priority group-mean predictor over orders. Folds are the
# canonical deterministic hash split (trainset.knuth_sql over o_orderkey,
# mod K) — reproducible under any partitioning, like every sampler here.
#
# Scale design: training statistics for ALL K held-out models come from
# ONE map-side-combined pass — per-(fold, priority) sums, then
# leave-one-out means as (total - own fold) over the K x |priorities|
# grid (a bounded broadcast, never a window over facts). The scoring
# pass joins those 25 rows back by (fold, priority). Two fact scans
# total, independent of K.
# ---------------------------------------------------------------------------

_CV_K = 5


def _cv_sql() -> str:
    from .trainset import knuth_sql

    fold = f"{knuth_sql('o_orderkey')} % {_CV_K}"
    return f"""
WITH base AS (
    SELECT {fold} AS fold, o_orderpriority AS pri, o_totalprice AS y
    FROM orders
),
fp AS (
    SELECT fold, pri, sum(y) AS s, CAST(count(*) AS DOUBLE) AS n
    FROM base GROUP BY fold, pri
),
tot AS (SELECT pri, sum(s) AS st, sum(n) AS nt FROM fp GROUP BY pri),
loo AS (
    SELECT fp.fold, fp.pri, (tot.st - fp.s) / (tot.nt - fp.n) AS pred
    FROM fp JOIN tot ON tot.pri = fp.pri
)
SELECT CAST(b.fold AS BIGINT) AS fold,
       CAST(count(*) AS BIGINT) AS n_eval,
       {R('sqrt(sum((b.y - l.pred) * (b.y - l.pred)) / count(*))', 4)} AS rmse,
       {R('avg(abs(b.y - l.pred))', 4)} AS mae
FROM base b JOIN loo l ON l.fold = b.fold AND l.pri = b.pri
GROUP BY b.fold
"""

register_sql("cv_fold_rmse", _cv_sql())


# ---------------------------------------------------------------------------
# Learning-curve scaling: how does held-out error move as the training
# set grows? Nested training subsets are prefixes of the hash-bucket
# order (buckets 0..1, 0..3, 0..5, 0..7 of the canonical knuth split);
# eval is the fixed 8-9 bucket holdout. Same group-mean model family as
# cv_fold_rmse so the two read together as one eval suite.
#
# Scale design: ONE training pass builds the (bucket, priority) sum
# grid; nested-subset sums are a cumulative window over the BUCKET grain
# (constant-size grid partitioned by priority — never a fact window);
# the eval pass joins the 4 x |priorities| prediction table broadcast.
# ---------------------------------------------------------------------------

_LC_SUBSETS = (2, 4, 6, 8)  # train buckets 0..s-1 of the 10-bucket split


def _lc_sql() -> str:
    from .trainset import knuth_sql

    bucket = f"{knuth_sql('o_orderkey')} % 10"
    sizes = ", ".join(str(s) for s in _LC_SUBSETS)
    return f"""
WITH base AS (
    SELECT {bucket} AS bucket, o_orderpriority AS pri, o_totalprice AS y
    FROM orders
),
grid AS (
    SELECT bucket, pri, sum(y) AS s, CAST(count(*) AS DOUBLE) AS n
    FROM base WHERE bucket < 8 GROUP BY bucket, pri
),
cum AS (
    SELECT bucket, pri,
           sum(s) OVER (PARTITION BY pri ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cs,
           sum(n) OVER (PARTITION BY pri ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cn
    FROM grid
),
pred AS (
    SELECT bucket + 1 AS train_buckets, pri, cs / cn AS pred, cn
    FROM cum WHERE bucket + 1 IN ({sizes})
),
ntr AS (
    SELECT train_buckets, CAST(sum(cn) AS BIGINT) AS n_train_grid
    FROM pred GROUP BY train_buckets
),
ev AS (SELECT pri, y FROM base WHERE bucket >= 8)
SELECT CAST(p.train_buckets AS BIGINT) AS train_buckets,
       t.n_train_grid,
       CAST(count(*) AS BIGINT) AS n_eval,
       {R('sqrt(sum((e.y - p.pred) * (e.y - p.pred)) / count(*))', 4)} AS rmse
FROM ev e JOIN pred p ON p.pri = e.pri
JOIN ntr t ON t.train_buckets = p.train_buckets
GROUP BY p.train_buckets, t.n_train_grid
"""

register_sql("learning_curve_scaling", _lc_sql())


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (round 4; Micci-Barreca 2001, the
# standard mean-encoding recipe): encode a categorical against the
# target with the row's OWN label excluded — (sum_g - y) / (n_g - 1) —
# plus the m-smoothed variant that shrinks rare categories toward the
# global prior. The LOO exclusion is what prevents target leakage; the
# in-query identity avg(loo) == raw category mean (algebraic: the sum
# of (S - y_i)/(n-1) over a category telescopes back to S) is asserted
# by the test layer.
#
# Scale design: category statistics are one map-side-combined aggregate
# broadcast back (|categories| rows); the per-row encoding is pure
# arithmetic — no window, no self-join. The emitted verification grain
# is a hash-bounded row sample, so the output stays small at any SF.
# ---------------------------------------------------------------------------

_TE_SMOOTH_M = 10.0


def _target_enc_sql() -> str:
    from .trainset import knuth_sql

    sample = f"{knuth_sql('o_orderkey')} % 997 < 5"
    return f"""
WITH g AS (
    SELECT o_orderpriority AS pri, sum(o_totalprice) AS s,
           CAST(count(*) AS DOUBLE) AS n
    FROM orders GROUP BY o_orderpriority
),
prior AS (SELECT sum(s) / sum(n) AS mu FROM g)
SELECT o.o_orderkey AS orderkey, o.o_orderpriority AS pri,
       {R('o.o_totalprice', 2)} AS y,
       {R('(g.s - o.o_totalprice) / (g.n - 1)', 6)} AS loo_enc,
       {R('(g.s - o.o_totalprice + ' + str(_TE_SMOOTH_M) + ' * p.mu) '
          '/ (g.n - 1 + ' + str(_TE_SMOOTH_M) + ')', 6)} AS loo_enc_smoothed
FROM orders o
JOIN g ON g.pri = o.o_orderpriority
CROSS JOIN prior p
WHERE {sample}
"""

register_sql("target_encoding_loo", _target_enc_sql())


# ---------------------------------------------------------------------------
# Feature hashing / the hashing trick (round 4; Weinberger et al. 2009,
# "Feature Hashing for Large Scale Multitask Learning"): project
# arbitrary-cardinality categoricals into a FIXED K-dim signed vector —
# bucket = hash(feature=value) % K, sign = another hash bit — so the
# model's parameter space is bounded no matter how many distinct values
# arrive at 100 TB. Emits the dataset-level hashed aggregate per bucket
# (hit count + signed sum), i.e. the column the trainer would consume.
# Hash arithmetic composes the shared md5-hex6 fragment; feature keys
# are concat_ws-built (CLAUDE.md rule) in both engines.
# ---------------------------------------------------------------------------

_FH_K = 16


def _feature_hash_sql() -> str:
    key = "concat_ws('=', feat, val)"
    return f"""
WITH pairs AS (
    SELECT 'mktsegment' AS feat, c_mktsegment AS val FROM customer
    UNION ALL
    SELECT 'nation' AS feat, CAST(c_nationkey AS VARCHAR) AS val FROM customer
),
hashed AS (
    SELECT ({sql_md5_hex6_to_int(key)}) % {_FH_K} AS bucket,
           CASE WHEN ({sql_md5_hex6_to_int("concat_ws('=', 'sgn', feat, val)")})
                     % 2 = 0 THEN 1 ELSE -1 END AS sgn
    FROM pairs
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(sum(sgn) AS BIGINT) AS signed_sum
FROM hashed GROUP BY bucket
"""


@register("feature_hashing_trick", _feature_hash_sql())
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=16 signed feature-hash aggregate over two customer categoricals
    (segment, nation): per bucket, occurrence count and signed sum — the
    bounded-width feature vector the hashing-trick trainer consumes.
    One fact pass (union of two narrow projections), md5-bucket + sign
    as pure expressions, one K-group aggregate."""
    from ..functions.text import md5_hex6_to_int

    c = read_table(spark, sf_dir, "customer")
    pairs = c.select(
        F.lit("mktsegment").alias("feat"), F.col("c_mktsegment").alias("val")
    ).unionAll(
        c.select(
            F.lit("nation").alias("feat"),
            F.col("c_nationkey").cast("string").alias("val"),
        )
    )
    key = F.concat_ws("=", F.col("feat"), F.col("val"))
    sgn_key = F.concat_ws("=", F.lit("sgn"), F.col("feat"), F.col("val"))
    hashed = pairs.select(
        (md5_hex6_to_int(key) % _FH_K).alias("bucket"),
        F.when(md5_hex6_to_int(sgn_key) % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    return hashed.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.sum("sgn").cast("long").alias("signed_sum"),
    )


# ---------------------------------------------------------------------------
# Group K-fold cross-validation (round 4): like cv_fold_rmse but folds
# are assigned per CUSTOMER (the group), not per row — every order of a
# customer lands wholly in one fold, so repeat-customer structure cannot
# leak across the train/eval boundary (the GroupKFold discipline;
# trainset_group_holdout is the 2-way special case). Identical two-scan
# shape: one (fold, priority) grid pass, leave-one-fold-out grid
# arithmetic, one broadcast-joined scoring pass. The comparison of
# cv_fold_rmse vs this query IS the leakage audit: a large gap means
# row-level folds were overfitting to group structure.
# ---------------------------------------------------------------------------


def _group_cv_sql() -> str:
    from .trainset import knuth_sql

    fold = f"{knuth_sql('o_custkey')} % {_CV_K}"
    return f"""
WITH base AS (
    SELECT {fold} AS fold, o_orderpriority AS pri, o_totalprice AS y
    FROM orders
),
fp AS (
    SELECT fold, pri, sum(y) AS s, CAST(count(*) AS DOUBLE) AS n
    FROM base GROUP BY fold, pri
),
tot AS (SELECT pri, sum(s) AS st, sum(n) AS nt FROM fp GROUP BY pri),
loo AS (
    SELECT fp.fold, fp.pri, (tot.st - fp.s) / (tot.nt - fp.n) AS pred
    FROM fp JOIN tot ON tot.pri = fp.pri
)
SELECT CAST(b.fold AS BIGINT) AS fold,
       CAST(count(*) AS BIGINT) AS n_eval,
       {R('sqrt(sum((b.y - l.pred) * (b.y - l.pred)) / count(*))', 4)} AS rmse,
       {R('avg(abs(b.y - l.pred))', 4)} AS mae
FROM base b JOIN loo l ON l.fold = b.fold AND l.pri = b.pri
GROUP BY b.fold
"""

register_sql("cv_groupkfold_rmse", _group_cv_sql())
