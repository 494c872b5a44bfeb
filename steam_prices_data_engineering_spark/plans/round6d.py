"""Round-6 extension operators, part D: Good-Turing / Chao1 unseen-
vocabulary mass (Good 1953; Chao 1984), quantile-normalization mapping
tables, Cohen's kappa annotator agreement (Cohen 1960), and the
delete-one-group jackknife (Quenouille/Tukey; Efron & Stein 1981).

Same discipline as the earlier round-6 parts: one map-side-combined
fact scan per input, bounded grains downstream, shared quality
arithmetic composed from functions/sqlfrag.py (never inlined), exact
percentiles through the pinned Spark `percentile` == DuckDB
`quantile_cont` interop, and comparisons on dround(6) values wherever
an interpolated threshold could drift by a ULP between engines.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the corpus-coverage, score-alignment, label-QA and
uncertainty jobs a 100 TB training-data platform runs on the same
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import SQL_QUALITY_EXPR, sql_quality_feat_ctes
from ..functions.text import quality_score, tokens
from ..session import pin
from ..sources.tables import read_table, values_frame
from .registry import register

# ===========================================================================
# Good-Turing coverage + Chao1 unseen-vocabulary estimate, per source:
# hapax/dis-legomena counts give the Turing coverage estimate
# C = 1 - n1/N (the probability mass of UNSEEN word types) and the
# bias-corrected Chao1 richness V + n1(n1-1)/(2(n2+1)) — "how much
# vocabulary is this source still hiding", the companion read to
# ngram_novelty_curve's within-corpus decay.
#
# Scale shape: one explode -> (source, token) count aggregate (map-side
# combined, 32-byte-ish keys) -> per-source conditional sums on the
# bounded source grain. No windows, no joins.
# ===========================================================================

_GOOD_TURING_SQL = f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
tc AS (
    SELECT source, tok, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY source, tok
),
per AS (
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis
    FROM tc GROUP BY source
)
SELECT source, n_tokens, vocab, hapax, dis,
       {R('1.0 - CAST(hapax AS DOUBLE) / n_tokens', 6)} AS turing_coverage,
       {R('''vocab + CAST(hapax AS DOUBLE) * (hapax - 1)
             / (2.0 * (dis + 1))''', 2)} AS chao1_richness,
       {R('''(CAST(hapax AS DOUBLE) * (hapax - 1) / (2.0 * (dis + 1)))
             / (vocab + CAST(hapax AS DOUBLE) * (hapax - 1)
                / (2.0 * (dis + 1)))''', 6)} AS unseen_type_frac
FROM per
"""


@register("good_turing_unseen_mass", _GOOD_TURING_SQL)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turing coverage + bias-corrected Chao1 richness per source."""
    d = read_table(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("dis"),
    )
    chao_extra = (
        F.col("hapax").cast("double")
        * (F.col("hapax") - 1)
        / (2.0 * (F.col("dis") + 1))
    )
    return per.select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        "dis",
        dround(
            1.0 - F.col("hapax").cast("double") / F.col("n_tokens"), 6
        ).alias("turing_coverage"),
        dround(F.col("vocab") + chao_extra, 2).alias("chao1_richness"),
        dround(
            chao_extra / (F.col("vocab") + chao_extra), 6
        ).alias("unseen_type_frac"),
    )


# ===========================================================================
# Quantile-normalization mapping (the distribution-alignment step before
# cross-source score thresholds are comparable): for each source, the
# decile lookup table that maps its quality-score distribution onto the
# POOLED distribution — a doc at source decile d gets the pooled decile
# value. Emits the (source, decile) mapping plus the shift the
# normalization applies.
#
# Scale shape: ONE scored doc scan feeds both the per-source exact
# percentile aggregate (bounded source grain) and the pooled 1-row
# aggregate (broadcast); the decile unpivot is a bounded constant grid.
# Exact percentile swaps to percentile_approx at corpus scale without
# changing the contract (the trainset_curriculum_shards precedent).
# ===========================================================================


def _qn_sql() -> str:
    src_q = ", ".join(
        f"quantile_cont(q, 0.{i}) AS s{i}" for i in range(1, 10)
    )
    pool_q = ", ".join(
        f"quantile_cont(q, 0.{i}) AS p{i}" for i in range(1, 10)
    )
    src_case = " ".join(f"WHEN {i} THEN s{i}" for i in range(1, 10))
    pool_case = " ".join(f"WHEN {i} THEN p{i}" for i in range(1, 10))
    return f"""
WITH {sql_quality_feat_ctes()},
scored AS MATERIALIZED (
    SELECT d.source, ({SQL_QUALITY_EXPR}) AS q
    FROM feat f JOIN documents d ON d.doc_id = f.doc_id
),
src AS (SELECT source, {src_q} FROM scored GROUP BY source),
pool AS (SELECT {pool_q} FROM scored),
grid AS (SELECT unnest(range(1, 10)) AS decile)
SELECT s.source, CAST(g.decile AS BIGINT) AS decile,
       {R('CASE g.decile ' + src_case + ' END', 6)} AS src_value,
       {R('CASE g.decile ' + pool_case + ' END', 6)} AS pooled_value,
       {R('(CASE g.decile ' + pool_case + ' END) - '
          '(CASE g.decile ' + src_case + ' END)', 6)} AS shift
FROM src s CROSS JOIN pool p CROSS JOIN grid g
"""


@register("quantile_normalize_scores", _qn_sql())
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decile -> pooled decile quality-score mapping table."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select("source", quality_score(F.col("text")).alias("q"))
    src = scored.groupBy("source").agg(
        *[
            F.percentile("q", i / 10.0).alias(f"s{i}")
            for i in range(1, 10)
        ]
    )
    pool = scored.agg(
        *[
            F.percentile("q", i / 10.0).alias(f"p{i}")
            for i in range(1, 10)
        ]
    )
    grid = values_frame(spark, [(i,) for i in range(1, 10)], ["decile"])

    def pick(prefix):
        expr = None
        for i in range(1, 10):
            cond = F.when(F.col("decile") == i, F.col(f"{prefix}{i}"))
            expr = cond if expr is None else expr.when(
                F.col("decile") == i, F.col(f"{prefix}{i}")
            )
        return expr

    return (
        src.crossJoin(F.broadcast(pool))
        .crossJoin(F.broadcast(grid))
        .select(
            "source",
            F.col("decile").cast("long").alias("decile"),
            dround(pick("s"), 6).alias("src_value"),
            dround(pick("p"), 6).alias("pooled_value"),
            dround(pick("p") - pick("s"), 6).alias("shift"),
        )
    )


# ===========================================================================
# Cohen's kappa (Cohen 1960) between two deterministic labeling rules —
# the agreement-beyond-chance readout a labeling pipeline computes
# between annotators (here: the diversity rule vs the above-median
# composite-quality rule, both engine-shared fragments). Comparisons
# happen on dround(6) scores and a dround(6) median so an interpolated
# threshold cannot flip a label between engines.
#
# Scale shape: one scored scan; the median is a broadcast 1-row
# aggregate; the confusion mass is ONE conditional-sum aggregate.
# Always exactly one summary row (NULL-stat on an empty corpus) — the
# group-sequential/datasheet precedent.
# ===========================================================================

_KAPPA_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS MATERIALIZED (
    SELECT CASE WHEN f.diversity >= 0.5 THEN 1 ELSE 0 END AS a,
           {R(f"({SQL_QUALITY_EXPR})", 6)} AS q
    FROM feat f
),
med AS (SELECT {R('quantile_cont(q, 0.5)', 6)} AS m FROM scored),
cells AS (
    SELECT s.a, CASE WHEN s.q >= t.m THEN 1 ELSE 0 END AS b
    FROM scored s CROSS JOIN med t
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(CAST(a AS DOUBLE)) AS na,
           sum(CAST(b AS DOUBLE)) AS nb,
           sum(CASE WHEN a = b THEN 1.0 ELSE 0.0 END) AS nagree
    FROM cells
)
SELECT n AS n_docs,
       {R('na / n', 6)} AS p_a_hi,
       {R('nb / n', 6)} AS p_b_hi,
       {R('nagree / n', 6)} AS p_observed,
       {R('(na / n) * (nb / n) + (1 - na / n) * (1 - nb / n)', 6)}
           AS p_expected,
       {R('''(nagree / n - ((na / n) * (nb / n)
              + (1 - na / n) * (1 - nb / n)))
             / nullif(1 - ((na / n) * (nb / n)
              + (1 - na / n) * (1 - nb / n)), 0.0)''', 6)} AS kappa
FROM agg
"""


@register("cohen_kappa_labels", _KAPPA_SQL)
def cohen_kappa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kappa between the diversity rule and the above-median quality
    rule."""
    from ..functions.text import distinct_token_ratio

    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        F.when(distinct_token_ratio(F.col("text")) >= 0.5, 1)
        .otherwise(0)
        .alias("a"),
        dround(quality_score(F.col("text")), 6).alias("q"),
    )
    scored = pin(scored)  # median + confusion mass
    med = scored.agg(dround(F.percentile("q", 0.5), 6).alias("m"))
    cells = scored.crossJoin(F.broadcast(med)).select(
        "a",
        F.when(F.col("q") >= F.col("m"), 1).otherwise(0).alias("b"),
    )
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a").cast("double")).alias("na"),
        F.sum(F.col("b").cast("double")).alias("nb"),
        F.sum(
            F.when(F.col("a") == F.col("b"), 1.0).otherwise(0.0)
        ).alias("nagree"),
    )
    pa = F.col("na") / F.col("n")
    pb = F.col("nb") / F.col("n")
    po = F.col("nagree") / F.col("n")
    pe = pa * pb + (1 - pa) * (1 - pb)
    return agg.select(
        F.col("n").alias("n_docs"),
        dround(pa, 6).alias("p_a_hi"),
        dround(pb, 6).alias("p_b_hi"),
        dround(po, 6).alias("p_observed"),
        dround(pe, 6).alias("p_expected"),
        # nullif guard (ADVICE r6): on a degenerate corpus where both
        # rules label every doc identically, p_expected = 1 and Spark's
        # double 0/0 yields NULL while DuckDB yields inf — the same
        # engine divergence the jackknife and BH-FDR queries guard.
        dround((po - pe) / F.nullif(F.lit(1) - pe, F.lit(0.0)), 6).alias(
            "kappa"
        ),
    )


# ===========================================================================
# Delete-one-group jackknife (Quenouille 1956; Tukey 1958) on the
# corpus mean quality, groups = sources: each source's leave-one-out
# estimate, its influence on the pooled mean, and the jackknife
# standard error — the uncertainty companion to the multiplier
# bootstrap that needs NO resampling pass, just the per-group monoid
# sums.
#
# Scale shape: one scored scan -> per-source (n, sum) aggregate; the
# pooled totals and the jackknife moments are 1-row aggregates over the
# bounded source grain, broadcast back. Zero windows.
# ===========================================================================

_JACKKNIFE_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS (
    SELECT d.source, ({SQL_QUALITY_EXPR}) AS q
    FROM feat f JOIN documents d ON d.doc_id = f.doc_id
),
per AS MATERIALIZED (
    SELECT source, CAST(count(*) AS BIGINT) AS n, sum(q) AS s
    FROM scored GROUP BY source
),
gl AS MATERIALIZED (
    SELECT CAST(sum(n) AS DOUBLE) AS nt, sum(s) AS st,
           CAST(count(*) AS DOUBLE) AS g
    FROM per
),
loo AS MATERIALIZED (
    SELECT p.source, p.n,
           CASE WHEN g.nt - p.n > 0
                THEN (g.st - p.s) / (g.nt - p.n) END AS lm,
           g.st / g.nt AS full_mean, g.g
    FROM per p CROSS JOIN gl g
),
jk AS (
    SELECT sum(lm) AS s1, sum(lm * lm) AS q2, max(g) AS g FROM loo
)
SELECT l.source, l.n AS n_docs,
       {R('l.lm', 6)} AS loo_mean,
       {R('l.full_mean - l.lm', 6)} AS influence,
       {R('''sqrt(greatest((j.g - 1.0) / j.g
                           * (j.q2 - j.s1 * j.s1 / j.g), 0.0))''', 6)}
           AS jackknife_se
FROM loo l CROSS JOIN jk j
"""


@register("jackknife_source_influence", _JACKKNIFE_SQL)
def jackknife_source_influence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-source-out means, influence, and jackknife SE."""
    d = read_table(spark, sf_dir, "documents")
    per = d.select(
        "source", quality_score(F.col("text")).alias("q")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").alias("s"),
    )
    gl = per.agg(
        F.sum("n").cast("double").alias("nt"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).cast("double").alias("g"),
    )
    loo = per.crossJoin(F.broadcast(gl)).select(
        "source",
        "n",
        # single-source corpora: NULL in BOTH engines (DuckDB float /0
        # would read inf while Spark reads NULL — the BH-FDR lesson)
        F.when(
            F.col("nt") - F.col("n") > 0,
            (F.col("st") - F.col("s")) / (F.col("nt") - F.col("n")),
        ).alias("lm"),
        (F.col("st") / F.col("nt")).alias("full_mean"),
        "g",
    )
    jk = loo.agg(
        F.sum("lm").alias("s1"),
        F.sum(F.col("lm") * F.col("lm")).alias("q2"),
        F.max("g").alias("g"),
    )
    return loo.drop("g").crossJoin(F.broadcast(jk)).select(
        "source",
        F.col("n").alias("n_docs"),
        dround(F.col("lm"), 6).alias("loo_mean"),
        dround(F.col("full_mean") - F.col("lm"), 6).alias("influence"),
        dround(
            F.sqrt(
                F.greatest(
                    (F.col("g") - 1.0)
                    / F.col("g")
                    * (F.col("q2") - F.col("s1") * F.col("s1") / F.col("g")),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("jackknife_se"),
    )
