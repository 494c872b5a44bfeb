"""Round-7 extension operators: stream-static broadcast enrichment
(the one stream-join flavor the streaming family lacked), a sensitive-
pattern (PII-shape) audit over synthesized contact lines, Fleiss' kappa
multi-rater agreement (Fleiss 1971), Theil-Sen robust trend estimation
(Theil 1950; Sen 1968), exact-duplicate keeper-policy comparison at the
span grain, per-source Spearman rank agreement between quality scorers
(Spearman 1904), exact stratified three-way splitting
(largest-remainder), and sequence-packing efficiency planning (the
Krell 2021-style packed-batch capacity bound).

Discipline unchanged from the round-5/6 tiers: fact-scale work is
map-side-combined aggregation or hash-key equi joins; grids, medians
and policy summaries ride 1-row broadcast aggregates; rank windows are
PARTITIONED (per source) or run on bounded grains (calendar days,
8-value buckets); shared hash/quality arithmetic composes from
functions/sqlfrag.py + functions/text.py so the two engines cannot
drift.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py:1);
these are the labeling-QA, governance, robust-stats and
training-batch-planning jobs a 100 TB data platform runs on the same
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
    tokens,
)
from ..session import pin
from ..sources.tables import read_table
from .registry import register

# ===========================================================================
# Stream-static enrichment FEEDING A STATEFUL WINDOWED AGGREGATE in one
# streaming query: the events stream left-joins the static customer
# dimension (user_id = c_custkey), then tumbles into 15-minute
# per-segment aggregates. The row-level enrichment flavor already
# exists (`streaming_static_enrichment`, plans/scale_patterns.py:539 —
# stateless, no downstream state); THIS query pins the composition
# Spark permits precisely because the stream-static join is stateless:
# a stateful operator is legal downstream of it (it is NOT legal
# downstream of most stream-stream joins in append mode). Left join so
# unknown users survive as 'UNKNOWN'. With a single availableNow replay
# nothing is late, so the batch oracle applies.
#
# Scale shape: the static side is a dimension (broadcast); stream state
# is the windowed aggregate only, bounded by the watermark. No
# stream-stream state at all.
# ===========================================================================

_ENRICH_SQL = f"""
SELECT CAST(floor(floor(epoch(ts)) / 900) * 900 AS BIGINT) AS window_start,
       coalesce(c_mktsegment, 'UNKNOWN') AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       {R('CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) '
          'AS DOUBLE) / 1000000.0', 4)} AS sum_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


@register("streaming_enriched_tumbling_agg", _ENRICH_SQL)
def streaming_enriched_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling counts per customer segment, dim joined
    stream-side (stream-static broadcast left join)."""
    from ..sources.tables import table_path
    from ..streaming.windows import streaming_static_enriched_counts

    dim = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return streaming_static_enriched_counts(
        spark,
        table_path(sf_dir, "events"),
        dim,
        duration="15 minutes",
        watermark="1 hour",
    )


# ===========================================================================
# Sensitive-pattern (PII-shape) audit: per event_type, how many payload
# lines carry an email, a phone number, or a long digit run — the
# governance scan a platform runs before a corpus ships. The fixture
# carries no natural PII (all-words documents, {"k": N} props), so the
# scan target is a SYNTHESIZED contact line derived deterministically
# from the event keys (same honesty contract as the multimodal fake
# decode: the pattern library, the conditional synthesis and the rollup
# arithmetic are fully exercised; production points the same scan at
# real text). Patterns stay in the RE2 ∩ java.regex subset so both
# engines match identically.
#
# Scale shape: one event scan, regex work rides codegen
# (regexp_extract_all), one map-side-combined rollup per event_type.
# ===========================================================================

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+[0-9]{7,}"
_PII_DIGITS = "[0-9]{6,}"


def pii_line_sql() -> str:
    """The synthesized contact line (DuckDB dialect) — shared by the
    round-7 audit and the round-9 redaction transform."""
    return """concat_ws(' ', 'evt', lpad(CAST(event_id AS VARCHAR), 8, '0'),
               'user', CAST(user_id AS VARCHAR), props,
               CASE WHEN user_id % 3 = 0
                    THEN 'contact u' || CAST(user_id AS VARCHAR)
                         || '@example.com' END,
               CASE WHEN event_id % 5 < 2
                    THEN 'call +1415555'
                         || lpad(CAST(event_id % 1000 AS VARCHAR), 4, '0')
               END)"""


def pii_line_col() -> F.Column:
    """Spark twin of pii_line_sql()."""
    return F.concat_ws(
        " ",
        F.lit("evt"),
        F.lpad(F.col("event_id").cast("string"), 8, "0"),
        F.lit("user"),
        F.col("user_id").cast("string"),
        F.col("props"),
        F.when(
            F.col("user_id") % 3 == 0,
            F.concat(
                F.lit("contact u"),
                F.col("user_id").cast("string"),
                F.lit("@example.com"),
            ),
        ),
        F.when(
            F.col("event_id") % 5 < 2,
            F.concat(
                F.lit("call +1415555"),
                F.lpad((F.col("event_id") % 1000).cast("string"), 4, "0"),
            ),
        ),
    )


_PII_SQL = f"""
WITH msg AS (
    SELECT event_type, {pii_line_sql()} AS line
    FROM events
),
hits AS (
    SELECT event_type,
           len(regexp_extract_all(line, '{_PII_EMAIL}')) AS n_email,
           len(regexp_extract_all(line, '{_PII_PHONE}')) AS n_phone,
           len(regexp_extract_all(line, '{_PII_DIGITS}')) AS n_digits
    FROM msg
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_email,
       CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_phone,
       CAST(sum(n_digits) AS BIGINT) AS n_digit_runs,
       {R('sum(CASE WHEN n_email > 0 THEN 1.0 ELSE 0.0 END) / count(*)', 4)}
           AS email_rate,
       {R('sum(CASE WHEN n_phone > 0 THEN 1.0 ELSE 0.0 END) / count(*)', 4)}
           AS phone_rate
FROM hits
GROUP BY event_type
"""


@register("pii_pattern_audit", _PII_SQL)
def pii_pattern_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts/rates of email, phone and long-digit-run
    patterns over the synthesized contact line."""
    e = read_table(spark, sf_dir, "events")
    line = pii_line_col()
    hits = e.select(
        "event_type",
        F.size(F.regexp_extract_all(line, F.lit(_PII_EMAIL), F.lit(0))).alias(
            "n_email"
        ),
        F.size(F.regexp_extract_all(line, F.lit(_PII_PHONE), F.lit(0))).alias(
            "n_phone"
        ),
        F.size(
            F.regexp_extract_all(line, F.lit(_PII_DIGITS), F.lit(0))
        ).alias("n_digits"),
    )
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("n_email") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_with_email"),
        F.sum(F.when(F.col("n_phone") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_with_phone"),
        F.sum("n_digits").cast("long").alias("n_digit_runs"),
        dround(
            F.sum(F.when(F.col("n_email") > 0, 1.0).otherwise(0.0))
            / F.count(F.lit(1)),
            4,
        ).alias("email_rate"),
        dround(
            F.sum(F.when(F.col("n_phone") > 0, 1.0).otherwise(0.0))
            / F.count(F.lit(1)),
            4,
        ).alias("phone_rate"),
    )


# ===========================================================================
# Fleiss' kappa (Fleiss 1971): agreement among THREE deterministic
# labeling rules (raters) — diversity >= 0.5, composite quality >= its
# median, token count >= its median — the multi-rater generalization of
# the Cohen's kappa query (round6d). Per doc with n=3 raters and two
# categories: P_i = (x(x-1) + (3-x)(2-x)) / 6 where x = hi-votes;
# kappa = (P_bar - P_e) / (1 - P_e), denominator nullif-guarded (the
# round-6d ADVICE lesson applied from day one).
#
# Scale shape: one scored scan; the two medians are a 1-row broadcast
# aggregate; the kappa arithmetic is ONE monoid aggregate. Always
# exactly one summary row.
# ===========================================================================

_FLEISS_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS MATERIALIZED (
    SELECT f.diversity,
           {R(f"({SQL_QUALITY_EXPR})", 6)} AS q,
           CAST(n_tokens AS DOUBLE) AS nt
    FROM feat f
),
med AS (
    SELECT {R('quantile_cont(q, 0.5)', 6)} AS mq,
           {R('quantile_cont(nt, 0.5)', 6)} AS mn
    FROM scored
),
votes AS (
    SELECT (CASE WHEN s.diversity >= 0.5 THEN 1 ELSE 0 END
            + CASE WHEN s.q >= m.mq THEN 1 ELSE 0 END
            + CASE WHEN s.nt >= m.mn THEN 1 ELSE 0 END) AS x
    FROM scored s CROSS JOIN med m
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(CAST(x AS DOUBLE)) AS sx,
           sum((x * (x - 1) + (3 - x) * (2 - x)) / 6.0) AS spi
    FROM votes
)
SELECT n AS n_docs,
       {R('sx / (3 * n)', 6)} AS p_hi,
       {R('spi / n', 6)} AS p_bar,
       {R('''(sx / (3 * n)) * (sx / (3 * n))
             + (1 - sx / (3 * n)) * (1 - sx / (3 * n))''', 6)} AS p_e,
       {R('''(spi / n - ((sx / (3 * n)) * (sx / (3 * n))
              + (1 - sx / (3 * n)) * (1 - sx / (3 * n))))
             / nullif(1 - ((sx / (3 * n)) * (sx / (3 * n))
              + (1 - sx / (3 * n)) * (1 - sx / (3 * n))), 0.0)''', 6)}
           AS fleiss_kappa
FROM agg
"""


@register("fleiss_kappa_rules", _FLEISS_SQL)
def fleiss_kappa_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across the three deterministic labeling rules."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        distinct_token_ratio(F.col("text")).alias("diversity"),
        dround(quality_score(F.col("text")), 6).alias("q"),
        token_count(F.col("text")).cast("double").alias("nt"),
    )
    scored = pin(scored)  # medians + vote scan
    med = scored.agg(
        dround(F.percentile("q", 0.5), 6).alias("mq"),
        dround(F.percentile("nt", 0.5), 6).alias("mn"),
    )
    x = (
        F.when(F.col("diversity") >= 0.5, 1).otherwise(0)
        + F.when(F.col("q") >= F.col("mq"), 1).otherwise(0)
        + F.when(F.col("nt") >= F.col("mn"), 1).otherwise(0)
    )
    votes = scored.crossJoin(F.broadcast(med)).select(x.alias("x"))
    agg = votes.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("double")).alias("sx"),
        F.sum(
            (
                F.col("x") * (F.col("x") - 1)
                + (3 - F.col("x")) * (2 - F.col("x"))
            )
            / 6.0
        ).alias("spi"),
    )
    p_hi = F.col("sx") / (3 * F.col("n"))
    p_bar = F.col("spi") / F.col("n")
    p_e = p_hi * p_hi + (1 - p_hi) * (1 - p_hi)
    return agg.select(
        F.col("n").alias("n_docs"),
        dround(p_hi, 6).alias("p_hi"),
        dround(p_bar, 6).alias("p_bar"),
        dround(p_e, 6).alias("p_e"),
        dround(
            (p_bar - p_e) / F.nullif(F.lit(1) - p_e, F.lit(0.0)), 6
        ).alias("fleiss_kappa"),
    )


# ===========================================================================
# Theil-Sen robust trend (Theil 1950; Sen 1968): the median of all
# pairwise slopes of the daily-revenue series, plus the median-residual
# intercept — the outlier-robust alternative to the OLS trend
# (ols_normal_equations). Slopes are dround(6) BEFORE the median so the
# (n-1)*p interpolation in both engines sees bit-identical inputs.
#
# Scale shape: the series is the calendar-bounded day rollup (the
# _daily_revenue grain every insights time-series query uses); the
# pairwise self-join is O(days^2) on that bounded grain — thousands of
# rows at ANY fact volume, never fact-scale pairs.
# ===========================================================================

def _theil_sql() -> str:
    from .insights import _DAILY_REV

    return f"""
WITH {_DAILY_REV},
pairs AS (
    SELECT {R('(b.rev - a.rev) / (b.d - a.d)', 6)} AS slope
    FROM daily a JOIN daily b ON b.d > a.d
),
sl AS (
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           {R('quantile_cont(slope, 0.5)', 6)} AS slope_med
    FROM pairs
),
ic AS (
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           {R('quantile_cont(rev - s.slope_med * d, 0.5)', 4)}
               AS intercept_med
    FROM daily CROSS JOIN sl s
)
SELECT i.n_days, s.n_pairs, s.slope_med, i.intercept_med
FROM sl s CROSS JOIN ic i
"""


@register("theil_sen_daily_trend", _theil_sql())
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen median slope + median-residual intercept of daily
    revenue."""
    from ..sources.tables import spread
    from .insights import _daily_revenue

    daily = _daily_revenue(spark, sf_dir)
    daily = pin(daily)  # bounded day grain; pairs + intercept scans
    # spread() the probe side of the day-pair join: the cached day grain
    # (shuffle in its plan) AQE-collapses to one partition, and the
    # BroadcastNestedLoopJoin would compute all O(days^2) slopes on ONE
    # core (measured 11.4 s -> ~2 s at sf0.1's 2405-day span; the
    # documented cached-probe-side collapse).
    a = spread(daily).select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        dround(
            (F.col("rb") - F.col("ra")) / (F.col("db") - F.col("da")), 6
        ).alias("slope")
    )
    # Exact median by binned order-statistic SELECTION, not Spark's
    # `percentile` aggregate: the slope set is O(days^2) mostly-distinct
    # doubles (2.9M at sf0.1) and the percentile value-count map merged
    # on one reducer measured ~9 s of the query's 11.4 s; selection is
    # value-identical (same (n-1)*q interpolation) and fully parallel
    # (operators/ranking.py:exact_quantile_cont).
    from ..operators.ranking import exact_quantile_cont

    sl = exact_quantile_cont(pairs, F.col("slope"), 0.5).select(
        F.col("n").alias("n_pairs"),
        dround(F.col("value"), 6).alias("slope_med"),
    )
    # sl appears EXACTLY ONCE in the final plan: its selection DAG is a
    # chain of broadcast-exchange jobs, and a second reference (the r7
    # first cut broadcast it into the intercept AND the final select)
    # re-executes the whole chain — measured ~12 s vs ~4 s.
    ic = daily.crossJoin(F.broadcast(sl)).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.first("n_pairs").alias("n_pairs"),
        F.first("slope_med").alias("slope_med"),
        dround(
            F.percentile(
                F.col("rev") - F.col("slope_med") * F.col("d"), 0.5
            ),
            4,
        ).alias("intercept_med"),
    )
    return ic.select("n_days", "n_pairs", "slope_med", "intercept_med")


# ===========================================================================
# Dedup keeper-policy comparison at the span grain: for every repeated
# full 8-token chunk (the chunk_dedup_ratio grain), which occurrence
# survives under (A) the positional keep-first policy (min doc, min
# chunk index — the substring_dedup_keep_first rule) vs (B) the
# quality-max policy (occurrence in the highest-quality document,
# dround(6) quality, doc/chunk tie-break)? The 1-row report quantifies
# how often the policies disagree and the kept-document quality each
# achieves — the number a dedup-policy review actually reads.
#
# Scale shape: chunks shuffle on their md5 hash (32-byte keys,
# map-side combined); the policy-B refinement joins at the GROUP grain;
# the final report is a 1-row aggregate. Never a pair join.
# ===========================================================================

_CHUNK_W = 8
_KEY_STRIDE = 100000  # keeper key = doc_id * stride + chunk_idx

_KEEPER_SQL = f"""
WITH {sql_quality_feat_ctes()},
dq AS MATERIALIZED (
    SELECT f.doc_id, {R(f"({SQL_QUALITY_EXPR})", 6)} AS q FROM feat f
),
tk AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
ch AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, CAST(ceil(len(sp) / {_CHUNK_W}.0) AS BIGINT) + 1),
               ci -> {{'ci': ci,
                      'chunk': array_to_string(
                          list_slice(sp, (ci - 1) * {_CHUNK_W} + 1,
                                     ci * {_CHUNK_W}), ' ')}})) AS u
    FROM tk
),
members AS MATERIALIZED (
    SELECT md5(u.chunk) AS h,
           ch.doc_id * {_KEY_STRIDE} + u.ci AS k,
           dq.q
    FROM ch JOIN dq ON dq.doc_id = ch.doc_id
    WHERE len(string_split(u.chunk, ' ')) = {_CHUNK_W}
),
g1 AS MATERIALIZED (
    SELECT h, CAST(count(*) AS BIGINT) AS n_occ,
           min(k) AS keep_a, max(q) AS qmax
    FROM members GROUP BY h
),
g2 AS (
    SELECT m.h, min(m.k) AS keep_b
    FROM members m JOIN g1 ON g1.h = m.h AND m.q = g1.qmax
    GROUP BY m.h
),
pol AS (
    SELECT g1.h, g1.n_occ, g1.keep_a, g2.keep_b,
           CAST(floor(g1.keep_a / {_KEY_STRIDE}) AS BIGINT) AS doc_a,
           CAST(floor(g2.keep_b / {_KEY_STRIDE}) AS BIGINT) AS doc_b
    FROM g1 JOIN g2 ON g2.h = g1.h
    WHERE g1.n_occ > 1
)
SELECT CAST(count(*) AS BIGINT) AS n_multi_groups,
       CAST(sum(n_occ) AS BIGINT) AS n_dup_occurrences,
       CAST(sum(CASE WHEN doc_a <> doc_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_policy_differs,
       {R('avg(qa.q)', 6)} AS avg_quality_keep_first,
       {R('avg(qb.q)', 6)} AS avg_quality_keep_best
FROM pol
JOIN dq qa ON qa.doc_id = pol.doc_a
JOIN dq qb ON qb.doc_id = pol.doc_b
"""


@register("dedup_keeper_policy_eval", _KEEPER_SQL)
def dedup_keeper_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first vs keep-best-quality keeper policies over repeated
    full 8-token chunks: disagreement count + kept quality per policy."""
    d = read_table(spark, sf_dir, "documents")
    dq = d.select(
        "doc_id", dround(quality_score(F.col("text")), 6).alias("q")
    )
    sp = d.select("doc_id", tokens(F.col("text")).alias("sp"))
    ch = sp.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.ceil(F.size("sp") / F.lit(float(_CHUNK_W))).cast("int"),
                ),
                lambda ci: F.array_join(
                    F.slice(F.col("sp"), (ci - 1) * _CHUNK_W + 1, _CHUNK_W),
                    " ",
                ),
            )
        ).alias("pos", "chunk"),
    ).select(
        "doc_id", (F.col("pos") + 1).alias("chunk_idx"), F.col("chunk")
    )
    members = (
        ch.filter(F.size(F.split(F.col("chunk"), " ")) == _CHUNK_W)
        .join(dq, "doc_id")
        .select(
            F.md5(F.col("chunk")).alias("h"),
            (F.col("doc_id") * _KEY_STRIDE + F.col("chunk_idx")).alias("k"),
            "q",
        )
    )
    members = pin(members)  # chunk grain; g1 + g2 refinement
    g1 = members.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.min("k").alias("keep_a"),
        F.max("q").alias("qmax"),
    )
    g2 = (
        members.join(g1.select("h", "qmax"), "h")
        .filter(F.col("q") == F.col("qmax"))
        .groupBy("h")
        .agg(F.min("k").alias("keep_b"))
    )
    pol = (
        g1.join(g2, "h")
        .filter(F.col("n_occ") > 1)
        .select(
            "n_occ",
            F.floor(F.col("keep_a") / _KEY_STRIDE).cast("long").alias("doc_a"),
            F.floor(F.col("keep_b") / _KEY_STRIDE).cast("long").alias("doc_b"),
        )
    )
    qa = dq.select(F.col("doc_id").alias("doc_a"), F.col("q").alias("q_a"))
    qb = dq.select(F.col("doc_id").alias("doc_b"), F.col("q").alias("q_b"))
    return (
        pol.join(qa, "doc_a")
        .join(qb, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_multi_groups"),
            F.sum("n_occ").cast("long").alias("n_dup_occurrences"),
            F.sum(F.when(F.col("doc_a") != F.col("doc_b"), 1).otherwise(0))
            .cast("long")
            .alias("n_policy_differs"),
            dround(F.avg("q_a"), 6).alias("avg_quality_keep_first"),
            dround(F.avg("q_b"), 6).alias("avg_quality_keep_best"),
        )
    )


# ===========================================================================
# Spearman rank agreement between two quality scorers (Spearman 1904):
# per source, the Pearson correlation of the two scorers' WITHIN-SOURCE
# ranks (composite quality vs lexical diversity). Ranks break ties on
# dround(6) scores then doc_id, so both engines rank identically — the
# rfm_segments ntile lesson applied to rank correlation.
#
# Scale shape: the rank windows are PARTITIONED by source (the
# effective_vocab_by_source discipline — per-source volumes, never a
# global window); the correlation is a per-source monoid aggregate.
# ===========================================================================

_SPEARMAN_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS (
    SELECT d.source, d.doc_id,
           {R(f"({SQL_QUALITY_EXPR})", 6)} AS q,
           {R('f.diversity', 6)} AS dv
    FROM feat f JOIN documents d ON d.doc_id = f.doc_id
),
ranked AS (
    SELECT source,
           CAST(row_number() OVER (PARTITION BY source
                ORDER BY q, doc_id) AS DOUBLE) AS rq,
           CAST(row_number() OVER (PARTITION BY source
                ORDER BY dv, doc_id) AS DOUBLE) AS rd
    FROM scored
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       {R('corr(rq, rd)', 6)} AS spearman_rho
FROM ranked GROUP BY source
"""


@register("spearman_scorer_agreement", _SPEARMAN_SQL)
def spearman_scorer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Spearman rho between composite quality and diversity."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "doc_id",
        dround(quality_score(F.col("text")), 6).alias("q"),
        dround(distinct_token_ratio(F.col("text")), 6).alias("dv"),
    )
    wq = Window.partitionBy("source").orderBy("q", "doc_id")
    wd = Window.partitionBy("source").orderBy("dv", "doc_id")
    ranked = scored.select(
        "source",
        F.row_number().over(wq).cast("double").alias("rq"),
        F.row_number().over(wd).cast("double").alias("rd"),
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        dround(F.corr("rq", "rd"), 6).alias("spearman_rho"),
    )


# ===========================================================================
# Exact stratified three-way split (80/10/10 with largest-remainder
# integerization PER STRATUM): order each source's docs by the shared
# md5-hex6 uniform hash, cut at the exact integer allocations — the
# split step a training pipeline runs after the allocation planners
# (neyman_allocation / mixture_token_allocation, whose remainder rule
# this reuses). Unlike hash-modulo splitting, every stratum lands its
# target counts EXACTLY.
#
# Scale shape: one doc scan; the rank window is partitioned by source;
# the per-stratum targets are a broadcast source-grain aggregate.
# Output is the bounded source x split grain.
# ===========================================================================

_SPLIT_SEED = "split7"


def _split_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int

    key = sql_md5_hex6_to_int(
        f"concat_ws('|', '{_SPLIT_SEED}', "
        f"CAST(CAST(doc_id AS BIGINT) AS VARCHAR))"
    )
    return f"""
WITH hashed AS (
    SELECT source, doc_id, {key} AS hk FROM documents
),
ranked AS (
    SELECT source,
           CAST(row_number() OVER (PARTITION BY source
                ORDER BY hk, doc_id) AS BIGINT) AS rn
    FROM hashed
),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM hashed
        GROUP BY source),
alloc AS (
    SELECT source, n,
           CAST(floor(n * 0.8) AS BIGINT) AS f_train,
           CAST(floor(n * 0.1) AS BIGINT) AS f_val,
           CAST(floor(n * 0.1) AS BIGINT) AS f_test,
           n - CAST(floor(n * 0.8) AS BIGINT)
             - 2 * CAST(floor(n * 0.1) AS BIGINT) AS short
    FROM per
),
cuts AS (
    -- largest-remainder with the fixed remainder order train > val >
    -- test (fractions tie at .8/.1/.1 grain: deterministic name order)
    SELECT source, n,
           f_train + CASE WHEN short >= 1 THEN 1 ELSE 0 END AS n_train,
           f_val + CASE WHEN short >= 2 THEN 1 ELSE 0 END AS n_val,
           f_test + CASE WHEN short >= 3 THEN 1 ELSE 0 END AS n_test
    FROM alloc
)
SELECT r.source,
       CASE WHEN r.rn <= c.n_train THEN 'train'
            WHEN r.rn <= c.n_train + c.n_val THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       {R('CAST(count(*) AS DOUBLE) / any_value(c.n)', 6)} AS share
FROM ranked r JOIN cuts c ON c.source = r.source
GROUP BY 1, 2
"""


@register("stratified_three_way_split", _split_sql())
def stratified_three_way_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 80/10/10 per-source split by hash order; per (source,
    split) counts and shares."""
    from ..functions.text import md5_hex6_to_int

    d = read_table(spark, sf_dir, "documents")
    hashed = d.select(
        "source",
        "doc_id",
        md5_hex6_to_int(
            F.concat_ws(
                "|", F.lit(_SPLIT_SEED), F.col("doc_id").cast("string")
            )
        ).alias("hk"),
    )
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    ranked = hashed.select(
        "source", F.row_number().over(w).cast("long").alias("rn")
    )
    per = hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    f_train = F.floor(F.col("n") * 0.8).cast("long")
    f_val = F.floor(F.col("n") * 0.1).cast("long")
    short = F.col("n") - f_train - 2 * f_val
    cuts = per.select(
        "source",
        "n",
        (f_train + F.when(short >= 1, 1).otherwise(0)).alias("n_train"),
        (f_val + F.when(short >= 2, 1).otherwise(0)).alias("n_val"),
    )
    joined = ranked.join(F.broadcast(cuts), "source")
    split = (
        F.when(F.col("rn") <= F.col("n_train"), "train")
        .when(F.col("rn") <= F.col("n_train") + F.col("n_val"), "val")
        .otherwise("test")
    )
    return joined.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        dround(
            F.count(F.lit(1)).cast("double") / F.any_value(F.col("n")), 6
        ).alias("share"),
    )


# ===========================================================================
# Sequence-packing efficiency (the Krell et al. 2021 packed-BERT
# planning number): per token-length bucket, how many 512-token batch
# slots does the bucket's token mass need at best (ceil(sum/512), the
# bin-packing capacity lower bound) vs one-doc-per-batch, and what
# utilization does each achieve? This is the planner readout that
# decides whether packing is worth wiring into a training data loader.
#
# Scale shape: one doc scan -> bounded 8-bucket aggregate (map-side
# combined). No windows, no joins.
# ===========================================================================

_PACK_CAP = 512
_PACK_BUCKET_W = 64
_PACK_LAST = 7

_PACK_SQL = f"""
WITH toks AS (
    SELECT least(CAST(floor(len(string_split(text, ' '))
                 / {_PACK_BUCKET_W}) AS BIGINT), {_PACK_LAST}) AS bucket,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
    FROM documents
),
per AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS sum_tokens
    FROM toks GROUP BY bucket
)
SELECT bucket, n_docs, sum_tokens,
       CAST(ceil(CAST(sum_tokens AS DOUBLE) / {_PACK_CAP}) AS BIGINT)
           AS packed_batches,
       {R(f'''CAST(sum_tokens AS DOUBLE)
           / (ceil(CAST(sum_tokens AS DOUBLE) / {_PACK_CAP})
              * {_PACK_CAP})''', 6)} AS packed_utilization,
       {R(f'CAST(sum_tokens AS DOUBLE) / (n_docs * {_PACK_CAP})', 6)}
           AS naive_utilization
FROM per
"""


@register("sequence_packing_efficiency", _PACK_SQL)
def sequence_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per length-bucket packed-batch capacity bound vs one-doc-per-
    batch utilization at a 512-token budget."""
    d = read_table(spark, sf_dir, "documents")
    nt = token_count(F.col("text")).cast("long")
    toks = d.select(
        F.least(
            F.floor(nt / _PACK_BUCKET_W).cast("long"), F.lit(_PACK_LAST)
        ).alias("bucket"),
        nt.alias("n_toks"),
    )
    per = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("sum_tokens"),
    )
    packed = F.ceil(F.col("sum_tokens").cast("double") / _PACK_CAP).cast(
        "long"
    )
    return per.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        packed.alias("packed_batches"),
        dround(
            F.col("sum_tokens").cast("double") / (packed * _PACK_CAP), 6
        ).alias("packed_utilization"),
        dround(
            F.col("sum_tokens").cast("double")
            / (F.col("n_docs") * _PACK_CAP),
            6,
        ).alias("naive_utilization"),
    )
