"""Behavioral / retrieval-support operators: ordered event-funnel analysis,
cohort retention, and event-transition matrices over `events`, plus
inverted-index construction over `documents`. All oracle-checked.

Scale notes: the funnel chain keys every join and aggregate on `user_id`,
so one hash partitioning is reused across all three stages (no re-shuffle
between steps under AQE); the inverted index bounds its posting lists with
a per-term WindowGroupLimit BEFORE collect_list, so no task ever
materializes an unbounded list for a stopword-grade term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import tokens
from ..sources.tables import read_table, values_frame
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase. Stage N counts only events
# strictly after the user's stage-(N-1) timestamp — the sequential
# conversion semantics, not mere set membership. Expressed as a chain of
# min-aggregates (the distributed funnel form: per-user scalars, never a
# per-user event sort).
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH v AS (
    SELECT user_id, min(ts) AS v_ts FROM events
    WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, min(e.ts) AS c_ts
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.v_ts
    GROUP BY 1
),
p AS (
    SELECT e.user_id, min(e.ts) AS p_ts
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
    GROUP BY 1
)
SELECT v.user_id,
       CAST(floor(epoch(v.v_ts)) AS BIGINT) AS view_epoch,
       CAST(floor(epoch(c.c_ts)) AS BIGINT) AS click_epoch,
       CAST(floor(epoch(p.p_ts)) AS BIGINT) AS purchase_epoch,
       CAST(1 + (c.user_id IS NOT NULL)::INTEGER
              + (p.user_id IS NOT NULL)::INTEGER AS INTEGER) AS stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


@register("funnel_view_click_purchase", _FUNNEL_SQL)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel: first view, first click AFTER that view,
    first purchase AFTER that click, and the stage reached (1-3)."""
    e = read_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("v_ts").cast("long").alias("view_epoch"),
            F.col("c_ts").cast("long").alias("click_epoch"),
            F.col("p_ts").cast("long").alias("purchase_epoch"),
            (
                F.lit(1)
                + F.col("c_ts").isNotNull().cast("int")
                + F.col("p_ts").isNotNull().cast("int")
            ).cast("int").alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted index: term -> document frequency + the first-K posting list
# (doc_ids ascending, comma-joined for cross-engine hashing — value
# comparison over arrays is engine-sensitive, strings are not). The K-cap
# is applied by a ranking window BEFORE the list aggregate, so the rn<=K
# filter compiles to WindowGroupLimit: tasks keep K candidates per term
# instead of buffering full postings for high-df terms.
# ---------------------------------------------------------------------------

_POSTINGS_K = 20

_INVIDX_SQL = f"""
WITH tok AS (
    SELECT DISTINCT doc_id, term
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
),
df AS (SELECT term, count(*) AS df FROM tok GROUP BY 1),
top AS (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM tok
),
post AS (
    SELECT term,
           array_to_string(list_transform(list(doc_id ORDER BY doc_id),
                                          x -> CAST(x AS VARCHAR)), ',') AS top_postings
    FROM top WHERE rn <= {_POSTINGS_K} GROUP BY term
)
SELECT df.term, CAST(df.df AS BIGINT) AS df, post.top_postings
FROM df JOIN post ON df.term = post.term
"""


@register("inverted_index_postings", _INVIDX_SQL)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with bounded posting lists: per-term df over the full
    corpus plus the first 20 doc_ids (ascending)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).distinct()
    # df as a count window over the SAME distinct subtree (not a second
    # aggregate joined back, which would recompute the distinct and re-scan
    # the corpus); both windows share the `term` partitioning, so the plan
    # is one (doc_id,term) shuffle + one (term) shuffle total.
    wdf = Window.partitionBy("term")
    wr = Window.partitionBy("term").orderBy("doc_id")
    ranked = (
        tok.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _POSTINGS_K)
    )
    return ranked.groupBy("term").agg(
        F.first("df").cast("long").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("top_postings"),
    ).select("term", "df", "top_postings")


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity day, counted on each
# subsequent activity-day offset. The cohort day is a min-window over the
# deduplicated (user, day) activity set — the same partitioning then feeds
# the user-level window, so the plan is scan -> distinct shuffle ->
# user-window shuffle -> final cohort aggregate. The standard
# retention-triangle input.
# ---------------------------------------------------------------------------

_COHORT_SQL = """
WITH act AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
coh AS (
    SELECT user_id, day,
           min(day) OVER (PARTITION BY user_id) AS cohort_day
    FROM act
)
SELECT CAST(floor(epoch(cohort_day)) AS BIGINT) AS cohort_epoch,
       CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM coh GROUP BY 1, 2
"""


@register("cohort_retention_daily", _COHORT_SQL)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention counts: (first-activity day, day offset) ->
    distinct active users."""
    e = read_table(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id")
    coh = act.withColumn("cohort_day", F.min("day").over(w))
    return (
        coh.groupBy(
            F.col("cohort_day").cast("long").alias("cohort_epoch"),
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("cohort_epoch", "day_offset", "n_users")
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (Markov bigrams): for each user's time-ordered
# event stream, count src -> dst transitions and each destination's share
# of its source's outgoing edges. One lead-window pass over (user_id
# order by ts, event_id) — the deterministic total order — then a tiny
# (src, dst) aggregate; the share is a count window over src, reusing the
# aggregate's output (5x5 matrix — negligible).
# ---------------------------------------------------------------------------

_TRANSITION_SQL = """
WITH nxt AS (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events
),
cnt AS (
    SELECT src, dst, count(*) AS n FROM nxt
    WHERE dst IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, CAST(n AS BIGINT) AS n,
       floor((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src)) * 1000000.0 + 0.5) / 1000000.0 AS share
FROM cnt
"""


@register("event_transition_matrix", _TRANSITION_SQL)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src -> dst transition counts and per-source shares over each user's
    time-ordered event stream."""
    from ..functions.rounding import dround

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    cnt = (
        nxt.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ws = Window.partitionBy("src")
    return cnt.select(
        "src",
        "dst",
        F.col("n").cast("long").alias("n"),
        dround(F.col("n").cast("double") / F.sum("n").over(ws), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# Per-user EWMA (exponentially weighted moving average) over each user's
# time-ordered values — recursive smoothing, an operator Spark has no
# built-in for, expressed as an ordered fold: collect (ts, event_id,
# value) structs, array_sort (lexicographic on the unique (ts, event_id)
# prefix = the deterministic event order), then a sequential aggregate
# with s_t = a*x_t + (1-a)*s_{t-1}. alpha = 0.5 is binary-exact, and both
# engines fold left-to-right from the first element, so the result is
# bit-identical before rounding. Per-user state is bounded by per-user
# history (the streaming form is applyInPandasWithState —
# `stateful_user_totals`); one shuffle on user_id total.
# ---------------------------------------------------------------------------

_EWMA_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(list_reduce(list(value ORDER BY ts, event_id),
                         (a, b) -> 0.5 * b + 0.5 * a) * 1000000.0 + 0.5)
           / 1000000.0 AS ewma_value
FROM events GROUP BY 1
"""


@register("ewma_user_value", _EWMA_SQL)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA (alpha=0.5) of each user's value series in event order."""
    from ..functions.rounding import dround

    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("series"),
    )
    ewma = F.aggregate(
        F.col("series"),
        F.lit(None).cast("double"),
        lambda acc, s: F.when(acc.isNull(), s["value"]).otherwise(
            0.5 * s["value"] + 0.5 * acc
        ),
    )
    return agg.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        dround(ewma, 6).alias("ewma_value"),
    )


# ---------------------------------------------------------------------------
# SCD Type 2: turn a change-event stream into a versioned dimension with
# validity intervals — the standard warehouse history table. One window
# partitioning (user_id, ordered by ts) produces version numbers, the
# valid_to horizon (lead), and the is_current flag in a single shuffle.
# ---------------------------------------------------------------------------


def _scd2_sql() -> str:
    from ..functions.rounding import dround_sql as R

    return f"""
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
       CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to,
       CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current,
       {R('value', 4)} AS value
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("scd2_purchase_history", _scd2_sql())
def scd2_purchase_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: each purchase becomes a
    versioned row [valid_from, valid_to) with an is_current marker. At
    scale this is one shuffle on the natural key; version/lead/is_current
    all ride the same window partitioning, and the output supports as-of
    lookups (`valid_from <= t < valid_to`) without touching the raw log."""
    from ..functions.rounding import dround

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("ts").cast("long").alias("valid_from"),
        nxt.cast("long").alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
        dround(F.col("value"), 4).alias("value"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (as-of) enrichment against the SCD2 dimension: every
# 'view' event picks up the purchase state that was valid AT ITS OWN
# TIME — the standard warehouse lookup the SCD2 table exists for, and
# the batch analogue of a stream-static temporal join. The validity
# intervals partition time per user (half-open [from, to)), so each view
# matches at most one version; views before the first purchase stay
# null-extended.
# ---------------------------------------------------------------------------


def _scd2_pit_sql() -> str:
    return f"""
WITH dim AS ({_scd2_sql()}),
views AS (
    SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS view_epoch
    FROM events WHERE event_type = 'view'
)
SELECT v.event_id, v.user_id, v.view_epoch,
       d.version, d.value AS state_value
FROM views v
LEFT JOIN dim d
  ON d.user_id = v.user_id
 AND v.view_epoch >= d.valid_from
 AND (d.valid_to IS NULL OR v.view_epoch < d.valid_to)
"""


@register("scd2_point_in_time_join", _scd2_pit_sql())
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich each view event with the SCD2 purchase state valid at the
    view's own timestamp. Scale shape: an equi join on the natural key
    (user_id) with the validity interval as a residual range predicate —
    shuffles once on the key (AQE handles key skew), never a time-axis
    cross product; the dimension side reuses the SCD2 build's window
    partitioning on the same key."""
    from .registry import _REGISTRY

    dim = _REGISTRY["scd2_purchase_history"][0](spark, sf_dir)
    views = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "event_id",
            F.col("user_id").alias("v_user"),
            F.col("ts").cast("long").alias("view_epoch"),
        )
    )
    joined = views.join(
        dim,
        (F.col("v_user") == dim.user_id)
        & (F.col("view_epoch") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("view_epoch") < F.col("valid_to"))),
        "left",
    )
    return joined.select(
        "event_id",
        F.col("v_user").alias("user_id"),
        "view_epoch",
        "version",
        F.col("value").alias("state_value"),
    )


# ---------------------------------------------------------------------------
# MERGE-style upsert: apply a batch of changes to a keyed target state.
# Vanilla Spark has no MERGE INTO (that's a table-format feature); the
# idiomatic engine form is a full outer join on the key with
# newest-wins coalesce — exactly what a Delta/Iceberg MERGE compiles to.
# ---------------------------------------------------------------------------

_MERGE_CUTOFF = "2024-01-20 00:00:00"


def _merge_upsert_sql() -> str:
    from ..functions.rounding import dround_sql as R

    return f"""
WITH tgt AS (
    SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '{_MERGE_CUTOFF}'
    ) WHERE rn = 1
),
src AS (
    SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND ts >= TIMESTAMP '{_MERGE_CUTOFF}'
    ) WHERE rn = 1
)
SELECT coalesce(src.user_id, tgt.user_id) AS user_id,
       CAST(floor(epoch(coalesce(src.ts, tgt.ts))) AS BIGINT) AS state_ts,
       {R('coalesce(src.value, tgt.value)', 4)} AS state_value,
       CASE WHEN tgt.user_id IS NULL THEN 'insert'
            WHEN src.user_id IS NULL THEN 'keep'
            ELSE 'update' END AS op
FROM tgt FULL JOIN src ON tgt.user_id = src.user_id
"""


@register("merge_upsert_user_state", _merge_upsert_sql())
def merge_upsert_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a vanilla-Spark plan: target = latest
    per-user purchase state before the cutoff, source = the change batch
    after it; full outer join on the key, source wins when matched
    ('update'), source-only inserts, target-only rows persist ('keep').
    At scale both sides arrive pre-compacted (one row per key via
    WindowGroupLimit top-1), so the merge join is keys-only — the shape
    Delta/Iceberg MERGE lowers to under the hood."""
    from ..functions.rounding import dround

    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cutoff = F.lit(_MERGE_CUTOFF).cast("timestamp")

    def latest(df: DataFrame, prefix: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_value"),
            )
        )

    tgt = latest(e.filter(F.col("ts") < cutoff), "t")
    src = latest(e.filter(F.col("ts") >= cutoff), "s")
    merged = tgt.join(src, tgt.t_user == src.s_user, "full_outer")
    return merged.select(
        F.coalesce("s_user", "t_user").alias("user_id"),
        F.coalesce("s_ts", "t_ts").cast("long").alias("state_ts"),
        dround(F.coalesce("s_value", "t_value"), 4).alias("state_value"),
        F.when(F.col("t_user").isNull(), F.lit("insert"))
        .when(F.col("s_user").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("op"),
    )


# ---------------------------------------------------------------------------
# Forward fill (LOCF): carry the last observed purchase value onto each
# subsequent event of the same user. last(... ignorenulls) over a running
# frame — the sparse->dense time-series primitive, one window shuffle.
# ---------------------------------------------------------------------------


def _locf_sql() -> str:
    from ..functions.rounding import dround_sql as R

    return f"""
WITH marked AS (
    SELECT event_id, user_id, ts,
           CASE WHEN event_type = 'purchase' THEN value END AS pv
    FROM events
)
SELECT event_id, user_id,
       {R("last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)", 4)} AS last_purchase_value
FROM marked
"""


@register("timeseries_forward_fill", _locf_sql())
def timeseries_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: each event carries the most
    recent purchase value of its user (NULL until the first purchase).
    `last(col, ignorenulls=True)` over a running frame computes the fill
    in one pass on one user_id shuffle — no self-join, no as-of join,
    no grid materialization; the frame state is a single scalar per
    partition regardless of history length."""
    from ..functions.rounding import dround

    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        dround(F.last(pv, ignorenulls=True).over(w), 4).alias(
            "last_purchase_value"
        ),
    )


# ---------------------------------------------------------------------------
# Market-basket frequent pairs (Apriori 2-itemsets, Agrawal & Srikant
# 1994): which parts co-occur in the same order more often than chance.
# The downward-closure prefilter IS the scale design: a pair can only be
# frequent if BOTH items are frequent, so the basket self-join runs on
# the frequent-item SUBSET of the (order, part) table, never the raw
# fact. At 100 TB: the item-frequency table is one map-side-combined
# agg; the frequent-item set broadcasts into semi-join probes on both
# join sides; the pair self-join shuffles on l_orderkey (baskets are
# bounded, so per-order pair fan-out is bounded); lift denominators are
# broadcast joins of the same tiny frequency table.
# ---------------------------------------------------------------------------

_BASKET_MINSUP = 3  # min co-occurrence count for a reported pair

_BASKET_SQL = f"""
WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (
    SELECT l_partkey, count(*) AS c FROM bp GROUP BY 1
    HAVING count(*) >= {_BASKET_MINSUP}
),
fbp AS (SELECT bp.* FROM bp SEMI JOIN freq USING (l_partkey)),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
    FROM fbp a JOIN fbp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {_BASKET_MINSUP}
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM bp)
SELECT p.part_a, p.part_b, CAST(p.support AS BIGINT) AS support,
       {R("p.support * n.n_orders / (fa.c * fb.c)", 6)} AS lift
FROM pairs p
JOIN freq fa ON fa.l_partkey = p.part_a
JOIN freq fb ON fb.l_partkey = p.part_b
CROSS JOIN n
"""

register_sql("frequent_itempairs", _BASKET_SQL)


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP): the duration-weighted mean of an
# irregularly-sampled series — each observation holds until the next one,
# so its weight is that holding time (金融 TWAP / metering integrals).
# Distinct from the ROWS-frame moving average (per-observation weight)
# and the EWMA (exponential decay): TWAP is the piecewise-constant
# integral divided by the covered span. One lead() window per user
# partition, then one aggregation — two shuffles on the same key, linear
# at any scale. The last observation of a user has no holding time, is
# dropped before aggregation, and so counts toward nothing: n_obs is the
# number of HOLDING INTERVALS (events - 1); a single-event user emits no
# row. A user whose intervals all truncate to 0 epoch-seconds gets a
# NULL twap — nullif in SQL, because Spark's non-ANSI 0/0 is NULL while
# DuckDB's IEEE division would yield NaN and break the value hash.
# ---------------------------------------------------------------------------

_TWAP_SQL = f"""
WITH stepped AS (
    SELECT user_id, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS es,
           lead(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_es
    FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(next_es - es) AS BIGINT) AS span_seconds,
       {R("sum(value * (next_es - es)) / nullif(sum(next_es - es), 0)", 6)} AS twap
FROM stepped
WHERE next_es IS NOT NULL
GROUP BY user_id
"""


@register("timeseries_twap", _TWAP_SQL)
def timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value`: each observation
    weighted by its holding time until the next observation (epoch-
    second resolution, deterministic (ts, event_id) ordering). n_obs
    counts holding intervals; all-zero spans yield NULL twap (Spark's
    non-ANSI x/0 — mirrored by nullif in the oracle)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = e.select(
        "user_id",
        "value",
        F.col("ts").cast("long").alias("es"),
        F.lead(F.col("ts").cast("long")).over(w).alias("next_es"),
    ).filter(F.col("next_es").isNotNull())
    dt = F.col("next_es") - F.col("es")
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(dt).cast("long").alias("span_seconds"),
        dround(F.sum(F.col("value") * dt) / F.sum(dt), 6).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase is attributed to the user's most
# recent click no more than 30 minutes earlier. The scale-correct form is
# ONE window pass over the interleaved click+purchase stream — running
# max(click ts) partitioned by user — never a purchases x clicks
# time-range join (which at 100 TB is a fact-fact interval join with
# quadratic per-user blowup on bot accounts). Ordering is (ts, type):
# 'click' < 'purchase' lexicographically, so a click at exactly the
# purchase timestamp IS attributable, matching the c_ts <= p_ts contract;
# both engines use the same ROWS frame so peer order can't drift the max.
# BOTH engines compare the 30-minute window on floored epoch SECONDS
# (Spark's cast-to-long truncates micros; an exact-interval oracle would
# flip boundary rows whose sub-second parts straddle the cutoff).
# ---------------------------------------------------------------------------

_ATTRIB_WINDOW_MIN = 30

_ATTRIB_SQL = f"""
WITH stream AS (
    SELECT user_id, ts, event_type, value,
           max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_type
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_ts
    FROM events WHERE event_type IN ('click', 'purchase')
),
p AS (
    SELECT user_id, value,
           (last_click_ts IS NOT NULL AND
            floor(epoch(ts)) - floor(epoch(last_click_ts))
                <= {_ATTRIB_WINDOW_MIN} * 60)
               AS attributed
    FROM stream WHERE event_type = 'purchase'
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(*) FILTER (attributed) AS BIGINT) AS n_attributed,
       {R('coalesce(sum(value) FILTER (attributed), 0.0)', 4)} AS attributed_value
FROM p GROUP BY user_id
"""


@register("attribution_last_touch", _ATTRIB_SQL)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch purchase attribution within a 30-minute click window:
    per user, how many purchases had a qualifying preceding click and how
    much value they carried.

    Plan: filter to the two event types (pushed to the scan), ONE window
    shuffle on user_id for the running last-click timestamp, then a
    per-user aggregation that reuses the same partitioning — no
    interval self-join, no second shuffle under AQE."""
    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stream = e.withColumn(
        "last_click_ts",
        F.max(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).over(w),
    )
    p = stream.filter(F.col("event_type") == "purchase").withColumn(
        "attributed",
        F.col("last_click_ts").isNotNull()
        & (
            F.col("ts").cast("long") - F.col("last_click_ts").cast("long")
            <= _ATTRIB_WINDOW_MIN * 60
        ),
    )
    attr_val = F.sum(F.when(F.col("attributed"), F.col("value")))
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.count(F.when(F.col("attributed"), F.lit(1)))
        .cast("long")
        .alias("n_attributed"),
        dround(F.coalesce(attr_val, F.lit(0.0)), 4).alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# OHLC bars: the canonical time-series downsample (open/high/low/close
# per 15-minute bar per event type). Open/close are the value at the
# lexicographic (ts, value) min/max — deterministic under same-timestamp
# ties, and expressible in BOTH engines without a per-bar sort: Spark
# takes min/max of a (ts, value) struct inside the one grouped aggregate;
# the oracle ranks within the bar. At scale this is a single
# map-side-combinable aggregation — no window over the fact stream.
# ---------------------------------------------------------------------------

_OHLC_BAR_S = 900

_OHLC_SQL = f"""
WITH b AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / {_OHLC_BAR_S}) AS BIGINT) * {_OHLC_BAR_S}
               AS bar_start,
           ts, value,
           row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / {_OHLC_BAR_S}) AS BIGINT)
               ORDER BY ts ASC, value ASC) AS rn_open,
           row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / {_OHLC_BAR_S}) AS BIGINT)
               ORDER BY ts DESC, value DESC) AS rn_close
    FROM events WHERE value IS NOT NULL
)
SELECT event_type, bar_start,
       {R('max(CASE WHEN rn_open = 1 THEN value END)', 4)} AS open,
       {R('max(value)', 4)} AS high,
       {R('min(value)', 4)} AS low,
       {R('max(CASE WHEN rn_close = 1 THEN value END)', 4)} AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM b GROUP BY event_type, bar_start
"""


@register("ohlc_bars", _OHLC_SQL)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute OHLC bars per event type.

    Plan: one groupBy((type, bar)) with partial aggregation — open/close
    ride the same aggregate as high/low via struct-ordered min/max
    ((ts, value) lexicographic), so there is no per-bar ranking window
    over the event stream and the shuffle carries one row per (type,
    bar, map partition)."""
    # NULL values are excluded in BOTH engines: a NULL tied on ts would
    # otherwise pick differently (Spark struct ordering is nulls-first,
    # DuckDB ORDER BY defaults NULLS LAST) — and a NULL price carries no
    # OHLC information anyway.
    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bar = (
        F.floor(F.col("ts").cast("long") / _OHLC_BAR_S).cast("long")
        * _OHLC_BAR_S
    )
    return (
        e.select(
            "event_type",
            bar.alias("bar_start"),
            F.struct(F.col("ts"), F.col("value")).alias("tv"),
            "value",
        )
        .groupBy("event_type", "bar_start")
        .agg(
            dround(F.min("tv").getField("value"), 4).alias("open"),
            dround(F.max("value"), 4).alias("high"),
            dround(F.min("value"), 4).alias("low"),
            dround(F.max("tv").getField("value"), 4).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Batch sessionization with explicit session ids: the lag + cumulative-sum
# idiom — a session starts where the gap to the previous event exceeds 30
# minutes; the running sum of session-start flags IS the session index.
# This is the batch complement of `streaming_session_window` (which emits
# per-session aggregates via session_window state): here every session
# gets a stable, joinable (user_id, session_idx) identity, the shape
# attribution/funnel pipelines key on. Both windows ride ONE shuffle on
# user_id; gap comparisons use floored epoch seconds in BOTH engines
# (Spark's cast-to-long truncates micros).
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800

_SESSION_IDS_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                     > {_SESSION_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
    SELECT user_id, ts,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
    FROM flagged
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(floor(epoch(ts))) AS BIGINT) AS start_epoch,
       CAST(max(floor(epoch(ts))) AS BIGINT) AS end_epoch,
       CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT)
           AS duration_s
FROM ids GROUP BY user_id, session_idx
"""


@register("session_ids_batch", _SESSION_IDS_SQL)
def session_ids_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign stable session ids (30-minute inactivity gap) and reduce to
    per-session stats.

    Plan: one shuffle on user_id serves the lag window, the running-sum
    window, AND the final (user_id, session_idx) aggregation — Spark
    chains all three without re-exchanging because every step's
    partitioning is a prefix of the first's."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_sess = (
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > _SESSION_GAP_S)
    ).cast("int")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ids = e.select(
        "user_id",
        "ts",
        F.sum(new_sess).over(wsum).alias("session_idx"),
    )
    ep = F.col("ts").cast("long")
    return ids.groupBy("user_id", F.col("session_idx").cast("long").alias("session_idx")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(ep).alias("start_epoch"),
        F.max(ep).alias("end_epoch"),
        (F.max(ep) - F.min(ep)).alias("duration_s"),
    )


# ---------------------------------------------------------------------------
# Seasonal anomaly detection: score every (event_type, hour-of-day x day)
# bucket against the event type's hour-of-day PROFILE (mean/std of the
# per-day bucket counts at that hour) — the seasonal-naive monitor that
# catches "3 AM traffic looks like 3 PM" without any model. Two passes:
# per-(type, hour, day) counts (map-side combined), then profile stats
# as a WINDOW over the (type, hour) partitions of that compact bucket
# table; |z| >= 3 flags. Std derives from explicit sums (engine-identical
# fold), matching the repo's moment discipline.
# ---------------------------------------------------------------------------

_SEASON_Z = 3.0

_SEASONAL_SQL = f"""
WITH buckets AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 3600) % 24 AS INTEGER) AS hod,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
           CAST(count(*) AS DOUBLE) AS n
    FROM events GROUP BY 1, 2, 3
),
prof AS (
    SELECT event_type, hod, day, n,
           count(*) OVER w AS k,
           sum(n) OVER w AS s,
           sum(n * n) OVER w AS q
    FROM buckets
    WINDOW w AS (PARTITION BY event_type, hod)
),
scored AS (
    SELECT event_type, hod, day, n,
           s / k AS mu,
           sqrt(greatest((q - s * s / k) / (k - 1), 0.0)) AS sigma
    FROM prof WHERE k > 1
)
SELECT event_type, hod, day,
       CAST(n AS BIGINT) AS n_events,
       {R('mu', 6)} AS hour_mean,
       {R('sigma', 6)} AS hour_std,
       {R('(n - mu) / sigma', 6)} AS z,
       (abs((n - mu) / sigma) >= {_SEASON_Z}) AS is_anomaly
FROM scored WHERE sigma > 0
"""


@register("seasonal_anomaly_hours", _SEASONAL_SQL)
def seasonal_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score every (type, hour, day) activity bucket against its
    type x hour-of-day profile; |z| >= 3 flags the anomaly."""
    e = read_table(spark, sf_dir, "events")
    buckets = e.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("long") / 3600) % 24)
        .cast("int")
        .alias("hod"),
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = Window.partitionBy("event_type", "hod")
    k = F.count(F.lit(1)).over(w)
    s = F.sum("n").over(w)
    q = F.sum(F.col("n") * F.col("n")).over(w)
    prof = buckets.select("event_type", "hod", "day", "n",
                          k.alias("k"), s.alias("s"), q.alias("q"))
    mu = F.col("s") / F.col("k")
    sigma = F.sqrt(
        F.greatest(
            (F.col("q") - F.col("s") * F.col("s") / F.col("k"))
            / (F.col("k") - 1),
            F.lit(0.0),
        )
    )
    scored = prof.filter(F.col("k") > 1).select(
        "event_type", "hod", "day", "n", mu.alias("mu"), sigma.alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return scored.filter(F.col("sigma") > 0).select(
        "event_type",
        "hod",
        "day",
        F.col("n").cast("long").alias("n_events"),
        dround(F.col("mu"), 6).alias("hour_mean"),
        dround(F.col("sigma"), 6).alias("hour_std"),
        dround(z, 6).alias("z"),
        (F.abs(z) >= _SEASON_Z).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan-Meier curve over user lifetime (days between
# first and last activity). Users whose last event falls in the final
# 3 days of the observation window are right-CENSORED (they may still be
# alive); everyone else's last-activity day is their churn event. The
# KM estimator S(t) = prod_{s<=t} (1 - d_s / n_s) is a cumulative
# PRODUCT — expressed relationally as exp(running-sum of ln terms), so
# the whole curve is: one per-user aggregate (first/last day), one
# distinct-duration aggregate, and two windows over the compact duration
# table. Both engines run the identical ln/exp fold; dround(6) absorbs
# libm ULP.
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 3

_KM_SQL = f"""
WITH span AS (
    SELECT max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS max_day FROM events
),
users AS (
    SELECT user_id,
           min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS first_day,
           max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS last_day
    FROM events GROUP BY user_id
),
obs AS (
    SELECT last_day - first_day AS dur,
           CASE WHEN last_day >= span.max_day - {_KM_CENSOR_DAYS} + 1
                THEN 0 ELSE 1 END AS event
    FROM users CROSS JOIN span
),
per_t AS (
    SELECT dur, CAST(count(*) AS DOUBLE) AS n_at,
           CAST(sum(event) AS DOUBLE) AS d_t
    FROM obs GROUP BY dur
),
risk AS (
    SELECT dur, d_t,
           sum(n_at) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_t
    FROM per_t
),
km AS (
    SELECT dur, n_t, d_t,
           exp(sum(ln(1.0 - d_t / n_t)) OVER (ORDER BY dur ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
    FROM risk WHERE d_t < n_t
)
SELECT CAST(dur AS BIGINT) AS duration_days,
       CAST(n_t AS BIGINT) AS n_at_risk,
       CAST(d_t AS BIGINT) AS n_events,
       {R('s', 6)} AS survival
FROM km
"""


@register("survival_km_curve", _KM_SQL)
def survival_km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of user lifetime with right-censoring for
    users still active near the window end. The ordered windows run over
    the DISTINCT-DURATION grain, bounded by the observation window in
    days (calendar-bounded, independent of user count).

    Plan: per-user first/last-day aggregate (one user-keyed shuffle),
    distinct-duration aggregate, then a reverse running sum (at-risk
    counts) and a forward exp-sum-ln (the KM product) — both windows
    over the duration-cardinality table, never per-user rows."""
    e = read_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("long") / 86400).cast("long")
    users = e.select("user_id", day.alias("d")).groupBy("user_id").agg(
        F.min("d").alias("first_day"), F.max("d").alias("last_day")
    )
    span = e.select(day.alias("d")).agg(F.max("d").alias("max_day"))
    obs = users.crossJoin(F.broadcast(span)).select(
        (F.col("last_day") - F.col("first_day")).alias("dur"),
        F.when(
            F.col("last_day") >= F.col("max_day") - (_KM_CENSOR_DAYS - 1),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("event"),
    )
    per_t = obs.groupBy("dur").agg(
        F.count(F.lit(1)).cast("double").alias("n_at"),
        F.sum("event").cast("double").alias("d_t"),
    )
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select(
        "dur", "d_t", F.sum("n_at").over(w_desc).alias("n_t")
    )
    w_asc = Window.orderBy(F.asc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = risk.filter(F.col("d_t") < F.col("n_t")).select(
        "dur",
        "n_t",
        "d_t",
        F.exp(
            F.sum(F.log(1.0 - F.col("d_t") / F.col("n_t"))).over(w_asc)
        ).alias("s"),
    )
    return km.select(
        F.col("dur").cast("long").alias("duration_days"),
        F.col("n_t").cast("long").alias("n_at_risk"),
        F.col("d_t").cast("long").alias("n_events"),
        dround(F.col("s"), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Time-bounded funnel: view -> click within 1 h -> purchase within 1 h of
# the click. The unbounded funnel (funnel_view_click_purchase) counts
# eventual conversion; product analytics usually wants conversion WITHIN
# a window — same min-aggregate chain (per-user scalars, no per-user
# event sort), with each stage's deadline riding the join predicate.
# Deadlines compare floored epoch seconds in both engines.
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_S = 3600

_FUNNEL_TB_SQL = f"""
WITH v AS (
    SELECT user_id, min(floor(epoch(ts))) AS v_ts FROM events
    WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, min(floor(epoch(e.ts))) AS c_ts
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND floor(epoch(e.ts)) > v.v_ts
      AND floor(epoch(e.ts)) <= v.v_ts + {_FUNNEL_WINDOW_S}
    GROUP BY 1
),
p AS (
    SELECT e.user_id, min(floor(epoch(e.ts))) AS p_ts
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) > c.c_ts
      AND floor(epoch(e.ts)) <= c.c_ts + {_FUNNEL_WINDOW_S}
    GROUP BY 1
)
SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
UNION ALL
SELECT 'click_1h', CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 'purchase_1h', CAST(count(*) AS BIGINT) FROM p
"""


@register("funnel_time_bounded", _FUNNEL_TB_SQL)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage user counts for the 1-hour-deadline funnel
    view -> click -> purchase (min-aggregate chain, user-keyed joins)."""
    e = read_table(spark, sf_dir, "events")
    ep = F.floor(F.col("ts").cast("long")).cast("long")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ep).alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (ep > F.col("v_ts")) & (ep <= F.col("v_ts") + _FUNNEL_WINDOW_S)
        )
        .groupBy("user_id")
        .agg(F.min(ep).alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (ep > F.col("c_ts")) & (ep <= F.col("c_ts") + _FUNNEL_WINDOW_S)
        )
        .groupBy("user_id")
        .agg(F.min(ep).alias("p_ts"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        stage(v, "view")
        .unionByName(stage(c, "click_1h"))
        .unionByName(stage(p, "purchase_1h"))
    )


# ---------------------------------------------------------------------------
# Multi-touch position-based (U-shaped) attribution: each purchase
# distributes credit over the user's clicks in the preceding 7 days —
# first click 40%, last click 40%, middles share the remaining 20%
# (1 click takes 100%, 2 clicks split 50/50). The "campaign" is the
# deterministic pseudo-channel k % 10 from the props JSON (the fixture
# has no channel column; swap a real one in one-for-one). Complements
# attribution_last_touch with the many-to-many credit model.
#
# Scale: the purchase x click pair join is user-keyed with a bounded
# 7-day interval (the interval_overlap_bin_join shape — candidates are
# per-user and window-bounded, never cross-user); the rank/count
# windows partition by purchase, whose group size is bounded by the
# window; credit aggregation is map-side combined on a 10-value key.
# ---------------------------------------------------------------------------

_MTA_WINDOW_S = 7 * 86400

_MTA_SQL = f"""
WITH purchases AS (
    SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
    WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, event_id AS c_id, ts AS c_ts,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
               AS campaign
    FROM events WHERE event_type = 'click'
),
pairs AS (
    SELECT p.p_id, c.campaign, c.c_ts, c.c_id,
           row_number() OVER (PARTITION BY p.p_id
                              ORDER BY c.c_ts, c.c_id) AS rn,
           count(*) OVER (PARTITION BY p.p_id) AS n
    FROM purchases p JOIN clicks c
      ON c.user_id = p.user_id
     AND c.c_ts <= p.p_ts
     AND floor(epoch(c.c_ts)) > floor(epoch(p.p_ts)) - {_MTA_WINDOW_S}
),
credited AS (
    SELECT campaign,
           CASE WHEN n = 1 THEN 1.0
                WHEN n = 2 THEN 0.5
                WHEN rn = 1 OR rn = n THEN 0.4
                ELSE 0.2 / (n - 2) END AS credit
    FROM pairs
)
SELECT CAST(campaign AS BIGINT) AS campaign,
       CAST(count(*) AS BIGINT) AS n_touches,
       {R("sum(credit)", 6)} AS credit
FROM credited GROUP BY campaign
"""


@register("attribution_position_based", _MTA_SQL)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution credit per pseudo-campaign
    (props.k % 10): user-keyed 7-day interval join of purchases to
    preceding clicks, per-purchase position windows, credit rollup."""
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
        (F.get_json_object(F.col("props"), "$.k").cast("int") % 10).alias(
            "campaign"
        ),
    )
    pairs = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts").cast("long") > F.col("p_ts").cast("long") - _MTA_WINDOW_S),
    )
    wp = Window.partitionBy("p_id")
    ranked = pairs.select(
        "p_id",
        "campaign",
        F.row_number().over(wp.orderBy("c_ts", "c_id")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        ranked.select(F.col("campaign").cast("long").alias("campaign"), credit.alias("credit"))
        .groupBy("campaign")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            dround(F.sum("credit"), 6).alias("credit"),
        )
    )


# ---------------------------------------------------------------------------
# Markov next-event model evaluation: train the first-order transition
# model on the FIRST half of the time span (argmax next type per
# previous type, ties broken lexicographically), score top-1 accuracy on
# transitions inside the second half — the in-engine train/evaluate loop
# for the transition matrix that event_transition_matrix only describes.
# Both halves derive from the same data-driven midpoint rule as
# drift_psi_report. The model is |event_types| rows — broadcast; the
# heavy work is two lag windows over user-keyed exchanges.
# ---------------------------------------------------------------------------

_MARKOV_EVAL_SQL = f"""
WITH cut AS (
    SELECT CAST(min(floor(epoch(ts)))
           + floor((max(floor(epoch(ts))) - min(floor(epoch(ts)))) / 2)
           AS BIGINT) AS mid
    FROM events
),
train AS (
    SELECT user_id, ts, event_id, event_type FROM events CROSS JOIN cut
    WHERE floor(epoch(ts)) < cut.mid
),
test AS (
    SELECT user_id, ts, event_id, event_type FROM events CROSS JOIN cut
    WHERE floor(epoch(ts)) >= cut.mid
),
tr_pairs AS (
    SELECT lag(event_type) OVER w AS prev, event_type AS nxt
    FROM train
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
counts AS (
    SELECT prev, nxt, count(*) AS c FROM tr_pairs
    WHERE prev IS NOT NULL GROUP BY prev, nxt
),
model AS (
    SELECT prev, nxt AS predicted FROM (
        SELECT prev, nxt,
               row_number() OVER (PARTITION BY prev
                                  ORDER BY c DESC, nxt) AS rk
        FROM counts
    ) WHERE rk = 1
),
te_pairs AS (
    SELECT lag(event_type) OVER w AS prev, event_type AS nxt
    FROM test
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t.prev AS prev_type, m.predicted,
       CAST(count(*) AS BIGINT) AS n_transitions,
       {R("avg(CASE WHEN t.nxt = m.predicted THEN 1.0 ELSE 0.0 END)", 6)}
           AS top1_accuracy
FROM te_pairs t JOIN model m ON m.prev = t.prev
WHERE t.prev IS NOT NULL
GROUP BY t.prev, m.predicted
"""


@register("markov_next_event_eval", _MARKOV_EVAL_SQL)
def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 accuracy of the train-half Markov next-event predictor on
    test-half transitions, per previous event type."""
    e = read_table(spark, sf_dir, "events")
    ep = F.col("ts").cast("long")
    cut = e.agg(
        (F.min(ep) + F.floor((F.max(ep) - F.min(ep)) / 2)).cast("long").alias("mid")
    )
    tagged = e.crossJoin(F.broadcast(cut))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def pairs(df):
        return df.select(
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("nxt"),
        ).filter(F.col("prev").isNotNull())

    tr = pairs(tagged.filter(ep < F.col("mid")))
    te = pairs(tagged.filter(ep >= F.col("mid")))
    counts = tr.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wm = Window.partitionBy("prev").orderBy(F.desc("c"), F.asc("nxt"))
    model = (
        counts.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("prev", F.col("nxt").alias("predicted"))
    )
    return (
        te.join(F.broadcast(model), "prev")
        .groupBy(F.col("prev").alias("prev_type"), "predicted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            dround(
                F.avg(
                    F.when(F.col("nxt") == F.col("predicted"), 1.0).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("top1_accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness: per user, the coefficient of variation of
# gaps between consecutive events — CV << 1 is clockwork-regular, ~1 is
# Poisson-like, >> 1 is bursty. One lag window for gaps, one user-grain
# aggregate with explicit moment sums, then a 3-way classification
# rollup. Integer epoch gaps keep the moment sums order-exact.
# ---------------------------------------------------------------------------

_BURST_MIN_EVENTS = 5

_BURSTINESS_SQL = f"""
WITH gaps AS (
    SELECT user_id,
           floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS gap
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
per_user AS (
    SELECT user_id,
           count(gap) AS n,
           sum(gap) AS s,
           sum(gap * gap) AS q
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY user_id HAVING count(gap) >= {_BURST_MIN_EVENTS}
),
cv AS (
    SELECT user_id,
           sqrt(CAST(q AS DOUBLE) / n - pow(CAST(s AS DOUBLE) / n, 2))
               / (CAST(s AS DOUBLE) / n) AS cv
    FROM per_user WHERE s > 0
)
SELECT CASE WHEN cv < 0.5 THEN 'regular'
            WHEN cv < 1.5 THEN 'poisson_like'
            ELSE 'bursty' END AS rhythm,
       CAST(count(*) AS BIGINT) AS n_users,
       {R("avg(cv)", 6)} AS avg_cv
FROM cv GROUP BY 1
"""


@register("interarrival_burstiness", _BURSTINESS_SQL)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users classified by the CV of their inter-event gaps (regular /
    Poisson-like / bursty), with the class mean CV."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    gaps = e.select("user_id", gap.alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    per_user = gaps.groupBy("user_id").agg(
        F.count("gap").alias("n"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("q"),
    ).filter((F.col("n") >= _BURST_MIN_EVENTS) & (F.col("s") > 0))
    mean = F.col("s").cast("double") / F.col("n")
    cv = (
        F.sqrt(F.col("q").cast("double") / F.col("n") - F.pow(mean, 2)) / mean
    )
    classified = per_user.select(
        F.when(cv < 0.5, "regular")
        .when(cv < 1.5, "poisson_like")
        .otherwise("bursty")
        .alias("rhythm"),
        cv.alias("cv"),
    )
    return classified.groupBy("rhythm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        dround(F.avg("cv"), 6).alias("avg_cv"),
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (Shapley 1953 applied to marketing
# attribution, Zhao et al. 2018 "Shapley Value Methods for Attribution
# Modeling"): the UNIQUE credit split satisfying efficiency/symmetry/
# dummy axioms. Coalition value v(S) = conversion rate of users whose
# exposed-channel set is exactly S (0 for unobserved sets); channel i's
# credit is sum over channel-sets S not containing i of
# |S|!(K-1-|S|)!/K! * (v(S+i) - v(S)).
#
# Scale shape: ONE user-grain aggregate (map-side combined) produces the
# (mask, users, conversions) table whose grain is <= 2^K rows (K =
# |channels|, a DOMAIN constant — 4 here); every downstream join
# (subset grid, weights) is broadcast-tiny literal algebra. The
# factorial weights are integer-exact doubles, so both engines compute
# bit-identical credits before the final dround.
# ---------------------------------------------------------------------------

_SHAPLEY_CONV = "purchase"

_SHAPLEY_SQL = f"""
WITH RECURSIVE chanidx AS (
    SELECT event_type AS channel,
           CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS bit
    FROM (SELECT DISTINCT event_type FROM events
          WHERE event_type <> '{_SHAPLEY_CONV}')
),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM chanidx),
fact(n, fv) AS (
    SELECT CAST(0 AS BIGINT), CAST(1 AS DOUBLE)
    UNION ALL
    SELECT n + 1, fv * (n + 1) FROM fact WHERE n < (SELECT k FROM kk)
),
conv AS (
    SELECT user_id,
           max(CASE WHEN event_type = '{_SHAPLEY_CONV}' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY user_id
),
usermask AS (
    SELECT ue.user_id, CAST(sum(1 << c.bit) AS BIGINT) AS mask
    FROM (SELECT DISTINCT user_id, event_type FROM events
          WHERE event_type <> '{_SHAPLEY_CONV}') ue
    JOIN chanidx c ON c.channel = ue.event_type
    GROUP BY ue.user_id
),
vs AS (
    SELECT coalesce(u.mask, 0) AS mask,
           CAST(count(*) AS DOUBLE) AS n, CAST(sum(conv.y) AS DOUBLE) AS cv
    FROM conv LEFT JOIN usermask u USING (user_id)
    GROUP BY 1
),
grid AS (
    SELECT CAST(m.mask AS BIGINT) AS mask, coalesce(vs.cv / vs.n, 0.0) AS v
    FROM (SELECT unnest(range(0, (SELECT 1 << k FROM kk))) AS mask) m
    LEFT JOIN vs ON vs.mask = CAST(m.mask AS BIGINT)
)
SELECT c.channel, {R(
    "sum((fs.fv * fk1s.fv / fk.fv) * (gw.v - go.v))", 6
)} AS shapley_value
FROM chanidx c
JOIN grid go ON (go.mask & (1 << c.bit)) = 0
JOIN grid gw ON gw.mask = go.mask + (1 << c.bit)
JOIN kk ON TRUE
JOIN fact fs ON fs.n = bit_count(go.mask)
JOIN fact fk1s ON fk1s.n = kk.k - 1 - bit_count(go.mask)
JOIN fact fk ON fk.n = kk.k
GROUP BY c.channel
"""


@register("attribution_shapley", _SHAPLEY_SQL)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley credit per channel for the purchase conversion.

    Driver-coordinated like the k-means loop: the channel universe (a
    bounded domain, collected sorted) fixes bit positions and the
    K-dependent factorial weights as literals; the fact-scale work is
    two user-grain aggregates, and the 2^K subset grid plus both grid
    joins are broadcast."""
    import math

    e = read_table(spark, sf_dir, "events")
    chans = sorted(
        r[0]
        for r in e.select("event_type")
        .filter(F.col("event_type") != _SHAPLEY_CONV)
        .distinct()
        .collect()
    )
    k = len(chans)
    if chans:
        chanidx = values_frame(
            spark, [(c, b) for b, c in enumerate(chans)], ["channel", "bit"]
        ).select("channel", F.col("bit").cast("long"))
    else:
        # Empty channel universe (empty events table): VALUES needs >= 1
        # tuple, so emit a typed empty relation instead.
        chanidx = spark.sql(
            "SELECT '' AS channel, CAST(0 AS BIGINT) AS bit WHERE false"
        )
    conv = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == _SHAPLEY_CONV, 1).otherwise(0)
        ).alias("y")
    )
    usermask = (
        e.filter(F.col("event_type") != _SHAPLEY_CONV)
        .select("user_id", "event_type")
        .distinct()
        .join(
            F.broadcast(chanidx.withColumnRenamed("channel", "event_type")),
            "event_type",
        )
        .groupBy("user_id")
        .agg(F.sum(F.expr("shiftleft(1L, cast(bit as int))")).alias("mask"))
    )
    vs = (
        conv.join(usermask, "user_id", "left")
        .groupBy(F.coalesce(F.col("mask"), F.lit(0)).alias("mask"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("y").cast("double").alias("cv"),
        )
    )
    grid = (
        spark.range(0, 1 << k)
        .select(F.col("id").alias("mask"))
        .join(F.broadcast(vs), "mask", "left")
        .select(
            "mask",
            F.coalesce(F.col("cv") / F.col("n"), F.lit(0.0)).alias("v"),
        )
    )
    w_pairs: list = []
    for s in range(k):
        w = math.factorial(s) * math.factorial(k - 1 - s) / math.factorial(k)
        w_pairs.extend((F.lit(s), F.lit(w)))
    weight = F.element_at(
        F.create_map(*w_pairs), F.bit_count(F.col("go.mask")).cast("int")
    )
    go = grid.alias("go")
    gw = grid.select(
        F.col("mask").alias("mask_w"), F.col("v").alias("v_w")
    ).alias("gw")
    contrib = (
        chanidx.crossJoin(F.broadcast(go))
        .filter(
            F.col("go.mask").bitwiseAND(
                F.expr("shiftleft(1L, cast(bit as int))")
            )
            == 0
        )
        .join(
            F.broadcast(gw),
            F.col("mask_w")
            == F.col("go.mask") + F.expr("shiftleft(1L, cast(bit as int))"),
        )
        .select(
            "channel",
            (weight * (F.col("v_w") - F.col("go.v"))).alias("part"),
        )
    )
    return contrib.groupBy("channel").agg(
        dround(F.sum("part"), 6).alias("shapley_value")
    )
