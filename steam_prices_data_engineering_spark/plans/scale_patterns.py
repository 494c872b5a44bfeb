"""Scale patterns: the techniques a 100 TB deployment leans on, demonstrated
as oracle-checked queries — manual salting for skewed aggregation, a
stream-stream interval join, and streaming session windows. (AQE handles
most skew automatically; the salted form is the explicit fallback when a
single logical key exceeds what one task should hold.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import landing
from ..sources.io import _fs_and_path
from ..sources.tables import events_stream as _events_stream
from ..sources.tables import read_table, table_path
from ..streaming.sizing import run_stream, start_sized
from .registry import register

# ---------------------------------------------------------------------------
# Two-phase salted aggregation. events.event_type has ~6 distinct values —
# at 100 TB a plain groupBy funnels the whole table through 6 reducers.
# Salting fans each hot key across 16 partial aggregates, then combines;
# results are provably identical to the direct aggregation (the oracle IS
# the direct aggregation).
# ---------------------------------------------------------------------------

_SALT_BUCKETS = 16

_SALTED_AGG_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       {R('sum(value)', 4)} AS sum_value,
       {R('max(value)', 4)} AS max_value
FROM events
GROUP BY event_type
"""


@register("skew_salted_agg", _SALTED_AGG_SQL)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a low-cardinality (skew-prone) key.
    Phase 1 shuffles on (event_type, salt) — 16x the reducers of the naive
    plan; phase 2 combines the 16 partials per key (tiny). count/sum/max all
    decompose associatively, so the result is exactly the direct GROUP BY."""
    e = read_table(spark, sf_dir, "events")
    salted = e.withColumn(
        "salt", F.pmod(F.hash(F.col("event_id")), F.lit(_SALT_BUCKETS))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("ps"),
        F.max("value").alias("pm"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n_events"),
        dround(F.sum("ps"), 4).alias("sum_value"),
        dround(F.max("pm"), 4).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join: each purchase joined to the errors the same
# user raised within the following 10 minutes. Watermarks on both sides
# bound the join state; the time-interval condition lets Spark expire rows.
# With one availableNow batch nothing is late, so the result equals the
# batch interval join — which is the oracle.
# ---------------------------------------------------------------------------

_STREAM_JOIN_SQL = f"""
SELECT p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS p_epoch,
       CAST(floor(epoch(e.ts)) AS BIGINT) AS e_epoch,
       {R('p.value', 4)} AS purchase_value
FROM events p
JOIN events e
  ON p.user_id = e.user_id
 AND p.event_type = 'purchase' AND e.event_type = 'error'
 AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
"""


@register("streaming_interval_join", _STREAM_JOIN_SQL)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks + time-range condition
    (purchase -> errors within 10 min, per user). State on both sides is
    bounded by the watermark delay + interval width — the standard shape
    for joining two live event streams at scale."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("long").alias("p_epoch"),
        F.col("e_ts").cast("long").alias("e_epoch"),
        dround(F.col("p_value"), 4).alias("purchase_value"),
    )
    return run_stream(joined, "append", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join. Unlike the inner variant, the
# null-extended rows are emitted by STATE EXPIRY: an unmatched purchase
# only surfaces once the watermark guarantees no matching error can still
# arrive. The oracle encodes exactly that eviction rule (verified
# empirically on this Spark): global watermark = min over both inputs of
# (max event time − delay); an unmatched purchase emits iff
# p_ts + interval < watermark — STRICTLY less: a purchase whose join
# window ends exactly ON the watermark is still in state and does not
# emit. tests/test_streaming_boundary.py pins that boundary on the
# installed Spark (see configs/etl_config.yml engine pin); if an upgrade
# flips the rule to <=, that test fails and this oracle changes with it.
# Purchases younger than the watermark are still in state when the query
# stops and are correctly absent.
# ---------------------------------------------------------------------------

_STREAM_LOJOIN_SQL = f"""
WITH wm AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'error')
    ) - INTERVAL 60 MINUTE AS w
),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
j AS (
    SELECT p.user_id, p.ts AS p_ts, e.ts AS e_ts, p.value AS value
    FROM p LEFT JOIN e ON p.user_id = e.user_id
       AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
)
SELECT user_id,
       CAST(floor(epoch(p_ts)) AS BIGINT) AS p_epoch,
       CAST(floor(epoch(e_ts)) AS BIGINT) AS e_epoch,
       {R('value', 4)} AS purchase_value
FROM j
WHERE e_ts IS NOT NULL
   OR p_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
"""


@register("streaming_leftouter_interval_join", _STREAM_LOJOIN_SQL)
def streaming_leftouter_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks + time-range condition:
    purchases with no error in the following 10 minutes emit null-extended —
    but only after the watermark passes their join window (state expiry).
    Matched rows emit eagerly like the inner join. The availableNow run ends
    with a no-data micro-batch that advances the watermark to
    min(max p_ts, max e_ts) − 1 h, which is what flushes the expired
    unmatched rows; the oracle reproduces that rule in SQL."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("long").alias("p_epoch"),
        F.col("e_ts").cast("long").alias("e_epoch"),
        dround(F.col("p_value"), 4).alias("purchase_value"),
    )
    return run_stream(joined, "append", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Stream-stream FULL OUTER interval join: null-extended rows surface from
# BOTH sides' state expiry. Left (purchase) side evicts by the same rule
# as the left-outer join above: emit iff p_ts + interval < watermark,
# strictly. Right (error) side: an error can only match purchases with
# p_ts <= e_ts, and purchases older than the watermark can no longer
# arrive, so an unmatched error emits iff e_ts < watermark — also
# STRICTLY (an error exactly ON the watermark stays in state; pinned
# empirically with a boundary fixture in tests/test_streaming_boundary.py
# alongside the left-side rule).
# ---------------------------------------------------------------------------

_STREAM_FOJOIN_SQL = f"""
WITH wm AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'error')
    ) - INTERVAL 60 MINUTE AS w
),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
j AS (
    SELECT coalesce(p.user_id, e.user_id) AS user_id,
           p.ts AS p_ts, e.ts AS e_ts, p.value AS value
    FROM p FULL JOIN e ON p.user_id = e.user_id
       AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
)
SELECT user_id,
       CAST(floor(epoch(p_ts)) AS BIGINT) AS p_epoch,
       CAST(floor(epoch(e_ts)) AS BIGINT) AS e_epoch,
       {R('value', 4)} AS purchase_value
FROM j
WHERE (p_ts IS NOT NULL AND e_ts IS NOT NULL)
   OR (e_ts IS NULL AND p_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm))
   OR (p_ts IS NULL AND e_ts < (SELECT w FROM wm))
"""


@register("streaming_fullouter_interval_join", _STREAM_FOJOIN_SQL)
def streaming_fullouter_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER join with watermarks + time-range
    condition: matched rows emit eagerly; purchases with no error in
    their 10-minute window and errors with no preceding purchase both
    emit null-extended once the watermark proves no match can still
    arrive (per-side expiry rules in the section comment; state on both
    sides stays bounded by delay + interval width)."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce("p_user", "e_user").alias("user_id"),
        F.col("p_ts").cast("long").alias("p_epoch"),
        F.col("e_ts").cast("long").alias("e_epoch"),
        dround(F.col("p_value"), 4).alias("purchase_value"),
    )
    return run_stream(joined, "append", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Streaming session windows: the batch session_stats plan run through
# Structured Streaming (session_window + watermark). Oracle = the same
# gaps-and-islands SQL as the batch variant.
# ---------------------------------------------------------------------------

_STREAM_SESSION_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       {R('sum(value)', 4)} AS sum_value
FROM sessioned
GROUP BY user_id, sess_id
"""


@register("streaming_session_window", _STREAM_SESSION_SQL)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) in Structured Streaming: session_window
    merges adjacent state as events arrive; the watermark lets closed
    sessions emit and their state drop — the scalable form of per-user
    sessionization."""
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_stream(agg, "complete", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Multi-resolution time rollup (the "hypertable continuous aggregate"
# pattern): hourly AND daily buckets per event type from ONE fact pass.
# GROUPING SETS plans as a single Expand + one shuffled aggregation —
# at 100 TB that halves the scan cost vs running the two grains as
# separate jobs, and the coarser grains piggyback on the same exchange.
# ---------------------------------------------------------------------------

_MULTIRES_SQL = f"""
WITH bucketed AS (
    SELECT date_trunc('hour', ts) AS hour_ts,
           date_trunc('day', ts) AS day_ts,
           event_type, value
    FROM events
)
SELECT CASE WHEN grouping(hour_ts) = 1 THEN 'day' ELSE 'hour' END AS grain,
       CAST(floor(epoch(coalesce(hour_ts, day_ts))) AS BIGINT) AS bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       {R('sum(value)', 4)} AS sum_value
FROM bucketed
GROUP BY GROUPING SETS ((hour_ts, day_ts, event_type), (day_ts, event_type))
"""


@register("events_multires_rollup", _MULTIRES_SQL)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour+day continuous-aggregate rollup in one pass. The hour grouping
    set carries day_ts too (functionally dependent, so no extra groups) —
    that lets one `coalesce(hour_ts, day_ts)` expression label every
    output row's bucket. `grouping()` disambiguates the grain."""
    e = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        "event_type",
        "value",
    )
    return (
        e.groupingSets(
            [["hour_ts", "day_ts", "event_type"], ["day_ts", "event_type"]],
            "hour_ts",
            "day_ts",
            "event_type",
        )
        .agg(
            # grouping() is only legal inside the grouping-sets aggregate
            # itself; materialize the flag here, label it downstream.
            F.grouping("hour_ts").alias("g_hour"),
            F.count(F.lit(1)).alias("n"),
            dround(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.when(F.col("g_hour") == 1, F.lit("day"))
            .otherwise(F.lit("hour"))
            .alias("grain"),
            F.floor(
                F.coalesce(F.col("hour_ts"), F.col("day_ts")).cast("double")
            )
            .cast("long")
            .alias("bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Explicit join-strategy control: SHUFFLE_HASH hint. At 100 TB the customer
# dim exceeds autoBroadcastJoinThreshold, and Spark's default for the
# orders⋈customer equi join becomes sort-merge — which sorts BOTH fact-scale
# inputs. A shuffled hash join builds a per-partition hash map from the
# smaller side instead: same shuffle, no sorts. The hint pins the strategy
# the planner can't prove safe on its own (it must trust the build side
# fits per-partition memory — our call to make, sized by partition count).
# ---------------------------------------------------------------------------

_SHUFFLE_HASH_SQL = f"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       {R('sum(o_totalprice)', 2)} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("join_shuffle_hash_dim", _SHUFFLE_HASH_SQL)
def join_shuffle_hash_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim revenue rollup with the dim side pinned to SHUFFLE_HASH
    (build side = customer). Catalyst keeps the aggregation on the join's
    hash partitioning, so the groupBy adds no fourth exchange."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# foreachBatch sink: the production pattern for streaming -> table. The
# memory sink is a test harness; real deployments write each microbatch
# with foreachBatch, keyed by batchId so a replayed batch OVERWRITES its
# own partition instead of duplicating rows — idempotence is what turns
# Spark's at-least-once batch replay into exactly-once table contents.
# ---------------------------------------------------------------------------

_FOREACH_BATCH_SQL = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       {R('sum(value)', 4)} AS sum_value
FROM events
GROUP BY event_type
"""


@register("streaming_foreachbatch_sink", _FOREACH_BATCH_SQL)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type totals written by foreachBatch into a
    batch_id-partitioned parquet table with dynamic partition overwrite:
    replaying a batch rewrites exactly its own partition (idempotent).
    One availableNow batch => the read-back table equals the batch GROUP
    BY oracle."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 4).alias("sum_value"),
        )
    )
    out_dir = landing(spark, "foreachbatch_sink", sf_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    writer = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    start_sized(writer, table_path(sf_dir, "events")).awaitTermination()
    # the read-back is FILE-backed and lazy, and the next build of this
    # query removes out_dir: hand back the bounded (event_type-grain)
    # table as a local relation
    result = spark.read.parquet(out_dir).select(
        "event_type", "n_events", "sum_value"
    )
    return spark.createDataFrame(result.collect(), result.schema)


# ---------------------------------------------------------------------------
# Stream-static enrichment join: the live event stream joined to a slowly
# changing dimension (customer -> nation) read as a plain batch table.
# The static side is broadcast, so enrichment is STATELESS — no watermark,
# no join state, each microbatch maps through the dim — the canonical
# at-scale shape for attaching reference data to a firehose. With one
# availableNow batch the result equals the batch join, which is the
# oracle.
# ---------------------------------------------------------------------------

_STREAM_ENRICH_SQL = f"""
SELECT e.event_id, e.user_id, n.n_name AS nation, e.event_type,
       {R('e.value', 4)} AS value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id + 1
JOIN nation n ON n.n_nationkey = c.c_nationkey
"""


@register("streaming_static_enrichment", _STREAM_ENRICH_SQL)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless stream-static broadcast join: events stream enriched with
    the customer's nation (c_custkey = user_id + 1, the fixture key map)."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    dim = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        "c_custkey", "nation"
    )
    s = _events_stream(spark, sf_dir)
    enriched = s.join(
        F.broadcast(dim), s.user_id + 1 == dim.c_custkey
    ).select(
        "event_id",
        "user_id",
        "nation",
        "event_type",
        dround(F.col("value"), 4).alias("value"),
    )
    return run_stream(enriched, "append", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Salted SHUFFLE JOIN: the companion to skew_salted_agg for the join case.
# When one join key dominates (a celebrity user, a default id), the naive
# shuffle join lands that key's entire volume on one task. Salting splits
# the big side's hot key across N sub-keys and replicates the small side's
# matching rows N times, so the hot key occupies N tasks. Results are
# provably identical to the unsalted join (the oracle IS the plain join).
# ---------------------------------------------------------------------------

_JOIN_SALT = 8

_SALTED_JOIN_SQL = f"""
SELECT event_type, u.segment,
       CAST(count(*) AS BIGINT) AS n_events,
       {R('sum(value)', 4)} AS sum_value
FROM events e
JOIN (SELECT DISTINCT user_id, CASE WHEN user_id % 3 = 0 THEN 'power' ELSE 'casual' END AS segment
      FROM events) u
  ON e.user_id = u.user_id
GROUP BY 1, 2
"""


@register("skew_salted_join", _SALTED_JOIN_SQL)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: the fact side gets `salt = crc32-free modulo of
    its own row key` (deterministic, uniform), the dim side is exploded
    x{_JOIN_SALT} so every (user_id, salt) probe finds its match. The join
    keys become (user_id, salt) — a hot user_id now hashes to {_JOIN_SALT}
    distinct reducers instead of one. SHUFFLE_MERGE hint keeps it a real
    shuffle join (broadcast would hide the pattern at this toy scale; at
    100 TB neither side broadcasts). The oracle is the unsalted join —
    identical results."""
    e = read_table(spark, sf_dir, "events")
    users = (
        e.select("user_id").distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 3 == 0, F.lit("power"))
            .otherwise(F.lit("casual"))
            .alias("segment"),
        )
    )
    salted_facts = e.select(
        "user_id", "event_type", "value",
        (F.col("event_id") % _JOIN_SALT).alias("salt"),
    )
    salted_dim = users.select(
        "user_id",
        "segment",
        F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALT - 1))).alias("salt"),
    )
    joined = salted_facts.hint("SHUFFLE_MERGE").join(
        salted_dim,
        (salted_facts.user_id == salted_dim.user_id)
        & (salted_facts.salt == salted_dim.salt),
    )
    return joined.groupBy(F.col("event_type"), F.col("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Chained stateful operators in ONE streaming query (Spark 4 multi-stateful
# support): 10-minute windowed aggregation re-aggregated into 1-hour
# windows downstream — the streaming form of the multi-resolution rollup
# (`events_multires_rollup`), a continuous aggregate cascade. The second
# aggregation consumes the first level's FINALIZED windows via
# window_time(); append mode emits an hour only once the watermark passes
# its end, so with one availableNow batch the result is exactly the batch
# hourly rollup restricted to hours whose end <= max(ts) - watermark
# delay — which is what the oracle encodes (emission at window_end <=
# watermark, verified empirically on this Spark; an exact ==-boundary
# event time would probe the <= vs < edge, which the fixture's fractional
# timestamps never hit).
# ---------------------------------------------------------------------------

_MULTIRES_STREAM_SQL = f"""
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
hourly AS (
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hs, event_type,
           count(*) AS n_events, sum(value) AS sum_value
    FROM events GROUP BY 1, 2
)
SELECT CAST(floor(epoch(hs)) AS BIGINT) AS hour_start,
       event_type,
       CAST(n_events AS BIGINT) AS n_events,
       {R('sum_value', 4)} AS sum_value
FROM hourly CROSS JOIN wm
WHERE hs + INTERVAL 1 HOUR <= wm.w
"""


@register("streaming_multires_rollup", _MULTIRES_STREAM_SQL)
def streaming_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min -> 1-hour cascaded windowed aggregation in one streaming
    query (two stateful operators chained). At scale this halves the
    state and shuffle of maintaining each resolution from the raw stream:
    the hour level aggregates 6 finalized rows per (window, type) instead
    of every event, and further grains (day, week) chain the same way."""
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    lvl1 = stream.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    lvl2 = lvl1.groupBy(
        F.window(F.window_time("w"), "1 hour").alias("hw"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        dround(F.sum("sv"), 4).alias("sum_value"),
    )
    out = lvl2.select(
        F.col("hw.start").cast("long").alias("hour_start"),
        "event_type",
        "n_events",
        "sum_value",
    )
    return run_stream(out, "append", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Binned interval-overlap join (batch): which users' sessions were
# CONCURRENT. The naive overlap predicate (a.start < b.end AND b.start <
# a.end) is a theta join — a broadcast nested loop that dies when both
# interval sets are corpus-scale. The production rewrite (Databricks
# range-join binning / genomic interval joins) EXPLODES each interval
# into the fixed-width time bins it covers, equi-joins on the bin id,
# verifies the exact overlap as a join residual, and dedups pairs that
# share several bins. The shuffle key is the bin id; candidate fan-in
# per bin is bounded by concurrent-session density, never by corpus
# size. `range_join_price_bands` is the tiny-dim broadcast form; this is
# the big-big form.
#
# Semantics are defined on TRUNCATED epoch seconds (the repo timestamp
# contract), session = F.session_window(ts, 30 min) per user (same
# definition as events_session_window, end = last event + gap);
# verify-before-distinct: the exact overlap predicate rides the join
# condition so DISTINCT sees only true pairs.
# ---------------------------------------------------------------------------

_OVL_BIN_S = 3600  # 1-hour bins
_OVL_GAP = "30 minutes"

_OVERLAP_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM flagged
),
sess AS (
    SELECT user_id, sess_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS est,
           CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS een
    FROM sessioned GROUP BY 1, 2
),
binned AS (
    SELECT user_id, sess_id, est, een,
           unnest(range(est // {_OVL_BIN_S}, een // {_OVL_BIN_S} + 1)) AS bin
    FROM sess
),
pairs AS (
    SELECT DISTINCT a.user_id AS user_a, a.sess_id AS sess_a,
           b.user_id AS user_b, b.sess_id AS sess_b,
           least(a.een, b.een) - greatest(a.est, b.est) AS ovl_s
    FROM binned a JOIN binned b
      ON a.bin = b.bin AND a.user_id < b.user_id
     AND a.est < b.een AND b.est < a.een
)
SELECT user_a, user_b, CAST(count(*) AS BIGINT) AS n_overlaps,
       CAST(sum(ovl_s) AS BIGINT) AS overlap_seconds
FROM pairs GROUP BY 1, 2
"""


@register("interval_overlap_bin_join", _OVERLAP_SQL)
def interval_overlap_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session pairs across users via the binned interval
    join: per (user_a < user_b), how many of their session pairs
    overlapped and for how many total seconds."""
    e = read_table(spark, sf_dir, "events")
    sess = (
        e.groupBy("user_id", F.session_window("ts", _OVL_GAP).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("est"),
            F.col("w.end").cast("long").alias("een"),
        )
    )
    binned = sess.select(
        "user_id",
        "est",
        "een",
        F.explode(
            F.sequence(
                F.floor(F.col("est") / _OVL_BIN_S),
                F.floor(F.col("een") / _OVL_BIN_S),
            )
        ).alias("bin"),
    )
    a = binned.alias("a")
    b = binned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.est") < F.col("b.een"))
            & (F.col("b.est") < F.col("a.een")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.est").alias("sa"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.est").alias("sb"),
            (
                F.least(F.col("a.een"), F.col("b.een"))
                - F.greatest(F.col("a.est"), F.col("b.est"))
            ).alias("ovl_s"),
        )
        .distinct()
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.sum("ovl_s").cast("long").alias("overlap_seconds"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: the pre-partitioning strategy that removes the
# shuffle from the one big-big join edge (orders ⋈ lineitem). Both sides
# are LANDED bucketed+sorted on the join key (`bucketBy(8).sortBy`), so
# the join plans as a zero-exchange sort-merge over matching buckets —
# at 100 TB that's the difference between re-shuffling two fact tables
# per query and reading co-located files. tests/test_plans.py pins the
# no-Exchange property; this query verifies the VALUES survive the
# layout round-trip. (tests/test_bucketing.py:16 proved the plan shape
# first; this registers it under the driver's oracle gate.)
# ---------------------------------------------------------------------------

_BUCKETED_JOIN_SQL = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       {R('sum(l_quantity)', 2)} AS sum_qty,
       {R('sum(o_totalprice)', 2)} AS sum_total
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


def _rebuild_bucketed(spark: SparkSession, sf_dir: str, name: str,
                      df: DataFrame, key: str) -> DataFrame:
    """Land `df` as a bucketed+sorted catalog table and return it.

    The landing write is the cost the zero-shuffle join amortizes, so a
    session reuses its table across builds, but only while the sources
    are unchanged: the table name carries the sf key and the Hadoop
    FileSystem's (modification time, length) of orders.parquet and
    lineitem.parquet, so a fixture regenerated in place names a new table
    and lands again. The table is EXTERNAL on a `session.landing` path
    (the default warehouse is cwd-relative, and the cwd need not be
    writable), which Spark deletes with the session."""
    stamp = [sf_dir]
    for source in ("orders", "lineitem"):
        fs, path = _fs_and_path(spark, table_path(sf_dir, source))
        status = fs.getFileStatus(path)
        stamp += [status.getModificationTime(), status.getLen()]
    table = re.sub(r"\W+", "_", "_".join(map(str, [name, *stamp])))
    if not spark.catalog.tableExists(table):
        (
            df.write.option("path", landing(spark, name, sf_dir))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(table)
        )
    return spark.table(table)


@register("bucketed_join_no_shuffle", _BUCKETED_JOIN_SQL)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land orders and lineitem bucketed on the order key, then join the
    bucketed tables and aggregate per order status.

    Plan: scan both bucketed tables (8 matching buckets each), zero
    Exchange below the join (bucketed layout == join distribution), one
    final 3-group aggregation. The write itself shuffles once per side —
    paid ONCE at landing time, amortized over every subsequent join."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    bo = _rebuild_bucketed(spark, sf_dir, "q_bucketed_orders", o, "o_orderkey")
    bl = _rebuild_bucketed(
        spark, sf_dir, "q_bucketed_lineitem", l, "l_orderkey"
    )
    # At oracle SF the orders side fits under the broadcast threshold and
    # Catalyst would broadcast it, bypassing the layout under test; the
    # MERGE hint pins the sort-merge path — which is where bucketing
    # shines: both sides already distributed AND sorted on the key, so
    # the "sort-merge" join needs neither an exchange nor a sort.
    return (
        bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dround(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance: a materialized per-status aggregate is
# kept current by MERGING a delta batch's partial aggregate into the old
# state — never recomputing over history. Works because count/sum/min/max
# are commutative monoids (avg derives from merged sum/count): the merge
# inputs are aggregate-sized, so maintaining the view at 100 TB costs
# O(|delta| + |view|), not O(|history|). The oracle computes the view
# DIRECTLY over the full table — agreement proves the merge algebra, the
# same partial-aggregate property map-side combine exploits inside one
# query, lifted across batches.
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "1997-06-01"

_IVM_SQL = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       {R('sum(o_totalprice)', 2)} AS total,
       {R('min(o_totalprice)', 2)} AS min_price,
       {R('max(o_totalprice)', 2)} AS max_price,
       {R('sum(o_totalprice) / count(*)', 4)} AS avg_price
FROM orders
GROUP BY o_orderstatus
"""


@register("incremental_agg_merge", _IVM_SQL)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge an 'old state' partial aggregate (orders before the cutoff)
    with a 'delta batch' partial aggregate (orders after) and return the
    maintained view; the oracle recomputes directly over everything, so
    a green row proves the monoid merge is exact.

    Plan: two pushed-filter scans -> two map-side-combined partial
    aggregates -> a union of ~6 rows each -> one tiny merge aggregation.
    Nothing rescans history at merge time."""
    o = read_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("o_totalprice").alias("psum"),
            F.min("o_totalprice").alias("pmin"),
            F.max("o_totalprice").alias("pmax"),
        )

    cutoff = F.lit(_IVM_CUTOFF).cast("date")
    old_state = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = old_state.unionByName(delta).groupBy("o_orderstatus").agg(
        F.sum("pn").cast("long").alias("n_orders"),
        dround(F.sum("psum"), 2).alias("total"),
        dround(F.min("pmin"), 2).alias("min_price"),
        dround(F.max("pmax"), 2).alias("max_price"),
        dround(F.sum("psum") / F.sum("pn"), 4).alias("avg_price"),
    )
    return merged


# ---------------------------------------------------------------------------
# Pre-join skew profiler: the diagnostic you run BEFORE committing a join
# strategy at scale — per-key row counts for each candidate shuffle key,
# reduced to (key count, max/avg skew ratio, p99 key size, the hot key).
# This is the planner-side evidence for choosing broadcast vs salting vs
# AQE skew-split (`skew_salted_join`): a skew_ratio near 1 means hash
# partitioning balances; a large one names the key that will straggle.
# One map-side-combined count per key space; the report is reduced from
# the key-cardinality table, never the facts. The hot key is tie-broken
# deterministically (min key id among max-count keys).
# ---------------------------------------------------------------------------


def _skew_profile_sql(key_space: str, key_expr: str, source: str) -> str:
    return f"""
SELECT '{key_space}' AS key_space,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(max(cnt) AS BIGINT) AS max_key_rows,
       {R("avg(cnt)", 4)} AS avg_key_rows,
       {R("max(cnt) / avg(cnt)", 4)} AS skew_ratio,
       {R("quantile_cont(cnt, 0.99)", 4)} AS p99_key_rows,
       CAST(min(CASE WHEN cnt = mx THEN k END) AS BIGINT) AS hot_key
FROM (
    SELECT k, cnt, max(cnt) OVER () AS mx FROM (
        SELECT {key_expr} AS k, CAST(count(*) AS DOUBLE) AS cnt
        FROM {source} GROUP BY 1
    )
)
"""


_SKEW_PROFILE_SQL = (
    _skew_profile_sql("lineitem.l_partkey", "l_partkey", "lineitem")
    + " UNION ALL "
    + _skew_profile_sql("events.user_id", "user_id", "events")
)


def _skew_profile_frame(
    df: DataFrame, key_col: str, key_space: str
) -> DataFrame:
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    staged = counts.withColumn(
        "mx", F.max("cnt").over(Window.partitionBy())
    )
    return staged.agg(
        F.lit(key_space).alias("key_space"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_key_rows"),
        dround(F.avg("cnt"), 4).alias("avg_key_rows"),
        dround(F.max("cnt") / F.avg("cnt"), 4).alias("skew_ratio"),
        dround(F.percentile(F.col("cnt"), F.lit(0.99)), 4).alias(
            "p99_key_rows"
        ),
        F.min(F.when(F.col("cnt") == F.col("mx"), F.col("k")))
        .cast("long")
        .alias("hot_key"),
    )


@register("skew_profile_report", _SKEW_PROFILE_SQL)
def skew_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis for two candidate join keys: key
    cardinality, max/avg ratio, p99 key size, deterministic hot key."""
    li = read_table(spark, sf_dir, "lineitem")
    ev = read_table(spark, sf_dir, "events")
    return _skew_profile_frame(li, "l_partkey", "lineitem.l_partkey").unionByName(
        _skew_profile_frame(ev, "user_id", "events.user_id")
    )


# ---------------------------------------------------------------------------
# Join-explosion audit: estimate a join's output cardinality BEFORE
# running it — sum over matching keys of count_left * count_right, the
# exact formula a cost-based optimizer uses with full-resolution key
# histograms. Reports the total, the single worst key's contribution,
# and the amplification factor over the larger input; an amplification
# >> 1 flags a fan-out join that needs pre-aggregation or key salting.
# Per-side key counts are map-side-combined aggs; the audit joins two
# key-cardinality tables, never the facts themselves.
# ---------------------------------------------------------------------------


def _join_audit_sql(
    join_name: str, left_src: str, left_key: str, right_src: str, right_key: str
) -> str:
    return f"""
SELECT '{join_name}' AS join_name,
       CAST((SELECT count(*) FROM {left_src}) AS BIGINT) AS n_left,
       CAST((SELECT count(*) FROM {right_src}) AS BIGINT) AS n_right,
       CAST(count(*) AS BIGINT) AS n_matching_keys,
       CAST(coalesce(sum(cl * cr), 0) AS BIGINT) AS est_output_rows,
       CAST(coalesce(max(cl * cr), 0) AS BIGINT) AS max_single_key_rows,
       {R("coalesce(sum(cl * cr), 0) / greatest((SELECT count(*) FROM " + left_src + "), (SELECT count(*) FROM " + right_src + "))", 6)} AS amplification
FROM (
    SELECT l.k, l.cl, r.cr
    FROM (SELECT {left_key} AS k, count(*) AS cl FROM {left_src} GROUP BY 1) l
    JOIN (SELECT {right_key} AS k, count(*) AS cr FROM {right_src} GROUP BY 1) r
      ON l.k = r.k
)
"""


_JOIN_AUDIT_SQL = (
    _join_audit_sql(
        "lineitem_x_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"
    )
    + " UNION ALL "
    + _join_audit_sql(
        "events_self_user", "events", "user_id", "events", "user_id"
    )
)


def _join_audit_frame(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    join_name: str,
) -> DataFrame:
    nl = left.count()
    nr = right.count()
    lcnt = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    rcnt = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    matched = lcnt.join(rcnt, "k")
    return matched.agg(
        F.lit(join_name).alias("join_name"),
        F.lit(nl).cast("long").alias("n_left"),
        F.lit(nr).cast("long").alias("n_right"),
        F.count(F.lit(1)).cast("long").alias("n_matching_keys"),
        F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
        .cast("long")
        .alias("est_output_rows"),
        F.coalesce(F.max(F.col("cl") * F.col("cr")), F.lit(0))
        .cast("long")
        .alias("max_single_key_rows"),
        dround(
            F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
            / F.lit(float(max(nl, nr))),
            6,
        ).alias("amplification"),
    )


@register("join_explosion_audit", _JOIN_AUDIT_SQL)
def join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight cardinality estimate for two join candidates: exact
    sum-of-products over the per-side key histograms.

    The driver-side `.count()` calls materialize two scalars (input
    sizes) — bounded metadata, not fact rows."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    ev = read_table(spark, sf_dir, "events")
    return _join_audit_frame(
        li, "l_orderkey", o, "o_orderkey", "lineitem_x_orders"
    ).unionByName(
        _join_audit_frame(ev, "user_id", ev, "user_id", "events_self_user")
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT SEMI interval join: purchases that DID see an error
# within the following 10 minutes, emitted once regardless of how many
# errors matched — the streaming EXISTS. Unlike the left-outer variant
# there is no state-expiry emission to encode: semi rows emit on first
# match, unmatched rows never emit, so the batch EXISTS oracle is exact
# with no watermark clause. State on both sides is still bounded by the
# watermark delay + interval width, same as the inner join.
# ---------------------------------------------------------------------------

_STREAM_SEMIJOIN_SQL = f"""
SELECT p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS p_epoch,
       {R('p.value', 4)} AS purchase_value
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
      SELECT 1 FROM events e
      WHERE e.event_type = 'error' AND e.user_id = p.user_id
        AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
  )
"""


@register("streaming_semi_interval_join", _STREAM_SEMIJOIN_SQL)
def streaming_semi_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join with watermarks + time-range
    condition: the streaming EXISTS (each matched purchase emits once)."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_semi",
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("long").alias("p_epoch"),
        dround(F.col("p_value"), 4).alias("purchase_value"),
    )
    return run_stream(joined, "append", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Incremental dedup index maintenance (round 4): the nightly-ingest form
# of MinHash-LSH. The corpus splits into BASE (already-indexed history,
# knuth buckets 0-7) and DELTA (tonight's batch, buckets 8-9); only
# pairs TOUCHING the delta need checking, so the candidate join probes
# the full band index with the delta's bands — cost proportional to
# |delta| x band-bucket occupancy, never |corpus|^2 and never a rescan
# of history pairs. Composes the SAME staged pipeline as
# neardup_minhash_lsh (hashed_shingle_table -> sig -> bands -> verify),
# and incremental_agg_merge's delta discipline.
# ---------------------------------------------------------------------------


def _incr_dedup_sql() -> str:
    from ..functions.sqlfrag import (
        sql_exact_jaccard,
        sql_minhash_sig_band_ctes,
    )
    from .trainset import knuth_sql

    delta_pred = f"{knuth_sql()} % 10 >= 8"
    return f"""
WITH {sql_minhash_sig_band_ctes()},
sides AS (
    SELECT doc_id, ({delta_pred}) AS is_delta FROM documents
),
delta_bands AS (
    SELECT b.doc_id, b.band_idx, b.band_key
    FROM banded b JOIN sides s ON s.doc_id = b.doc_id
    WHERE s.is_delta
),
cand AS (
    SELECT DISTINCT least(a.doc_id, d.doc_id) AS doc_id_a,
                    greatest(a.doc_id, d.doc_id) AS doc_id_b
    FROM banded a
    JOIN delta_bands d
      ON a.band_idx = d.band_idx AND a.band_key = d.band_key
     AND a.doc_id <> d.doc_id
),
scored AS (
    SELECT c.doc_id_a, c.doc_id_b,
           {R(sql_exact_jaccard("sa.hs", "sb.hs"), 6)} AS jaccard
    FROM cand c
    JOIN shinglehash sa ON sa.doc_id = c.doc_id_a
    JOIN shinglehash sb ON sb.doc_id = c.doc_id_b
)
SELECT s.doc_id_a, s.doc_id_b, s.jaccard,
       CASE WHEN sa.is_delta AND sb.is_delta THEN 'delta-delta'
            ELSE 'delta-base' END AS pair_type
FROM scored s
JOIN sides sa ON sa.doc_id = s.doc_id_a
JOIN sides sb ON sb.doc_id = s.doc_id_b
WHERE s.jaccard >= 0.5
"""


@register("dedup_incremental_delta", _incr_dedup_sql())
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs introduced by tonight's ingest batch: verified
    MinHash-LSH pairs with at least one delta-side doc, labeled
    delta-base vs delta-delta. History-history pairs are never
    re-examined — the incremental property that keeps nightly dedup
    O(|delta| x bucket occupancy) at 100 TB."""
    from ..operators.dedup import (
        hashed_shingle_table,
        minhash_banded,
        minhash_sig_table,
    )
    from ..functions.rounding import dround as _dr
    from ..operators.dedup import _jaccard
    from .trainset import knuth_hash

    d = read_table(spark, sf_dir, "documents")
    hashed = hashed_shingle_table(d)
    banded = minhash_banded(minhash_sig_table(hashed))
    # r10: knuth_hash is a pure doc_id expression, so the delta flag is
    # computed INLINE (no sides join), and the band-key join becomes a
    # posting-list pair expansion — one groupBy(band) exchange instead of
    # shuffling banded twice into the delta join + band-key join. Same
    # distinct (least, greatest) pair set: a pair survives iff the two
    # docs share a band and at least one side is delta.
    flagged = banded.withColumn("is_delta", knuth_hash() % 10 >= 8)
    posts = flagged.groupBy("band_idx", "band_key").agg(
        F.collect_list(F.struct("doc_id", "is_delta")).alias("ps")
    )
    cand = (
        posts.select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .filter(
            (F.col("a.doc_id") != F.col("b.doc_id")) & F.col("b.is_delta")
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    sh_a = hashed.select(F.col("doc_id").alias("doc_id_a"), F.col("hs").alias("sh_a"))
    sh_b = hashed.select(F.col("doc_id").alias("doc_id_b"), F.col("hs").alias("sh_b"))
    scored = (
        cand.join(sh_a, "doc_id_a")
        .join(sh_b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            _dr(_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    # Pair-type flags recomputed inline from the same pure expression the
    # sides CTE uses — the two doc-grain label joins drop out.
    da = knuth_hash("doc_id_a") % 10 >= 8
    db = knuth_hash("doc_id_b") % 10 >= 8
    return scored.select(
        "doc_id_a",
        "doc_id_b",
        "jaccard",
        F.when(da & db, F.lit("delta-delta"))
        .otherwise(F.lit("delta-base"))
        .alias("pair_type"),
    )
