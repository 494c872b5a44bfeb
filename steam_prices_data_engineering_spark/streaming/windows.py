"""Time-window aggregations over the events stream (SURVEY.md §2b).

Batch-first: `F.window` / `F.session_window` work identically on static
DataFrames, which is what makes these oracle-checkable in DuckDB (tumbling =
epoch bucketing; session = gaps-and-islands SQL). The streaming wrappers run
the same logical plan through Structured Streaming with a watermark and an
availableNow trigger, run to a result by `sizing.run_stream` — with a single
replayed batch no rows are late, so the result must equal the batch plan (the
driver's oracle can therefore check the streaming path too).

Window starts are returned as epoch seconds (long), not timestamps — the
cross-engine value-hash is type-sensitive and epoch longs are unambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import dround
from .sizing import run_stream


def tumbling_counts(events: DataFrame, duration: str = "10 minutes") -> DataFrame:
    """Per (tumbling window, event_type): count + sum(value)."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, duration: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Per sliding window: count + avg(value); each event lands in
    duration/slide windows."""
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per (user, session): session bounds + event count + value sum, where a
    session closes after `gap` of inactivity (F.session_window)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
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


def events_stream(spark, events_path: str, watermark: str = "1 hour") -> DataFrame:
    """Watermarked parquet readStream over the events fixture; ts type
    adaptation lives in the shared source helper."""
    import os

    from ..sources.tables import events_stream as _source

    return _source(spark, os.path.dirname(events_path)).withWatermark(
        "ts", watermark
    )


def streaming_tumbling_counts(
    spark,
    events_path: str,
    duration: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Structured Streaming version of tumbling_counts: parquet readStream ->
    withWatermark -> windowed agg -> memory sink, run to completion with
    availableNow, then return the materialized result."""
    stream = events_stream(spark, events_path, watermark)
    agg = (
        stream.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_stream(agg, "complete", events_path)


def streaming_sliding_counts(
    spark,
    events_path: str,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Structured Streaming version of sliding_counts: each event enters
    duration/slide overlapping windows; state holds one row per open window
    and the watermark bounds how long a window stays open. With a single
    availableNow replay nothing is late, so the result equals the batch
    sliding plan and the batch oracle applies."""
    stream = events_stream(spark, events_path, watermark)
    agg = (
        stream.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )
    return run_stream(agg, "complete", events_path)


def streaming_static_enriched_counts(
    spark,
    events_path: str,
    dim: DataFrame,
    duration: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static broadcast enrichment: the events stream left-joined
    to a STATIC dimension (user_id = c_custkey) before a tumbling
    aggregate — the standard enrich-then-window topology. The static
    side is stateless (re-read per micro-batch, broadcast-sized dim);
    stream state is only the windowed aggregate, bounded by the
    watermark. With one availableNow replay nothing is late, so the
    batch LEFT JOIN + GROUP BY oracle applies (the
    streaming_tumbling_counts equivalence contract)."""
    stream = events_stream(spark, events_path, watermark)
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "left"
    )
    agg = (
        joined.groupBy(
            F.window("ts", duration).alias("w"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # INTEGER micro-unit accumulation (the rolling_origin_backtest
            # rule): a float sum feeding a dround-compared output can land
            # on a 1e-4 half-boundary and flip between the state-store
            # accumulation order and the batch oracle's sum order; long
            # sums are order-free, one float division at the end.
            F.sum(
                F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
            ).alias("_sv_micro"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "segment",
            "n_events",
            dround(
                F.col("_sv_micro").cast("double") / F.lit(1000000.0), 4
            ).alias("sum_value"),
        )
    )
    return run_stream(agg, "complete", events_path)
