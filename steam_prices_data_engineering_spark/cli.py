"""Config-driven job runner — the engine's equivalent of the reference's
`run.py` entry point (O35, `/root/reference/run.py:17-67`): parse a YAML
config, build the session, run job 1 (prices ETL) and then job 2
(world-map deviation), landing each as a run-partitioned snappy-parquet
table (S7/S9), plus job 2's PNG artifact (S8) rendered driver-side by the
dependency-free encoder in sinks/png.py — one parquet landing per job and
one PNG per run, the same artifact set as a reference run.

Each piece of batch work runs once. Job 2 is built on the frame built for
job 1 (the reference's job 2 reads job 1's output), and the PNG is
rendered from the partition job 2 just landed, so job 2's plan executes
only for its write.

Job 3 (config-gated) is a checkpointed streaming rollup. It overlaps
jobs 1–2 instead of following them: its query is started before job 1
and awaited after the PNG, so its micro-batches run on the stream's own
thread while this one builds and lands the batch jobs. A stream *start*
error therefore fails the run before job 1 lands, and an error in job 1
or 2 stops the stream before it propagates. Each job logs its wall time
at INFO; job 3 also logs its batch count, input rows, trigger time and
state-commit time from the query's progress.

Usage:
    python -m steam_prices_data_engineering_spark.cli configs/etl_config.yml
"""

from __future__ import annotations

import argparse
import logging
import time
from datetime import datetime, timezone

import yaml

from pyspark.sql import functions as F

from .plans.pipelines import steam_job1_prices_etl, world_map_job2_deviation
from .session import get_spark
from .sinks.png import world_map_png
from .sources.io import join_uri, local_path

log = logging.getLogger("steam_prices_spark")


def run_jobs(config: dict, spark=None, run_ts: str | None = None) -> dict:
    """Run the configured jobs; returns {job: output_path}. `run_ts`
    is injectable for reproducible tests (the reference bakes
    `datetime.now()` into its output keys, steam_prices_transformer.py:206 —
    the non-determinism the survey flags as a test risk). Job 3's stream
    is started first and awaited last (see the module docstring)."""
    spark = spark or get_spark(app_name=config.get("app_name", "steam-prices-etl"))
    sf_dir = config["source"]["sf_dir"]
    out_root = config["target"]["output_dir"]
    fmt = config["target"].get("run_key_date_format", "%Y%m%d%H%M%S")
    run_key = run_ts or datetime.now(timezone.utc).strftime(fmt)

    outputs = {}
    stream_cfg = config.get("streaming") or {}
    query = None
    if stream_cfg.get("enabled"):
        # Job 3: incremental streaming rollup of the events stream to a
        # checkpointed parquet landing. availableNow + checkpoint gives the
        # production incremental-batch shape: each invocation processes ONLY
        # files not yet in the checkpoint, append-mode emits a window once
        # its watermark passes (exactly-once into the sink), and state
        # carries across runs. The reference has no streaming surface — this
        # is the §2b north-star extension productized behind the same config
        # file.
        from .sources.tables import events_stream, table_path
        from .streaming.sizing import start_sized
        from .streaming.windows import tumbling_counts

        rollup_path = join_uri(
            out_root, stream_cfg.get("events_rollup_key", "events_rollup")
        )
        ckpt_path = join_uri(out_root, "_checkpoints", "events_rollup")
        duration = stream_cfg.get("window", "10 minutes")
        log.info("job 3: streaming events rollup -> %s", rollup_path)
        t3 = time.perf_counter()
        stream = events_stream(spark, sf_dir).withWatermark(
            "ts", stream_cfg.get("watermark", "1 hour")
        )
        writer = (
            tumbling_counts(stream, duration)
            .writeStream.format("parquet")
            .option("path", rollup_path)
            .outputMode("append")
            .trigger(availableNow=True)
        )
        # State sized from the events footer, not the session's batch
        # shuffle-partition count (mostly-empty state partitions are pure
        # commit I/O); the checkpoint pins the count for later runs. A
        # local checkpoint commits with plain renames instead of a forked
        # `readlink` per file (see streaming/sizing.py). start_sized
        # restores both session settings before it returns, so jobs 1–2
        # plan with them while the stream runs on its own clone.
        query = start_sized(
            writer, table_path(sf_dir, "events"), checkpoint=ckpt_path
        )
    try:
        # join_uri: output_dir may be a plain dir or an object-store-shaped
        # URI (file:// in tests, s3a:// on a cluster) — see sources/io.py.
        prices_path = join_uri(out_root, config["target"]["prices_key"])
        log.info("job 1: prices ETL -> %s (run %s)", prices_path, run_key)
        t0 = time.perf_counter()
        prices_df = steam_job1_prices_etl(spark, sf_dir)
        (
            prices_df.withColumn("run_key", F.lit(run_key))
            .write.mode("append")
            .partitionBy("run_key")
            .parquet(prices_path)
        )
        outputs["prices"] = prices_path
        log.info("job 1: landed in %.2f s", time.perf_counter() - t0)

        worldmap_path = join_uri(out_root, config["target"]["worldmap_key"])
        log.info("job 2: world-map deviation -> %s (run %s)", worldmap_path, run_key)
        t0 = time.perf_counter()
        # Job 2 builds on job 1's frame, as the reference's job 2 reads job
        # 1's output: the plan objects are reused, not job 1's results.
        worldmap_df = world_map_job2_deviation(spark, sf_dir, prices=prices_df)
        (
            worldmap_df.withColumn("run_key", F.lit(run_key))
            .write.mode("append")
            .partitionBy("run_key")
            .parquet(worldmap_path)
        )
        outputs["worldmap"] = worldmap_path

        png_path = local_path(
            join_uri(
                out_root,
                config["target"].get("worldmap_png_key", "world_map_png"),
                f"run_key={run_key}",
                "world_map.png",
            )
        )
        log.info("job 2: PNG artifact -> %s", png_path)
        # The PNG renders what job 2 landed for this run: a scan of its
        # small partition, not a second execution of job 2's plan. Reading
        # with the schema job 2 wrote skips the footer-inference Spark job.
        landed = spark.read.schema(worldmap_df.schema).parquet(
            join_uri(worldmap_path, f"run_key={run_key}")
        )
        outputs["worldmap_png"] = world_map_png(landed, "usd_dif", "iso_a3", png_path)
        log.info("job 2: landed with its PNG in %.2f s", time.perf_counter() - t0)

        if query is not None:
            query.awaitTermination()
            outputs["events_rollup"] = rollup_path
            progress = query.recentProgress
            log.info(
                "job 3: %d batches, %d input rows, %d ms in triggers, "
                "%d ms in state commits; done %.2f s after its start",
                len(progress),
                sum(p.numInputRows for p in progress),
                sum(p.durationMs.get("triggerExecution", 0) for p in progress),
                sum(op.commitTimeMs for p in progress for op in p.stateOperators),
                time.perf_counter() - t3,
            )
    finally:
        if query is not None and query.isActive:
            query.stop()
    return outputs


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("config", help="path to the YAML job config")
    args = parser.parse_args(argv)
    with open(args.config) as f:
        config = yaml.safe_load(f)
    logging.basicConfig(
        level=config.get("logging", {}).get("level", "INFO"),
        format="%(asctime)s %(name)s %(levelname)s %(message)s",
    )
    outputs = run_jobs(config)
    for job, path in outputs.items():
        log.info("done: %s -> %s", job, path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
