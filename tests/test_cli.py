"""End-to-end test of the config-driven job runner (cli.py — the run.py
equivalent): both jobs land run-partitioned parquet, a second run appends a
new partition, and the latest-run selection reads back exactly one run.
"""

from __future__ import annotations

import json
import os
import shutil

import yaml

from pyspark.sql import functions as F

from steam_prices_data_engineering_spark.cli import run_jobs

CONFIG = {
    "app_name": "cli-test",
    "source": {"sf_dir": "/root/testdata/sf0.001"},
    "target": {
        "output_dir": "/root/repo/.scratch/cli_test_out",
        "prices_key": "steam_etl",
        "worldmap_key": "world_map",
    },
}


def test_cli_runs_both_jobs_with_run_partitions(spark):
    shutil.rmtree(CONFIG["target"]["output_dir"], ignore_errors=True)
    out1 = run_jobs(CONFIG, spark=spark, run_ts="20240101000000")
    out2 = run_jobs(CONFIG, spark=spark, run_ts="20240102000000")
    # Table roots are run-independent (runs append partitions under them);
    # the PNG artifact (S8) is one file PER run.
    assert out1["prices"] == out2["prices"]
    assert out1["worldmap"] == out2["worldmap"]
    assert out1["worldmap_png"] != out2["worldmap_png"]
    for out in (out1, out2):
        blob = open(out["worldmap_png"], "rb").read()
        assert blob.startswith(b"\x89PNG\r\n\x1a\n")

    prices = spark.read.parquet(out1["prices"])
    # Reference schema (etl_config.yml:40) + the run partition column.
    assert set(prices.columns) == {
        "app", "country_iso", "currency_steam", "usd_price", "run_key",
    }
    assert prices.select("run_key").distinct().count() == 2

    # Latest-run selection (S6/O32): max run_key, partition-pruned read.
    latest = prices.agg(F.max("run_key").alias("k")).collect()[0].k
    # Partition-column type inference yields a long for all-digit keys.
    assert str(latest) == "20240102000000"
    one_run = prices.filter(F.col("run_key") == latest)
    assert one_run.count() == prices.count() / 2

    worldmap = spark.read.parquet(out1["worldmap"])
    assert "usd_dif" in worldmap.columns and "steam_value" in worldmap.columns
    assert worldmap.filter(F.col("run_key") == latest).count() == 14


def _pinned_state_partitions(output_dir):
    """Distinct shuffle-partition counts recorded in job 3's offset log."""
    log_dir = os.path.join(output_dir, "_checkpoints", "events_rollup", "offsets")
    pinned = set()
    for name in os.listdir(log_dir):
        if name.isdigit():
            with open(os.path.join(log_dir, name)) as f:
                meta = json.loads(f.read().splitlines()[1])
            pinned.add(meta["conf"]["spark.sql.shuffle.partitions"])
    return sorted(pinned)


def test_cli_streaming_rollup_incremental_and_idempotent(spark):
    """Job 3: the streaming rollup lands append-mode windowed counts in
    parquet behind a checkpoint. Emitted rows must equal the batch
    tumbling aggregation restricted to window_end <= watermark (the
    append-mode emission rule), and a SECOND invocation over the same
    source must process zero new files (checkpoint: no duplicate rows)."""
    import shutil

    from steam_prices_data_engineering_spark.sources.tables import (
        read_table,
        table_path,
    )
    from steam_prices_data_engineering_spark.streaming.sizing import (
        stream_state_partitions,
    )
    from steam_prices_data_engineering_spark.streaming.windows import (
        tumbling_counts,
    )

    cfg = {
        "app_name": "cli-stream-test",
        "source": {"sf_dir": "/root/testdata/sf0.001"},
        "target": {
            "output_dir": "/root/repo/.scratch/cli_stream_out",
            "prices_key": "steam_etl",
            "worldmap_key": "world_map",
        },
        "streaming": {"enabled": True},
    }
    shutil.rmtree(cfg["target"]["output_dir"], ignore_errors=True)
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_jobs(cfg, spark=spark, run_ts="20240101000000")
    # The stream's state is sized from the events footer and pinned in the
    # checkpoint; the session's batch setting is left as it was.
    assert _pinned_state_partitions(cfg["target"]["output_dir"]) == [
        stream_state_partitions(table_path(cfg["source"]["sf_dir"], "events"))
    ]
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_parts
    landed = spark.read.parquet(out["events_rollup"].replace("file://", ""))
    n1 = landed.count()

    ev = read_table(spark, cfg["source"]["sf_dir"], "events")
    wm = ev.agg(F.max("ts").cast("long").alias("m")).collect()[0].m - 3600
    expected = (
        tumbling_counts(ev)
        .filter((F.col("window_start") + 600) <= wm)
    )
    exp_rows = {tuple(r) for r in expected.collect()}
    got_rows = {tuple(r) for r in landed.collect()}
    assert got_rows == exp_rows, (len(got_rows), len(exp_rows))

    # second run: checkpoint says everything is processed -> no new rows
    run_jobs(cfg, spark=spark, run_ts="20240102000000")
    n2 = spark.read.parquet(
        out["events_rollup"].replace("file://", "")
    ).count()
    assert n2 == n1


def test_cli_streaming_resumes_a_checkpoint_with_another_count(
    spark, tmp_path, monkeypatch
):
    """A checkpoint written at 32 state partitions (the session default
    before job 3 was sized) resumes unchanged: Spark restores the pinned
    count, so the second run raises nothing and lands no new rows."""
    cfg = {
        "source": {"sf_dir": CONFIG["source"]["sf_dir"]},
        "target": dict(CONFIG["target"], output_dir=str(tmp_path)),
        "streaming": {"enabled": True},
    }
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "32")
    out = run_jobs(cfg, spark=spark, run_ts="20240101000000")
    n1 = spark.read.parquet(out["events_rollup"]).count()
    assert _pinned_state_partitions(str(tmp_path)) == ["32"]

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    run_jobs(cfg, spark=spark, run_ts="20240102000000")
    assert spark.read.parquet(out["events_rollup"]).count() == n1
    assert _pinned_state_partitions(str(tmp_path)) == ["32"]
