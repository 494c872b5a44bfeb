"""End-to-end test of the config-driven job runner (cli.py — the run.py
equivalent): both jobs land run-partitioned parquet, a second run appends a
new partition, and the latest-run selection reads back exactly one run.
The PNG is rendered from job 2's landing. Job 3's stream starts before
job 1 and is stopped if job 1 fails; its local checkpoint commits through
Spark's FileSystem-based manager and resumes one the default manager wrote.
"""

from __future__ import annotations

import json
import logging
import os

import pytest

from pyspark.sql import functions as F

from steam_prices_data_engineering_spark import cli
from steam_prices_data_engineering_spark.cli import run_jobs
from steam_prices_data_engineering_spark.streaming import sizing
from tests.conftest import SF_DIR


def _config(output_dir, streaming=False):
    cfg = {
        "app_name": "cli-test",
        "source": {"sf_dir": SF_DIR},
        "target": {
            "output_dir": str(output_dir),
            "prices_key": "steam_etl",
            "worldmap_key": "world_map",
        },
    }
    if streaming:
        cfg["streaming"] = {"enabled": True}
    return cfg


def test_cli_runs_both_jobs_with_run_partitions(spark, tmp_path):
    cfg = _config(tmp_path)
    out1 = run_jobs(cfg, spark=spark, run_ts="20240101000000")
    out2 = run_jobs(cfg, spark=spark, run_ts="20240102000000")
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


def test_cli_png_renders_job2s_landing(spark, tmp_path, monkeypatch):
    """The PNG is rendered from the partition job 2 landed for this run,
    not from a second execution of job 2's plan. Its bytes equal a
    standalone render of job 2, also after a rerun with the same run key
    has appended a second file to that partition."""
    from steam_prices_data_engineering_spark.plans.pipelines import (
        world_map_job2_deviation,
    )
    from steam_prices_data_engineering_spark.sinks.png import world_map_png
    from steam_prices_data_engineering_spark.sources.io import local_path

    frames = []

    def capturing_png(df, *args):
        frames.append(df)
        return world_map_png(df, *args)

    monkeypatch.setattr(cli, "world_map_png", capturing_png)
    cfg = _config(tmp_path)
    run_ts = "20240101000000"
    out = run_jobs(cfg, spark=spark, run_ts=run_ts)
    partition = os.path.join(local_path(out["worldmap"]), f"run_key={run_ts}")

    def files_read(df):
        return sorted(local_path(f) for f in df.inputFiles())

    first = files_read(frames[0])
    assert first and all(os.path.dirname(f) == partition for f in first), first

    standalone = world_map_png(
        world_map_job2_deviation(spark, SF_DIR),
        "usd_dif",
        "iso_a3",
        str(tmp_path / "standalone.png"),
    )
    with open(standalone, "rb") as f:
        want = f.read()
    with open(out["worldmap_png"], "rb") as f:
        assert f.read() == want

    out2 = run_jobs(cfg, spark=spark, run_ts=run_ts)
    second = files_read(frames[1])
    assert all(os.path.dirname(f) == partition for f in second), second
    assert set(first) < set(second) and len(second) == 2 * len(first)
    with open(out2["worldmap_png"], "rb") as f:
        assert f.read() == want


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


def test_cli_streaming_rollup_incremental_and_idempotent(spark, tmp_path):
    """Job 3: the streaming rollup lands append-mode windowed counts in
    parquet behind a checkpoint. Emitted rows must equal the batch
    tumbling aggregation restricted to window_end <= watermark (the
    append-mode emission rule), and a SECOND invocation over the same
    source must process zero new files (checkpoint: no duplicate rows)."""
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

    cfg = _config(tmp_path, streaming=True)
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
    cfg = _config(tmp_path, streaming=True)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "32")
    out = run_jobs(cfg, spark=spark, run_ts="20240101000000")
    n1 = spark.read.parquet(out["events_rollup"]).count()
    assert _pinned_state_partitions(str(tmp_path)) == ["32"]

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    run_jobs(cfg, spark=spark, run_ts="20240102000000")
    assert spark.read.parquet(out["events_rollup"]).count() == n1
    assert _pinned_state_partitions(str(tmp_path)) == ["32"]


FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."


def _file_manager(query):
    """Class of the checkpoint manager the query's offset log commits with."""
    return query._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()


def _record_calls(monkeypatch, calls):
    """Wrap job 3's start and job 1's builder so `calls` records, in
    order, when the stream's start returned and when job 1 was built."""
    start_sized, job1 = sizing.start_sized, cli.steam_job1_prices_etl

    def recording_start(*args, **kwargs):
        query = start_sized(*args, **kwargs)
        calls.append(("job 3 started", query))
        return query

    def recording_job1(*args, **kwargs):
        calls.append(("job 1 built", None))
        return job1(*args, **kwargs)

    monkeypatch.setattr(sizing, "start_sized", recording_start)
    monkeypatch.setattr(cli, "steam_job1_prices_etl", recording_job1)


def test_cli_starts_job3_before_job1_and_awaits_it(spark, tmp_path, monkeypatch, caplog):
    """The stream is started first, so it runs while jobs 1–2 land, and
    awaited last: the rollup has landed when run_jobs returns, and each
    job logged its wall time (job 3 with its progress totals)."""
    calls = []
    _record_calls(monkeypatch, calls)
    before = spark.conf.get(FILE_MANAGER, None)
    with caplog.at_level(logging.INFO, logger="steam_prices_spark"):
        out = run_jobs(_config(tmp_path, streaming=True), spark=spark, run_ts="20240101000000")
    assert [name for name, _ in calls] == ["job 3 started", "job 1 built"]
    assert not calls[0][1].isActive
    # The local checkpoint commits by FileSystem rename (no forked
    # readlink per file); the session's own setting is left as it was.
    assert _file_manager(calls[0][1]) == MANAGERS + "FileSystemBasedCheckpointFileManager"
    assert spark.conf.get(FILE_MANAGER, None) == before
    assert spark.read.parquet(out["events_rollup"]).count() > 0
    messages = [r.getMessage() for r in caplog.records]
    assert any(m.startswith("job 1: landed in ") for m in messages)
    assert any(m.startswith("job 2: landed with its PNG in ") for m in messages)
    assert any(
        m.startswith("job 3: ") and " input rows, " in m and " ms in state commits" in m
        for m in messages
    )


def test_cli_job1_failure_stops_the_stream(spark, tmp_path, monkeypatch):
    """An error in job 1 propagates out of run_jobs and leaves no running
    stream behind: the already-started job 3 query is stopped."""
    calls = []
    _record_calls(monkeypatch, calls)

    def failing_job1(*args, **kwargs):
        raise RuntimeError("job 1 failed")

    monkeypatch.setattr(cli, "steam_job1_prices_etl", failing_job1)
    with pytest.raises(RuntimeError, match="job 1 failed"):
        run_jobs(_config(tmp_path, streaming=True), spark=spark, run_ts="20240101000000")
    assert [name for name, _ in calls] == ["job 3 started"]
    assert not calls[0][1].isActive
    assert spark.streams.active == []


def test_cli_streaming_resumes_across_checkpoint_managers(
    spark, tmp_path, monkeypatch
):
    """A checkpoint written by Spark's default FileContext-based manager
    (set explicitly on the session for the first run) resumes under the
    FileSystem-based manager job 3 picks for a local checkpoint: the
    second run raises nothing and lands no new rows."""
    calls = []
    _record_calls(monkeypatch, calls)
    cfg = _config(tmp_path, streaming=True)
    spark.conf.set(FILE_MANAGER, MANAGERS + "FileContextBasedCheckpointFileManager")
    try:
        out = run_jobs(cfg, spark=spark, run_ts="20240101000000")
    finally:
        spark.conf.unset(FILE_MANAGER)
    n1 = spark.read.parquet(out["events_rollup"]).count()
    assert n1 > 0

    run_jobs(cfg, spark=spark, run_ts="20240102000000")
    assert spark.read.parquet(out["events_rollup"]).count() == n1
    assert [_file_manager(q) for _, q in calls if q is not None] == [
        MANAGERS + "FileContextBasedCheckpointFileManager",
        MANAGERS + "FileSystemBasedCheckpointFileManager",
    ]
