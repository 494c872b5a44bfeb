"""Unit tests for the footer-derived state-partition sizing (r11,
VERDICT r10 next-round #8: replace the fixed local default with a
data-derived count, keeping the env override)."""

from __future__ import annotations

import logging

import pyarrow as pa
import pyarrow.parquet as pq

from steam_prices_data_engineering_spark.streaming.sizing import (
    stream_state_partitions,
)


def _write(path, n):
    pq.write_table(pa.table({"x": pa.array(range(n))}), path)


def test_local_sf_rows_derive_the_measured_floor(tmp_path):
    # 100k rows (sf0.1 events) -> the measured-optimal 4.
    p = str(tmp_path / "e.parquet")
    _write(p, 100_000)
    assert stream_state_partitions(p) == "4"


def test_large_landing_scales_up_and_caps(tmp_path):
    p = str(tmp_path / "e.parquet")
    _write(p, 1_000_000)
    # 1M rows / 50k = 20 -> next pow2 = 32
    assert stream_state_partitions(p) == "32"
    assert stream_state_partitions(p, cap=16) == "16"


def test_directory_landing_sums_files(tmp_path):
    d = tmp_path / "land"
    d.mkdir()
    _write(str(d / "a.parquet"), 300_000)
    _write(str(d / "b.parquet"), 300_000)
    # 600k / 50k = 12 -> 16
    assert stream_state_partitions(str(d)) == "16"


def test_missing_path_falls_back_to_floor():
    assert stream_state_partitions(None) == "4"
    assert stream_state_partitions("/nonexistent/x.parquet", floor=8) == "8"


def test_env_override_wins(tmp_path, monkeypatch):
    p = str(tmp_path / "e.parquet")
    _write(p, 1_000_000)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "7")
    assert stream_state_partitions(p) == "7"


def test_file_uri_sizes_like_the_plain_path(tmp_path):
    p = str(tmp_path / "e.parquet")
    _write(p, 1_000_000)
    assert stream_state_partitions("file://" + p) == stream_state_partitions(p)
    assert stream_state_partitions("file://" + p) == "32"


def test_fallbacks_log_a_warning(tmp_path, caplog):
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet footer")
    missing = str(tmp_path / "gone.parquet")
    with caplog.at_level(logging.WARNING, logger="steam_prices_spark"):
        assert stream_state_partitions(str(bad), floor=8) == "8"
        assert stream_state_partitions("s3a://bucket/e.parquet") == "4"
        assert stream_state_partitions(missing, floor=2) == "2"
    text = caplog.text
    assert str(bad) in text and "floor 8" in text
    assert "s3a://bucket/e.parquet" in text and "floor 4" in text
    assert missing in text and "floor 2" in text


def test_no_landing_is_silent(caplog):
    # source=None: a stream with no parquet landing (e.g. the REST source)
    # sizes to the floor without a fallback warning
    with caplog.at_level(logging.WARNING, logger="steam_prices_spark"):
        assert stream_state_partitions(None) == "4"
        assert stream_state_partitions(None, floor=8) == "8"
    assert not caplog.records

