"""`streaming/sizing.py:local_checkpoint` decides, without starting a
stream or creating a FileSystem, whether a stream's checkpoint is on the
local filesystem (and so may commit through the FileSystem-based
checkpoint manager)."""

from __future__ import annotations

import pytest

from steam_prices_data_engineering_spark.streaming.sizing import local_checkpoint

DEFAULT_FS = "fs.defaultFS"
SESSION_CHECKPOINT = "spark.sql.streaming.checkpointLocation"


@pytest.mark.parametrize(
    "checkpoint, local",
    [
        ("file:///x", True),
        ("/tmp/x", True),
        (None, True),
        ("s3a://b/x", False),
        ("hdfs://nn/x", False),
    ],
)
def test_scheme_decides(spark, checkpoint, local):
    assert spark.sparkContext._jsc.hadoopConfiguration().get(DEFAULT_FS) == "file:///"
    assert local_checkpoint(spark, checkpoint) is local


def test_plain_path_follows_the_default_fs(spark):
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = conf.get(DEFAULT_FS)
    conf.set(DEFAULT_FS, "hdfs://nn")
    try:
        assert local_checkpoint(spark, "/tmp/x") is False
        assert local_checkpoint(spark, None) is False
        assert local_checkpoint(spark, "file:///x") is True
    finally:
        conf.set(DEFAULT_FS, prev)


def test_session_checkpoint_location_is_used_when_none_is_given(spark):
    spark.conf.set(SESSION_CHECKPOINT, "s3a://b/ckpt")
    try:
        assert local_checkpoint(spark, None) is False
        assert local_checkpoint(spark, "/tmp/x") is True
    finally:
        spark.conf.unset(SESSION_CHECKPOINT)
