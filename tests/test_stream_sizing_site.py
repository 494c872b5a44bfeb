"""Repo scans: one site sizes and starts streams.

A stream's state-store partition count is frozen from the session's
shuffle-partition setting when it starts. `streaming/sizing.py:start_sized`
is the one place that sets it around a stream start (and restores it);
`session.py` sets the batch default. Any other module that names the
setting is hand-rolling the set/start/restore block again.

The checkpoint-manager setting is `start_sized`'s alone too: it
picks the FileSystem-based manager only for a local checkpoint, and a
session-wide setting would apply it to HDFS and object-store checkpoints
too.

Likewise `streaming/sizing.py:run_stream` is the one memory-sink runner:
a module that builds its own memory sink or calls a writer's `.start()`
bypasses both the sizing and the sink drop.
"""

from __future__ import annotations

import os
import re

import steam_prices_data_engineering_spark as pkg

SETTING = "spark.sql.shuffle.partitions"
MANAGER_SETTING = "spark.sql.streaming.checkpointFileManagerClass"
SIZING = os.path.join("streaming", "sizing.py")
ALLOWED = {"session.py", SIZING}
# `.start()` with its parentheses: `F.col("w.start")` is a column, not a call
STREAM_START = re.compile(r"""format\(\s*["']memory["']\s*\)|\.start\(\)""")


def _package_sources():
    root = os.path.dirname(pkg.__file__)
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, root), f.read()


def test_only_session_and_sizing_name_the_partition_setting():
    offenders = [
        rel
        for rel, text in _package_sources()
        if SETTING in text and rel not in ALLOWED
    ]
    assert not offenders, offenders


def test_only_sizing_names_the_checkpoint_manager_setting():
    offenders = [
        rel
        for rel, text in _package_sources()
        if MANAGER_SETTING in text and rel != SIZING
    ]
    assert not offenders, offenders


def test_only_sizing_starts_a_stream():
    offenders = [
        (rel, m.group(0))
        for rel, text in _package_sources()
        if rel != SIZING
        for m in STREAM_START.finditer(text)
    ]
    assert not offenders, offenders
