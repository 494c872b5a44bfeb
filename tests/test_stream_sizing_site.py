"""Repo scan: one site sizes stateful streams.

A stream's state-store partition count is frozen from the session's
shuffle-partition setting when it starts. `streaming/sizing.py:start_sized`
is the one place that sets it around a stream start (and restores it);
`session.py` sets the batch default. Any other module that names the
setting is hand-rolling the set/start/restore block again.
"""

from __future__ import annotations

import os

import steam_prices_data_engineering_spark as pkg

SETTING = "spark.sql.shuffle.partitions"
ALLOWED = {"session.py", os.path.join("streaming", "sizing.py")}


def test_only_session_and_sizing_name_the_partition_setting():
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            with open(path, encoding="utf-8") as f:
                if SETTING in f.read() and rel not in ALLOWED:
                    offenders.append(rel)
    assert not offenders, offenders
