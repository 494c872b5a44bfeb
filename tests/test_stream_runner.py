"""`streaming/sizing.py:run_stream` owns its memory sink: a stream query's
build leaves no catalog table and no active stream behind, and the frame
it returns still reads every row after the sink's view is dropped.

Builds go through the registry directly (not `conftest.built_query`'s
memo), so every stream really runs here. One query per former
hand-rolled memory-sink site. Its temporary checkpoint is local, so it
commits through Spark's FileSystem-based checkpoint manager.
"""

from __future__ import annotations

import duckdb
import pytest

from steam_prices_data_engineering_spark.plans import registry
from steam_prices_data_engineering_spark.streaming import sizing
from tools.check_oracle import TABLES

SF_DIR = "/root/testdata/sf0.001"

STREAM_QUERIES = [
    "streaming_tumbling_window",  # streaming/windows.py
    "streaming_join_then_window",  # plans/round8.py
    "streaming_restart_carryover",  # plans/round9.py, caller checkpoint
    "streaming_state_introspection",  # plans/round9.py, statestore read
    "streaming_interval_join",  # plans/scale_patterns.py
    "streaming_event_pattern",  # plans/patterns.py
    "streaming_dedup_within_watermark",  # plans/udf_and_scale.py
    "stateful_user_totals",  # plans/udf_and_scale.py
    "streaming_steam_source_extract",  # plans/pipelines.py, source=None
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _tables(spark):
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_build_leaves_no_sink(spark, duck, name):
    before = _tables(spark)
    df = registry.queries()[name](spark, SF_DIR)
    assert _tables(spark) - before == set()
    assert spark.streams.active == []
    want = len(duck.execute(registry.oracle_sql()[name]).fetchall())
    assert len(df.collect()) == want


def test_memory_sink_stream_commits_by_filesystem_rename(spark, monkeypatch):
    """A `run_stream` query with Spark's temporary (local) checkpoint
    commits its offset log through `FileSystemBasedCheckpointFileManager`,
    and the session's manager setting reads the same afterwards. The
    start returns only once the query has built its sources (the file
    source's log takes its manager from the session then)."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    queries, states = [], []
    start_sized = sizing.start_sized

    def recording_start(*args, **kwargs):
        queries.append(start_sized(*args, **kwargs))
        states.append(queries[-1]._jsq.streamingQuery().state().get().toString())
        return queries[-1]

    monkeypatch.setattr(sizing, "start_sized", recording_start)
    before = spark.conf.get(key, None)
    registry.queries()["streaming_tumbling_window"](spark, SF_DIR)
    assert spark.conf.get(key, None) == before
    (query,) = queries
    assert states[0] in ("ACTIVE", "TERMINATED"), states
    manager = query._jsq.streamingQuery().offsetLog().fileManager()
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
