"""Spark 4 `transformWithStateInPandas` stateful operator (gated).

The successor API to `applyInPandasWithState` (which backs the registered
`stateful_user_totals` query): named state variables on a
`StatefulProcessor` handle, RocksDB state store, state-schema evolution,
timers. Its driver/executor state protocol is protobuf-based, so it needs
the `protobuf` Python package at RUNTIME — this container does not ship
it (`import google.protobuf` fails), which is why the operator lives here
behind `transform_with_state_available()` instead of in the query
registry: a registered query must be runnable by the correctness driver,
and this one cannot be in this environment. The accompanying test
(tests/test_operators.py::test_transform_with_state_user_stats) skips
itself when the gate is closed and runs the full availableNow-batch
equality check (vs the batch GROUP BY) where protobuf exists.

Semantics mirror `stateful_user_totals`: per-user running
(count, sum, max) held in a ValueState, emitted on update; one
availableNow batch over a static parquet equals the batch aggregation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def transform_with_state_available() -> bool:
    """True iff the runtime can execute transformWithStateInPandas
    (the state protocol needs the protobuf package)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (n_events, sum_value, max_value) via a
    StatefulProcessor ValueState; availableNow batch -> equals
    `SELECT user_id, count(*), round(sum(value),4), round(max(value),4)
    GROUP BY user_id`. Raises ImportError when the protobuf gate is
    closed (callers check transform_with_state_available())."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from ..sources.tables import events_stream, table_path
    from .sizing import run_stream

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("m", T.DoubleType()),
        ]
    )

    def _r4(x: float) -> float:
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, s, m = (
                self._totals.get() if self._totals.exists() else (0, 0.0, None)
            )
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
                batch_max = float(pdf["value"].max())
                m = batch_max if m is None else max(m, batch_max)
            self._totals.update((n, s, m))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [_r4(s)],
                    "max_value": [_r4(m)],
                }
            )

        def close(self) -> None:
            pass

    prev = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    try:
        stream = events_stream(spark, sf_dir)
        result = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        return run_stream(result, "update", table_path(sf_dir, "events"))
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)
