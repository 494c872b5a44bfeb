"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real content lives in ``steam_prices_data_engineering_spark``:
- plans/registry.py — every query + its oracle (aliased identically; floats
  rounded with the cross-engine-deterministic dround on both sides).
- session.py / sources/tables.py — session defaults + typed IO with
  NaN->NULL normalization.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from steam_prices_data_engineering_spark.plans import registry as _registry
from steam_prices_data_engineering_spark.session import configure_session


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Per-nation avg order value vs the world average with percent/absolute
    deviation columns — the reference's analytical core
    (world_map_transformer.py:120-125) on the fixture star schema.
    """
    configure_session(spark)
    flagship = _registry.queries()["flagship_nation_price_dev"]
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (both the
    reference-parity set §2a and the extension set §2b)."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_session(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query — one for EVERY query, none
    exempted: iterative algorithms (kmeans, pagerank, connected
    components) unroll their fixed iterations as nested CTEs, and the
    sketch-based `approx_aggregates` emits exact companions plus
    error-bound booleans the oracle asserts."""
    return _registry.oracle_sql()
