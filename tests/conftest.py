from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from steam_prices_data_engineering_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# ---------------------------------------------------------------------------
# Shared builder memo (r11, VERDICT r10 next-round #2: suite wall time).
#
# A registered query builder is a PURE function (spark, sf_dir) -> lazy
# DataFrame — except the streaming ones, which run their availableNow
# stream at build time, and several that collect a bounded frame. The
# whole-registry plan census (test_plans) and the 403-query oracle sweep
# (test_queries) each invoked every builder once: ~2x 403 builds, with the
# streaming builders running their streams twice. Memoizing the built
# DataFrame per (name, sf_dir) halves that — the plan census reads the
# SAME immutable plan object the sweep collects from, which is exactly the
# production calling pattern (one build, many consumers). Measured: suite
# 1867s -> see OPTIMIZATION_r11.md. NOT result caching: collect/noop over
# the memoized frame recomputes from parquet as before. A frame whose pins
# (`session.pin`) a later build released is rebuilt. Per session, as
# sources/tables.py keeps _TABLE_MEMO: a test that restarts the session
# never gets a frame bound to a stopped context.
# ---------------------------------------------------------------------------
_BUILT: dict[str, dict[tuple[str, str], tuple]] = {}


def built_query(spark, name: str, sf_dir: str = SF_DIR):
    """Build (or fetch the memoized) registered query DataFrame."""
    from steam_prices_data_engineering_spark.plans import registry
    from steam_prices_data_engineering_spark.session import _PINS, session_scoped

    built = session_scoped(_BUILT, spark)
    df, pins = built.get((name, sf_dir), (None, []))
    if df is None or not all(p.is_cached for p in pins):
        # first build, or a later build released this one's pins: a
        # rebuild gives the plan a caller of `queries()` would see
        df = registry.queries()[name](spark, sf_dir)
        built[(name, sf_dir)] = df, list(session_scoped(_PINS, spark).values())
    return df
