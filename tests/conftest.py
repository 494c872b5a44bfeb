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
# the memoized frame recomputes from parquet as before. Keyed on the
# session's applicationId too, as sources/tables.py keys _TABLE_MEMO: a
# test that restarts the session never gets a frame bound to a stopped
# context.
# ---------------------------------------------------------------------------
_BUILT: dict[tuple[str, str, str], object] = {}


def built_query(spark, name: str, sf_dir: str = SF_DIR):
    """Build (or fetch the memoized) registered query DataFrame."""
    from steam_prices_data_engineering_spark.plans import registry

    key = (spark.sparkContext.applicationId, name, sf_dir)
    df = _BUILT.get(key)
    if df is None:
        df = registry.queries()[name](spark, sf_dir)
        _BUILT[key] = df
    return df
