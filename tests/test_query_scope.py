"""Query scope of cached frames and per-session state.

`registry.queries()` releases the previous build's pins (`session.pin`)
before it builds, so a session holds at most one query's cached blocks and
a rebuild starts cold. Per-session memos drop the entries of stopped
sessions (`session.session_scoped`), and no build leaves a temp view in
the session catalog."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from steam_prices_data_engineering_spark import session
from steam_prices_data_engineering_spark.plans import registry
from steam_prices_data_engineering_spark.sources import tables

# Both keep a pin whatever its timing: a plan-shape test asserts q11's,
# and kneser_ney is a benchmarked query.
A, B = "tpch_q11_important_stock", "kneser_ney_bigram_ppl"


def _persistent_rdds(spark, before: frozenset = frozenset()) -> set[int]:
    """Persisted RDD ids, less those of `before`: earlier tests leave
    localCheckpoint RDDs that no cache call owns."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before


def _build_and_collect(spark, name: str):
    df = registry.queries()[name](spark, SF_DIR)
    return sorted(df.collect())


def test_next_query_releases_the_previous_querys_pins(spark):
    spark.catalog.clearCache()
    before = frozenset(_persistent_rdds(spark))
    _build_and_collect(spark, B)
    b_alone = len(_persistent_rdds(spark, before))
    assert b_alone > 0

    _build_and_collect(spark, A)
    a_rdds = _persistent_rdds(spark, before)
    assert a_rdds
    _build_and_collect(spark, B)
    after = _persistent_rdds(spark, before)
    assert not after & a_rdds, "query A's cached blocks outlived query B's build"
    assert len(after) == b_alone


def test_rebuild_releases_the_first_builds_pins(spark):
    spark.catalog.clearCache()
    before = frozenset(_persistent_rdds(spark))
    first_rows = _build_and_collect(spark, A)
    first = _persistent_rdds(spark, before)
    assert first
    again_rows = _build_and_collect(spark, A)
    again = _persistent_rdds(spark, before)
    assert again and not again & first, "the rebuild read the first build's blocks"
    assert again_rows == first_rows


def test_release_drops_stopped_sessions_without_a_jvm_call(spark):
    class _Stopped:
        def unpersist(self):
            raise AssertionError("unpersist on a stopped session's frame")

    session._PINS["app-stopped"] = {0: _Stopped()}
    session.release_pins(spark)
    assert session._PINS == {spark.sparkContext.applicationId: {}}


def test_read_table_drops_stopped_sessions_memo(spark):
    tables._TABLE_MEMO["app-stopped"] = {(SF_DIR, "nation"): object()}
    tables._STREAM_MEMO["app-stopped"] = {SF_DIR: object()}
    tables.read_table(spark, SF_DIR, "nation")
    tables.events_stream(spark, SF_DIR)
    assert list(tables._TABLE_MEMO) == [spark.sparkContext.applicationId]
    assert list(tables._STREAM_MEMO) == [spark.sparkContext.applicationId]


def test_foreachbatch_sink_result_survives_a_cache_clear(spark):
    """The builder removes its foreachBatch landing before it returns, so
    the frame it returns must not depend on that landing's files."""
    df = registry.queries()["streaming_foreachbatch_sink"](spark, SF_DIR)
    before = sorted(df.collect())
    spark.catalog.clearCache()
    assert sorted(df.collect()) == before


@pytest.mark.parametrize(
    "name", ["bpe_train_merges", "bpe_apply_compression", "bpe_roundtrip_fidelity"]
)
def test_next_query_releases_the_bpe_vocab_generations(spark, name):
    """The BPE learner caches one vocab generation per merge; the next
    build releases the ones its loop did not."""
    before = frozenset(_persistent_rdds(spark))
    _build_and_collect(spark, name)
    left = _persistent_rdds(spark, before)
    assert left, "the learner cached no vocab generation"
    registry.queries()[A](spark, SF_DIR)
    assert not _persistent_rdds(spark, before) & left


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize(
    "name",
    [
        "sql_scalar_subquery",
        "sql_tpch_q18_large_orders",
        "sql_in_subquery",
        "sql_lateral_topn",
        "sql_grouping_sets",
        "sql_parameterized_query",
        "udtf_token_positions",
        "tpch_q1_pricing_summary",
    ],
)
def test_build_leaves_no_temp_view(spark, name):
    """A query that runs SQL text over temp views drops them before it
    returns; its frame, analysed already, still collects."""
    before = _temp_views(spark)
    df = registry.queries()[name](spark, SF_DIR)
    assert _temp_views(spark) - before == set()
    assert df.collect()
