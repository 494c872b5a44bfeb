"""Behavioral properties of the data-selection / sketch tier
(plans/corpus_select.py): the guarantees the oracles can't state row-by-row
— Bloom's no-false-negative law, CMS's no-undercount law, entropy ordering
on constructed degenerate documents, and the weighted sampler's
partitioning-independence."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

from steam_prices_data_engineering_spark.plans import registry
from steam_prices_data_engineering_spark.plans.corpus_select import (
    bloom_prefilter_decontam,
    cms_heavy_hitters,
    doc_char_entropy,
    dsir_importance_select,
)


def test_bloom_never_misses(spark):
    """Bloom law: every exact decontamination hit is a bloom hit — the
    prefilter can only over-approximate. false_positive must equal the
    bloom/exact disagreement exactly."""
    rows = bloom_prefilter_decontam(spark, SF_DIR).collect()
    assert rows
    assert all(r.bloom_hit == 1 for r in rows if r.exact_hit == 1)
    for r in rows:
        assert r.false_positive == (1 if r.bloom_hit == 1 and r.exact_hit == 0 else 0)


def test_cms_never_undercounts(spark):
    """CMS law: min-of-counters >= true count on every candidate."""
    rows = cms_heavy_hitters(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r.cms_cnt >= r.exact_cnt for r in rows)
    assert all(r.over_estimate == r.cms_cnt - r.exact_cnt for r in rows)


def test_char_entropy_orders_degenerate_docs(spark, tmp_path):
    """A key-mash/repeated-char doc must score (near) zero nats and trip
    the low_diversity gate; natural text must clear it."""
    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaaaaaaaaaaaaaaaaaa", "en", "src0", 24),
            (2, "the quick brown fox jumps over the lazy dog", "en", "src0", 44),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out_dir = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(f"{out_dir}/documents.parquet")
    rows = {r.doc_id: r for r in doc_char_entropy(spark, out_dir).collect()}
    assert rows[1].char_entropy == 0.0 and rows[1].low_diversity
    assert rows[2].char_entropy > 2.5 and not rows[2].low_diversity
    assert rows[2].alphabet_size > rows[1].alphabet_size == 1


def test_weighted_sample_partitioning_independent(spark):
    """The exponential-race sample is a pure function of (doc_id, weight):
    the same 30 winners in the same rank order regardless of input
    partitioning."""
    weighted_sample_expkeys = registry.queries()["weighted_sample_expkeys"]
    base = weighted_sample_expkeys(spark, SF_DIR).orderBy("rank").collect()
    assert [r.rank for r in base] == list(range(1, 31))
    # the race key is strictly a per-row function, so the winners are
    # identical under any physical layout of the input
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = weighted_sample_expkeys(spark, SF_DIR).orderBy("rank").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert [(r.doc_id, r.race_key) for r in base] == [
        (r.doc_id, r.race_key) for r in again
    ]


def test_dsir_scores_exclude_target_and_rank_stably(spark):
    """DSIR selection never returns a target-domain doc; ranks are dense
    1..K and ordered by (weight desc, doc_id)."""
    from steam_prices_data_engineering_spark.plans.corpus_select import (
        _DSIR_TARGET_SOURCE,
    )
    from steam_prices_data_engineering_spark.sources.tables import read_table

    out = dsir_importance_select(spark, SF_DIR).orderBy("rank").collect()
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    weights = [r.weight for r in out]
    assert weights == sorted(weights, reverse=True)
    target_ids = {
        r.doc_id
        for r in read_table(spark, SF_DIR, "documents")
        .filter(f"source = '{_DSIR_TARGET_SOURCE}'")
        .select("doc_id")
        .collect()
    }
    assert not target_ids & {r.doc_id for r in out}


@pytest.mark.parametrize(
    "name",
    ["dsir_importance_select", "cms_heavy_hitters", "bloom_prefilter_decontam"],
)
def test_selection_dims_broadcast(spark, name):
    """The log-ratio table / CMS sketch / Bloom bitmap must reach the
    scoring join as a broadcast — a shuffle there would carry the full
    token (or shingle-position) stream."""
    from steam_prices_data_engineering_spark.plans import registry

    df = registry.queries()[name](spark, SF_DIR)
    explained = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in explained
