"""Scratch landings: `session.landing` owns every file a builder writes
and reads back.

A landing lives under the session's `SparkFiles` root, which Spark deletes
on `spark.stop()`, so builders write nothing into the checkout and no
landing outlives its session. The bucketed join's table is reused within
the session only while its source files are unchanged.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import duckdb
import pyarrow.parquet as pq
import pytest

import steam_prices_data_engineering_spark as pkg
from conftest import SF_DIR
from steam_prices_data_engineering_spark.plans import registry
from test_stream_sizing_site import _package_sources
from tools.check_oracle import TABLES, compare

REPO = os.path.dirname(os.path.dirname(pkg.__file__))
BUCKETED = "bucketed_join_no_shuffle"
LANDING_QUERIES = [
    "sink_partitioned_latest_run",
    "csv_source_pruned",
    "jsonl_source_roundtrip",
    "orc_source_roundtrip",
    "text_source_line_stats",
    "binaryfile_source_metadata",
    "xml_source_roundtrip",
    "streaming_foreachbatch_sink",
    "streaming_restart_carryover",
    "streaming_state_introspection",
    BUCKETED,
]


def test_no_module_names_the_checkout():
    offenders = [
        rel
        for rel, text in _package_sources()
        if REPO in text or ".scratch" in text
    ]
    assert not offenders, offenders


def test_only_session_makes_temp_dirs():
    offenders = [
        rel
        for rel, text in _package_sources()
        if "mkdtemp" in text and rel != "session.py"
    ]
    assert not offenders, offenders


def _checkout_mtimes() -> dict[str, int]:
    """mtime of every file and directory in the checkout, less git's and
    the interpreter's bytecode caches."""
    seen = {}
    for dirpath, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in (".git", "__pycache__")]
        for name in [*dirs, *files]:
            path = os.path.join(dirpath, name)
            seen[path] = os.lstat(path).st_mtime_ns
    return seen


def test_landing_queries_read_and_write_only_the_session_root(spark):
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    # The session catalog creates its default (cwd-relative) warehouse
    # directory on first use; that is Spark's, not a landing.
    spark.catalog.listDatabases()
    before = _checkout_mtimes()
    for name in LANDING_QUERIES:
        df = registry.queries()[name](spark, SF_DIR)
        df.collect()
        outside = [
            f
            for f in df.inputFiles()
            if not urlparse(f).path.startswith((root + os.sep, SF_DIR + os.sep))
        ]
        assert not outside, (name, outside)
    changed = {path for path, _ in _checkout_mtimes().items() ^ before.items()}
    assert not changed, sorted(changed)


@pytest.fixture
def sf_copy(tmp_path):
    """A private, writable copy of the fixture, which a test may
    regenerate."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, name), sf / name)
    return str(sf)


def _build_bucketed(spark, sf: str, group: str):
    """Build the bucketed join through `queries()`; returns (the Spark
    jobs its builder launched, the built frame)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = registry.queries()[BUCKETED](spark, sf)
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group)), df


def test_bucketed_landing_is_reused_within_the_session(spark, sf_copy):
    first_jobs, first = _build_bucketed(spark, sf_copy, "bucketed-first")
    again_jobs, again = _build_bucketed(spark, sf_copy, "bucketed-again")
    assert first_jobs > 0, "the first build did not land the tables"
    assert again_jobs == 0, "an unchanged source was landed again"
    assert sorted(again.collect()) == sorted(first.collect())


def test_bucketed_join_answers_for_a_source_regenerated_in_place(spark, sf_copy):
    _build_bucketed(spark, sf_copy, "bucketed-before")[1].collect()
    orders = f"{sf_copy}/orders.parquet"
    table = pq.read_table(orders)
    pq.write_table(table.slice(0, table.num_rows // 2), orders)

    _, df = _build_bucketed(spark, sf_copy, "bucketed-after")
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_copy}/{t}.parquet')"
            )
        rel = con.execute(registry.oracle_sql()[BUCKETED])
        oracle = rel.fetchall(), [d[0] for d in rel.description]
    err = compare(BUCKETED, df, *oracle)
    assert err is None, err
