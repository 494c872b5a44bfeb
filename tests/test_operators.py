"""Operator-level unit tests: deviation identity, window fill with all-NULL
group, dedup determinism, session-window edge semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from steam_prices_data_engineering_spark.operators.dedup import exact_dedup
from steam_prices_data_engineering_spark.operators.deviation import (
    group_vs_global_avg,
)
from steam_prices_data_engineering_spark.streaming.windows import session_stats


def test_deviation_identity(spark):
    """usd_dif == group_mean - world_mean (the O28 algebra,
    world_map_transformer.py:124-125)."""
    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 40.0), ("b", 50.0)], ["g", "v"]
    )
    rows = group_vs_global_avg(df, "g", "v").collect()
    world = 30.0
    by_g = {r["g"]: r for r in rows}
    assert by_g["a"]["usd_price"] == pytest.approx(15.0)
    assert by_g["a"]["usd_dif"] == pytest.approx(15.0 - world)
    assert by_g["b"]["usd_dif"] == pytest.approx(45.0 - world)
    assert by_g["a"]["perc_dif"] == pytest.approx(15.0 / world - 1)


def test_deviation_null_group(spark):
    """A group whose values are all NULL gets NULL mean and NULL deviations
    (pandas all-NaN mean parity; SURVEY.md §7.3)."""
    schema = T.StructType(
        [T.StructField("g", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    df = spark.createDataFrame([("a", 10.0), ("n", None), ("n", None)], schema)
    rows = {r["g"]: r for r in group_vs_global_avg(df, "g", "v").collect()}
    assert rows["n"]["usd_price"] is None
    assert rows["n"]["perc_dif"] is None
    assert rows["a"]["usd_price"] == pytest.approx(10.0)


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "x"), (9, "y")], ["id", "k"]
    )
    kept = exact_dedup(df, ["k"], "id").collect()
    assert sorted((r["k"], r["id"]) for r in kept) == [("x", 1), ("y", 9)]


def test_session_window_gap_edge(spark):
    """Events exactly `gap` apart DO merge (Spark merges touching session
    windows: [s, s+gap] extends on ts == s+gap); only a strictly larger gap
    starts a new session. The gaps-and-islands oracle uses `> gap`."""
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:01"),  # 30 min + 1 s later -> new session
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:30:00"),  # exactly the gap -> same session
    ]
    df = spark.createDataFrame(
        [(u, ts, 1.0) for u, ts in rows], ["user_id", "ts_s", "value"]
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    res = session_stats(df, "30 minutes").collect()
    n_sessions = {}
    for r in res:
        n_sessions[r["user_id"]] = n_sessions.get(r["user_id"], 0) + 1
    assert n_sessions[1] == 2
    assert n_sessions[2] == 1


def test_fixture_tables_are_nan_free():
    """Landed-table contract backing the read-path design: NaN->NULL is an
    ingest-boundary operator (sources/tables.py docstring), so read_table
    must not re-normalize — which is only sound if the landed parquet never
    contains NaN. Guard every double column at sf0.001."""
    import duckdb

    from steam_prices_data_engineering_spark.sources.tables import (
        _DOUBLE_COLS,
        table_path,
    )

    con = duckdb.connect()
    for name, cols in _DOUBLE_COLS.items():
        if not cols:
            continue
        path = table_path("/root/testdata/sf0.001", name)
        expr = " + ".join(f"sum(CASE WHEN isnan({c}) THEN 1 ELSE 0 END)" for c in cols)
        n = con.execute(f"SELECT {expr} FROM read_parquet('{path}')").fetchone()[0]
        assert n == 0, f"{name} contains NaN in {cols}"


def test_nan_to_null_at_ingest_boundary(spark):
    """nan_to_null (the explicit ingest operator) turns NaN into NULL so
    avg/max skip it — pandas-mean parity (world_map_transformer.py:122)."""
    from steam_prices_data_engineering_spark.sources.tables import nan_to_null
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 3.0)], ["id", "v"]
    )
    out = nan_to_null(df)
    agg = out.agg(F.avg("v").alias("m"), F.max("v").alias("mx")).collect()[0]
    assert agg.m == 2.0 and agg.mx == 3.0


def test_transform_with_state_user_stats(spark):
    """Spark 4 transformWithStateInPandas parity with the batch GROUP BY.
    Skips where the protobuf package (required by the TWS state protocol)
    is absent — see streaming/transform_with_state.py's module docstring."""
    import pytest

    from steam_prices_data_engineering_spark.streaming.transform_with_state import (
        transform_with_state_available,
        user_stats_tws,
    )

    if not transform_with_state_available():
        pytest.skip("protobuf not available: transformWithState gated off")

    from pyspark.sql import functions as F

    from steam_prices_data_engineering_spark.functions.rounding import dround
    from steam_prices_data_engineering_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_events, r.sum_value, r.max_value)
        for r in user_stats_tws(spark, sf).collect()
    }
    want = {
        r.user_id: (r.n_events, r.sum_value, r.max_value)
        for r in read_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 4).alias("sum_value"),
            dround(F.max("value"), 4).alias("max_value"),
        )
        .collect()
    }
    assert got == want


def test_observe_metrics_ride_the_job(spark):
    """`df.observe` collects accumulator-style metrics DURING the action —
    no second scan. At 100 TB this is how row counts / quality gauges are
    gathered for free alongside the real job (vs a separate count() that
    re-reads the input)."""
    from pyspark.sql import Observation

    from steam_prices_data_engineering_spark.sources.tables import read_table

    obs = Observation("ingest_stats")
    o = read_table(spark, "/root/testdata/sf0.001", "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_totalprice").alias("total_price"),
        F.max("o_orderdate").alias("max_date"),
    )
    agg = o.groupBy("o_orderstatus").count()
    n_out = agg.count()  # one action drives both the agg and the metrics
    got = obs.get
    assert n_out >= 1
    assert got["n_rows"] == read_table(
        spark, "/root/testdata/sf0.001", "orders"
    ).count()
    assert got["total_price"] > 0


def _py_shingles(text, n):
    """Reference word n-grams: Java's split(" ", -1) is Python's
    split(" "), so repeated, leading and trailing spaces yield empty
    tokens. NULL text gives [] because the session runs legacy
    size(NULL) = -1, which is below every n."""
    if text is None:
        return []
    t = text.split(" ")
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_match_python_reference(spark, n):
    """`shingles` equals the reference element for element on the edge
    inputs: NULL, '', one token, exactly n tokens, doubled, leading and
    trailing spaces, and a document longer than n."""
    from steam_prices_data_engineering_spark.functions.text import shingles

    texts = [
        None,
        "",
        "a",
        " ".join(f"w{j}" for j in range(n)),
        "a  b c",
        " a b ",
        "the cat sat on the mat and the cat sat",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", shingles(F.col("text"), n).alias("g")).collect()
    assert [r.text for r in rows] == texts
    for r in rows:
        assert r.g == _py_shingles(r.text, n), r.text


def test_ngram_jaccard_adjacent_band_recall(spark):
    """Near-dups straddling a length-band edge (98 vs 104 chars around the
    100-char boundary) ARE compared — the (lang, shingle) equi join keeps
    a residual |blk_a - blk_b| <= 1 range filter, so adjacent bands meet
    while docs >1 band apart stay blocked out (the documented recall
    contract). Each qualifying pair still matches once per shared
    shingle, so the join-count intersection stays exact."""
    from steam_prices_data_engineering_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    text_a = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "on the quiet grey town at night"
    )
    text_b = text_a + " again"
    df = spark.createDataFrame(
        [
            (1, text_a, "en", len(text_a)),   # 93 chars -> band 0
            (2, text_b, "en", len(text_b)),   # 99+ chars -> band 0/1 edge
            (3, text_b + "!", "en", 104),     # forced just over the edge
            (4, text_a, "en", 350),           # same text, 2+ bands away
        ],
        ["doc_id", "text", "lang", "n_chars"],
    )
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    assert (1, 3) in pairs, pairs  # band 0 vs band 1: found via probing
    assert (2, 3) in pairs, pairs
    assert (1, 2) in pairs, pairs  # same band still found exactly once
    assert all(4 not in p for p in pairs), pairs  # >1 band apart: blocked
    # exact-count sanity: jaccard of (1,2) is 17 shared / 18 union
    assert abs(pairs[(1, 2)] - 17.0 / 18.0) < 1e-6


def test_ngram_jaccard_rejects_nonpositive_threshold(spark):
    from steam_prices_data_engineering_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame([(1, "a b c d", "en", 7)],
                               ["doc_id", "text", "lang", "n_chars"])
    with pytest.raises(ValueError, match="threshold > 0"):
        ngram_jaccard_pairs(df, threshold=0.0)


def test_hashed_shingle_table_spread_variant_matches(spark):
    """The spread_input escape hatch (round-robin exchange before the
    interpreted hash chain, for heavy-consumer single-split landings)
    changes only the partitioning — identical shingle sets either way."""
    from steam_prices_data_engineering_spark.operators.dedup import (
        hashed_shingle_table,
    )
    from steam_prices_data_engineering_spark.sources.tables import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    plain = hashed_shingle_table(d)
    spreaded = hashed_shingle_table(d, spread_input=True)
    a = {r.doc_id: sorted(r.hs) for r in plain.collect()}
    b = {r.doc_id: sorted(r.hs) for r in spreaded.collect()}
    assert a == b and len(a) > 0
    plain.unpersist()
    spreaded.unpersist()


def test_cc_labels_driver_fast_path_matches_distributed_loop(spark, monkeypatch):
    """cc_labels' adaptive union-find collect must produce the exact
    min-label fixpoint of the distributed propagation loop: chain,
    triangle, singleton-pair, and two disjoint components."""
    from steam_prices_data_engineering_spark.plans import iterative

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3: the propagation loop needs >1
        # iteration), triangle 10-11-12, pair 20-21
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "doc_id_a long, doc_id_b long",
    )
    fast = {
        (r["node"], r["label"])
        for r in iterative.cc_labels(edges).collect()
    }
    monkeypatch.setattr(iterative, "CC_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["node"], r["label"])
        for r in iterative.cc_labels(edges).collect()
    }
    expected = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    assert fast == expected
    assert slow == expected


def test_cc_labels_empty_edges(spark):
    from steam_prices_data_engineering_spark.plans import iterative

    edges = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert iterative.cc_labels(edges).count() == 0
