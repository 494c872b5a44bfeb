"""Query registry: every implemented operator exposed as a (Spark builder,
DuckDB oracle SQL) pair, consumed by `__spark_entry__.py`.

Conventions that make the driver's order-insensitive value-hash comparison
work (see repo contract in `__spark_entry__.py` docstring):

- Every computed column is aliased identically in the Spark plan and the SQL.
- Floating aggregates are rounded with `functions/rounding.py:dround` —
  ``floor(x*10^s + 0.5)/10^s`` in pure double arithmetic on BOTH engines.
  (Spark's native ``round`` goes through the shortest decimal repr and
  HALF_UPs 4201.31499999.. to 4201.32 where DuckDB yields 4201.31; dround is
  bit-identical across JVM and C++.)
- Counts/sizes/row_numbers are cast to long on the Spark side (DuckDB
  count/len/row_number return BIGINT); integer sums in SQL are cast before
  aggregation to dodge DuckDB's HUGEINT widening.
- Timestamps never appear raw in an output: both engines emit epoch-seconds
  longs (Spark ``cast(ts as long)``, DuckDB ``floor(epoch(ts))``).

Each query cites the reference operator rows (SURVEY.md §2a O-numbers /
file:line of `/root/reference`) it re-expresses.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prices import parse_price_usd_sql
from ..functions.rounding import dround, dround_sql as R
from ..functions.text import (
    avg_token_length,
    distinct_token_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from ..operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from ..operators.similarity import knn_join, topk_cosine
from ..session import release_pins
from ..sources.tables import read_table, table_views
from ..streaming.windows import (
    session_stats,
    sliding_counts,
    streaming_sliding_counts,
    streaming_tumbling_counts,
    tumbling_counts,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (spark_builder, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# Names registered through `register_sql`.
SQL_QUERIES: set[str] = set()


def register_sql(name: str, sql: str) -> None:
    """Register a query whose Spark plan is its oracle text: one SQL
    string, run by both engines, over temp views of the fixture tables it
    names (`table_views`; no view outlives the build)."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        with table_views(spark, sf_dir, sql):
            return spark.sql(sql)

    register(name, sql)(build)
    SQL_QUERIES.add(name)


# The driver's CORRECTNESS gate samples the FIRST 50 entries of `queries()`,
# so the exported order is not cosmetic: it decides which operators get
# driver-verified rows each round.
#
# ROUND-10 ROTATION (per VERDICT.md r9 tasks 1 + 6): the three-way
# shard-order split leads (three independent driver hash bits = the
# bisection), then the new r10 tier, then every query whose code or
# oracle changed this round, then family anchors, and the rest
# continues the THIRD rotation pass ordered by staleness — every
# filler's most recent driver row is r1/r2 (pinned by
# tests/test_queries.py::test_driver_sample_spans_families).
_PRIORITY: tuple[str, ...] = (
    # -- the r7-r9 driver-red row and its STAGE-PURE r10 bisection
    #    probes FIRST: three queries -> three independent driver hash
    #    bits -> the truth table in plans/round6c.py localizes (or the
    #    numeric lag order closes) the divergence --
    "shard_order_autocorr",           # numeric h1..h4 lag order (r10)
    "shard_order_probe_inputs",       # order-free input checksums (r10)
    "shard_order_probe_pairs",        # composition-stage rollup (r10)
    # -- round-10 tier (plans/round10.py + round10b.py): zero driver
    #    rows --
    "dedup_membership_probe",         # online probe vs compacted index
    "ivf_pq_nprobe_curve",            # ANN operating curve
    "layout_zorder_vs_linear_eval",   # 2-D pruning design table
    "repeated_ngram_loop_gate",       # degenerate-repetition gate
    "dp_budget_ledger",               # DP composition accounting
    "minhash_merge_maintenance",      # signature monoid invariant
    "ams_innerprod_join_size",        # cross-relation join-size sketch
    "bloom_fpr_operating_curve",      # Bloom sizing design table
    # -- code/oracle changed THIS round: re-verify on driver data --
    "streaming_restart_carryover",    # NULL-safe pmod split (r10)
    "streaming_state_introspection",  # collected local relation (r10)
    "setjoin_prefix_filter",          # exact integer verify (r10)
    "containment_root_resolution",    # convergence guard (r10)
    # -- family anchors whose whole family was recently green (kept so
    #    the sample spans every operator family; exempt from the
    #    staleness rule) --
    "dedup_exact_groups",             # exact-dedup family
    "neardup_minhash_lsh",            # near-dup family
    "semdedup_prune",                 # semantic-dedup family
    "multimodal_audio_windows",       # multimodal family
    "eval_reservoir_sample",          # splits-sampling family
    "embedding_dim_stats",            # embedding-monitoring family
    # -- third rotation pass, stalest first: every name below last had
    #    a driver row in r1/r2 --
    "bitwise_agg_funcs",
    "case_remap_counts",
    "cross_join_region_status",
    "cube_returnflag_linestatus",
    "date_scalar_funcs",
    "distinct_agg_per_status",
    "doc_quality_scores",
    "events_sliding_window",
    "full_outer_join_nation_counts",
    "hash_scalar_funcs",
    "knn_join_topk",
    "map_column_funcs",
    "math_scalar_funcs",
    "moments_skew_kurtosis",
    "nullsafe_join_status",
    "rollup_status_priority",
    "setops_custkeys",
    "streaming_sliding_window",
    "string_scalar_funcs",
    "tpch_q5_local_volume",
    "try_arithmetic_funcs",
    "apply_in_pandas_zscore",
    "approx_aggregates",
    "attribution_last_touch",
    "cms_heavy_hitters",
    "dedup_connected_components",
    "gdpr_delete_cascade",
    "kmeans_embeddings",
    "lang_id_ngram",
)
# Deliberately under the FULL LOCAL GATE only this round: every other
# driver-green query. All are hash-checked by
# tools/check_oracle.py and tests/test_queries.py each run.


def _ordered() -> dict[str, tuple[QueryFn, str | None]]:
    missing = [n for n in _PRIORITY if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"priority names not registered: {missing}")
    prio = set(_PRIORITY)
    rest = (n for n in _REGISTRY if n not in prio)
    return {n: _REGISTRY[n] for n in (*_PRIORITY, *rest)}


def _scoped(fn: QueryFn) -> QueryFn:
    """Release the previous build's pins (`session.pin`) before building,
    so a session holds at most one query's cached frames and a rebuild of
    the same query starts cold. Not in `register`: builders call other
    builders directly, and a release there would drop the caller's pins."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_pins(spark)
        return fn(spark, sf_dir)

    return build


def queries() -> dict[str, QueryFn]:
    return {name: _scoped(fn) for name, (fn, _) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _ordered().items() if sql is not None}


# ===========================================================================
# Reference-parity: aggregation core (O26 grouped mean, O27 global mean,
# O28 deviation columns — world_map_transformer.py:104-129)
# ===========================================================================

_FLAGSHIP_SQL = f"""
WITH joined AS (
    SELECT n_name, o_totalprice
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
),
per_group AS (
    SELECT n_name, avg(o_totalprice) AS grp FROM joined GROUP BY n_name
),
world AS (SELECT avg(o_totalprice) AS world_avg FROM joined)
SELECT
    n_name,
    {R('grp', 4)} AS usd_price,
    {R('grp / world_avg - 1', 6)} AS perc_dif,
    {R('(grp / world_avg - 1) * world_avg', 4)} AS usd_dif
FROM per_group, world
"""

register_sql("flagship_nation_price_dev", _FLAGSHIP_SQL)


# ===========================================================================
# Reference-parity: projection + filters (O16-O19)
# ===========================================================================

_PROJ_FILTER_SQL = f"""
SELECT c_custkey, c_name, {R('c_acctbal', 2)} AS acctbal
FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal IS NOT NULL AND c_acctbal > 100.0
"""

register_sql("proj_filter_customers", _PROJ_FILTER_SQL)


# ===========================================================================
# Reference-parity: case normalize + value remap (O22-O23,
# world_map_transformer.py:127-128)
# ===========================================================================

_CASE_REMAP_SQL = """
SELECT
    CASE WHEN lower(c_mktsegment) = 'building' THEN 'bldg'
         ELSE lower(c_mktsegment) END AS segment,
    CAST(count(*) AS BIGINT) AS n
FROM customer
GROUP BY 1
"""

register_sql("case_remap_counts", _CASE_REMAP_SQL)


# ===========================================================================
# Reference-parity: locale price parse + fx conversion (O20-O21,
# steam_prices_transformer.py:101-132)
# ===========================================================================

# Deterministic localized price strings constructed from integer columns,
# as one SQL string both engines evaluate, so they build byte-identical
# inputs: style cycles US / EU-with-thousands / space-grouped by
# p_partkey % 3.
_PRICE_STR_SQL = """
CASE CAST(p_partkey % 3 AS INTEGER)
  WHEN 0 THEN '$' || CAST(p_partkey % 5000 AS STRING) || '.' || lpad(CAST(p_partkey % 100 AS STRING), 2, '0')
  WHEN 1 THEN CAST(p_partkey % 9 + 1 AS STRING) || '.' || lpad(CAST(p_partkey % 1000 AS STRING), 3, '0') || ',' || lpad(CAST(p_partkey % 100 AS STRING), 2, '0') || ' €'
  ELSE CAST(p_partkey % 90 + 10 AS STRING) || ',' || lpad(CAST(p_partkey % 100 AS STRING), 2, '0') || ' kr'
END
"""

_PRICE_PARSE_SQL = f"""
WITH priced AS (
    SELECT p_partkey,
           {_PRICE_STR_SQL} AS price_str,
           CAST(1 + p_partkey % 7 AS DOUBLE) AS ex_rate
    FROM part
)
SELECT p_partkey, price_str,
       {R(parse_price_usd_sql("price_str", "ex_rate"), 6)} AS usd_price
FROM priced
"""

register_sql("price_parse_locale", _PRICE_PARSE_SQL)


# ===========================================================================
# Reference-parity: join family (O10-O15)
# ===========================================================================

_BCAST_JOIN_SQL = f"""
SELECT n_name, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       {R('sum(o_totalprice)', 2)} AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_orderstatus
"""


@register("broadcast_join_orders_nation", _BCAST_JOIN_SQL)
def broadcast_join_orders_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim joins (O11-O13: the dict/indexed-loc lookups at
    steam_prices_transformer.py:161, world_map_transformer.py:138-169).
    customer and nation are broadcast — the orders scan never shuffles for
    the join, only for the final (small) aggregation."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# Left outer join keeping unmatched dim rows with NULL stats (O14,
# world_map_transformer.py:205-208).
_LEFT_JOIN_SQL = f"""
SELECT n_name,
       CAST(coalesce(cs.n_cust, 0) AS BIGINT) AS n_cust,
       {R('cs.avg_bal', 2)} AS avg_bal
FROM nation
LEFT JOIN (
    SELECT c_nationkey, count(*) AS n_cust, avg(c_acctbal) AS avg_bal
    FROM customer GROUP BY c_nationkey
) cs ON n_nationkey = c_nationkey
"""

register_sql("left_join_nation_customer_stats", _LEFT_JOIN_SQL)


# Cross product of two small dims (O10: the apps x countries nested loop,
# steam_prices_transformer.py:154-156).
_CROSS_JOIN_SQL = """
SELECT r_name, s.o_orderstatus
FROM region
CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
"""

register_sql("cross_join_region_status", _CROSS_JOIN_SQL)


# Substring-predicate (theta) anti join (O15: the sub-prefix file filter,
# external_resources.py:93-97).
_ANTI_JOIN_SQL = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM (VALUES ('src1'), ('src3')) p(pref)
    WHERE contains(d.source, p.pref)
)
GROUP BY lang
"""

register_sql("anti_join_substring", _ANTI_JOIN_SQL)


# ===========================================================================
# Reference-parity: windowed group max fill (O29), top-1 recency (O32),
# global aggs (O27/O30)
# ===========================================================================

_WINDOW_FILL_SQL = f"""
SELECT o_orderkey,
       {R("CASE WHEN o_orderstatus = 'P' THEN max(o_totalprice) OVER (PARTITION BY o_custkey) ELSE o_totalprice END", 2)} AS filled_price
FROM orders
"""

register_sql("window_max_fill", _WINDOW_FILL_SQL)


_TOP1_SQL = f"""
SELECT o_orderkey, {R('o_totalprice', 2)} AS o_totalprice,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch
FROM orders
ORDER BY o_orderdate DESC, o_orderkey DESC
LIMIT 1
"""


@register("top1_recency", _TOP1_SQL)
def top1_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest-record selection (O32: newest-file pick,
    external_resources.py:91, world_map_transformer.py:281-282). Plans as
    TakeOrderedAndProject — no global sort."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .select(
            "o_orderkey",
            dround(F.col("o_totalprice"), 2).alias("o_totalprice"),
            F.col("o_orderdate").cast("long").alias("order_epoch"),
        )
        .limit(1)
    )


_GLOBAL_AGG_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       {R('avg(o_totalprice)', 4)} AS avg_price,
       {R('min(o_totalprice)', 2)} AS min_price,
       {R('max(o_totalprice)', 2)} AS max_price
FROM orders
"""

register_sql("global_agg_stats", _GLOBAL_AGG_SQL)


# ===========================================================================
# TPC-H-shaped workload (bench headliners; exercise the real shuffle paths)
# ===========================================================================

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {R('sum(l_quantity)', 2)} AS sum_qty,
       {R('sum(l_extendedprice)', 2)} AS sum_base_price,
       {R('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
       {R('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)} AS sum_charge,
       {R('avg(l_quantity)', 4)} AS avg_qty,
       {R('avg(l_extendedprice)', 4)} AS avg_price,
       {R('avg(l_discount)', 6)} AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

register_sql("tpch_q1_pricing_summary", _Q1_SQL)


_Q3_SQL = f"""
SELECT l_orderkey,
       {R('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3_SQL)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> grouped agg ->
    top-k. customer (filtered) broadcasts into orders, the joined small side
    broadcasts into lineitem; top-10 is TakeOrderedAndProject."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    co = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    return (
        l.join(F.broadcast(co), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("long").alias("order_epoch"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_SQL = f"""
SELECT n_name, {R('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


@register("tpch_q5_local_volume", _Q5_SQL)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: multi-way star join with a same-nation constraint.
    All dims broadcast; lineitem joins orders via its own key (the only
    big-big edge at real scale — AQE picks SMJ/shuffled-hash there)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ===========================================================================
# Extension: deduplication (SURVEY.md §2b)
# ===========================================================================

_DEDUP_EXACT_SQL = """
SELECT text, CAST(min(doc_id) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY text
"""

register_sql("dedup_exact_groups", _DEDUP_EXACT_SQL)


# Exact dedup keyed on a CONTENT HASH — the 100 TB form of
# dedup_exact_groups: the shuffle carries 32 bytes per doc, not its body.
_DEDUP_HASH_SQL = """
SELECT md5(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
"""

register_sql("dedup_exact_by_hash", _DEDUP_HASH_SQL)


# Shared SQL fragments for shingle-based dedup. DuckDB list_slice is 1-based
# inclusive; range(a, b) is exclusive of b — mirrors Spark's
# sequence(1, size-2) guarded by the size<3 empty case.
_SQL_TOKENS = "string_split(text, ' ')"


def _sql_shingles(tok_expr: str) -> str:
    return (
        f"CASE WHEN len({tok_expr}) < 3 THEN [] "
        f"ELSE list_transform(range(1, len({tok_expr}) - 1), "
        f"i -> array_to_string(list_slice({tok_expr}, i, i + 2), ' ')) END"
    )


# Canonical cross-engine hash fragments live in functions/sqlfrag.py —
# every shingle/MinHash oracle composes from there so the formulas cannot
# drift between the production pipeline and its evaluators.
from ..functions.sqlfrag import (  # noqa: E402
    SQL_QUALITY_EXPR as _SQL_QUALITY_EXPR,
    SQL_TOKEN_HASH as _SQL_TOKEN_HASH,
    sql_exact_jaccard as _sql_exact_jaccard,
    sql_minhash_sig_band_ctes as _sql_minhash_sig_band_ctes,
    sql_quality_feat_ctes as _sql_quality_feat_ctes,
)

_NEARDUP_JACCARD_SQL = f"""
WITH blocked AS (
    SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS blk,
           list_distinct({_sql_shingles(_SQL_TOKENS)}) AS sh
    FROM documents
),
scored AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           {R("CASE WHEN len(list_distinct(list_cat(a.sh, b.sh))) > 0 THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_cat(a.sh, b.sh))) ELSE 0.0 END", 6)} AS jaccard
    FROM blocked a
    -- adjacent-band probing: near-dups straddling a 100-char band edge
    -- (98 vs 102 chars) still compare; mirrors operators/dedup.py
    JOIN blocked b ON a.lang = b.lang AND abs(a.blk - b.blk) <= 1
                  AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, jaccard FROM scored WHERE jaccard >= 0.5
"""


@register("neardup_ngram_jaccard", _NEARDUP_JACCARD_SQL)
def neardup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked word-3-gram Jaccard near-dup pairs (threshold 0.5)."""
    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5, band_width=100)


_NEARDUP_MINHASH_SQL = f"""
WITH {_sql_minhash_sig_band_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
),
scored AS (
    SELECT doc_id_a, doc_id_b,
           {R(_sql_exact_jaccard("sa.hs", "sb.hs"), 6)} AS jaccard
    FROM cand
    JOIN shinglehash sa ON sa.doc_id = cand.doc_id_a
    JOIN shinglehash sb ON sb.doc_id = cand.doc_id_b
)
SELECT doc_id_a, doc_id_b, jaccard FROM scored WHERE jaccard >= 0.5
"""


@register("neardup_minhash_lsh", _NEARDUP_MINHASH_SQL)
def neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash-LSH near-dup (8 sigs, 4 bands x 2 rows) with
    exact-Jaccard verification; the ORACLE replays the full LSH pipeline."""
    d = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.5)


_FINGERPRINT_SQL = f"""
WITH hashed AS (
    SELECT doc_id,
           list_transform({_SQL_TOKENS}, {_SQL_TOKEN_HASH}) AS hs
    FROM documents
)
SELECT doc_id,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                        (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp,
       CAST({" + ".join(
           f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {bit}) & 1 = 1)) > len(hs) THEN {1 << bit} ELSE 0 END)"
           for bit in range(16)
       )} AS BIGINT) AS sim
FROM hashed
"""


@register("doc_fingerprint_simhash", _FINGERPRINT_SQL)
def doc_fingerprint_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling fingerprint + 16-bit SimHash per document.
    The fingerprint is an inherently SEQUENTIAL fold (kept as a
    higher-order reduce); the SimHash rides the relational explode+
    majority-vote path (operators/dedup.py:simhash_table, 4.4x the HOF
    form) and joins back on doc_id — the join reuses the aggregate's
    hash partitioning, so no extra shuffle of the fingerprint side
    beyond its own. ONE spread feeds both sides: the rolling fold is
    interpreted per-row CPU that must not run on a single input split,
    and simhash_table is told not to re-exchange."""
    from ..functions.text import fingerprint_from_hashes, token_hash
    from ..operators.dedup import simhash_table
    from ..sources.tables import spread

    d = spread(read_table(spark, sf_dir, "documents"))
    hashed = d.select(
        "doc_id",
        F.transform(tokens(F.col("text")), token_hash).alias("hs"),
    )
    fp = hashed.select(
        "doc_id", fingerprint_from_hashes(F.col("hs")).alias("fp")
    )
    sims = simhash_table(
        d, F.transform(tokens(F.col("text")), token_hash), spread_input=False
    )
    return fp.join(sims, "doc_id").select("doc_id", "fp", "sim")


# ===========================================================================
# Extension: text analysis (SURVEY.md §2b)
# ===========================================================================

_TEXT_STATS_SQL = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       {R('avg(CAST(n_chars AS DOUBLE))', 4)} AS avg_chars,
       {R("avg(CAST(len(string_split(text, ' ')) AS DOUBLE))", 4)} AS avg_tokens
FROM documents
GROUP BY lang
"""


@register("text_stats_by_lang", _TEXT_STATS_SQL)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dround(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        dround(F.avg(token_count(F.col("text")).cast("double")), 4).alias(
            "avg_tokens"
        ),
    )


_TOKEN_TOPK_SQL = """
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 20
"""


@register("token_topk", _TOKEN_TOPK_SQL)
def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-k (explode -> count -> top-k).
    At 100 TB: partial aggregation absorbs the explosion; top-k never sorts
    globally (TakeOrderedAndProject)."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


_DOC_QUALITY_SQL = f"""
WITH {_sql_quality_feat_ctes()}
SELECT doc_id, n_tokens,
       {R('diversity', 6)} AS diversity,
       {R('avg_tok_len', 6)} AS avg_tok_len,
       {R('stop_ratio', 6)} AS stop_ratio,
       {R(_SQL_QUALITY_EXPR, 6)} AS quality
FROM feat
"""


@register("doc_quality_scores", _DOC_QUALITY_SQL)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (LLM-corpus
    filtering primitive)."""
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    return d.select(
        "doc_id",
        token_count(text).cast("long").alias("n_tokens"),
        dround(distinct_token_ratio(text), 6).alias("diversity"),
        dround(avg_token_length(text), 6).alias("avg_tok_len"),
        dround(stopword_ratio(text), 6).alias("stop_ratio"),
        dround(quality_score(text), 6).alias("quality"),
    )


# ===========================================================================
# Extension: embedding similarity search (SURVEY.md §2b)
# ===========================================================================

_SQL_COSINE = (
    "list_dot_product(a, b) / (sqrt(list_dot_product(a, a)) * sqrt(list_dot_product(b, b)))"
)

_TOPK_COSINE_SQL = f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
),
scored AS (
    SELECT vec_id, label,
           {R(_SQL_COSINE.replace('a, b', 'e.embedding::DOUBLE[], q.qv').replace('a, a', 'e.embedding::DOUBLE[], e.embedding::DOUBLE[]').replace('b, b', 'q.qv, q.qv'), 6)} AS score
    FROM embeddings e, q
    WHERE vec_id <> 0
)
SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10
"""


@register("simsearch_topk_cosine", _TOPK_COSINE_SQL)
def simsearch_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 cosine neighbors of vec_id=0 (ANN baseline)."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    return topk_cosine(e.filter(F.col("vec_id") != 0), q, k=10)


_KNN_JOIN_SQL = f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
),
scored AS (
    SELECT q.q_id, e.vec_id,
           {R(_SQL_COSINE.replace('a, b', 'e.embedding::DOUBLE[], q.qv').replace('a, a', 'e.embedding::DOUBLE[], e.embedding::DOUBLE[]').replace('b, b', 'q.qv, q.qv'), 6)} AS score
    FROM embeddings e, q
    WHERE e.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, score,
           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rnk
    FROM scored
)
SELECT q_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= 5
"""


@register("knn_join_topk", _KNN_JOIN_SQL)
def knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: 5 nearest neighbors for each of 10 query vectors."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    res = knn_join(e, q, k=5)
    return res.select("q_id", "vec_id", "score", F.col("rnk").cast("long").alias("rnk"))


# ===========================================================================
# Extension: events windows — tumbling / sliding / session / JSON props
# (SURVEY.md §2b; batch F.window == streaming semantics)
# ===========================================================================

_TUMBLING_SQL = f"""
SELECT CAST(floor(floor(epoch(ts)) / 600) * 600 AS BIGINT) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       {R('sum(value)', 4)} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("events_tumbling_window", _TUMBLING_SQL)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event_type (F.window in batch mode)."""
    e = read_table(spark, sf_dir, "events")
    return tumbling_counts(e, "10 minutes")


_SLIDING_SQL = f"""
SELECT CAST(floor(floor(epoch(ts)) / 300) * 300 - off AS BIGINT) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       {R('avg(value)', 4)} AS avg_value
FROM events CROSS JOIN (VALUES (0), (300)) o(off)
GROUP BY 1
"""


@register("events_sliding_window", _SLIDING_SQL)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event in 2 windows)."""
    e = read_table(spark, sf_dir, "events")
    return sliding_counts(e, "10 minutes", "5 minutes")


_SESSION_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       {R('sum(value)', 4)} AS sum_value
FROM sessioned
GROUP BY user_id, sess_id
"""


@register("events_session_window", _SESSION_SQL)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (F.session_window); oracle = gaps-and-islands SQL."""
    e = read_table(spark, sf_dir, "events")
    return session_stats(e, "30 minutes")


_EVENTS_JSON_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       {R("avg(CAST(json_extract_string(props, '$.k') AS INTEGER))", 4)} AS avg_k
FROM events
GROUP BY event_type
"""


@register("events_json_props", _EVENTS_JSON_SQL)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the props column (the connector-edge
    JSON parse of external_resources.py:130-137, as an engine operator)."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.avg(k), 4).alias("avg_k"),
    )


# ===========================================================================
# Extension: Structured Streaming (same tumbling plan through readStream ->
# watermark -> availableNow -> memory sink; one replayed batch => equals the
# batch result, so the tumbling oracle applies)
# ===========================================================================


@register("streaming_tumbling_window", _TUMBLING_SQL)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import table_path

    return streaming_tumbling_counts(
        spark, table_path(sf_dir, "events"), "10 minutes", watermark="1 hour"
    )


@register("streaming_sliding_window", _SLIDING_SQL)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import table_path

    return streaming_sliding_counts(
        spark, table_path(sf_dir, "events"), "10 minutes", "5 minutes",
        watermark="1 hour",
    )


# ===========================================================================
# Extension: multimodal columns (binary payload + typed metadata; decode via
# Arrow-batched mapInPandas — SURVEY.md §2b). The "decoder" here is the
# deterministic byte-length featurizer; real image/audio decode plugs into
# the same plumbing (see operators/multimodal.py).
# ===========================================================================

_MULTIMODAL_SQL = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       {R('avg(CAST(octet_length(encode(text)) AS DOUBLE))', 4)} AS avg_bytes
FROM documents
GROUP BY lang
"""


@register("multimodal_bytes", _MULTIMODAL_SQL)
def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import featurize_bytes, with_binary_payload

    d = read_table(spark, sf_dir, "documents")
    media = with_binary_payload(d)
    feats = featurize_bytes(media)
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dround(F.avg(F.col("n_bytes").cast("double")), 4).alias("avg_bytes"),
    )


# ===========================================================================
# Extension: approximate aggregates — HASH-VERIFIABLE form. The sketch
# values themselves can't be reproduced by an exact engine, but their
# ERROR BOUNDS can be asserted: the query emits exact companions plus
# booleans checking the sketches against them, and the oracle asserts the
# booleans are TRUE. percentile_approx with accuracy=10000 GUARANTEES
# rank error <= 1/accuracy, so the +-0.01-quantile brackets below are
# deterministic, not probabilistic; approx_count_distinct at rsd=0.01
# against a 5% bound is a 5-sigma margin (holds for any regenerated
# fixture). The exact companions exist only to make the sketch quality
# assertable at test scale — the 100 TB production path runs the sketch
# side alone (one pass, mergeable state, no per-value buffering).
# ===========================================================================

_APPROX_AGG_SQL = """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_users_ok,
       TRUE AS p50_sketch_ok,
       TRUE AS p95_sketch_ok
FROM events
"""


@register("approx_aggregates", _APPROX_AGG_SQL)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct + percentile_approx — the 100 TB-friendly
    forms of O27/O30-class statistics — verified against exact companions
    computed in the same job.

    Two single-row aggregates are cross-joined rather than mixed into one:
    the sketch aggregate stays on the mergeable partial-agg fast path,
    while the exact-percentile aggregate (which buffers values per group)
    is quarantined to the verification side (see plans/extended.py moments
    note: mixing non-mergeable aggs drags the whole aggregate off partial
    aggregation)."""
    e = read_table(spark, sf_dir, "events")
    sketch = e.agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("_p50_sketch"),
        F.percentile_approx("value", 0.95, 10000).alias("_p95_sketch"),
    )
    exact = e.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.expr(
            "percentile(value, array(0.49D, 0.51D, 0.94D, 0.96D))"
        ).alias("_pb"),
    )
    both = sketch.crossJoin(F.broadcast(exact))
    # Empty landing (or all-NULL measure): percentiles are NULL on both
    # the sketch and exact side, so the brackets are vacuously satisfied —
    # coalesce to TRUE to match the oracle's literal (a NULL boolean would
    # hash-mismatch on a fresh partition).
    return both.select(
        "exact_users",
        (
            F.abs(F.col("_approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_users_ok"),
        F.coalesce(
            F.col("_p50_sketch").between(F.col("_pb")[0], F.col("_pb")[1]),
            F.lit(True),
        ).alias("p50_sketch_ok"),
        F.coalesce(
            F.col("_p95_sketch").between(F.col("_pb")[2], F.col("_pb")[3]),
            F.lit(True),
        ).alias("p95_sketch_ok"),
    )
