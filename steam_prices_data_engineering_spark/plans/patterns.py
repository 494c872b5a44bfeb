"""Round-2d pattern operators: complex-event-processing (regex pattern
matching over sessionized event streams — the relational analog of Flink
MATCH_RECOGNIZE), a distributed 2-D skyline (Pareto-frontier) query,
grid-density clustering (DBSCAN-lite over spatial cells + connected
components), and a group-holdout leakage-safe train/val split.

These extend the reference's analytics surface (SURVEY.md §2b) with the
pattern-mining tier a production platform layers over an ETL like
steam_prices_transformer.py (reference Scripts/jobs/*): once facts land,
the next questions are "which behavioral sequences occur", "which items
are jointly optimal", "where does activity cluster", and "how do I split
training data without group leakage".

Scale notes are inline per operator; the common discipline: every
candidate generator joins on a blocking key (session, qty-bucket, grid
cell), never all-pairs, and driver-side loops move only counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_md5_hex6_to_int
from ..functions.text import md5_hex6_to_int
from ..session import pin
from ..sources.tables import read_table, values_frame
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# CEP: regex pattern matching over per-session event-symbol strings.
# Sessions use the same 30-minute-gap rule as session_ids_batch; each
# session reduces to ONE compact symbol string (V/C/P/S/E per event,
# ordered by ts then event_id), and patterns are ordinary regexes over
# that string — contiguous sequences, alternation, and repetition all
# come free, which is exactly the MATCH_RECOGNIZE feature set.
#
# Scale: the per-session string is bounded by session length (inactivity
# gap bounds it in wall-time), so the collect_list never materializes an
# unbounded buffer; one shuffle on user_id serves the lag window, the
# running-sum window, AND the groupBy (prefix partitioning, no
# re-exchange); the pattern dim is a literal broadcast.
# ---------------------------------------------------------------------------

_CEP_GAP_S = 1800

_CEP_PATTERNS: tuple[tuple[str, str], ...] = (
    ("browse_then_buy", "V+C+P"),          # contiguous view(s), click(s), purchase
    ("error_retry", "E[VCS]*E"),           # two errors with no purchase between
    ("signup_to_purchase", "S.*P"),        # signup eventually converting
    ("pure_browsing", "^[VC]+$"),          # session with only views/clicks
)

_CEP_SYM_SQL = (
    "CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C' "
    "WHEN 'purchase' THEN 'P' WHEN 'signup' THEN 'S' ELSE 'E' END"
)

_CEP_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, {_CEP_SYM_SQL} AS sym,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                     > {_CEP_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
    SELECT user_id, sym, ts, event_id,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS session_idx
    FROM flagged
),
strings AS (
    SELECT user_id, session_idx,
           string_agg(sym, '' ORDER BY ts, event_id) AS syms
    FROM ids GROUP BY user_id, session_idx
),
pat(pattern_name, pattern) AS (
    VALUES {", ".join(f"('{n}', '{p}')" for n, p in _CEP_PATTERNS)}
)
SELECT p.pattern_name,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users
FROM pat p JOIN strings s ON regexp_matches(s.syms, p.pattern)
GROUP BY p.pattern_name
"""


@register("event_pattern_match", _CEP_SQL)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions matching each behavioral regex pattern (CEP /
    MATCH_RECOGNIZE analog): sessionize (30-min gap), reduce each session
    to its ordered event-symbol string, regex-join against a broadcast
    pattern dim. Spark rlike and DuckDB regexp_matches both do unanchored
    search with the same POSIX-class-free syntax, so the patterns above
    are engine-portable by construction."""
    e = read_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("E")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_sess = (
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > _CEP_GAP_S)
    ).cast("int")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ids = e.select(
        "user_id",
        "ts",
        "event_id",
        sym.alias("sym"),
        F.sum(new_sess).over(wsum).alias("session_idx"),
    )
    # array_sort on struct(ts, event_id, sym) orders by ts then event_id
    # (field order), matching the oracle's ORDER BY inside string_agg.
    strings = ids.groupBy("user_id", "session_idx").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "sym"))),
                lambda x: x.sym,
            ),
        ).alias("syms")
    )
    pat = values_frame(spark, list(_CEP_PATTERNS), ["pattern_name", "pattern"])
    return (
        strings.join(F.broadcast(pat), F.regexp_like(F.col("syms"), F.col("pattern")))
        .groupBy("pattern_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier: parts that are jointly optimal on (total
# quantity sold: maximize, best unit price: minimize) — no other part
# both sells more AND is cheaper (strict somewhere).
#
# The text reduces to the distinct-qty grain first (consolidate before
# comparing), then keeps the grain rows no other row dominates: the
# textbook NOT EXISTS dominance definition, run as-is by both engines.
# ---------------------------------------------------------------------------

_SKYLINE_SQL = f"""
WITH per_part AS (
    SELECT l_partkey,
           sum(l_quantity) AS qty,
           min(l_extendedprice / l_quantity) AS price
    FROM lineitem GROUP BY 1
),
grain AS (
    SELECT qty, min(price) AS price,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(l_partkey) AS BIGINT) AS rep_partkey
    FROM per_part GROUP BY qty
)
SELECT CAST(g.qty AS BIGINT) AS total_qty,
       {R('g.price', 4)} AS best_unit_price,
       g.n_parts, g.rep_partkey
FROM grain g
WHERE NOT EXISTS (
    SELECT 1 FROM grain d
    WHERE d.qty >= g.qty AND d.price <= g.price
      AND (d.qty > g.qty OR d.price < g.price)
)
"""

register_sql("pareto_frontier_parts", _SKYLINE_SQL)


# ---------------------------------------------------------------------------
# Grid-density clustering (DBSCAN-lite): bucket the synthetic customer
# coordinates (same md5-derived lat/lon and 0.25-degree cells as
# spatial_cell_join) into grid cells, mark CORE cells whose point count
# clears max(2x the global mean occupied-cell density, 3), and connect
# 8-adjacent core cells into clusters via min-label propagation.
#
# Scale: the density threshold derives from a 1-row broadcast aggregate;
# the adjacency join is cell-local (3x3 probe, never all-pairs); the CC
# loop runs over the CORE-CELL graph — orders of magnitude smaller than
# the point set — and the driver sees only convergence counts. Self-edges
# keep isolated core cells as singleton clusters.
# ---------------------------------------------------------------------------

_DB_CELLS_PER_DEG = 4
_DB_CID = 1000  # cell id = cy * _DB_CID + cx (cy, cx < 20 at 0.25 deg)

_DB_LAT_KEY = "concat_ws('', 'glat_', CAST(c_custkey AS VARCHAR))"
_DB_LON_KEY = "concat_ws('', 'glon_', CAST(c_custkey AS VARCHAR))"


def _db_unrolled_cte() -> str:
    """Recursive-CTE oracle over the core-cell adjacency graph (the
    pagerank/CC oracle discipline: the oracle replays true reachability,
    not the iteration schedule)."""
    lat = f"(({sql_md5_hex6_to_int(_DB_LAT_KEY)}) % 50000) / 10000.0"
    lon = f"(({sql_md5_hex6_to_int(_DB_LON_KEY)}) % 50000) / 10000.0"
    return f"""
WITH RECURSIVE cells AS (
    SELECT CAST(floor(({lat}) * {_DB_CELLS_PER_DEG}) AS BIGINT) * {_DB_CID}
           + CAST(floor(({lon}) * {_DB_CELLS_PER_DEG}) AS BIGINT) AS cid,
           count(*) AS n
    FROM customer GROUP BY 1
),
thresh AS (
    SELECT greatest(CAST(ceil(2.0 * avg(n)) AS BIGINT), 3) AS minpts
    FROM cells
),
core AS (
    SELECT c.cid, c.n FROM cells c, thresh t WHERE c.n >= t.minpts
),
edges AS (
    SELECT a.cid AS u, b.cid AS v
    FROM core a JOIN core b
      ON abs((a.cid // {_DB_CID}) - (b.cid // {_DB_CID})) <= 1
     AND abs((a.cid % {_DB_CID}) - (b.cid % {_DB_CID})) <= 1
),
reach(u, label) AS (
    SELECT cid AS u, cid AS label FROM core
    UNION
    SELECT e.v AS u, r.label FROM reach r JOIN edges e ON e.u = r.u
),
labels AS (
    SELECT u AS cid, min(label) AS cluster_id FROM reach GROUP BY u
)
SELECT CAST(l.cluster_id AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(c.n) AS BIGINT) AS n_points
FROM labels l JOIN core c ON l.cid = c.cid
GROUP BY l.cluster_id
"""


@register("dbscan_grid_clusters", _db_unrolled_cte())
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clusters of customer locations: core grid cells (count >=
    max(2x mean occupied-cell density, 3)) connected through 8-adjacency.
    Returns one row per cluster: min-cell-id label, cell count, point
    count. Deterministic — min-label propagation has a unique fixpoint."""
    from .iterative import cc_labels

    cust = read_table(spark, sf_dir, "customer")

    def coord(salt: str) -> F.Column:
        key = F.concat_ws("", F.lit(salt), F.col("c_custkey").cast("string"))
        return (md5_hex6_to_int(key) % 50000) / F.lit(10000.0)

    cells = (
        cust.select(
            (
                F.floor(coord("glat_") * _DB_CELLS_PER_DEG).cast("long") * _DB_CID
                + F.floor(coord("glon_") * _DB_CELLS_PER_DEG).cast("long")
            ).alias("cid")
        )
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    thresh = cells.agg(
        F.greatest(F.ceil(2.0 * F.avg("n")).cast("long"), F.lit(3)).alias("minpts")
    )
    core = pin(cells.crossJoin(F.broadcast(thresh)).filter(
        F.col("n") >= F.col("minpts")
    ).select("cid", "n"))
    a = core.select(F.col("cid").alias("doc_id_a"), (F.col("cid") / _DB_CID).cast("long").alias("ay"), (F.col("cid") % _DB_CID).alias("ax"))
    b = core.select(F.col("cid").alias("doc_id_b"), (F.col("cid") / _DB_CID).cast("long").alias("by"), (F.col("cid") % _DB_CID).alias("bx"))
    edges = a.join(
        b,
        (F.abs(F.col("ay") - F.col("by")) <= 1)
        & (F.abs(F.col("ax") - F.col("bx")) <= 1),
    ).select("doc_id_a", "doc_id_b")
    labels = cc_labels(edges)  # self-pairs keep isolated cells as nodes
    out = (
        labels.join(core, labels.node == core.cid)
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Group-holdout train/val split: hash the GROUP key (source), not the
# row, so every document from one source lands on the same side — the
# leakage-safe discipline for near-duplicate-heavy corpora (row-level
# splits leak templated near-dups across the boundary; group-level
# splits cannot). Pure-hash assignment: reproducible under repartition,
# no sampling state, the same rule at any scale (cf. trainset_hash_split
# for the row-level form).
# ---------------------------------------------------------------------------

_GH_BUCKETS = 10  # bucket 0 -> val (10% of GROUPS, not of rows)

_GROUP_HOLDOUT_SQL = f"""
WITH assigned AS (
    SELECT source, n_chars,
           CASE WHEN ({sql_md5_hex6_to_int(
               "concat_ws('', 'gh_', source)")}) % {_GH_BUCKETS} = 0
                THEN 'val' ELSE 'train' END AS split
    FROM documents
)
SELECT split,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM assigned GROUP BY split
"""


@register("trainset_group_holdout", _GROUP_HOLDOUT_SQL)
def trainset_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split corpus stats under a group-level (source-hashed) holdout:
    a source appears in exactly one split by construction, so templated
    near-duplicates within a source can never straddle the train/val
    boundary."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = md5_hex6_to_int(
        F.concat_ws("", F.lit("gh_"), F.col("source"))
    ) % _GH_BUCKETS
    assigned = docs.select(
        "source",
        "n_chars",
        F.when(bucket == 0, "val").otherwise("train").alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# Streaming CEP: the same session pattern matching on the event STREAM —
# session_window merges state as events arrive; the per-session symbol
# string builds inside the aggregate (collect_list of (ts, event_id, sym)
# structs, sorted post-agg, so arrival order never matters), and the
# pattern checks are stateless post-agg boolean columns, keeping the
# whole query a SINGLE stateful operator. Complete mode with one
# availableNow batch == the batch sessionization, which is the oracle
# (the streaming_session_window discipline).
# ---------------------------------------------------------------------------

_STREAM_CEP_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, {_CEP_SYM_SQL} AS sym,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                     > {_CEP_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
    SELECT user_id, sym, ts, event_id,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS session_idx
    FROM flagged
),
strings AS (
    SELECT user_id,
           CAST(min(floor(epoch(ts))) AS BIGINT) AS session_start,
           string_agg(sym, '' ORDER BY ts, event_id) AS syms
    FROM ids GROUP BY user_id, session_idx
)
SELECT user_id, session_start, syms,
       regexp_matches(syms, '{_CEP_PATTERNS[0][1]}') AS m_browse_then_buy,
       regexp_matches(syms, '{_CEP_PATTERNS[1][1]}') AS m_error_retry
FROM strings
"""


@register("streaming_event_pattern", _STREAM_CEP_SQL)
def streaming_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session CEP flags computed in Structured Streaming: one
    session_window aggregate builds the ordered symbol string; the regex
    flags are stateless projections after it. Production notes: in append
    mode the watermark closes sessions and drops their state, so pattern
    flags emit exactly once per closed session — collect_list state is
    bounded by the inactivity gap."""
    from ..sources.tables import events_stream, table_path
    from ..streaming.sizing import run_stream

    sym = (
        F.when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("E")
    )
    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", "event_id", sym.alias("sym"))
    )
    agg = (
        stream.groupBy(
            F.session_window("ts", f"{_CEP_GAP_S} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.min(F.col("ts").cast("long")).alias("session_start"),
            F.collect_list(F.struct("ts", "event_id", "sym")).alias("evs"),
        )
        .select(
            "user_id",
            "session_start",
            F.concat_ws(
                "", F.transform(F.array_sort("evs"), lambda x: x.sym)
            ).alias("syms"),
        )
        .withColumn(
            "m_browse_then_buy",
            F.regexp_like(F.col("syms"), F.lit(_CEP_PATTERNS[0][1])),
        )
        .withColumn(
            "m_error_retry",
            F.regexp_like(F.col("syms"), F.lit(_CEP_PATTERNS[1][1])),
        )
    )
    return run_stream(agg, "complete", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# HLL sketch rollup: the mergeable-sketch pattern that makes 100 TB
# distinct counting tractable — per-nation HLL sketches built in ONE fact
# pass, then region totals by MERGING sketches (hll_union_agg), never
# rescanning facts. The estimate is verified in-query against the exact
# distinct (5% bound; Spark's default lgConfigK=12 gives ~1.6% stderr),
# emitted as booleans the oracle asserts TRUE — the approx_aggregates
# discipline.
# ---------------------------------------------------------------------------

_HLL_SQL = """
WITH facts AS (
    SELECT r.r_name, n.n_name, o.o_custkey
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT r_name,
       CAST(count(DISTINCT n_name) AS BIGINT) AS n_nations,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
       TRUE AS approx_within_5pct
FROM facts GROUP BY r_name
"""


@register("hll_sketch_rollup", _HLL_SQL)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-customer rollup where the region level is
    computed by merging nation-level HLL sketches (Datasketches binary
    payloads) instead of touching facts again — at scale, the re-scan is
    the cost and the sketch merge is free. The exact companion runs once
    for verification only."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    facts = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("r_name", "n_name", "o_custkey")
    )
    per_nation = facts.groupBy("r_name", "n_name").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = per_nation.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_custs"),
    )
    exact = facts.groupBy("r_name").agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_custs")
    )
    return merged.join(exact, "r_name").select(
        "r_name",
        "n_nations",
        "exact_custs",
        F.coalesce(
            F.abs(F.col("approx_custs") - F.col("exact_custs"))
            <= 0.05 * F.col("exact_custs"),
            F.lit(True),
        ).alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining (PrefixSpan-lite): the top frequent contiguous
# event 3-grams across sessions — "what do users actually do in order",
# the discovery complement of event_pattern_match's known-pattern
# matching. Composes the SAME session symbol strings; the n-gram explode
# is bounded by session length, and support counting is one
# map-side-combined aggregation on a 3-char key. Top-k via
# TakeOrderedAndProject (never a global ranked window).
# ---------------------------------------------------------------------------

_SEQ_N = 3
_SEQ_TOPK = 15

_SEQ_MINE_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, {_CEP_SYM_SQL} AS sym,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                     > {_CEP_GAP_S}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
    SELECT user_id, sym, ts, event_id,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS session_idx
    FROM flagged
),
strings AS (
    SELECT user_id, session_idx,
           string_agg(sym, '' ORDER BY ts, event_id) AS syms
    FROM ids GROUP BY user_id, session_idx
),
grams AS (
    SELECT user_id,
           unnest(CASE WHEN len(syms) < {_SEQ_N} THEN []
                  ELSE list_transform(range(1, len(syms) - {_SEQ_N} + 2),
                                      i -> substr(syms, i, {_SEQ_N})) END)
               AS gram
    FROM strings
)
SELECT gram AS sequence,
       CAST(count(*) AS BIGINT) AS support,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM grams GROUP BY gram
ORDER BY support DESC, sequence
LIMIT {_SEQ_TOPK}
"""


@register("frequent_event_sequences", _SEQ_MINE_SQL)
def frequent_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 contiguous event 3-grams by occurrence count across
    all sessions, with distinct-user support. The session strings reuse
    event_pattern_match's build (same one-exchange window chain); the
    n-gram expansion stays bounded because the inactivity gap bounds
    session length."""
    e = read_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("E")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_sess = (
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > _CEP_GAP_S)
    ).cast("int")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ids = e.select(
        "user_id",
        "ts",
        "event_id",
        sym.alias("sym"),
        F.sum(new_sess).over(wsum).alias("session_idx"),
    )
    strings = ids.groupBy("user_id", "session_idx").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "sym"))),
                lambda x: x.sym,
            ),
        ).alias("syms")
    )
    grams = strings.select(
        "user_id",
        F.explode(
            F.when(
                F.length("syms") < _SEQ_N, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length("syms") - _SEQ_N + 1),
                    lambda i: F.substring(F.col("syms"), i, F.lit(_SEQ_N)),
                )
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy(F.col("gram").alias("sequence"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("support"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.col("support").desc(), "sequence")
        .limit(_SEQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Weighted median (quantity-weighted median unit price per return flag):
# the smallest price whose cumulative quantity reaches half the total.
# Consolidate-first discipline: reduce to the distinct-price grain (sum
# of weights per (flag, price)) BEFORE any window, so the running-sum
# window orders the GRAIN relation, not the fact rows; weights are
# integer-valued quantities, so cumulative sums are order-exact in both
# engines and the boundary comparison is deterministic. At extreme price
# cardinality the same two-pass trick as equidepth_histogram applies
# (coarse histogram to find the carrying bucket, exact pass within it).
# ---------------------------------------------------------------------------

_WMEDIAN_SQL = f"""
WITH grain AS (
    SELECT l_returnflag, l_extendedprice / l_quantity AS price,
           sum(l_quantity) AS w
    FROM lineitem GROUP BY 1, 2
),
cum AS (
    SELECT l_returnflag, price, w,
           sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
           sum(w) OVER (PARTITION BY l_returnflag) AS tw
    FROM grain
)
SELECT l_returnflag,
       {R('min(CASE WHEN cw * 2 >= tw THEN price END)', 4)}
           AS weighted_median_price,
       CAST(min(tw) AS BIGINT) AS total_weight
FROM cum GROUP BY l_returnflag
"""

register_sql("weighted_median_price", _WMEDIAN_SQL)


# ---------------------------------------------------------------------------
# KMV (theta) sketch set operations: the mergeable-sketch answer to
# "how many customers are in BOTH segments" — the set-INTERSECTION
# estimate HLL cannot give (hll_sketch_rollup covers union/rollup).
# Beyer et al. 2007 ("On synopses for distinct-value estimation under
# multiset operations"): keep the K minimum hash values per set;
# distinct ~ (K-1)/theta with theta = the Kth minimum; intersect by
# counting matching hashes below the combined theta. Hashing uses the
# canonical md5-hex6 primitive so both engines build bit-identical
# sketches, making the ESTIMATES (not just bound booleans)
# hash-comparable.
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE = 16777216.0  # 16^6, the md5-hex6 hash space


def _kmv_sql() -> str:
    ck = "concat_ws('', ck)"
    h = sql_md5_hex6_to_int(ck)
    return f"""
WITH seta AS (
    SELECT DISTINCT o_custkey AS ck FROM orders
    WHERE o_orderpriority = '1-URGENT'
),
setb AS (
    SELECT DISTINCT o.o_custkey AS ck
    FROM orders o
    SEMI JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
),
ha AS (SELECT ck, ({h} + 1.0) / {_KMV_SPACE} AS hu FROM seta),
hb AS (SELECT ck, ({h} + 1.0) / {_KMV_SPACE} AS hu FROM setb),
ska AS (SELECT hu FROM ha ORDER BY hu ASC LIMIT {_KMV_K}),
skb AS (SELECT hu FROM hb ORDER BY hu ASC LIMIT {_KMV_K}),
sta AS (
    SELECT CAST(count(*) AS DOUBLE) AS ka,
           CASE WHEN count(*) < {_KMV_K} THEN 1.0 ELSE max(hu) END AS tha
    FROM ska
),
stb AS (
    SELECT CAST(count(*) AS DOUBLE) AS kb,
           CASE WHEN count(*) < {_KMV_K} THEN 1.0 ELSE max(hu) END AS thb
    FROM skb
),
inter_sk AS (
    SELECT CAST(count(*) AS DOUBLE) AS ni
    FROM ska a JOIN skb b ON b.hu = a.hu
    CROSS JOIN sta CROSS JOIN stb
    WHERE a.hu < least(sta.tha, stb.thb)
),
exacts AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM seta) AS exact_urgent,
           (SELECT CAST(count(*) AS BIGINT) FROM setb) AS exact_returned,
           (SELECT CAST(count(*) AS BIGINT)
            FROM seta a JOIN setb b ON b.ck = a.ck) AS exact_overlap
)
SELECT e.exact_urgent,
       {R(f'CASE WHEN s1.ka < {_KMV_K} THEN s1.ka '
          f'ELSE ({_KMV_K} - 1) / s1.tha END', 4)} AS est_urgent,
       e.exact_returned,
       {R(f'CASE WHEN s2.kb < {_KMV_K} THEN s2.kb '
          f'ELSE ({_KMV_K} - 1) / s2.thb END', 4)} AS est_returned,
       e.exact_overlap,
       {R('i.ni / least(s1.tha, s2.thb)', 4)} AS est_overlap
FROM exacts e CROSS JOIN sta s1 CROSS JOIN stb s2 CROSS JOIN inter_sk i
"""


@register("kmv_theta_intersection", _kmv_sql())
def kmv_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch distinct + INTERSECTION estimates for two
    customer segments (urgent-order customers x returned-item
    customers), alongside the exact counts. Each sketch is an
    `orderBy(hash).limit(K)` — TakeOrderedAndProject, K-bounded state,
    never a per-segment global window; the intersect joins two K-row
    frames. Exact companions run once for verification. At 100 TB the
    sketches are what ships across stages — the exact branch is the
    audit, not the product."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    seta = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    setb = (
        orders.join(
            li.filter(F.col("l_returnflag") == "R").select("l_orderkey"),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_semi",
        )
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )

    def hashed(s: DataFrame) -> DataFrame:
        hu = (
            md5_hex6_to_int(F.concat_ws("", F.col("ck").cast("string")))
            + 1.0
        ) / _KMV_SPACE
        return s.select("ck", hu.alias("hu"))

    ska = hashed(seta).select("hu").orderBy("hu").limit(_KMV_K)
    skb = hashed(setb).select("hu").orderBy("hu").limit(_KMV_K)

    def stats(sk: DataFrame, kn: str, tn: str) -> DataFrame:
        return sk.agg(
            F.count(F.lit(1)).cast("double").alias(kn),
            F.when(F.count(F.lit(1)) < _KMV_K, 1.0)
            .otherwise(F.max("hu"))
            .alias(tn),
        )

    sta = stats(ska, "ka", "tha")
    stb = stats(skb, "kb", "thb")
    inter_sk = (
        ska.join(skb.withColumnRenamed("hu", "hub"), F.col("hu") == F.col("hub"))
        .crossJoin(F.broadcast(sta))
        .crossJoin(F.broadcast(stb))
        .filter(F.col("hu") < F.least(F.col("tha"), F.col("thb")))
        .agg(F.count(F.lit(1)).cast("double").alias("ni"))
    )
    exact_a = seta.agg(F.count(F.lit(1)).cast("long").alias("exact_urgent"))
    exact_b = setb.agg(F.count(F.lit(1)).cast("long").alias("exact_returned"))
    exact_i = (
        seta.join(setb, "ck")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    est = lambda k, th: F.when(  # noqa: E731
        F.col(k) < _KMV_K, F.col(k)
    ).otherwise((_KMV_K - 1) / F.col(th))
    return (
        exact_a.crossJoin(F.broadcast(exact_b))
        .crossJoin(F.broadcast(exact_i))
        .crossJoin(F.broadcast(sta))
        .crossJoin(F.broadcast(stb))
        .crossJoin(F.broadcast(inter_sk))
        .select(
            "exact_urgent",
            dround(est("ka", "tha"), 4).alias("est_urgent"),
            "exact_returned",
            dround(est("kb", "thb"), 4).alias("est_returned"),
            "exact_overlap",
            dround(
                F.col("ni") / F.least(F.col("tha"), F.col("thb")), 4
            ).alias("est_overlap"),
        )
    )
