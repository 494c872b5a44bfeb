"""Data-hygiene operators: constraint validation and CDC-style latest-row
compaction.

The reference enforces data quality with connector-edge runtime asserts
(`external_resources.py:129-134`, O33 in SURVEY §2a) that kill the row (or
the run). At scale validation is itself a QUERY: scan once, count every
rule's violations, ship the report — bad rows are quarantined by joins,
not exceptions. `dq_validation_report` is that shape; all four rules ride
one pass over each input (conditional-sum aggregates + one broadcast anti
join), not one job per rule.

`cdc_latest_event_per_user` is the read-side of upsert ingestion: the
newest row per key via a ranking window — the standard compaction for
change streams landing in append-only storage (the engine-side
generalization of the reference's newest-file pick, S6/O32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_md5_hex6_to_int
from ..sources.tables import read_table
from .registry import register, register_sql

# ===========================================================================
# Constraint validation report: one row per rule.
# ===========================================================================

_DQ_SQL = """
SELECT 'null_custkey' AS rule,
       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'nonpositive_totalprice',
       CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'duplicate_orderkey',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orphan_custkey',
       CAST(count(*) AS BIGINT)
FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
"""

register_sql("dq_validation_report", _DQ_SQL)


# ===========================================================================
# CDC latest-row compaction: newest event per user.
# ===========================================================================

_CDC_SQL = f"""
SELECT user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
       event_type AS last_type,
       {R('value', 4)} AS last_value
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rn
    FROM events
)
WHERE rn = 1
"""


@register("cdc_latest_event_per_user", _CDC_SQL)
def cdc_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest row per key (deterministic tie-break on event_id): one
    ranking window = one shuffle on the key. This is upsert-read
    compaction over an append-only change log — and Spark rewrites the
    rn=1 filter into a per-partition top-1 (WindowGroupLimit), so each
    task keeps one candidate row per key instead of sorting whole
    partitions of history."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").cast("long").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            dround(F.col("value"), 4).alias("last_value"),
        )
    )


# ===========================================================================
# Winsorized robust statistics: clip each group's values at its own
# [p05, p95] percentile band, report raw vs winsorized means and the clip
# counts — the standard outlier treatment before feature normalization.
# The percentile thresholds are WINDOW aggregates over the group (one
# shuffle on the group key; the subsequent groupBy reuses that
# partitioning — no join-back, no second scan). Thresholds are dround'ed
# to 4dp BEFORE the comparisons so both engines clip on bit-identical
# boundaries. Exact percentile materializes per-group sorted state — the
# sketch path for wider-than-memory groups is `approx_aggregates`.
# ===========================================================================

_WINSOR_SQL = f"""
WITH st AS (
    SELECT l_returnflag, l_extendedprice,
           {R("quantile_cont(l_extendedprice, 0.05) OVER (PARTITION BY l_returnflag)", 4)} AS lo,
           {R("quantile_cont(l_extendedprice, 0.95) OVER (PARTITION BY l_returnflag)", 4)} AS hi
    FROM lineitem
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       {R("avg(l_extendedprice)", 4)} AS raw_mean,
       {R("avg(least(greatest(l_extendedprice, lo), hi))", 4)} AS winsorized_mean,
       CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       min(lo) AS p05,
       min(hi) AS p95
FROM st GROUP BY 1
"""


@register("winsorized_stats_by_flag", _WINSOR_SQL)
def winsorized_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization report: [p05,p95] clip band, raw vs
    winsorized mean, and how many rows each tail clipped."""
    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag")
    st = li.select("l_returnflag", "l_extendedprice").select(
        "*",
        dround(F.percentile("l_extendedprice", 0.05).over(w), 4).alias("lo"),
        dround(F.percentile("l_extendedprice", 0.95).over(w), 4).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return st.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.avg("l_extendedprice"), 4).alias("raw_mean"),
        dround(F.avg(clipped), 4).alias("winsorized_mean"),
        F.sum((F.col("l_extendedprice") < F.col("lo")).cast("int"))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum((F.col("l_extendedprice") > F.col("hi")).cast("int"))
        .cast("long")
        .alias("n_clipped_high"),
        F.min("lo").alias("p05"),
        F.min("hi").alias("p95"),
    )


# ===========================================================================
# Fixed-width value histogram with cumulative distribution: the profiling
# view of a numeric column. Bucketing is a narrow map (floor division by
# the bucket width — no data-dependent bounds, so no pre-pass); the heavy
# lifting is one aggregate on bucket_id. The running/total windows run on
# POST-AGGREGATE rows (bounded by value-range/width, here ~13 rows), where
# a single-partition window is harmless — the fact table itself never
# passes through an empty-partition window.
# ===========================================================================

_HIST_WIDTH = 5000.0

_HIST_SQL = f"""
WITH b AS (
    SELECT CAST(floor(l_extendedprice / {_HIST_WIDTH}) AS INTEGER) AS bucket_id,
           count(*) AS n
    FROM lineitem GROUP BY 1
)
SELECT bucket_id,
       bucket_id * {_HIST_WIDTH} AS lo,
       bucket_id * {_HIST_WIDTH} + {_HIST_WIDTH} AS hi,
       CAST(n AS BIGINT) AS n,
       {R("CAST(sum(n) OVER (ORDER BY bucket_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / sum(n) OVER ()", 6)} AS cum_share
FROM b
"""


@register("histogram_extendedprice", _HIST_SQL)
def histogram_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice with bucket bounds and the
    cumulative distribution share."""
    li = read_table(spark, sf_dir, "lineitem")
    b = (
        li.select(
            F.floor(F.col("l_extendedprice") / _HIST_WIDTH)
            .cast("int")
            .alias("bucket_id")
        )
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_run = Window.orderBy("bucket_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return b.select(
        "bucket_id",
        (F.col("bucket_id") * _HIST_WIDTH).alias("lo"),
        (F.col("bucket_id") * _HIST_WIDTH + _HIST_WIDTH).alias("hi"),
        F.col("n").cast("long").alias("n"),
        dround(
            F.sum("n").over(w_run).cast("double") / F.sum("n").over(w_all), 6
        ).alias("cum_share"),
    )


# ===========================================================================
# Incremental-ingest dedup: the production shape for a GROWING corpus —
# dedupe an incoming batch (doc_id >= T) against the landed history
# (doc_id < T) on a PREFIX fingerprint (rolling hash over the first 8
# tokens — the boilerplate-header dedup key; every fixture text is unique
# in full, prefixes genuinely collide), then dedupe within the batch
# itself (keep lowest doc_id per fingerprint). History and batch are
# separate PRUNED scans (the doc_id split predicate pushes to the parquet
# row groups — at scale two pruned scans beat one full scan re-split by a
# shuffle); the anti join and the within-batch window both key on `fp`,
# so one hash partitioning serves both.
# ===========================================================================

_INGEST_SPLIT = 400
_INGEST_PREFIX = 8


def _ingest_sql() -> str:
    from .registry import _SQL_TOKENS, _SQL_TOKEN_HASH

    return f"""
WITH fp AS (
    SELECT doc_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(list_slice({_SQL_TOKENS}, 1, {_INGEST_PREFIX}),
                               {_SQL_TOKEN_HASH})),
                (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
    FROM documents
),
hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id < {_INGEST_SPLIT}),
inc AS (SELECT doc_id, fp FROM fp WHERE doc_id >= {_INGEST_SPLIT}),
surv AS (
    SELECT i.doc_id, i.fp,
           row_number() OVER (PARTITION BY i.fp ORDER BY i.doc_id) AS rn
    FROM inc i
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = i.fp)
)
SELECT doc_id, fp FROM surv WHERE rn = 1
"""


@register("incremental_dedup_ingest", _ingest_sql())
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents from the incoming batch that are new: their 8-token
    prefix fingerprint appears neither in the landed history nor earlier
    (by doc_id) within the batch."""
    from ..functions.text import fingerprint_from_hashes, token_hash, tokens

    d = read_table(spark, sf_dir, "documents")
    prefix_hashes = F.transform(
        F.slice(tokens(F.col("text")), 1, _INGEST_PREFIX), token_hash
    )
    fp = d.select(
        "doc_id", fingerprint_from_hashes(prefix_hashes).alias("fp")
    )
    hist = (
        fp.filter(F.col("doc_id") < _INGEST_SPLIT).select("fp").distinct()
    )
    inc = fp.filter(F.col("doc_id") >= _INGEST_SPLIT)
    surv = inc.join(hist, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        surv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp")
    )


# ===========================================================================
# Canonical-record selection: per near-dup bucket, keep the highest-quality
# document (the standard "which copy survives" policy in corpus dedup —
# dedup_exact_groups keeps min-id; this keeps best-quality).
# ===========================================================================

def _sql_simhash16(hs: str) -> str:
    """16-bit SimHash over a BIGINT hash list, bit-parallel majority vote —
    the bit rule of operators/dedup.py:simhash_table."""
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({hs}, h -> (h >> {bit}) & 1 = 1)) "
        f"> len({hs}) THEN {1 << bit} ELSE 0 END)"
        for bit in range(16)
    )
    return f"CAST({bits} AS BIGINT)"


def _canonical_sql() -> str:
    from .registry import _SQL_TOKEN_HASH, _SQL_TOKENS

    quality = (
        "0.5 * (CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp)) "
        "+ 0.3 * (1 - CAST(len(list_filter(sp, x -> x IN ('the', 'a'))) AS DOUBLE) / len(sp)) "
        "+ 0.2 * least(len(sp) / 100.0, 1.0)"
    )
    return f"""
WITH feat AS (
    SELECT doc_id,
           list_transform({_SQL_TOKENS}, {_SQL_TOKEN_HASH}) AS hs,
           {_SQL_TOKENS} AS sp
    FROM documents
),
scored AS (
    SELECT doc_id, {_sql_simhash16('hs')} AS bucket, {R(quality, 6)} AS quality
    FROM feat
),
ranked AS (
    SELECT doc_id, bucket, quality,
           row_number() OVER (PARTITION BY bucket ORDER BY quality DESC, doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY bucket) AS n_members
    FROM scored
)
SELECT bucket, CAST(doc_id AS BIGINT) AS keeper_id, quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@register("dedup_canonical_by_quality", _canonical_sql())
def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonical selection per SimHash bucket: documents
    whose 16-bit SimHash collides are treated as one near-dup cluster, and
    the member with the highest composite quality score (tie: lowest
    doc_id) survives. Two-stage plan: the relational SimHash aggregation
    (explode -> per-doc bit sums, quality carried in the same pass) then
    the bucket window where rank and member count ride the SAME partition
    (no second groupBy+join — see the subtree-reuse pitfall in
    tests/test_plans.py). Quality is rounded BEFORE ranking so the keeper
    choice is bit-identical across engines. Scale: bucket cardinality
    ~2^16 per shard is skew-safe for ranking; real corpora widen the hash
    (operators/dedup.py simhash bits param) to keep buckets small."""
    from ..functions.text import quality_score, token_hash_array
    from ..operators.dedup import simhash_table

    d = read_table(spark, sf_dir, "documents")
    # Relational SimHash (see operators/dedup.py:simhash_table) with the
    # quality score carried through the same grouped pass — no join-back.
    scored = simhash_table(
        d,
        token_hash_array(F.col("text")),
        carry={"quality": dround(quality_score(F.col("text")), 6)},
    ).select("doc_id", F.col("sim").alias("bucket"), "quality")
    w = Window.partitionBy("bucket")
    ranked = scored.select(
        "doc_id",
        "bucket",
        "quality",
        F.row_number()
        .over(w.orderBy(F.desc("quality"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "bucket",
        F.col("doc_id").cast("long").alias("keeper_id"),
        "quality",
        F.col("n_members").cast("long").alias("n_members"),
    )


# ===========================================================================
# Robust statistics: median absolute deviation (MAD) per group.
# ===========================================================================

_MAD_SQL = f"""
WITH dev AS (
    SELECT l_returnflag,
           median(l_extendedprice) OVER (PARTITION BY l_returnflag) AS med,
           l_extendedprice
    FROM lineitem
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       {R('min(med)', 4)} AS median_price,
       {R('median(abs(l_extendedprice - med))', 4)} AS mad_price
FROM dev
GROUP BY l_returnflag
"""

register_sql("robust_stats_mad", _MAD_SQL)


# ---------------------------------------------------------------------------
# Span-level (chunk) dedup ratio — the C4/MassiveText boilerplate signal.
# Document-level dedup (exact/MinHash/SimHash above) misses the common
# failure mode of web corpora: distinct documents sharing large repeated
# SPANS (navigation chrome, license boilerplate, templated intros). Split
# each doc into fixed token chunks, hash each chunk, count global
# occurrences, and emit the per-doc fraction of chunks that appear
# elsewhere in the corpus — the gate signal for span-level cleaning.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 10

_CHUNK_DEDUP_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks AS (
    SELECT doc_id,
           md5(array_to_string(
               list_slice(t, s, least(s + {_CHUNK_TOKENS} - 1, len(t))), ' '
           )) AS h
    FROM (SELECT doc_id, t,
                 unnest(range(1, len(t) + 1, {_CHUNK_TOKENS})) AS s
          FROM toks)
),
freq AS (
    -- distinct doc count per hash: a chunk is "duplicated" only when it
    -- appears in ANOTHER document, not when one doc repeats it internally
    SELECT h, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (f.n_docs > 1) AS BIGINT) AS dup_chunks,
       {R('CAST(count(*) FILTER (f.n_docs > 1) AS DOUBLE) / count(*)', 6)}
           AS dup_ratio
FROM chunks c JOIN freq f ON f.h = c.h
GROUP BY c.doc_id
"""


@register("chunk_dedup_ratio", _CHUNK_DEDUP_SQL)
def chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 10-token chunks that occur anywhere else in the
    corpus (span-level near-boilerplate signal).

    Scale shape: chunks shuffle as 32-byte md5 keys (never chunk text) to
    a map-side-combined count; the join back to per-doc chunks is
    key-to-key on the same hash. Both shuffles carry hash+count only —
    at 100 TB this is the standard "repeated span removal" pre-pass run
    before expensive doc-level MinHash."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(
                F.lit(1), F.size("t"), F.lit(_CHUNK_TOKENS)
            )
        ).alias("s"),
    )
    chunks = starts.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    F.col("s"),
                    F.least(
                        F.lit(_CHUNK_TOKENS),
                        F.size("t") - F.col("s") + F.lit(1),
                    ),
                ),
            ).cast("binary")
        ).alias("h"),
    )
    # A chunk counts as duplicated only when it occurs in ANOTHER doc —
    # distinct (h, doc_id) first, then count docs per hash; an internal
    # repeat within one document is repetition (doc_repetition_ratio's
    # signal), not cross-corpus boilerplate.
    freq = (
        chunks.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per_doc = chunks.join(freq, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("long").alias(
            "dup_chunks"
        ),
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "dup_chunks",
        dround(
            F.col("dup_chunks").cast("double") / F.col("n_chunks"), 6
        ).alias("dup_ratio"),
    )


# ===========================================================================
# Right-to-be-forgotten cascade (data governance): given a deletion
# predicate on the user dimension, purge the user rows AND every fact row
# reachable through the FK graph (orders -> lineitem; events by user_id),
# and report the per-table attrition in one pass. The GDPR/CCPA erasure
# job every production pipeline needs; the reference has no governance
# surface (SURVEY §2b north star).
#
# Scale shape: the deletion keyset is predicate-selected (tiny vs the
# dimension) and BROADCAST into left-semi/anti probes on each fact scan —
# no fact-side shuffle at all; the per-table counts are conditional-sum
# aggregates on the same scans. lineitem is reached through the
# orders-of-deleted-customers keyset, itself a semi-join output that
# stays fact-partitioned; AQE broadcasts it when small. Deleting-by-
# rewrite (anti join -> overwrite) is the table-format MERGE DELETE
# lowering; this query is its accounting plan.
# ===========================================================================

_GDPR_PRED = "c_acctbal < -900"

_GDPR_SQL = f"""
WITH del_cust AS (SELECT c_custkey FROM customer WHERE {_GDPR_PRED}),
del_orders AS (
    SELECT o_orderkey FROM orders
    SEMI JOIN del_cust ON o_custkey = c_custkey
),
c AS (
    SELECT 'customer' AS table_name, count(*) AS rows_before,
           CAST(coalesce(sum(CASE WHEN {_GDPR_PRED} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS rows_purged
    FROM customer
),
o AS (
    SELECT 'orders' AS table_name, count(*) AS rows_before,
           (SELECT count(*) FROM del_orders) AS rows_purged
    FROM orders
),
l AS (
    SELECT 'lineitem' AS table_name, count(*) AS rows_before,
           (SELECT count(*) FROM lineitem
            SEMI JOIN del_orders ON l_orderkey = o_orderkey) AS rows_purged
    FROM lineitem
),
e AS (
    SELECT 'events' AS table_name, count(*) AS rows_before,
           (SELECT count(*) FROM events
            SEMI JOIN del_cust ON user_id = c_custkey) AS rows_purged
    FROM events
)
SELECT table_name, CAST(rows_before AS BIGINT) AS rows_before,
       CAST(rows_purged AS BIGINT) AS rows_purged,
       CAST(rows_before - rows_purged AS BIGINT) AS rows_after
FROM (SELECT * FROM c UNION ALL SELECT * FROM o
      UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e) t
"""

register_sql("gdpr_delete_cascade", _GDPR_SQL)


# ===========================================================================
# k-anonymity audit (privacy, the release-side sibling of the erasure
# cascade): before publishing a dataset keyed by quasi-identifiers, every
# QI cell must contain at least k individuals — smaller cells re-identify
# (Sweeney 2002). One map-side-combined aggregation over the QI columns;
# the report is cell-level so the fix (generalize / suppress) can target
# exactly the failing cells. At 100 TB this is a single groupBy on the
# QI tuple — the cheapest privacy gate there is.
# ===========================================================================

_KANON_K = 10

_KANON_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS cell_size,
       count(*) < {_KANON_K} AS at_risk
FROM customer
GROUP BY 1, 2
"""

register_sql("k_anonymity_report", _KANON_SQL)


# ===========================================================================
# Snapshot diff / table reconciliation: classify every primary key across
# two table snapshots as added / deleted / changed / unchanged by
# comparing a row fingerprint, and ship per-class counts + key bounds.
# The anti-entropy check behind backfill audits, replica reconciliation,
# and CDC pipeline validation — at 100 TB you never eyeball two
# snapshots, you full-outer-join their fingerprints on the primary key
# (one co-partitioned shuffle per side; AQE handles the skew) and reduce
# to a constant-size report. Generalizes the reference's "is the new
# landing consistent with the old one" manual check around its
# list-and-read-latest pattern (world_map_transformer.py:280-288).
#
# The two snapshots are derived deterministically from the same fixture:
#   A = orders minus keys divisible by 89  (so those keys read "added")
#   B = orders minus keys divisible by 97  (-> "deleted"), with
#       o_totalprice uplifted 10% on 'P'-status rows (-> "changed").
# The fingerprint is md5 over the value columns with the price
# rendered as INTEGER CENTS — a double fed to concat would go through
# each engine's own float-to-string formatter and drift.
# ===========================================================================

_SNAPDIFF_SQL = f"""
WITH a AS (
    SELECT o_orderkey AS k,
           md5(concat_ws('|', o_orderstatus,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))) AS fp
    FROM orders WHERE o_orderkey % 89 <> 0
),
b AS (
    SELECT o_orderkey AS k,
           md5(concat_ws('|', o_orderstatus,
               CAST(floor((CASE WHEN o_orderstatus = 'P'
                           THEN o_totalprice * 1.1
                           ELSE o_totalprice END) * 100 + 0.5) AS BIGINT))) AS fp
    FROM orders WHERE o_orderkey % 97 <> 0
),
j AS (
    SELECT coalesce(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'deleted'
                WHEN a.fp <> b.fp THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT change_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(min(k) AS BIGINT) AS min_key,
       CAST(max(k) AS BIGINT) AS max_key
FROM j GROUP BY change_type
"""

register_sql("snapshot_diff_report", _SNAPDIFF_SQL)


# ===========================================================================
# Equi-depth histogram: decile buckets of l_extendedprice. The naive form
# is ntile(10) OVER (ORDER BY value) — an UNPARTITIONED window that drags
# the whole fact table through one task. The scale-correct replacement:
# compute the 9 interior decile thresholds with one exact-percentile
# aggregate (at 100 TB, swap in percentile_approx — same plan shape),
# broadcast them back, and assign each row its bucket with an UNROLLED
# chain of 9 codegen'd comparisons (no interpreted higher-order function
# on the per-row path). Thresholds are dround(6)-snapped in BOTH engines
# before comparison so a ULP of interpolation drift can't flip a
# boundary row. Bucket populations differ from exactly-N/10 only by
# threshold ties — which is the point: the report shows the tie mass.
# DuckDB quantile_cont == Spark percentile (same (n-1)*p interpolation).
# ===========================================================================



def _sql_decile_thresholds(src: str) -> str:
    """SELECT-list of dround(6) decile thresholds t1..t9 over relation
    `src`(v) — single source for every decile-bucketing oracle
    (equidepth_histogram, drift_psi_report)."""
    return ", ".join(
        f"{R(f'quantile_cont(v, {i / 10})', 6)} AS t{i}" for i in range(1, 10)
    )


def _sql_decile_bucket() -> str:
    """0..9 bucket id from v vs t1..t9 — explicit CASE with ELSE 0 so a
    NULL threshold (empty source period) contributes 0, matching the
    Spark twin's when/otherwise(0)."""
    return (
        "("
        + " + ".join(
            f"CASE WHEN v > t{i} THEN 1 ELSE 0 END" for i in range(1, 10)
        )
        + ")"
    )


def _decile_threshold_aggs():
    """Spark twin of _sql_decile_thresholds over a column named v."""
    return [
        dround(F.percentile(F.col("v"), F.lit(i / 10)), 6).alias(f"t{i}")
        for i in range(1, 10)
    ]


def _decile_bucket_expr():
    """Spark twin of _sql_decile_bucket: when/otherwise(0) — NOT a bare
    boolean cast, which would turn a NULL threshold into a NULL bin where
    the SQL CASE yields 0."""
    return sum(
        F.when(F.col("v") > F.col(f"t{i}"), 1).otherwise(0)
        for i in range(1, 10)
    )


_EQD_SQL = f"""
WITH src AS (SELECT l_extendedprice AS v FROM lineitem),
th AS (SELECT {_sql_decile_thresholds('src')} FROM src),
assigned AS (
    SELECT v, {_sql_decile_bucket()} AS bucket_id
    FROM src CROSS JOIN th
)
SELECT bucket_id,
       CAST(count(*) AS BIGINT) AS n,
       {R('min(v)', 2)} AS lo,
       {R('max(v)', 2)} AS hi,
       {R('avg(v)', 4)} AS mean_v
FROM assigned GROUP BY bucket_id
"""


@register("equidepth_histogram", _EQD_SQL)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile (equi-depth) histogram of l_extendedprice: per-bucket count,
    bounds, and mean, with thresholds from one exact-percentile pass.

    Plan: one scalar aggregate (the 9 thresholds) broadcast-nested-loop
    joined back onto the scan, 9 unrolled comparisons per row, one final
    groupBy on the 10-value bucket id — two shuffles total, both compact;
    no global-sort ntile anywhere."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    th = li.agg(*_decile_threshold_aggs())
    bucket = _decile_bucket_expr()
    return (
        li.crossJoin(F.broadcast(th))
        .select("v", bucket.alias("bucket_id"))
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dround(F.min("v"), 2).alias("lo"),
            dround(F.max("v"), 2).alias("hi"),
            dround(F.avg("v"), 4).alias("mean_v"),
        )
    )


# ===========================================================================
# Differentially-private release: per-(nation, segment) customer counts
# with the Laplace mechanism (sensitivity 1, epsilon 1). The mechanism's
# noise is DERIVED DETERMINISTICALLY from the cell key — u = (md5-hash
# of the key + 0.5) / 16^6, noise = -sign(u - 1/2) * ln(1 - 2|u - 1/2|)
# (the Laplace inverse CDF) — so both engines replay the identical
# release and the oracle can hash-verify a "randomized" mechanism
# (both engines build the cell key with NULL-SKIPPING concat_ws — `||`
# would NULL-propagate in DuckDB and diverge on a NULL-keyed cell). (A
# production release would use a secret seed; the mechanism's algebra,
# plan shape, and calibration are exactly this.) Noise rides the
# POST-aggregate rows: at 100 TB the fact scan is one map-side-combined
# count, and the Laplace math touches only ~cells rows.
# ===========================================================================

_DP_EPS = 1.0
_HEX6_SPAN = float(1 << 24)

_DP_SQL = f"""
WITH cells AS (
    SELECT c_nationkey, c_mktsegment, count(*) AS n
    FROM customer GROUP BY 1, 2
),
noised AS (
    SELECT c_nationkey, c_mktsegment, n,
           ({sql_md5_hex6_to_int(
               "concat_ws('|', c_nationkey, c_mktsegment)"
           )} + 0.5) / {_HEX6_SPAN} - 0.5 AS ctr
    FROM cells
)
SELECT c_nationkey, c_mktsegment,
       {R(f'n + (-sign(ctr) * ln(1.0 - 2.0 * abs(ctr)) / {_DP_EPS})', 4)}
           AS noisy_count,
       {_DP_EPS} AS epsilon
FROM noised
"""


@register("dp_noisy_release", _DP_SQL)
def dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism release of the (nation, segment) customer
    histogram at epsilon=1: count + inverse-CDF noise from the
    deterministic per-cell hash.

    Plan: one map-side-combined count over the fact table; the hash +
    log arithmetic runs on the ~cells-sized aggregate only. True counts
    never appear in the output columns."""
    from ..functions.text import md5_hex6_to_int

    c = read_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    key = F.concat_ws(
        "|", F.col("c_nationkey").cast("string"), F.col("c_mktsegment")
    )
    ctr = (md5_hex6_to_int(key) + 0.5) / F.lit(_HEX6_SPAN) - 0.5
    noise = -F.signum(ctr) * F.log(1.0 - 2.0 * F.abs(ctr)) / _DP_EPS
    return cells.select(
        "c_nationkey",
        "c_mktsegment",
        dround(F.col("n") + noise, 4).alias("noisy_count"),
        F.lit(_DP_EPS).alias("epsilon"),
    )


# ===========================================================================
# Data-drift monitoring: Population Stability Index of o_totalprice
# between a reference period (orders before the cutoff) and the current
# period (after). Bin edges are the REFERENCE period's deciles — the
# production discipline: the monitored distribution is scored against
# frozen training-time bins, so a drifting current period can't hide by
# re-binning itself. PSI_bin = (p_cur - p_ref) * ln(p_cur / p_ref);
# > 0.2 total is the conventional "investigate" threshold. Plan: one
# percentile aggregate over the reference scan (broadcast back), one
# conditional-sum pass binning BOTH periods, window totals over the
# 10-row bin table. Eps-smoothing keeps empty bins finite in both
# engines identically.
# ===========================================================================

_PSI_EPS = 1e-6

_PSI_SQL = f"""
WITH cut AS (
    -- data-derived midpoint date: robust to fixture regeneration (a
    -- hardcoded date could leave one period empty -> 0/0 shares)
    SELECT min(o_orderdate)
           + CAST(floor(date_diff('day', min(o_orderdate),
                                  max(o_orderdate)) / 2) AS INTEGER)
             * INTERVAL 1 DAY AS mid
    FROM orders
),
ref AS (
    SELECT o_totalprice AS v FROM orders CROSS JOIN cut
    WHERE o_orderdate < cut.mid
),
cur AS (
    SELECT o_totalprice AS v FROM orders CROSS JOIN cut
    WHERE o_orderdate >= cut.mid
),
th AS (SELECT {_sql_decile_thresholds('ref')} FROM ref),
binned AS (
    SELECT 'ref' AS period, {_sql_decile_bucket()} AS bin
    FROM ref CROSS JOIN th
    UNION ALL
    SELECT 'cur', {_sql_decile_bucket()} AS bin
    FROM cur CROSS JOIN th
),
cnt AS (
    SELECT bin,
           CAST(count(*) FILTER (period = 'ref') AS DOUBLE) AS n_ref,
           CAST(count(*) FILTER (period = 'cur') AS DOUBLE) AS n_cur
    FROM binned GROUP BY bin
),
share AS (
    SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           n_ref / sum(n_ref) OVER () + {_PSI_EPS} AS p_ref,
           n_cur / sum(n_cur) OVER () + {_PSI_EPS} AS p_cur
    FROM cnt
)
SELECT bin, n_ref, n_cur,
       {R('p_ref', 6)} AS share_ref,
       {R('p_cur', 6)} AS share_cur,
       {R('(p_cur - p_ref) * ln(p_cur / p_ref)', 6)} AS psi_part
FROM share
"""


@register("drift_psi_report", _PSI_SQL)
def drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin PSI of the current period's o_totalprice against the
    reference period's frozen decile bins (sum of psi_part = the PSI)."""
    o = read_table(spark, sf_dir, "orders")
    cut = o.agg(
        F.date_add(
            F.min("o_orderdate"),
            F.floor(
                F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) / 2
            ).cast("int"),
        ).alias("mid")
    )
    o = o.crossJoin(F.broadcast(cut))
    ref = o.filter(F.col("o_orderdate") < F.col("mid")).select(
        F.col("o_totalprice").alias("v")
    )
    cur = o.filter(F.col("o_orderdate") >= F.col("mid")).select(
        F.col("o_totalprice").alias("v")
    )
    th = ref.agg(*_decile_threshold_aggs())
    bin_expr = _decile_bucket_expr()
    binned = (
        ref.withColumn("period", F.lit("ref"))
        .unionByName(cur.withColumn("period", F.lit("cur")))
        .crossJoin(F.broadcast(th))
        .select("period", bin_expr.alias("bin"))
    )
    cnt = binned.groupBy("bin").agg(
        F.count(F.when(F.col("period") == "ref", F.lit(1)))
        .cast("double")
        .alias("n_ref"),
        F.count(F.when(F.col("period") == "cur", F.lit(1)))
        .cast("double")
        .alias("n_cur"),
    )
    w_all = Window.partitionBy()
    p_ref = F.col("n_ref") / F.sum("n_ref").over(w_all) + _PSI_EPS
    p_cur = F.col("n_cur") / F.sum("n_cur").over(w_all) + _PSI_EPS
    return cnt.select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        dround(p_ref, 6).alias("share_ref"),
        dround(p_cur, 6).alias("share_cur"),
        dround((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_part"),
    )


# ===========================================================================
# Benford first-digit audit: the classic fabricated-numbers screen.
# Naturally-occurring multiplicative quantities put digit d first with
# probability log10(1 + 1/d); a synthetic or truncated column deviates
# loudly. One map-side-combined aggregate on the 9-value digit key plus
# the chi-square contribution per digit — the same report shape as
# `chisq_segment_region`, pointed at data forensics. (The fixture's
# uniform-ish prices intentionally FAIL Benford — the audit's point is
# to measure the deviation, not to pass.)
# ===========================================================================

_BENFORD_SQL = f"""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
    FROM orders WHERE o_totalprice >= 1
),
cnt AS (SELECT digit, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY digit),
tot AS (SELECT sum(n) AS t FROM cnt)
SELECT digit,
       CAST(n AS BIGINT) AS n,
       {R('n / tot.t', 6)} AS share,
       {R('ln(1.0 + 1.0 / digit) / ln(10.0)', 6)} AS benford_share,
       {R('pow(n / tot.t - ln(1.0 + 1.0 / digit) / ln(10.0), 2) / (ln(1.0 + 1.0 / digit) / ln(10.0))', 6)} AS chi2_part
FROM cnt CROSS JOIN tot
"""


@register("benford_digit_audit", _BENFORD_SQL)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of o_totalprice vs Benford's law with
    per-digit chi-square contributions."""
    o = read_table(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
    ).cast("int")
    cnt = (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    tot = cnt.agg(F.sum("n").alias("t"))
    expected = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    share = F.col("n") / F.col("t")
    return cnt.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        dround(share, 6).alias("share"),
        dround(expected, 6).alias("benford_share"),
        dround(F.pow(share - expected, 2) / expected, 6).alias("chi2_part"),
    )


# ===========================================================================
# l-diversity audit (Machanavajjhala et al. 2007): k-anonymity's
# successor — a QI cell can be large yet still leak if every member
# shares the same SENSITIVE value (homogeneity attack). Per
# (nation, segment) QI cell over the customers: distinct sensitive
# values (account-balance thousand-band), the entropy form
# exp(H(sensitive | cell)) that l-diversity's entropy variant uses, and
# the l < 3 risk flag. Two aggregations over the cell x band grain —
# the fact table is touched once; everything else is cell-cardinality.
# ===========================================================================

_LDIV_L = 3

_LDIV_SQL = f"""
WITH cb AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
           CAST(count(*) AS DOUBLE) AS n
    FROM customer GROUP BY 1, 2, 3
),
staged AS (
    SELECT *, sum(n) OVER (PARTITION BY c_nationkey, c_mktsegment) AS cell_n
    FROM cb
),
cells AS (
    SELECT c_nationkey, c_mktsegment,
           sum(n) AS cell_size,
           count(*) AS l_distinct,
           sum(-(n / cell_n) * ln(n / cell_n)) AS h
    FROM staged GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment,
       CAST(cell_size AS BIGINT) AS cell_size,
       CAST(l_distinct AS BIGINT) AS l_distinct,
       {R("exp(h)", 6)} AS entropy_l,
       l_distinct < {_LDIV_L} AS at_risk
FROM cells
"""

register_sql("l_diversity_report", _LDIV_SQL)


# ===========================================================================
# Append-only ledger audit: a tamper-evident hash chain per day over the
# order stream — h_i = md5(h_{i-1} | orderkey | status | cents), seeded
# 'genesis', folded in orderkey order. Re-running the audit after any
# backfill reveals exactly which day-chains changed (the blockchain-style
# integrity check for regulatory event stores). Day partitions bound the
# chains: each fold is one day's rows (calendar x shard bounded at scale,
# the same sharding rule production ledgers use); days are independent so
# the audit parallelizes per day. Prices ride as INTEGER CENTS — a raw
# double in a hash key would go through each engine's float formatter.
# ===========================================================================

_LEDGER_SQL = """
WITH rows_r AS (
    SELECT CAST(floor(floor(epoch(o_orderdate)) / 86400) AS BIGINT) AS day_num,
           o_orderkey,
           concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                     CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR)) AS payload
    FROM orders
)
SELECT day_num,
       CAST(count(*) AS BIGINT) AS n_orders,
       list_reduce(
           list_prepend('genesis', list(payload ORDER BY o_orderkey)),
           (a, x) -> md5(concat_ws('|', a, x))
       ) AS ledger_hash
FROM rows_r GROUP BY day_num
"""


@register("ledger_hash_chain", _LEDGER_SQL)
def ledger_hash_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day tamper-evident md5 chain over orders in orderkey order,
    seeded 'genesis'; cents-rendered prices keep the key engine-exact."""
    o = read_table(spark, sf_dir, "orders")
    rows_r = o.select(
        F.floor(F.col("o_orderdate").cast("long") / 86400)
        .cast("long")
        .alias("day_num"),
        F.struct(
            "o_orderkey",
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ).alias("payload"),
        ).alias("s"),
    )
    agg = rows_r.groupBy("day_num").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.array_sort(F.collect_list("s")).alias("series"),
    )
    chain = F.aggregate(
        F.col("series"),
        F.lit("genesis"),
        lambda acc, s: F.md5(F.concat_ws("|", acc, s["payload"])),
    )
    return agg.select("day_num", "n_orders", chain.alias("ledger_hash"))


# ===========================================================================
# Column profiling (ANALYZE TABLE / data-catalog statistics): per-column
# row count, null count, distinct count, and min/max rendered through
# type-deterministic representations (BIGINT text for keys, integer
# cents for prices, epoch seconds for timestamps — never a raw double
# through a float formatter). Each column's aggregate scans ONLY that
# column (parquet column pruning), which is how catalog stats collection
# stays cheap at 100 TB; the union is of 1-row frames.
# ===========================================================================


def _profile_sql(col: str, val_expr: str, repr_expr: str) -> str:
    return f"""
SELECT '{col}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({val_expr}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {val_expr}) AS BIGINT) AS n_distinct,
       CAST(min({repr_expr}) AS VARCHAR) AS min_repr,
       CAST(max({repr_expr}) AS VARCHAR) AS max_repr
FROM orders
"""


_PROFILE_SQL = " UNION ALL ".join(
    [
        _profile_sql("o_orderkey", "o_orderkey", "o_orderkey"),
        _profile_sql("o_custkey", "o_custkey", "o_custkey"),
        _profile_sql("o_orderstatus", "o_orderstatus", "o_orderstatus"),
        _profile_sql(
            "o_totalprice",
            "o_totalprice",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
        ),
        _profile_sql(
            "o_orderdate",
            "o_orderdate",
            "CAST(floor(epoch(o_orderdate)) AS BIGINT)",
        ),
    ]
)


@register("column_profile_report", _PROFILE_SQL)
def column_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-statistics profile of every orders column: counts, nulls,
    distincts, deterministic min/max representations."""
    o = read_table(spark, sf_dir, "orders")

    def prof(col: str, repr_col: F.Column) -> DataFrame:
        return o.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(F.col(col)))
            .cast("long")
            .alias("n_null"),
            F.count_distinct(F.col(col)).cast("long").alias("n_distinct"),
            F.min(repr_col).cast("string").alias("min_repr"),
            F.max(repr_col).cast("string").alias("max_repr"),
        )

    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    epoch = F.col("o_orderdate").cast("long")
    return (
        prof("o_orderkey", F.col("o_orderkey"))
        .unionByName(prof("o_custkey", F.col("o_custkey")))
        .unionByName(prof("o_orderstatus", F.col("o_orderstatus")))
        .unionByName(prof("o_totalprice", cents))
        .unionByName(prof("o_orderdate", epoch))
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test: is the current period's order-value
# DISTRIBUTION the same as the reference period's? The nonparametric
# companion to drift_psi_report (PSI needs binning; KS compares the full
# empirical CDFs). Same data-derived midpoint split as PSI.
#
# Scale: reduce to the distinct-VALUE grain with per-period counts first
# (one map-side-combined aggregation), so the cumulative windows order
# the grain relation, never fact rows; at extreme value cardinality
# pre-bin exactly as PSI does. Counts are integers -> cumulative CDFs
# are order-exact in both engines, and the D statistic and the critical
# value c(.05)*sqrt((n+m)/nm) are identical IEEE expressions.
# ---------------------------------------------------------------------------

_KS_C05 = 1.358  # Smirnov critical coefficient at alpha = 0.05

_KS_SQL = f"""
WITH cut AS (
    SELECT min(o_orderdate)
           + CAST(floor(date_diff('day', min(o_orderdate),
                                  max(o_orderdate)) / 2) AS INTEGER)
             * INTERVAL 1 DAY AS mid
    FROM orders
),
tagged AS (
    SELECT o_totalprice AS v,
           CASE WHEN o_orderdate < cut.mid THEN 1 ELSE 0 END AS is_ref
    FROM orders CROSS JOIN cut
),
grain AS (
    SELECT v, CAST(sum(is_ref) AS DOUBLE) AS n_ref,
           CAST(sum(1 - is_ref) AS DOUBLE) AS n_cur
    FROM tagged GROUP BY v
),
tot AS (SELECT sum(n_ref) AS nr, sum(n_cur) AS nc FROM grain),
cdf AS (
    SELECT sum(n_ref) OVER w / nr AS f_ref,
           sum(n_cur) OVER w / nc AS f_cur
    FROM grain CROSS JOIN tot
    WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
)
SELECT CAST(nr AS BIGINT) AS n_ref,
       CAST(nc AS BIGINT) AS n_cur,
       {R('max(abs(f_ref - f_cur))', 6)} AS ks_d,
       max(abs(f_ref - f_cur))
           > {_KS_C05} * sqrt((nr + nc) / (nr * nc)) AS reject_at_05
FROM cdf CROSS JOIN tot
GROUP BY nr, nc
"""


@register("ks_two_sample_drift", _KS_SQL)
def ks_two_sample_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS D statistic between the reference and current halves of the
    order-value stream, with the alpha=.05 rejection flag.

    Grain-cardinality assumption: the cumulative ECDF windows run over
    the DISTINCT-order-value grain (exact KS needs the full value
    order). Bounded by the price domain (cents-rounded), not the fact
    count — for a near-continuous measure at 100 TB, pre-round or
    bucket the measure, or use a quantile-sketch KS instead."""
    o = read_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    mid = bounds.select(
        F.date_add(
            F.col("lo"), F.floor(F.datediff("hi", "lo") / 2).cast("int")
        ).alias("mid")
    )
    tagged = o.crossJoin(F.broadcast(mid)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderdate") < F.col("mid"), 1).otherwise(0).alias(
            "is_ref"
        ),
    )
    grain = tagged.groupBy("v").agg(
        F.sum("is_ref").cast("double").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("double").alias("n_cur"),
    )
    tot = grain.agg(
        F.sum("n_ref").alias("nr"), F.sum("n_cur").alias("nc")
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = grain.crossJoin(F.broadcast(tot)).select(
        (F.sum("n_ref").over(wcum) / F.col("nr")).alias("f_ref"),
        (F.sum("n_cur").over(wcum) / F.col("nc")).alias("f_cur"),
        "nr",
        "nc",
    )
    d = F.max(F.abs(F.col("f_ref") - F.col("f_cur")))
    return cdf.groupBy("nr", "nc").agg(
        dround(d, 6).alias("ks_d"),
        (
            d
            > _KS_C05
            * F.sqrt((F.col("nr") + F.col("nc")) / (F.col("nr") * F.col("nc")))
        ).alias("reject_at_05"),
    ).select(
        F.col("nr").cast("long").alias("n_ref"),
        F.col("nc").cast("long").alias("n_cur"),
        "ks_d",
        "reject_at_05",
    )
