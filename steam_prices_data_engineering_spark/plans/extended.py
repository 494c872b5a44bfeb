"""Extended operator coverage beyond the reference's own surface
(SURVEY.md §2a "explicitly absent" list + §2b): set ops, rollup, ranking
windows, as-of/range joins, date & math scalars, distinct aggregation,
ordered string agg, the pandas-UDF surface, embedding LSH bucketing, and
stateful streaming dedup. Registered into the same registry as the core set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..sources.tables import read_table
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# Set operations (union / intersect / except)
# ---------------------------------------------------------------------------

_SETOPS_SQL = """
WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
     both_ AS (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o),
     only_f AS (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o),
     all_ AS (SELECT o_custkey FROM f UNION SELECT o_custkey FROM o)
SELECT 'both' AS bucket, CAST(count(*) AS BIGINT) AS n FROM both_
UNION ALL
SELECT 'only_f' AS bucket, CAST(count(*) AS BIGINT) AS n FROM only_f
UNION ALL
SELECT 'any' AS bucket, CAST(count(*) AS BIGINT) AS n FROM all_
"""

register_sql("setops_custkeys", _SETOPS_SQL)


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP (subtotals + grand total)
# ---------------------------------------------------------------------------

_ROLLUP_SQL = f"""
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {R('sum(o_totalprice)', 2)} AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

register_sql("rollup_status_priority", _ROLLUP_SQL)


_CUBE_SQL = f"""
SELECT coalesce(l_returnflag, '<all>') AS rflag,
       coalesce(l_linestatus, '<all>') AS lstatus,
       CAST(count(*) AS BIGINT) AS n,
       {R('avg(l_quantity)', 4)} AS avg_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

register_sql("cube_returnflag_linestatus", _CUBE_SQL)


# ---------------------------------------------------------------------------
# Ranking & analytic window functions
# ---------------------------------------------------------------------------

_RANKING_SQL = f"""
WITH ranked AS (
    SELECT c_nationkey, c_custkey, c_acctbal,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           lag(c_acctbal) OVER w AS prev_bal,
           lead(c_acctbal) OVER w AS next_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
)
SELECT c_nationkey, c_custkey,
       CAST(rn AS BIGINT) AS rn, CAST(rnk AS BIGINT) AS rnk,
       CAST(drnk AS BIGINT) AS drnk,
       {R('c_acctbal - prev_bal', 2)} AS gap_prev,
       {R('next_bal - c_acctbal', 2)} AS gap_next
FROM ranked WHERE rn <= 3
"""

register_sql("ranking_top_customers", _RANKING_SQL)


# ---------------------------------------------------------------------------
# As-of join (each event -> most recent order of the matching customer at
# or before the event time)
# ---------------------------------------------------------------------------

_ASOF_SQL = f"""
WITH matched AS (
    SELECT e.event_id, o.o_orderkey, o.o_orderdate,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM events e
    JOIN orders o ON o.o_custkey = e.user_id + 1 AND o.o_orderdate <= e.ts
)
SELECT event_id, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS asof_epoch
FROM matched WHERE rn = 1
"""


@register("asof_join_events_orders", _ASOF_SQL)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: latest order at-or-before each event's
    timestamp for the event's customer. Expressed as an equi-join on the
    key + inequality + per-event row_number — the shuffle is on the equi
    key, so it scales like a normal join; the per-key sort replaces the
    merge-scan of a native as-of operator. (At extreme per-key order
    counts the union-sort-carry-forward formulation wins; documented here
    as the alternative.)"""
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders")
    joined = e.join(
        o,
        (o.o_custkey == e.user_id + 1) & (o.o_orderdate <= e.ts),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "o_orderkey",
            F.col("o_orderdate").cast("long").alias("asof_epoch"),
        )
    )


# ---------------------------------------------------------------------------
# Range (band) join
# ---------------------------------------------------------------------------

_RANGE_JOIN_SQL = f"""
WITH bands(band, lo, hi) AS (
    VALUES ('budget', 0.0, 500.0), ('mid', 500.0, 1200.0), ('premium', 1200.0, 1e9)
)
SELECT band, CAST(count(*) AS BIGINT) AS n_parts,
       {R('avg(p_retailprice)', 4)} AS avg_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""

register_sql("range_join_price_bands", _RANGE_JOIN_SQL)


# ---------------------------------------------------------------------------
# Date/time scalar functions
# ---------------------------------------------------------------------------

_DATE_FUNCS_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)) AS BIGINT) AS first_month_epoch,
       CAST(max(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)) AS BIGINT) AS max_days_since
FROM orders
GROUP BY 1, 2
"""


@register("date_scalar_funcs", _DATE_FUNCS_SQL)
def date_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/quarter extraction, date_trunc, day differences — grouped by
    (year, quarter). All codegen'd date arithmetic."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.date_trunc("month", F.col("o_orderdate")).cast("long")).alias(
                "first_month_epoch"
            ),
            F.max(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1995-01-01").cast("date"),
                ).cast("long")
            ).alias("max_days_since"),
        )
    )


# ---------------------------------------------------------------------------
# Math scalar functions (IEEE-deterministic subset)
# ---------------------------------------------------------------------------

_MATH_FUNCS_SQL = f"""
SELECT s_suppkey,
       {R('abs(s_acctbal)', 4)} AS abs_bal,
       CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
       CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
       {R('sqrt(abs(s_acctbal))', 6)} AS sqrt_bal,
       {R('s_acctbal * s_acctbal', 4)} AS sq_bal,
       CAST(sign(s_acctbal) AS DOUBLE) AS sign_bal
FROM supplier
"""

register_sql("math_scalar_funcs", _MATH_FUNCS_SQL)


# ---------------------------------------------------------------------------
# Distinct aggregation + ordered string agg
# ---------------------------------------------------------------------------

_DISTINCT_AGG_SQL = f"""
SELECT o_orderstatus,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       {R('sum(DISTINCT o_totalprice)', 2)} AS sum_distinct_price,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderstatus
"""

register_sql("distinct_agg_per_status", _DISTINCT_AGG_SQL)


_STRING_AGG_SQL = """
SELECT p_brand,
       string_agg(DISTINCT p_type, ',' ORDER BY p_type) AS types
FROM part
GROUP BY p_brand
"""


@register("string_agg_types_per_brand", _STRING_AGG_SQL)
def string_agg_types_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct string aggregation: collect_set -> sort_array ->
    concat_ws (deterministic regardless of partition order)."""
    p = read_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("p_type"))).alias("types")
    )


# ---------------------------------------------------------------------------
# String scalar functions (cross-engine-exact subset)
# ---------------------------------------------------------------------------

_STRING_FUNCS_SQL = """
SELECT p_partkey,
       upper(p_name) AS up_name,
       CAST(strpos(p_name, 'e') AS BIGINT) AS first_e,
       left(p_name, 4) AS head4,
       right(p_name, 3) AS tail3,
       translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
       replace(p_name, ' ', '_') AS snake,
       split_part(p_name, ' ', 2) AS second_word,
       reverse(p_name) AS rev,
       repeat(left(p_name, 1), 3) AS tri_initial,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
       CAST(starts_with(p_name, 'red') AS BOOLEAN) AS is_red
FROM part
"""


@register("string_scalar_funcs", _STRING_FUNCS_SQL)
def string_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string scalar library (upper/strpos/left/right/translate/replace/
    split_part/reverse/repeat/lpad/starts_with) — rounds out the scalar
    families (date_scalar_funcs, math_scalar_funcs). All JVM-codegen'd
    expressions; the reference's string work (case normalize O22, value
    remap O23, regex parse O20) composes from exactly this layer. initcap
    and soundex are excluded: their word/phonetic semantics differ across
    engines."""
    p = read_table(spark, sf_dir, "part")
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.upper(name).alias("up_name"),
        F.instr(name, "e").cast("long").alias("first_e"),
        F.left(name, F.lit(4)).alias("head4"),
        F.right(name, F.lit(3)).alias("tail3"),
        F.translate(name, "aeiou", "AEIOU").alias("vowels_up"),
        F.replace(name, F.lit(" "), F.lit("_")).alias("snake"),
        F.split_part(name, F.lit(" "), F.lit(2)).alias("second_word"),
        F.reverse(name).alias("rev"),
        F.repeat(F.left(name, F.lit(1)), 3).alias("tri_initial"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.startswith(name, F.lit("red")).alias("is_red"),
    )


# ---------------------------------------------------------------------------
# Bitwise aggregates + shifts
# ---------------------------------------------------------------------------

_BITWISE_SQL = """
SELECT o_orderstatus,
       CAST(bit_and(o_custkey) AS BIGINT) AS and_cust,
       CAST(bit_or(o_custkey) AS BIGINT) AS or_cust,
       CAST(bit_xor(o_custkey) AS BIGINT) AS xor_cust,
       CAST(sum(o_orderkey << 1) AS BIGINT) AS sum_shifted,
       CAST(sum(xor(o_orderkey, o_custkey) & 255) AS BIGINT) AS sum_xor_low,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderstatus
"""


@register("bitwise_agg_funcs", _BITWISE_SQL)
def bitwise_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and/bit_or/bit_xor — order-insensitive, so
    shuffle-partial-safe) plus scalar shift/xor/mask arithmetic. These back
    bitmap-style set encodings (the SimHash band trick in operators/dedup.py
    is the same algebra). DuckDB's `^` is exponentiation, so the oracle
    spells xor(); Spark-side it's the `^` column operator."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and("o_custkey").cast("long").alias("and_cust"),
        F.bit_or("o_custkey").cast("long").alias("or_cust"),
        F.bit_xor("o_custkey").cast("long").alias("xor_cust"),
        F.sum(F.shiftleft(F.col("o_orderkey"), 1)).cast("long").alias("sum_shifted"),
        F.sum(
            (F.col("o_orderkey").bitwiseXOR(F.col("o_custkey"))).bitwiseAND(F.lit(255))
        )
        .cast("long")
        .alias("sum_xor_low"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# MapType columns: JSON -> typed map -> entry explosion
# ---------------------------------------------------------------------------

_MAP_FUNCS_SQL = f"""
WITH entries AS (
    SELECT event_type,
           unnest(json_keys(props)) AS k,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS v
    FROM events
)
SELECT event_type, k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v,
       {R('avg(CAST(v AS DOUBLE))', 4)} AS avg_v
FROM entries
GROUP BY 1, 2
"""


@register("map_column_funcs", _MAP_FUNCS_SQL)
def map_column_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: `from_json` into `map<string,int>` (parse ONCE —
    events_variant_props_bands shows the Variant form), then
    `explode(map_entries(...))` into (key, value) rows and per-key stats.
    This is the schema-on-read shape for ragged property bags where keys
    aren't known at write time; the map explode is a narrow Generate, the
    only shuffle is the final small aggregate."""
    e = read_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,int>")
    entry = F.explode(F.map_entries(m)).alias("entry")
    flat = e.select("event_type", entry).select(
        "event_type",
        F.col("entry.key").alias("k"),
        F.col("entry.value").alias("v"),
    )
    return flat.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").cast("long").alias("min_v"),
        F.max("v").cast("long").alias("max_v"),
        dround(F.avg(F.col("v").cast("double")), 4).alias("avg_v"),
    )


# ---------------------------------------------------------------------------
# ANSI-safe try_* arithmetic: per-row error absorption as expressions
# ---------------------------------------------------------------------------

_TRY_FUNCS_SQL = f"""
SELECT o_orderkey,
       {R('o_totalprice / nullif(o_custkey % 5, 0)', 4)} AS per_bucket,
       CAST(try_cast(o_orderpriority AS INTEGER) AS BIGINT) AS prio_raw,
       CAST(try_cast(left(o_orderpriority, 1) AS INTEGER) AS BIGINT) AS prio_num,
       CAST(coalesce(try_cast(left(o_orderpriority, 1) AS INTEGER), -1) AS BIGINT) AS prio_filled
FROM orders
"""

register_sql("try_arithmetic_funcs", _TRY_FUNCS_SQL)


# ---------------------------------------------------------------------------
# Full outer join: keep unmatched rows from BOTH sides. The two inputs are
# deliberately filtered to different key subsets so every outer-join row
# class (left-only / right-only / matched) appears in the result.
# ---------------------------------------------------------------------------

_FULL_OUTER_SQL = """
WITH c AS (SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS n_cust
           FROM customer WHERE c_nationkey % 2 = 0 GROUP BY 1),
     s AS (SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS n_supp
           FROM supplier WHERE s_nationkey % 3 = 0 GROUP BY 1)
SELECT coalesce(c.k, s.k) AS nationkey, c.n_cust, s.n_supp
FROM c FULL JOIN s ON c.k = s.k
"""

register_sql("full_outer_join_nation_counts", _FULL_OUTER_SQL)


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
# each other instead of vanishing from the join.
# ---------------------------------------------------------------------------

_NULLSAFE_JOIN_SQL = f"""
WITH a AS (SELECT nullif(o_orderstatus, 'P') AS k,
                  CAST(count(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1),
     b AS (SELECT nullif(o_orderstatus, 'P') AS k,
                  {R('sum(o_totalprice)', 2)} AS total
           FROM orders GROUP BY 1)
SELECT coalesce(a.k, '<null>') AS status_key, a.n_orders, b.total
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""

register_sql("nullsafe_join_status", _NULLSAFE_JOIN_SQL)


# ---------------------------------------------------------------------------
# Higher-moment aggregates: skewness / kurtosis. Spark computes these in
# one pass with mergeable per-partition central-moment updates; the
# oracle takes the textbook two-pass route (mean first, then centered
# powers). Exact median deliberately lives elsewhere
# (percentile_exact_by_flag) — it is NOT mergeable and materializes
# per-group value lists, so mixing it in would drag this whole aggregate
# off the fast partial-agg path (measured 4x slower at sf0.1).
# ---------------------------------------------------------------------------

_MOMENTS_SQL = f"""
WITH m AS (
    -- count(l_extendedprice), not count(*): Spark's skewness/kurtosis use
    -- the NON-NULL count, and mu is the NULL-skipping avg — both engines
    -- must agree on n should the measure ever contain NULLs.
    SELECT l_returnflag, avg(l_extendedprice) AS mu,
           count(l_extendedprice) AS n
    FROM lineitem GROUP BY 1
),
agg AS (
    SELECT l.l_returnflag,
           sum(pow(l.l_extendedprice - m.mu, 2)) / m.n AS m2,
           sum(pow(l.l_extendedprice - m.mu, 3)) / m.n AS m3,
           sum(pow(l.l_extendedprice - m.mu, 4)) / m.n AS m4
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.mu, m.n
)
SELECT l_returnflag,
       {R('m3 / pow(m2, 1.5)', 4)} AS skew,
       {R('m4 / pow(m2, 2) - 3.0', 4)} AS kurt
FROM agg
"""


@register("moments_skew_kurtosis", _MOMENTS_SQL)
def moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag in one
    distributed pass: Spark merges per-partition central moments, so the
    shuffle carries 4 doubles per (partition, group) — constant-size
    regardless of fact rows. The oracle recomputes both from first
    principles (two-pass centered powers), so agreement checks the moment
    algebra, not just the API name."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dround(F.skewness("l_extendedprice"), 4).alias("skew"),
        dround(F.kurtosis("l_extendedprice"), 4).alias("kurt"),
    )


# ---------------------------------------------------------------------------
# Cryptographic hash scalars: content addressing / integrity columns.
# md5 and sha2-256 agree byte-for-byte across engines (unlike the
# engine-specific hash()/xxhash64 used for partitioning).
# ---------------------------------------------------------------------------

_HASH_FUNCS_SQL = """
SELECT doc_id,
       md5(text) AS md5_hex,
       sha256(text) AS sha256_hex,
       CAST(length(md5(text)) AS BIGINT) AS md5_len
FROM documents
"""


@register("hash_scalar_funcs", _HASH_FUNCS_SQL)
def hash_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressing hashes per document (md5 + sha2-256 hex) — the
    integrity/lineage columns a landing pipeline stamps on every record.
    Standardized digests, so both engines agree byte-for-byte; Spark's
    hash()/xxhash64 are engine-internal and stay out of compared output."""
    d = read_table(spark, sf_dir, "documents")
    text_bin = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.md5(text_bin).alias("md5_hex"),
        F.lower(F.sha2(text_bin, 256)).alias("sha256_hex"),
        F.length(F.md5(text_bin)).cast("long").alias("md5_len"),
    )
