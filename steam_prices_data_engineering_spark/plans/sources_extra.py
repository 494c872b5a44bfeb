"""Remaining file-format source/sink coverage: ORC and line-text.

The reference reads/writes exactly two at-rest formats — snappy parquet and
PNG (`external_resources.py:49,64-68`); CSV and JSON-lines round-trips are
covered in coverage_extra/decontam. ORC and text complete Spark's built-in
columnar/row format surface. Same contract as jsonl_source_roundtrip: write
to a scratch landing, read back with an explicitly declared schema (never
inference — SURVEY.md §1.4's fail-fast rule), aggregate; the oracle computes
the identical aggregate from the canonical parquet, so the comparison proves
the round-trip is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rounding import dround, dround_sql as R
from ..session import landing
from ..sources.tables import read_table
from .registry import register

_ORC_SQL = f"""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       {R('sum(o_totalprice)', 2)} AS total
FROM orders
GROUP BY o_orderstatus
"""


@register("orc_source_roundtrip", _ORC_SQL)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip. ORC is the other splittable columnar
    format with predicate pushdown and column pruning; the same
    PushedFilters/ReadSchema discipline as parquet applies, so a cluster
    reading 100 TB of ORC gets identical stripe-level skipping."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orc_dir = landing(spark, "orders_orc", sf_dir)
    o.write.orc(orc_dir)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).orc(orc_dir)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dround(F.sum("o_totalprice"), 2).alias("total"),
    )


_TEXT_SQL = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(source)) AS BIGINT) AS src_chars
FROM documents
GROUP BY lang
"""


@register("text_source_line_stats", _TEXT_SQL)
def text_source_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink + source (`spark.read.text` — the rawest
    ingestion path, one row per line). Only newline-free columns may land
    as text lines (document bodies contain newlines and would shred), so
    the line is `lang\\tsource`; read-back splits the delimiter. This is
    the log-file ingestion shape: splittable, schema applied by expression
    after the scan."""
    d = read_table(spark, sf_dir, "documents").select(
        F.concat_ws("\t", "lang", "source").alias("value")
    )
    text_dir = landing(spark, "documents_text", sf_dir)
    d.write.text(text_dir)
    back = spark.read.text(text_dir)
    parts = F.split(F.col("value"), "\t")
    return (
        back.select(
            parts.getItem(0).alias("lang"), parts.getItem(1).alias("source")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("source")).cast("long").alias("src_chars"),
        )
    )


# ---------------------------------------------------------------------------
# binaryFile source: the file-per-record ingestion path for multimodal data.
# ---------------------------------------------------------------------------

_BINARY_MAX_ID = 64  # bounded, sf-independent landing set

_BINARYFILE_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < {_BINARY_MAX_ID}
"""


@register("binaryfile_source_metadata", _BINARYFILE_SQL)
def binaryfile_source_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-per-record binary ingestion via `spark.read.format("binaryFile")`
    — the scan shape for image/audio/video corpora (one opaque blob per
    file, typed metadata columns `path`/`length`/`modificationTime` for
    free). The record key is recovered from the filename executor-side
    (`regexp_extract` on `path`) and the content features (byte length,
    md5) are computed on the raw bytes, exactly where a real image decoder
    would plug in (operators/multimodal.py). At 100 TB the binaryFile
    source parallelizes across files, so millions of blobs scan wide; the
    driver only stages the fixture files here (bounded to doc_id < 64,
    constant across scale factors). Oracle recomputes both features from
    the canonical text, proving the bytes round-tripped unchanged."""
    import os

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _BINARY_MAX_ID
    )
    rows = d.select("doc_id", "text").collect()  # bounded: < 64 records
    bin_dir = landing(spark, "documents_bin", sf_dir)
    os.makedirs(bin_dir)
    for r in rows:
        with open(os.path.join(bin_dir, f"doc_{r.doc_id:05d}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))

    back = spark.read.format("binaryFile").load(bin_dir)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


_XML_SQL = f"""
SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
       {R('sum(s_acctbal)', 2)} AS total_acctbal
FROM supplier
GROUP BY s_nationkey
"""


@register("xml_source_roundtrip", _XML_SQL)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML sink + source (built into Spark 4: `format("xml")` with a
    rowTag — no external package). XML is the interchange format the other
    round-trips don't cover: row-oriented, self-describing, splittable on
    the row tag. Schema is declared on read (never inferred) and numeric
    round-tripping is exact because the writer emits shortest-repr doubles.
    The oracle aggregates the canonical parquet, proving the hop lossless."""
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    xml_dir = landing(spark, "supplier_xml", sf_dir)
    s.write.format("xml").option("rowTag", "supplier").save(xml_dir)
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_nationkey", T.LongType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", "supplier")
        .load(xml_dir)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        dround(F.sum("s_acctbal"), 2).alias("total_acctbal"),
    )


# ---------------------------------------------------------------------------
# File-provenance audit via the hidden _metadata columns: per-input-file
# row counts and key ranges without any extra scan or bookkeeping table.
# At 100 TB this is the debugging/reconciliation primitive ("which landed
# file produced these rows, and is any file short?") — Spark exposes it as
# the `_metadata` struct on every file source; DuckDB's filename=true
# replays it for the oracle.
# ---------------------------------------------------------------------------

# The oracle runs against the driver's pre-registered VIEWS (no file
# paths in scope), so it asserts the documented fixture layout instead:
# TESTDATA.md pins "one parquet each", i.e. every documents row comes
# from the single file 'documents.parquet'. The Spark side derives the
# name dynamically from _metadata — on a multi-file landing it reports
# one row per file while this oracle would (rightly) fail, flagging the
# layout-contract change.
_FILE_AUDIT_SQL = """
SELECT 'documents.parquet' AS file_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM documents
"""


@register("source_file_audit", _FILE_AUDIT_SQL)
def source_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file row counts + id ranges from the `_metadata` hidden struct
    (zero-cost provenance: the values come from the scan's own file
    handles, no join and no extra read)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.select("doc_id", F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("doc_id").cast("long").alias("n_distinct_ids"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.max("doc_id").cast("long").alias("max_id"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout verification: the Morton clustering key behind
# multi-column data skipping (functions/zorder.py; the layout trick of
# Delta OPTIMIZE ZORDER / Iceberg z-curve sort orders), registered so the
# key ARITHMETIC gets an oracle row, not just a plan test. The query
# computes zkey(l_partkey, l_suppkey) for every lineitem row and reduces
# to per-z-bucket stats (bucket = top 12 of 24 key bits == the file-level
# granularity a range-partitioned write would produce): count + min/max
# key per bucket exercises the full normalize+interleave pipeline at
# every row while keeping the result compact. The oracle replays the bit
# interleave in SQL — both engines run identical IEEE-754 double steps,
# so the match is exact.
# ---------------------------------------------------------------------------

_Z_BITS = 12  # matches functions/zorder.py:BITS


def sql_znorm(c: str, lo: str, hi: str) -> str:
    """Normalize column `c` to [0, 2^BITS) with the SAME
    floor(frac*4095+0.5) clamp the Spark expression
    (functions/zorder.py:_normalize) uses. Shared by zorder_cell_stats
    and the round-10 layout comparison — never inline a copy."""
    top = (1 << _Z_BITS) - 1
    return (
        f"greatest(0, least({top}, CAST(floor("
        f"(CAST({c} AS DOUBLE) - {lo}) / "
        f"(CASE WHEN {hi} > {lo} THEN {hi} - {lo} ELSE 1.0 END) "
        f"* {top} + 0.5) AS BIGINT)))"
    )


def sql_zinterleave(na: str = "na", nb: str = "nb") -> str:
    """Morton bit-interleave of two normalized BIGINT columns (SQL twin
    of functions/zorder.py:_interleave)."""
    return (
        f"list_sum(list_transform(range(0, {_Z_BITS}), i -> "
        f"(({na} // CAST(pow(2.0, i) AS BIGINT)) % 2) "
        f"* CAST(pow(2.0, 2 * i + 1) AS BIGINT) "
        f"+ (({nb} // CAST(pow(2.0, i) AS BIGINT)) % 2) "
        f"* CAST(pow(2.0, 2 * i) AS BIGINT)))"
    )


def _zorder_sql() -> str:
    norm = sql_znorm
    interleave = sql_zinterleave()
    return f"""
WITH mm AS (
    SELECT CAST(min(l_partkey) AS DOUBLE) AS lo_a,
           CAST(max(l_partkey) AS DOUBLE) AS hi_a,
           CAST(min(l_suppkey) AS DOUBLE) AS lo_b,
           CAST(max(l_suppkey) AS DOUBLE) AS hi_b
    FROM lineitem
),
norm AS (
    SELECT {norm('l_partkey', 'lo_a', 'hi_a')} AS na,
           {norm('l_suppkey', 'lo_b', 'hi_b')} AS nb
    FROM lineitem CROSS JOIN mm
),
zk AS (SELECT CAST({interleave} AS BIGINT) AS zkey FROM norm)
SELECT CAST(zkey // 4096 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(zkey) AS BIGINT) AS min_zkey,
       CAST(max(zkey) AS BIGINT) AS max_zkey
FROM zk GROUP BY 1
"""


@register("zorder_cell_stats", _zorder_sql())
def zorder_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-key of (l_partkey, l_suppkey) per lineitem row, reduced
    to per-z-bucket occupancy stats.

    Plan: one scalar min/max aggregate broadcast back (no window rank —
    a global rank would funnel 100 TB through one task), then a narrow
    per-row key computation and a single groupBy on the 12-bit bucket.
    The write-side pattern (`repartitionByRange(zkey)` + sortWithin)
    is pinned by tests/test_sinks.py:test_zorder_write_prunes_on_both_columns;
    this query oracle-verifies the key arithmetic itself."""
    from ..functions.zorder import with_zorder_key

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    zk = with_zorder_key(li, "l_partkey", "l_suppkey")
    return (
        zk.groupBy(F.floor(F.col("zkey") / 4096).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("zkey").cast("long").alias("min_zkey"),
            F.max("zkey").cast("long").alias("max_zkey"),
        )
    )
