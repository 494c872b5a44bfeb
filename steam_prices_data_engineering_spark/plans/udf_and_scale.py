"""Pandas-UDF surface, embedding LSH bucketing, and stateful streaming
(SURVEY.md §2b rows "UDF surface", "similarity search (scale path)",
"streaming"). Registered into the shared registry.

UDF policy: Arrow-batched pandas UDFs only (scalar, grouped-agg, grouped-map,
stateful) — row-at-a-time Python UDFs never appear; each UDF here has an
exact SQL oracle so the Python path is provably semantics-preserving.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.rounding import dround, dround_sql as R
from ..functions.vectors import dot, norm, to_double_array
from ..sources.tables import read_table
from .registry import register

# ---------------------------------------------------------------------------
# Scalar pandas UDF (vectorized, Arrow-batched)
# ---------------------------------------------------------------------------

_PUDF_BYTES_SQL = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


@register("pandas_udf_scalar_bytes", _PUDF_BYTES_SQL)
def pandas_udf_scalar_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas_udf (utf-8 byte length) — the Arrow batch
    path; oracle proves parity with the pure-SQL form."""

    @pandas_udf(T.LongType())
    def utf8_bytes(s: pd.Series) -> pd.Series:
        return s.str.encode("utf-8").map(len).astype("int64")

    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", utf8_bytes(F.col("text")).alias("n_bytes"))


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF
# ---------------------------------------------------------------------------

_PUDF_GROUPED_SQL = f"""
SELECT lang, {R('avg(CAST(n_chars AS DOUBLE))', 4)} AS mean_chars
FROM documents
GROUP BY lang
"""


@register("pandas_udf_grouped_mean", _PUDF_GROUPED_SQL)
def pandas_udf_grouped_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas_udf (numpy mean per language)."""

    @pandas_udf(T.DoubleType())
    def np_mean(v: pd.Series) -> float:
        return float(v.mean())

    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        dround(np_mean(F.col("n_chars").cast("double")), 4).alias("mean_chars")
    )


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas (per-group z-score)
# ---------------------------------------------------------------------------

_ZSCORE_SQL = f"""
WITH stats AS (
    SELECT lang, avg(CAST(n_chars AS DOUBLE)) AS mu,
           stddev_pop(CAST(n_chars AS DOUBLE)) AS sigma
    FROM documents GROUP BY lang
)
SELECT doc_id,
       CASE WHEN sigma = 0 THEN NULL
            ELSE {R('(n_chars - mu) / sigma', 4)} END AS z_chars
FROM documents JOIN stats USING (lang)
"""


@register("apply_in_pandas_zscore", _ZSCORE_SQL)
def apply_in_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped map: within-language z-score of document
    length (the UDTF-style per-group transform). Shuffles once on lang."""

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("z_chars", T.DoubleType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["n_chars"].astype("float64")
        mu = x.mean()
        sigma = x.std(ddof=0)
        if sigma == 0:
            z = pd.Series([None] * len(x), dtype="float64")
        else:
            import math

            z = ((x - mu) / sigma).map(
                lambda v: math.floor(v * 10000.0 + 0.5) / 10000.0
            )
        return pd.DataFrame({"doc_id": pdf["doc_id"], "z_chars": z})

    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return d.groupBy("lang").applyInPandas(zscore, schema=schema)


# ---------------------------------------------------------------------------
# Embedding LSH bucketing (sign-random-projection) — the similarity scale
# path: bucket on hyperplane sign bits, then search within buckets only.
# Hyperplane constants are generated by a fixed LCG so the SQL oracle can
# replay the identical projection.
# ---------------------------------------------------------------------------

_DIM = 64
_N_PLANES = 4


def _lcg_hyperplanes(dim: int = _DIM, n: int = _N_PLANES) -> list[list[float]]:
    planes, state = [], 42
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % (1 << 31)
            row.append(round(state / float(1 << 31) - 0.5, 9))
        planes.append(row)
    return planes


HYPERPLANES = _lcg_hyperplanes()


def _sql_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"


_LSH_BUCKET_SQL = f"""
SELECT {" + ".join(
    f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_sql_plane_literal(p)}) > 0 THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(HYPERPLANES)
)} AS bucket,
       CAST(count(*) AS BIGINT) AS n_vectors,
       {R('avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))', 6)} AS avg_norm
FROM embeddings
GROUP BY 1
"""


@register("simsearch_lsh_buckets", _LSH_BUCKET_SQL)
def simsearch_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucket assignment + per-bucket stats.
    At 100 TB this bucket id becomes the shuffle/partition key that turns
    brute-force scans into per-bucket searches; here the oracle checks the
    projection arithmetic is exactly reproducible."""
    e = read_table(spark, sf_dir, "embeddings")
    emb = to_double_array(F.col("embedding"))
    bucket = None
    for i, plane in enumerate(HYPERPLANES):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(F.col("embedding"), lit_plane) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return (
        e.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            dround(F.avg(norm(F.col("embedding"))), 6).alias("avg_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Stateful streaming: dropDuplicatesWithinWatermark
# ---------------------------------------------------------------------------

_STREAM_DEDUP_SQL = """
SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
GROUP BY user_id
"""


@register("streaming_dedup_within_watermark", _STREAM_DEDUP_SQL)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) with a watermark, landed in
    a memory sink, then aggregated batch-side. With one availableNow batch
    the dedup keeps exactly one row per key, so per-user key counts equal
    the batch COUNT(DISTINCT) oracle."""
    from ..sources.tables import events_stream, table_path
    from ..streaming.sizing import run_stream

    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    return (
        run_stream(stream, "append", table_path(sf_dir, "events"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

_STATEFUL_SQL = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       {R('sum(value)', 4)} AS sum_value
FROM events
GROUP BY user_id
"""


@register("stateful_user_totals", _STATEFUL_SQL)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals held in GroupState, emitted on update. With a
    single availableNow batch the emitted totals equal the batch GROUP BY
    oracle."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..sources.tables import events_stream, table_path
    from ..streaming.sizing import run_stream

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def totals(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [math.floor(s * 10000.0 + 0.5) / 10000.0],
            }
        )

    stream = events_stream(spark, sf_dir)
    result = stream.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream(result, "update", table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Cogrouped applyInPandas: the two-sided grouped-map surface.
# ---------------------------------------------------------------------------

_COGROUP_BUCKETS = 16

_COGROUP_SQL = f"""
SELECT CAST(d.doc_id % {_COGROUP_BUCKETS} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(e.vec_id) AS BIGINT) AS n_vecs,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
       CAST(sum(e.label) AS BIGINT) AS total_label,
       CAST(sum(d.n_chars) AS DOUBLE) / count(*) AS avg_chars
FROM documents d
LEFT JOIN embeddings e ON e.vec_id = d.doc_id
GROUP BY 1
"""


@register("cogroup_doc_embedding_stats", _COGROUP_SQL)
def cogroup_doc_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — both tables grouped on the same key land
    in ONE Python function as two aligned pandas frames (the two-sided
    grouped-map UDF, e.g. custom as-of merges or per-key reconciliation).
    Physically each side shuffles once on the key and the cogroup is a
    sort-merge per partition, so at 100 TB it scales like a join; the key
    here is a 16-bucket hash of the id so every batch stays small and
    skew-free. The stats are integer-derived (counts/sums; one exact
    int/int division), so no float-order drift crosses the Arrow boundary
    and the oracle can be a plain SQL outer-join aggregate."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", (F.col("doc_id") % _COGROUP_BUCKETS).alias("bucket"))
    )
    embs = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", (F.col("vec_id") % _COGROUP_BUCKETS).alias("bucket"))
    )

    schema = T.StructType(
        [
            T.StructField("bucket", T.LongType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("n_vecs", T.LongType()),
            T.StructField("total_chars", T.LongType()),
            T.StructField("total_label", T.LongType()),
            T.StructField("avg_chars", T.DoubleType()),
        ]
    )

    def merge_stats(key: tuple, dpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        # Vectors are 1:1 with documents (vec_id = doc_id), so the joined
        # vec/label stats restrict to this bucket's doc ids.
        matched = epdf[epdf["vec_id"].isin(dpdf["doc_id"])]
        n_docs = len(dpdf)
        total_chars = int(dpdf["n_chars"].sum())
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "n_docs": [n_docs],
                "n_vecs": [len(matched)],
                "total_chars": [total_chars],
                "total_label": [int(matched["label"].sum())],
                "avg_chars": [total_chars / n_docs],
            }
        )

    return (
        docs.groupby("bucket")
        .cogroup(embs.groupby("bucket"))
        .applyInPandas(merge_stats, schema)
    )


# ---------------------------------------------------------------------------
# mapInArrow: zero-copy columnar Python (no pandas materialization).
# ---------------------------------------------------------------------------

_MAP_IN_ARROW_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_py,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


@register("map_in_arrow_byte_stats", _MAP_IN_ARROW_SQL)
def map_in_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-overhead Python surface: RecordBatches flow
    Arrow-to-Arrow with no pandas conversion, and the char/byte counts are
    computed by pyarrow.compute kernels (vectorized C++), not Python
    loops. This is the right shape for custom columnar featurizers
    (tokenizer offsets, byte-level stats) where even the pandas bridge is
    measurable at 100 TB. Oracle proves parity with the SQL forms of both
    counts."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def byte_stats(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64()),
                ],
                ["doc_id", "n_chars_py", "n_bytes"],
            )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars_py", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    return d.mapInArrow(byte_stats, schema)
