"""Benchmark decontamination + JSON-lines source: two more LLM-pipeline
staples. Decontamination flags training documents sharing any word-3-gram
with a held-out benchmark set — the standard n-gram-overlap check run before
training. The candidate test is a semi join on the shingle hash: shuffle on
the shingle key, never a document cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround_sql as R
from ..session import landing
from ..sources.tables import read_table, spread
from .registry import register

# Benchmark stand-in: doc_id < 20 (in a real pipeline this is the eval-set
# corpus). Flag = train doc shares >= 1 distinct 3-gram shingle hash.
_BENCH_MAX_ID = 20

# Canonical fragments: functions/sqlfrag.py (shared with every other
# shingle-family oracle so the hash formulas cannot drift).
from ..functions.sqlfrag import (  # noqa: E402
    SHINGLE_HASH_PRIME as _SHINGLE_P,
    SQL_TOKEN_HASH as _SQL_TOKEN_HASH,
)

_DECONTAM_SQL = f"""
WITH th AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '), {_SQL_TOKEN_HASH}) AS th
    FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(th) < 3 THEN []
               ELSE list_transform(range(1, len(th) - 1),
                    i -> (((th[i] * 8191 + th[i + 1]) % {_SHINGLE_P}) * 8191 + th[i + 2]) % {_SHINGLE_P})
           END) AS hs
    FROM th
),
bench AS (
    SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < {_BENCH_MAX_ID}
),
train AS (
    SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= {_BENCH_MAX_ID}
),
contaminated AS (
    SELECT DISTINCT t.doc_id FROM train t JOIN bench b ON t.h = b.h
)
SELECT d.doc_id,
       CAST(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id >= {_BENCH_MAX_ID}
"""


@register("decontaminate_ngram_overlap", _DECONTAM_SQL)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any word-3-gram with the benchmark set.
    Shingle hashes explode to (doc, hash) rows; the overlap test is a left
    semi join on the hash (shuffle on hash — high cardinality, no skew),
    then a left join marks the flag on the full training set. At 100 TB
    the benchmark side is small: broadcast the distinct benchmark hashes."""
    from ..operators.dedup import hashed_shingle_table

    d = read_table(spark, sf_dir, "documents")
    # r10: ride the SHARED CACHED shingle stage (operators/dedup.py) —
    # this query consumed its own spread() shingle chain TWICE (bench +
    # train branches, uncached), re-hashing the corpus per branch; the
    # shared stage is the identical formula (staged token-hash
    # projection, 3-gram compose, array_distinct), is cached so both
    # branches explode from one materialization, and its plan matches
    # the whole dedup family's — in a bench session the chain is
    # computed once for all of them. (spread-before-chain measured
    # SLOWER cold, 1.9s -> 8.1s; hashed_shingle_table docstring.)
    sh = hashed_shingle_table(d)
    # explode_OUTER, not explode: plain explode makes InferFiltersFromGenerate
    # synthesize `size(hs) > 0`, which predicate pushdown then drags below the
    # spread() exchange into the scan stage WITH the whole shingle expression
    # inlined — the entire corpus gets hashed twice, serially, on the scan's
    # few input splits (measured 7x wall-clock). The outer variant infers
    # nothing; the null rows from shingle-less docs drop right after.
    bench = (
        sh.filter(F.col("doc_id") < _BENCH_MAX_ID)
        .select(F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    train = (
        sh.filter(F.col("doc_id") >= _BENCH_MAX_ID)
        .select("doc_id", F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
    )
    contaminated = train.join(F.broadcast(bench), "h", "left_semi").select(
        "doc_id"
    ).distinct()
    return (
        d.filter(F.col("doc_id") >= _BENCH_MAX_ID)
        .join(contaminated.withColumn("flag", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("flag"), F.lit(0)).cast("int").alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# JSON-lines file source: the engine's JSON connector (the file-shaped
# sibling of the payload extraction in steam_api_json_extract). Spark writes
# events as jsonl, reads it back with an explicit schema, and aggregates;
# the oracle aggregates the original parquet — the JSON hop must be lossless.
# ---------------------------------------------------------------------------

_JSONL_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@register("jsonl_source_roundtrip", _JSONL_SQL)
def jsonl_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with explicit schema (spark.read.json infers
    nothing — schema-on-read is declared, so malformed rows fail fast the
    way the survey's schema-system notes require)."""
    from pyspark.sql import types as T

    e = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    jsonl_dir = landing(spark, "events_jsonl", sf_dir)
    e.write.json(jsonl_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(jsonl_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Embedding-based decontamination — the SEMANTIC companion to the n-gram
# overlap check above: a paraphrased benchmark item shares no 3-gram but
# sits next to the eval set in embedding space. Standard second gate in
# training-data pipelines: flag train vectors whose max cosine to ANY
# benchmark vector clears a threshold.
# ---------------------------------------------------------------------------

_EMB_BENCH_MAX_ID = 50
_EMB_CONTAM_THRESHOLD = 0.5

_EMB_DECONTAM_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
),
bench AS (SELECT vec_id AS bench_id, v, nrm FROM v WHERE vec_id < {_EMB_BENCH_MAX_ID}),
train AS (SELECT vec_id, v, nrm FROM v WHERE vec_id >= {_EMB_BENCH_MAX_ID}),
scored AS (
    SELECT t.vec_id, b.bench_id,
           {R('list_dot_product(t.v, b.v) / (t.nrm * b.nrm)', 6)} AS cos
    FROM train t CROSS JOIN bench b
),
ranked AS (
    SELECT vec_id, bench_id, cos,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rn
    FROM scored
)
SELECT vec_id, bench_id AS nearest_bench_id, cos AS max_cos,
       CAST(CASE WHEN cos >= {_EMB_CONTAM_THRESHOLD} THEN 1 ELSE 0 END AS INTEGER)
           AS contaminated
FROM ranked WHERE rn = 1
"""


@register("decontaminate_embedding_cosine", _EMB_DECONTAM_SQL)
def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per train vector: nearest benchmark vector by cosine, the (rounded)
    similarity, and a contamination flag at threshold 0.5.

    Scale shape: the benchmark side is small by definition — broadcast it
    and the train side streams through unshuffled; per-vector norms are
    precomputed on BOTH sides so each candidate pair costs ONE fold (the
    measured 2.3x rule from the cosine-verify join). The argmax rides a
    (train vec, bench_id)-ordered window on the ROUNDED score so both
    engines break near-ties identically."""
    from pyspark.sql import Window

    from ..functions.rounding import dround
    from ..functions.vectors import dot, norm

    e = spread(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", norm(F.col("v")))
    bench = e.filter(F.col("vec_id") < _EMB_BENCH_MAX_ID).select(
        F.col("vec_id").alias("bench_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    train = e.filter(F.col("vec_id") >= _EMB_BENCH_MAX_ID)
    scored = train.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        "bench_id",
        dround(
            dot(F.col("v"), F.col("bv")) / (F.col("nrm") * F.col("bnrm")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("bench_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("bench_id").alias("nearest_bench_id"),
            F.col("cos").alias("max_cos"),
            F.when(F.col("cos") >= _EMB_CONTAM_THRESHOLD, 1)
            .otherwise(0)
            .cast("int")
            .alias("contaminated"),
        )
    )
