"""Corpus-preparation operators rounding out the LLM-training-data surface
(SURVEY.md §2b north star): TF-IDF term ranking, overlapping sequence
chunking, and int8 embedding quantization. All oracle-checked.

Scale notes: each plan shuffles at most twice (token agg + doc-frequency
join); chunking and quantization are pure narrow maps — no shuffle at all
beyond the source scan, so they scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import tokens
from ..functions.vectors import to_double_array
from ..sources.tables import read_table
from .registry import register

# ---------------------------------------------------------------------------
# TF-IDF: rank each document's most characteristic terms. IDF uses the
# BM25-style ODDS form (N - df + 0.5) / (df + 0.5) WITHOUT the log: ln() is
# not correctly rounded across libm/JVM, and the log is a monotone transform
# so the per-document ranking is identical. Pure rational arithmetic keeps
# both engines bit-equal.
# At 100 TB: tf aggregates once on (doc_id, term) with map-side partials
# absorbing the explode; df is a COUNT WINDOW over that same tf subtree
# (partition by term) — not a second aggregate joined back, which would
# re-scan and re-shuffle the corpus (measured: 3 scans/7 exchanges vs
# 2 scans/5 exchanges, plan-tested). AQE handles hot stopword keys. N is
# a 1-row broadcast, never a driver collect.
# ---------------------------------------------------------------------------

_TFIDF_K = 3

_TFIDF_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, idf.df,
           {R("tf.tf * (n.n_docs - idf.df + 0.5) / (idf.df + 0.5)", 6)} AS score
    FROM tf JOIN idf USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tf, df, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {_TFIDF_K}
"""


@register("tfidf_top_terms", _TFIDF_SQL)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (odds-form idf, deterministic
    (score DESC, term ASC) tiebreak). The per-doc top-k is a ranking
    window -> WindowGroupLimit, so tasks keep k candidates per doc."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    wdf = Window.partitionBy("term")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            dround(
                (F.col("tf") * (F.col("n_docs") - F.col("df") + 0.5))
                / (F.col("df") + 0.5),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Overlapping sequence chunking: split each document into fixed-size token
# windows with overlap (the context-window packing precursor — every LLM
# data pipeline chunks long documents before tokenizer/packing stages).
# chunk_size=32, stride=24 => 8-token overlap. Pure narrow map: the start
# offsets are a per-row `sequence`, the chunk a `slice` — no shuffle, no
# UDF, linear in corpus bytes at any scale.
# ---------------------------------------------------------------------------

_CHUNK = 32
_STRIDE = 24

_CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
    SELECT doc_id, toks,
           unnest(range(1, len(toks) + 1, {_STRIDE})) AS start
    FROM t
)
SELECT doc_id,
       CAST((start - 1) // {_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(start AS BIGINT) AS start_token,
       CAST(len(list_slice(toks, start, start + {_CHUNK - 1})) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, start, start + {_CHUNK - 1}), ' ') AS chunk_text
FROM s
"""


@register("doc_chunk_overlap", _CHUNK_SQL)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document. chunk_idx is derived
    arithmetically from the start offset ((start-1)/stride) so no
    ordinality/posexplode coordination is needed across engines."""
    d = read_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    rows = staged.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK)
    return rows.select(
        "doc_id",
        ((F.col("start") - 1) / F.lit(_STRIDE)).cast("int").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (symmetric, per-vector max-abs scale): the
# standard 4x-compression step before shipping an embedding corpus to an ANN
# index. q_i = floor(x_i/scale + 0.5) with scale = amax/127; the report
# carries the quantization geometry (q range) and reconstruction MSE.
# Zero vectors quantize to all-zero via a scale=1 guard (identical CASE in
# both engines). floor(x + 0.5) is pure IEEE arithmetic — bit-equal across
# engines — and the MSE fold is a left-to-right reduce in both, so even the
# error sums match exactly before rounding.
# Narrow map, no shuffle; arrays are staged through projections so each
# higher-order pass runs once per row (HOFs are interpreted, SPARK-36718).
# ---------------------------------------------------------------------------

def _sql_int8_ctes() -> str:
    """The v -> amax -> scale -> quantized-codes CTE chain over
    `embeddings`, ending in q(vec_id, v, amax, sc, q). Single source of
    the int8 arithmetic for every oracle that scores quantized vectors
    (embedding_quantize_int8, simsearch_int8_rerank) — an inlined copy
    WOULD drift the first time the scale guard changes."""
    return """v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM v),
s AS (SELECT vec_id, v, amax,
             CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS sc
      FROM a),
q AS (SELECT vec_id, v, amax, sc,
             list_transform(v, x -> floor(x / sc + 0.5)) AS q
      FROM s)"""


def _int8_quant_table(e: DataFrame) -> DataFrame:
    """Spark twin of `_sql_int8_ctes`: (vec_id, v, amax, sc, q) with the
    same zero-vector scale guard and floor(x/sc + 0.5) code rounding."""
    st1 = e.select("vec_id", to_double_array(F.col("embedding")).alias("v"))
    st2 = st1.select(
        "vec_id", "v", F.array_max(F.transform("v", F.abs)).alias("amax")
    )
    st3 = st2.withColumn(
        "sc",
        F.when(F.col("amax") == 0, F.lit(1.0)).otherwise(F.col("amax") / 127.0),
    )
    return st3.withColumn(
        "q", F.transform("v", lambda x: F.floor(x / F.col("sc") + 0.5))
    )


_QUANT_SQL = f"""
WITH {_sql_int8_ctes()}
SELECT vec_id,
       CAST(len(v) AS BIGINT) AS n_dims,
       amax,
       CAST(list_min(q) AS BIGINT) AS q_min,
       CAST(list_max(q) AS BIGINT) AS q_max,
       {R("list_reduce(list_transform(range(1, len(v) + 1),"
          " i -> (v[i] - q[i] * sc) * (v[i] - q[i] * sc)),"
          " (x, y) -> x + y) / len(v)", 9)} AS mse
FROM q
"""


@register("embedding_quantize_int8", _QUANT_SQL)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization report: dims, max-abs, the
    achieved q range, and reconstruction MSE."""
    e = read_table(spark, sf_dir, "embeddings")
    st4 = _int8_quant_table(e)
    sq_err = F.zip_with(
        "v",
        "q",
        lambda x, qi: (x - qi * F.col("sc")) * (x - qi * F.col("sc")),
    )
    mse = (
        F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x)
        / F.size("v")
    )
    return st4.select(
        "vec_id",
        F.size("v").cast("long").alias("n_dims"),
        F.col("amax"),
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
        dround(mse, 9).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Corpus datasheet: the one-row "datasheets for datasets" summary a corpus
# release ships with — volume, composition, duplication, and quality in a
# single verified artifact. Each facet reuses the canonical definition of
# its standalone query (10-token chunk dup rate = chunk_dedup_ratio's
# corpus aggregate; quality = doc_quality_scores' composite; exact-dup
# rate = content-hash keep-first) so the datasheet can never disagree
# with the per-doc reports.
# ---------------------------------------------------------------------------

_DATASHEET_SQL = f"""
WITH t AS (
    SELECT doc_id, lang, source, text, string_split(text, ' ') AS sp
    FROM documents
),
base AS (
    SELECT count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           sum(len(sp)) AS n_tokens,
           quantile_cont(len(sp), 0.5) AS p50_tokens,
           avg(0.5 * (CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp))
               + 0.3 * (1 - CAST(len(list_filter(sp, x -> x IN ('the', 'a'))) AS DOUBLE) / len(sp))
               + 0.2 * least(len(sp) / 100.0, 1.0)) AS mean_quality
    FROM t
),
exact AS (
    SELECT count(*) - count(DISTINCT md5(text)) AS exact_dup_docs FROM t
),
chunks AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(sp, s, least(s + 9, len(sp))), ' ')) AS h
    FROM (SELECT doc_id, sp, unnest(range(1, len(sp) + 1, 10)) AS s FROM t)
),
chunkfreq AS (
    SELECT h, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY h
),
chunkdup AS (
    SELECT CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS dup_chunk_ratio
    FROM chunks c JOIN chunkfreq f ON f.h = c.h
)
SELECT CAST(base.n_docs AS BIGINT) AS n_docs,
       CAST(base.n_langs AS BIGINT) AS n_langs,
       CAST(base.n_sources AS BIGINT) AS n_sources,
       CAST(base.n_tokens AS BIGINT) AS n_tokens,
       {R('base.p50_tokens', 4)} AS p50_tokens,
       {R('base.mean_quality', 6)} AS mean_quality,
       CAST(exact.exact_dup_docs AS BIGINT) AS exact_dup_docs,
       {R('chunkdup.dup_chunk_ratio', 6)} AS dup_chunk_ratio
FROM base CROSS JOIN exact CROSS JOIN chunkdup
"""


@register("corpus_datasheet", _DATASHEET_SQL)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus release summary: volume (docs/tokens/p50), composition
    (langs/sources), duplication (exact-dup docs, cross-doc 10-token chunk
    ratio), quality (mean composite score).

    Plan shape: the base facet is ONE scan with map-side-combined
    aggregates; the chunk facet reuses chunk_dedup_ratio's md5-key
    shuffles; the three 1-row facets cross-join broadcast. At 100 TB the
    exact-percentile swaps for percentile_approx (see approx_aggregates)
    without changing the datasheet contract."""
    from ..functions.text import quality_score, token_count

    d = read_table(spark, sf_dir, "documents")
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
        dround(
            F.expr("percentile(size(split(text, ' ')), 0.5)"), 4
        ).alias("p50_tokens"),
        dround(F.avg(quality_score(F.col("text"))), 6).alias("mean_quality"),
    )
    exact = d.agg(
        (
            F.count(F.lit(1))
            - F.countDistinct(F.md5(F.col("text").cast("binary")))
        )
        .cast("long")
        .alias("exact_dup_docs")
    )
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("sp"))
    chunks = toks.select(
        "doc_id",
        "sp",
        F.explode(F.sequence(F.lit(1), F.size("sp"), F.lit(10))).alias("s"),
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("sp"),
                    F.col("s"),
                    F.least(F.lit(10), F.size("sp") - F.col("s") + F.lit(1)),
                ),
            ).cast("binary")
        ).alias("h"),
    )
    freq = (
        chunks.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    chunkdup = (
        chunks.join(freq, "h")
        .agg(
            dround(
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_chunk_ratio")
        )
    )
    return base.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(chunkdup))


# ---------------------------------------------------------------------------
# Two-stage retrieval: int8 ADC coarse scan + exact rerank. The standard
# memory-bound ANN serving pattern (scalar-quantized codes are 4x smaller
# than float32, so the coarse scan moves 4x fewer bytes — which is the
# bottleneck at corpus scale, not FLOPs): score every candidate with the
# QUANTIZED dot product sc_q * sc_c * <q8, c8>, keep the top-C per query,
# then re-score only the C survivors with exact float cosine. Recall loss
# is bounded by the quantization error the embedding_quantize_int8 report
# measures; both stages' arithmetic composes from the same
# _sql_int8_ctes/_int8_quant_table single source.
# ---------------------------------------------------------------------------

_RERANK_C = 50   # coarse candidates per query
_RERANK_K = 10   # final neighbors per query

_INT8_RERANK_SQL = f"""
WITH {{int8_ctes}},
qry AS (
    SELECT vec_id AS q_id, q AS qq, sc AS qsc, v AS qv
    FROM q WHERE vec_id % 50 = 7
),
coarse AS (
    SELECT qry.q_id, c.vec_id, c.v, qry.qv,
           {{approx}} AS approx_score
    FROM q c, qry WHERE c.vec_id <> qry.q_id
),
cand AS (
    SELECT q_id, vec_id, v, qv, approx_score,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY approx_score DESC, vec_id ASC) AS crnk
    FROM coarse
),
rer AS (
    SELECT q_id, vec_id, approx_score, {{exact}} AS score
    FROM cand WHERE crnk <= {_RERANK_C}
)
SELECT q_id, vec_id, approx_score, score,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY score DESC, vec_id ASC) AS rnk
    FROM rer
) WHERE rnk <= {_RERANK_K}
""".format(
    int8_ctes=_sql_int8_ctes(),
    approx=R("qry.qsc * c.sc * list_dot_product(qq, c.q)", 6),
    exact=R(
        "list_dot_product(v, qv) / "
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))",
        6,
    ),
)


@register("simsearch_int8_rerank", _INT8_RERANK_SQL)
def simsearch_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-ADC coarse top-50 per query, exact-cosine rerank to top-10.

    Plan: quantize (a narrow map — both stages and the query panel read
    it), broadcast the small query panel onto the code scan,
    coarse-rank with a per-query window, then re-score ONLY the 50
    survivors with float cosine. The float vectors ride along the
    candidate rows (the 'fetch' trade: 50 * dims doubles per query beats
    a second corpus join at serving time). Window partitions are per
    query id — never the corpus."""
    from ..functions.vectors import cosine

    e = read_table(spark, sf_dir, "embeddings")
    quant = _int8_quant_table(e).select("vec_id", "v", "sc", "q")
    qry = quant.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qq"),
        F.col("sc").alias("qsc"),
        F.col("v").alias("qv"),
    )
    approx = dround(
        F.col("qsc")
        * F.col("sc")
        * F.aggregate(
            F.zip_with("qq", "q", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    coarse = (
        quant.crossJoin(F.broadcast(qry))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "v", "qv", approx.alias("approx_score"))
    )
    wc = Window.partitionBy("q_id").orderBy(
        F.desc("approx_score"), F.asc("vec_id")
    )
    kept = (
        coarse.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= _RERANK_C)
        .withColumn("score", dround(cosine(F.col("v"), F.col("qv")), 6))
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        kept.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= _RERANK_K)
        .select(
            "q_id", "vec_id", "approx_score", "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics: the normalization/whitening pre-pass
# (and PQ/IVF training sanity check) — mean, stddev, min, max for each of
# the 64 dimensions. One posexplode + one map-side-combined aggregate on
# the dimension index; at corpus scale the shuffle carries dims x
# partitions partial rows, never vectors. Stddev is derived from
# (sum, sum-of-squares, n) EXPLICITLY — both engines then run the same
# left-fold double arithmetic, where a builtin stddev's engine-specific
# accumulation (Welford vs naive) could drift past dround.
# ---------------------------------------------------------------------------

_DIM_STATS_SQL = f"""
WITH v AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
d AS (
    SELECT unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS x FROM v
),
agg AS (
    SELECT dim, count(*) AS n, sum(x) AS s, sum(x * x) AS s2,
           min(x) AS mn, max(x) AS mx
    FROM d GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(n AS BIGINT) AS n,
       {R('s / n', 6)} AS mean_x,
       {R('sqrt((s2 - s * s / n) / (n - 1))', 6)} AS std_x,
       {R('mn', 6)} AS min_x,
       {R('mx', 6)} AS max_x
FROM agg
"""


@register("embedding_dim_stats", _DIM_STATS_SQL)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the embedding corpus (the
    feature-scaling pre-pass)."""
    e = read_table(spark, sf_dir, "embeddings")
    d = e.select(
        F.posexplode(to_double_array(F.col("embedding"))).alias("pos", "x")
    ).select((F.col("pos") + 1).alias("dim"), "x")
    n = F.count(F.lit(1))
    s = F.sum("x")
    s2 = F.sum(F.col("x") * F.col("x"))
    return d.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        n.cast("long").alias("n"),
        dround(s / n, 6).alias("mean_x"),
        dround(F.sqrt((s2 - s * s / n) / (n - F.lit(1))), 6).alias("std_x"),
        dround(F.min("x"), 6).alias("min_x"),
        dround(F.max("x"), 6).alias("max_x"),
    )
