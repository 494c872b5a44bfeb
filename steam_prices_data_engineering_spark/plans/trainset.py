"""End-to-end training-set selection: the composite an LLM data pipeline
actually runs, chaining the individually-tested operators into one plan —

    language filter -> length/quality gates -> exact dedup (keep-first)
    -> benchmark decontamination (3-gram overlap anti join) -> selection.

Each stage exists standalone (`doc_quality_scores`, `dedup_exact_groups`,
`decontaminate_ngram_overlap`); this query proves they compose into a single
lazy plan — one documents scan feeds everything, Catalyst pipelines the
scalar gates into the scan, and the only shuffles are the dedup window
(by text) and the decontamination hash join. The oracle replays the full
chain in SQL, so the composition (not just the parts) is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import (
    quality_score,
    token_count,
    tokens,
)
from ..sources.tables import read_table, spread
from .decontam import _BENCH_MAX_ID, _SHINGLE_P, _SQL_TOKEN_HASH
from .registry import register, register_sql

_KEEP_LANGS = ("en", "de", "fr", "es")
_MIN_TOKENS = 8
_MIN_QUALITY = 0.62

_TRAINSET_SQL = f"""
WITH t AS (
    SELECT doc_id, lang, text, string_split(text, ' ') AS sp FROM documents
),
scored AS (
    SELECT doc_id, lang, text,
           CAST(len(sp) AS BIGINT) AS n_tokens,
           0.5 * (CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp))
         + 0.3 * (1 - CAST(len(list_filter(sp, x -> x IN ('the', 'a'))) AS DOUBLE) / len(sp))
         + 0.2 * least(len(sp) / 100.0, 1.0) AS quality
    FROM t
),
gated AS (
    SELECT * FROM scored
    WHERE lang IN {_KEEP_LANGS!r}
      AND n_tokens >= {_MIN_TOKENS}
      AND quality >= {_MIN_QUALITY}
      AND doc_id >= {_BENCH_MAX_ID}
),
dedup AS (
    SELECT doc_id, lang, n_tokens, quality FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM gated
    ) WHERE rn = 1
),
th AS (
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
contaminated AS (
    SELECT DISTINCT s.doc_id
    FROM (SELECT doc_id, unnest(hs) AS h FROM sh
          WHERE doc_id >= {_BENCH_MAX_ID}) s
    JOIN bench b ON s.h = b.h
)
SELECT d.doc_id, d.lang, d.n_tokens, {R('d.quality', 6)} AS quality
FROM dedup d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL
"""


@register("trainset_selection_pipeline", _TRAINSET_SQL)
def trainset_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage order is the 100 TB order: cheap scalar gates (lang, length,
    quality — all codegen'd into the scan, no shuffle) run FIRST so the
    dedup window and decontamination join only see survivors; the
    benchmark shingle set is tiny and broadcasts. One pass over documents
    for the selection path, one for the shingle index."""
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    scored = spread(d).select(
        "doc_id",
        "lang",
        "text",
        token_count(text).cast("long").alias("n_tokens"),
        quality_score(text).alias("quality"),
    )
    gated = scored.filter(
        F.col("lang").isin(*_KEEP_LANGS)
        & (F.col("n_tokens") >= _MIN_TOKENS)
        & (F.col("quality") >= _MIN_QUALITY)
        & (F.col("doc_id") >= _BENCH_MAX_ID)
    )
    keep_first = Window.partitionBy("text").orderBy("doc_id")
    dedup = (
        gated.withColumn("rn", F.row_number().over(keep_first))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens", "quality")
    )
    # r10: shared cached shingle stage (see decontam.py note) — was a
    # private spread() chain consumed twice (bench + contaminated),
    # uncached; identical formula, one materialization, cross-query
    # cache hits with the dedup family.
    from ..operators.dedup import hashed_shingle_table

    sh = hashed_shingle_table(d)
    # explode_outer + isNotNull: see decontam.py — plain explode's inferred
    # size>0 filter would push the full shingle expression below spread().
    bench = (
        sh.filter(F.col("doc_id") < _BENCH_MAX_ID)
        .select(F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    contaminated = (
        sh.filter(F.col("doc_id") >= _BENCH_MAX_ID)
        .select("doc_id", F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
        .join(F.broadcast(bench), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return dedup.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_tokens", dround(F.col("quality"), 6).alias("quality")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split. Random samplers are engine- and
# partitioning-dependent; a SPLIT MUST BE A PURE FUNCTION OF THE KEY so it
# is reproducible across engines, re-runs, and re-partitioning — the
# property every training pipeline audit asks for. Knuth multiplicative
# hashing on doc_id (exact in 64-bit integer arithmetic on both engines)
# assigns buckets 0-9: 8 train / 1 val / 1 test.
# ---------------------------------------------------------------------------

# Shared Knuth multiplicative hash of doc_id — the ONE definition both
# engines and every consumer (split, sample, order, shard, ml_eval)
# compose from. The input is masked to 31 bits BEFORE the multiply so the
# product stays < 2^63: Spark (non-ANSI) would silently wrap an int64
# overflow while DuckDB raises, so an unmasked doc_id > ~3.47e9 would
# diverge the engines. (Docs 2^31 apart alias to the same bucket — fine
# for a split function.)


def knuth_sql(col: str = "doc_id") -> str:
    """DuckDB-side Knuth multiplicative hash of an integer id column."""
    return f"((({col} % 2147483648) * 2654435761) % 4294967296)"


def knuth_hash(col: str = "doc_id") -> F.Column:
    """Spark twin of knuth_sql() — exact 64-bit integer arithmetic."""
    return (
        (F.col(col) % F.lit(2147483648)) * F.lit(2654435761)
    ) % F.lit(4294967296)


_KNUTH_SQL = knuth_sql()

_SPLIT_EXPR = f"{_KNUTH_SQL} % 10"


def split_bucket() -> F.Column:
    """Spark twin of _SPLIT_EXPR (train/val/test bucket 0-9)."""
    return knuth_hash() % 10

_SPLIT_SQL = f"""
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
FROM (
    SELECT CASE WHEN {_SPLIT_EXPR} < 8 THEN 'train'
                WHEN {_SPLIT_EXPR} = 8 THEN 'val'
                ELSE 'test' END AS split,
           lang, text
    FROM documents
)
GROUP BY split, lang
"""


@register("trainset_hash_split", _SPLIT_SQL)
def trainset_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split as a pure function of doc_id (multiplicative hash,
    exact integer arithmetic — NOT Spark's partitioning-dependent
    sample()), reported as per-(split, lang) doc and token counts. New
    documents never reshuffle old assignments — the split is stable
    under corpus growth."""
    d = read_table(spark, sf_dir, "documents")
    bucket = split_bucket()
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", tokens(F.col("text")).alias("toks"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("toks").cast("long")).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing: assign documents to training-context
# "packs" of <= N tokens. Greedy packing is inherently order-dependent, so
# the deterministic distributed form fixes the order (doc_id within lang)
# and derives the pack id from the RUNNING token total — a prefix-sum
# window, one shuffle per lang partition, no driver loop.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256

_SEQPACK_SQL = f"""
WITH counted AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
cumulated AS (
    SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS running
    FROM counted
)
SELECT lang,
       CAST(floor((running - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM cumulated
GROUP BY lang, pack_id
"""


@register("seqpack_token_budget", _SEQPACK_SQL)
def seqpack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack id = floor(tokens-before-this-doc / budget): documents flow
    into ~256-token packs in deterministic doc_id order per lang. The
    whole assignment is one prefix-sum window + one aggregation — the
    scalable stand-in for a driver-side greedy packer (same guarantee:
    no pack STARTS above budget; a long doc may overflow its pack, which
    real packers handle by splitting the doc downstream)."""
    d = read_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counted.withColumn("running", F.sum("n_tokens").over(w))
    pack = F.floor((F.col("running") - F.col("n_tokens")) / _PACK_BUDGET).cast(
        "long"
    )
    return (
        cum.groupBy("lang", pack.alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus mixture resampling: hit target per-language proportions by
# DOWN-sampling over-represented languages — the keep decision is the same
# pure-function-of-key hashing as trainset_hash_split (bucket < rate*100),
# so the resample is reproducible and stable. Rates are derived inside the
# query from the observed counts vs the target mixture; only broadcast-
# scale aggregates cross stages.
# ---------------------------------------------------------------------------

_TARGET_MIX = {"en": 0.40, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}

_MIX_CASE = " ".join(
    f"WHEN '{lang}' THEN {w}" for lang, w in _TARGET_MIX.items()
)

_MIX_SQL = f"""
WITH counted AS (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
-- scale: the largest target/observed ratio saturates at keep-rate 1.0
rated AS (
    SELECT lang, n,
           (CASE lang {_MIX_CASE} ELSE 0.0 END) AS w,
           (CASE lang {_MIX_CASE} ELSE 0.0 END) / n AS wpn
    FROM counted
),
scaled AS (
    SELECT lang, least(1.0, wpn / (SELECT max(wpn) FROM rated)) AS keep_rate
    FROM rated
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_kept
FROM documents d JOIN scaled s ON d.lang = s.lang
WHERE {knuth_sql('d.doc_id')} % 100 < floor(s.keep_rate * 100 + 0.5)
GROUP BY d.lang
"""

register_sql("corpus_mixture_resample", _MIX_SQL)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling: K docs per language by hash order.
# ---------------------------------------------------------------------------

_STRAT_K = 20

_STRAT_SQL = f"""
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(rn AS BIGINT) AS rn
FROM (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {_KNUTH_SQL}, doc_id
           ) AS rn
    FROM documents
)
WHERE rn <= {_STRAT_K}
"""

register_sql("stratified_sample_per_lang", _STRAT_SQL)


# ---------------------------------------------------------------------------
# Curriculum sharding: partition the corpus into quality-ordered training
# phases (high-quality first), each phase split into hash-stable shards.
# The scale-correct form of "sort the corpus by quality": a true global
# rank is a single-partition window (a non-starter at 100 TB), so the
# curriculum uses corpus quality QUANTILE thresholds (one tiny aggregate,
# broadcast back) for phase assignment, and the same multiplicative
# doc_id hash as trainset_hash_split for shard assignment — every
# decision is a pure function of (doc, corpus thresholds), reproducible
# under any partitioning and stable as the corpus grows.
# ---------------------------------------------------------------------------

_N_SHARDS = 8

_CURRICULUM_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS sp FROM documents
),
scored AS (
    SELECT doc_id,
           CAST(len(sp) AS BIGINT) AS n_tokens,
           0.5 * (CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp))
           + 0.3 * (1 - CAST(len(list_filter(sp, x -> x IN ('the', 'a'))) AS DOUBLE) / len(sp))
           + 0.2 * least(len(sp) / 100.0, 1.0) AS quality
    FROM t
),
thresholds AS (
    SELECT quantile_cont(quality, 0.66) AS q66,
           quantile_cont(quality, 0.33) AS q33
    FROM scored
),
assigned AS (
    SELECT s.doc_id, s.n_tokens, s.quality,
           CASE WHEN s.quality >= t.q66 THEN 0
                WHEN s.quality >= t.q33 THEN 1
                ELSE 2 END AS phase,
           {knuth_sql('s.doc_id')} % {_N_SHARDS} AS shard
    FROM scored s CROSS JOIN thresholds t
)
SELECT CAST(phase AS INTEGER) AS phase,
       CAST(shard AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       {R('avg(quality)', 6)} AS avg_quality,
       {R('min(quality)', 6)} AS min_quality
FROM assigned
GROUP BY phase, shard
"""


@register("trainset_curriculum_shards", _CURRICULUM_SQL)
def trainset_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum phases (tertile thresholds over the composite
    quality score) x hash-stable shards, with per-cell doc/token counts
    and quality stats.

    Plan: one narrow scoring pass; the two quantile thresholds are a
    single tiny aggregate broadcast back (exact interpolated percentile —
    Spark `percentile` == DuckDB `quantile_cont`); phase+shard assignment
    is then a pure map, and the final cell aggregation is one map-side-
    combined shuffle of 3 x {_N_SHARDS} cells. At high corpus scale the
    threshold aggregate swaps to percentile_approx without changing the
    contract (see approx_aggregates)."""
    from ..functions.text import quality_score, token_count

    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )
    thresholds = scored.agg(
        F.percentile("quality", 0.66).alias("q66"),
        F.percentile("quality", 0.33).alias("q33"),
    )
    phase = (
        F.when(F.col("quality") >= F.col("q66"), 0)
        .when(F.col("quality") >= F.col("q33"), 1)
        .otherwise(2)
    )
    shard = knuth_hash() % _N_SHARDS
    return (
        scored.crossJoin(F.broadcast(thresholds))
        .select(
            phase.cast("int").alias("phase"),
            shard.cast("int").alias("shard"),
            "n_tokens",
            "quality",
        )
        .groupBy("phase", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            dround(F.avg("quality"), 6).alias("avg_quality"),
            dround(F.min("quality"), 6).alias("min_quality"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive negative sampling: for each anchor in a query panel, draw K
# pseudo-random negatives DETERMINISTICALLY via affine index hashes over
# the dense vec_id space — no rand(), so the sample is reproducible under
# any partitioning and replayable by the oracle (the repo's standing rule
# for sampling operators, cf. weighted_sample_expkeys). Self-collisions
# are dropped rather than redrawn (the documented contract: K is a cap).
# Negatives resolve to vectors by an equi join on vec_id; the cosine to
# the anchor ships with each pair — the training-pair construction step
# of a contrastive/embedding fine-tune, where negatives must be cheap,
# uniform, and reproducible at 100 TB.
# ---------------------------------------------------------------------------

_NEG_K_PARAMS = ((7_368_787, 104_729), (9_176_213, 224_737), (15_485_863, 350_377))

_CONTRASTIVE_SQL = f"""
WITH n AS (SELECT count(*) AS n_vecs, min(vec_id) AS base FROM embeddings),
anchors AS (
    SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av
    FROM embeddings WHERE vec_id % 50 = 3
),
cand AS (
    {" UNION ALL ".join(
        f"SELECT anchor_id, av, {j} AS neg_rank, "
        f"(anchor_id * {a} + {c}) % n.n_vecs + n.base AS neg_id "
        f"FROM anchors CROSS JOIN n"
        for j, (a, c) in enumerate(_NEG_K_PARAMS)
    )}
)
SELECT cand.anchor_id,
       CAST(cand.neg_rank AS BIGINT) AS neg_rank,
       CAST(cand.neg_id AS BIGINT) AS neg_id,
       {R("list_dot_product(av, e.embedding::DOUBLE[]) / "
          "(sqrt(list_dot_product(av, av)) * "
          "sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))", 6)}
           AS neg_cosine
FROM cand
JOIN embeddings e ON e.vec_id = cand.neg_id
WHERE cand.neg_id <> cand.anchor_id
"""


@register("contrastive_negatives", _CONTRASTIVE_SQL)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=3 deterministic uniform negatives per anchor (hash-affine over
    the dense id space), resolved to vectors and scored with cosine.

    Plan: 1-row (count, base) broadcast onto the small anchor panel, the
    candidate triples equi-join the corpus on vec_id (broadcast anchors
    side — the corpus never shuffles), cosine on the joined pair only."""
    from ..functions.vectors import cosine, to_double_array

    e = read_table(spark, sf_dir, "embeddings")
    n = e.agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("base")
    )
    anchors = (
        e.filter(F.col("vec_id") % 50 == 3)
        .select(
            F.col("vec_id").alias("anchor_id"),
            to_double_array(F.col("embedding")).alias("av"),
        )
        .crossJoin(F.broadcast(n))
    )
    cands = None
    for j, (a, c) in enumerate(_NEG_K_PARAMS):
        part = anchors.select(
            "anchor_id",
            "av",
            F.lit(j).alias("neg_rank"),
            ((F.col("anchor_id") * a + c) % F.col("n_vecs") + F.col("base"))
            .alias("neg_id"),
        )
        cands = part if cands is None else cands.unionByName(part)
    neg = e.select(
        F.col("vec_id").alias("nv_id"),
        to_double_array(F.col("embedding")).alias("nv"),
    )
    return (
        neg.join(F.broadcast(cands), F.col("nv_id") == F.col("neg_id"))
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.col("neg_id").cast("long").alias("neg_id"),
            dround(cosine(F.col("av"), F.col("nv")), 6).alias("neg_cosine"),
        )
    )
