"""LLM-training-data pipeline operators beyond the core set (SURVEY.md §2b):
language identification, BPE-ish regex tokenization, embedding-cosine
near-dup, and LSH-bucketed ANN search. All oracle-checked.

Scale notes inline per query; the common theme is that every "model" here
(language profiles, LSH hyperplanes) is either a tiny broadcastable artifact
or a deterministic constant, so the fact-table side never shuffles more than
once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import tokens
from ..functions.vectors import cosine, dot, norm, to_double_array
from ..operators.similarity import group_pairs
from ..session import pin
from ..sources.tables import read_table, values_frame
from .registry import register
from .udf_and_scale import HYPERPLANES, _sql_plane_literal

# ---------------------------------------------------------------------------
# Language identification (n-gram profile heuristic).
# Train: top-K most frequent tokens per language (the "profile").
# Classify: each document votes for the language whose profile it overlaps
# most. Self-contained — no external model — and fully SQL-expressible.
# At 100 TB: profiles are K x n_langs rows (broadcast); classification is a
# narrow map over documents. The train aggregation shuffles once on
# (lang, token) with map-side partial counts absorbing the explode.
# ---------------------------------------------------------------------------

_PROFILE_K = 10

_LANG_ID_SQL = f"""
WITH tok AS (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (SELECT lang, tok, count(*) AS n FROM tok GROUP BY 1, 2),
ranked AS (
    SELECT lang, tok,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rn
    FROM counts
),
prof AS (
    SELECT lang AS cand, list(tok) AS ptoks
    FROM ranked WHERE rn <= {_PROFILE_K} GROUP BY lang
),
scored AS (
    SELECT d.doc_id, d.lang, p.cand,
           len(list_intersect(list_distinct(string_split(d.text, ' ')), p.ptoks)) AS overlap
    FROM documents d CROSS JOIN prof p
),
best AS (
    SELECT doc_id, lang, cand, overlap,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY overlap DESC, cand ASC) AS rn
    FROM scored
)
SELECT doc_id, lang AS actual_lang, cand AS pred_lang,
       CAST(overlap AS BIGINT) AS overlap,
       CAST(lang = cand AS INTEGER) AS correct
FROM best WHERE rn = 1
"""


@register("lang_id_ngram", _LANG_ID_SQL)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-profile language ID: argmax over per-language profile overlap
    with deterministic (overlap DESC, lang ASC) tiebreak."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    prof = (
        counts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _PROFILE_K)
        .groupBy(F.col("lang").alias("cand"))
        .agg(F.collect_list("tok").alias("ptoks"))
    )
    scored = d.crossJoin(F.broadcast(prof)).select(
        "doc_id",
        "lang",
        "cand",
        F.size(
            F.array_intersect(F.array_distinct(tokens(F.col("text"))), F.col("ptoks"))
        ).alias("overlap"),
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("overlap"), F.asc("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("actual_lang"),
            F.col("cand").alias("pred_lang"),
            F.col("overlap").cast("long").alias("overlap"),
            (F.col("lang") == F.col("cand")).cast("int").alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization (token counting beyond whitespace): words /
# digit runs / single punctuation — the shape of a GPT-style pre-tokenizer.
# Pattern kept in the RE2 ∩ java.util.regex common subset so both engines
# tokenize identically. Narrow map; no shuffle except the final tiny agg.
# ---------------------------------------------------------------------------

_BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

_BPE_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
FROM documents
"""


@register("token_count_bpe", _BPE_SQL)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Pattern redaction (PII-scrub shape): digit runs -> <num>, long tokens ->
# <long>. regexp_replace stays in codegen; the RE subset is RE2 ∩ java.regex
# so both engines rewrite identically.
# ---------------------------------------------------------------------------

_REDACT_SQL = """
SELECT doc_id,
       regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
                      '[a-zA-Z]{12,}', '<long>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redactions
FROM documents
"""


@register("text_redact_patterns", _REDACT_SQL)
def text_redact_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex redaction pass (the PII-scrub shape: replace digit runs and
    over-long tokens with sentinel tags) + a redaction count for audit."""
    d = read_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), "[0-9]+", "<num>"),
        "[a-zA-Z]{12,}",
        "<long>",
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), F.lit(0)))
        .cast("long")
        .alias("n_redactions"),
    )


# ---------------------------------------------------------------------------
# Repetition ratio (quality filter): share of the document's 3-gram
# occurrences taken by its single most frequent 3-gram. High ratio ==
# boilerplate/looping text. Pure higher-order expressions: no explode, no
# shuffle — the whole feature is computed inside the row.
# ---------------------------------------------------------------------------

_REPETITION_SQL = f"""
WITH sh AS (
    SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN []
                ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                     i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
           END AS grams
    FROM documents
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CASE WHEN len(grams) = 0 THEN NULL
            ELSE {R("CAST(list_max(list_transform(list_distinct(grams), g -> len(list_filter(grams, x -> x = g)))) AS DOUBLE) / len(grams)", 6)}
       END AS top_gram_ratio
FROM sh
"""


@register("doc_repetition_ratio", _REPETITION_SQL)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max 3-gram frequency == the longest equal-run in the SORTED gram
    array, so one array_sort + one linear fold replaces the naive
    `transform(distinct, g -> count(filter(= g)))` — that form is O(d*n)
    interpreted comparisons per row (HOFs never enter codegen) and was
    measured 50x slower at sf0.1. The grams array is staged through a
    projection so the shingle pipeline runs once per row (SPARK-36718:
    CollapseProject would otherwise re-inline it per consumer)."""
    from ..functions.text import shingles
    from ..sources.tables import spread

    # spread(): the sort+fold below is interpreted per-row CPU — a
    # single-file landing would run it all on one task.
    d = spread(read_table(spark, sf_dir, "documents"))
    staged = d.select(
        "doc_id", shingles(F.col("text"), n=3).alias("grams")
    )
    g = F.col("grams")
    run = lambda acc, x: F.when(x == acc.prev, acc.run + F.lit(1)).otherwise(
        F.lit(1)
    )
    top_count = F.aggregate(
        F.array_sort(g),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc.best, run(acc, x)).alias("best"),
        ),
        lambda acc: acc.best,
    )
    ratio = F.when(F.size(g) == 0, F.lit(None).cast("double")).otherwise(
        dround(top_count.cast("double") / F.size(g), 6)
    )
    return staged.select(
        "doc_id",
        F.size(g).cast("long").alias("n_grams"),
        ratio.alias("top_gram_ratio"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup + LSH-bucketed ANN search. Bucket = sign bits of
# 4 fixed random hyperplane projections (shared constants with
# simsearch_lsh_buckets). The bucket id is the join/partition key — at scale
# the candidate join shuffles on `bucket`, never all-pairs.
# ---------------------------------------------------------------------------


def _bucket_spark(emb: F.Column) -> F.Column:
    bucket = None
    for i, plane in enumerate(HYPERPLANES):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        proj = F.aggregate(
            F.zip_with(to_double_array(emb), lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def _bucket_sql(emb: str) -> str:
    return " + ".join(
        f"(CASE WHEN list_dot_product({emb}, {_sql_plane_literal(p)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(HYPERPLANES)
    )


_SQL_COS_AB = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)

_NEARDUP_COSINE_SQL = f"""
WITH bkt AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {_bucket_sql('embedding::DOUBLE[]')} AS bucket
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           {R(_SQL_COS_AB, 6)} AS score
    FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_id_a, vec_id_b, score FROM pairs WHERE score >= 0.4
"""


@register("neardup_embedding_cosine", _NEARDUP_COSINE_SQL)
def neardup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: candidate pairs share an LSH bucket (equi join on
    bucket id — shuffle on bucket, not O(n²)), verified by exact cosine at
    threshold 0.4. The standard near-dup-dedup shape for embedding corpora."""
    from ..sources.tables import spread

    # spread(): the hyperplane-projection + norm build is interpreted
    # fold CPU; parallelize it.
    e = spread(read_table(spark, sf_dir, "embeddings"))
    # Norm and bucket are computed ONCE PER VECTOR: the naive per-pair
    # cosine runs three interpreted 64-element folds per candidate (dot +
    # both norms, ~128k pairs at sf0.1); carrying |v| as a scalar leaves
    # one fold per pair — same dot/(sqrt*sqrt) arithmetic, bit-identical
    # score, measured 2.3x faster.
    bkt = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("nrm"),
        _bucket_spark(F.col("embedding")).alias("bucket"),
    )
    a = bkt.alias("a")
    b = bkt.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id_a"),
        F.col("b.vec_id").alias("vec_id_b"),
        dround(
            dot(F.col("a.v"), F.col("b.v"))
            / (F.col("a.nrm") * F.col("b.nrm")),
            6,
        ).alias("score"),
    )
    return pairs.filter(F.col("score") >= 0.4)


_LSH_TOPK_SQL = f"""
WITH bkt AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           {_bucket_sql('embedding::DOUBLE[]')} AS bucket
    FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qb FROM bkt WHERE vec_id = 0),
cand AS (
    SELECT vec_id, label,
           {R("list_dot_product(bkt.v, q.qv) / (sqrt(list_dot_product(bkt.v, bkt.v)) * sqrt(list_dot_product(q.qv, q.qv)))", 6)} AS score
    FROM bkt, q
    WHERE bkt.bucket = q.qb AND vec_id <> 0
)
SELECT vec_id, label, score FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10
"""


@register("simsearch_lsh_topk", _LSH_TOPK_SQL)
def simsearch_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: restrict the top-k search to the query's LSH bucket
    (candidate set ~ n/2^bits of the corpus), exact cosine re-rank inside.
    Recall-vs-cost is tuned by bits/bands; the plan replaces the full scan
    of simsearch_topk_cosine with a bucket-pruned one."""
    e = read_table(spark, sf_dir, "embeddings")
    bkt = e.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        _bucket_spark(F.col("embedding")).alias("bucket"),
    )
    q = bkt.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    cand = (
        bkt.join(F.broadcast(q), bkt.bucket == F.col("qb"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            dround(cosine(F.col("v"), F.col("qv")), 6).alias("score"),
        )
    )
    return cand.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer et al., SIGMOD 2002 — the MOSS
# scheme): per sliding window of w consecutive k-gram hashes keep the
# minimum; documents sharing >= 2 selected fingerprints are near-dup
# candidates. Complements SimHash (doc_fingerprint_simhash) and MinHash-LSH
# (neardup_minhash_lsh): winnowing guarantees any shared run of
# w + k - 1 tokens is detected, independent of document length.
# North-star §2b "document fingerprinting (rolling hash)".
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window of 4 consecutive 3-gram hashes => any shared 6-token run is caught

# Canonical fragments: functions/sqlfrag.py (shared shingle-family source
# of truth).
from ..functions.sqlfrag import (  # noqa: E402
    SHINGLE_HASH_PRIME as _SHINGLE_P_L,
    SQL_TOKEN_HASH as _SQL_TOKEN_HASH_L,
)

_WINNOW_SQL = f"""
WITH th AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '), {_SQL_TOKEN_HASH_L}) AS th
    FROM documents
),
sh AS (
    SELECT doc_id,
           CASE WHEN len(th) < 3 THEN []
                ELSE list_transform(range(1, len(th) - 1),
                     i -> (((th[i] * 8191 + th[i + 1]) % {_SHINGLE_P_L}) * 8191 + th[i + 2]) % {_SHINGLE_P_L})
           END AS hs
    FROM th
),
wm AS (
    SELECT doc_id,
           CASE WHEN len(hs) = 0 THEN []
                WHEN len(hs) < {_WINNOW_W} THEN [list_min(hs)]
                ELSE list_distinct(list_transform(range(1, len(hs) - {_WINNOW_W - 2}),
                     i -> list_min(hs[i:i + {_WINNOW_W - 1}])))
           END AS wm
    FROM sh
),
fps AS (SELECT doc_id, unnest(wm) AS fp FROM wm)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY doc_id_a, doc_id_b
HAVING count(*) >= 2
"""


@register("neardup_winnow_fingerprints", _WINNOW_SQL)
def neardup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling-hash fingerprints -> shared-fingerprint pair counts.

    Scale shape: the winnow selection is pure per-row HOF work (no shuffle,
    linear in corpus size after `spread()`); candidate generation is a
    self-equi-join on the fingerprint value — high-cardinality key, no skew
    (each fingerprint selects ~1/w of a document's shingles), so the shuffle
    partitions evenly at 100 TB. Selectivity is tuned by w alone.

    Staging discipline (see spark-perf-pitfalls): the token-hash array and
    the shingle-hash array are each materialized in their own projection so
    the interpreted HOF lambdas never re-evaluate an inlined array, and the
    explode is `explode_outer` + not-null filter so
    InferFiltersFromGenerate cannot drag the shingle expression into the
    scan stage.
    """
    from ..functions.text import shingle_hash_array, token_hash_array
    from ..sources.tables import spread

    w = _WINNOW_W
    d = read_table(spark, sf_dir, "documents")
    sh = (
        spread(d)
        .select("doc_id", token_hash_array(F.col("text")).alias("th"))
        .select("doc_id", shingle_hash_array(F.col("th")).alias("hs"))
    )
    wm = sh.select(
        "doc_id",
        F.when(F.size("hs") == 0, F.array().cast("array<bigint>"))
        .when(F.size("hs") < w, F.array(F.array_min("hs")))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - (w - 1)),
                    lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
                )
            )
        )
        .alias("wm"),
    )
    fps = wm.select(
        "doc_id", F.explode_outer("wm").alias("fp")
    ).filter(F.col("fp").isNotNull())
    # r10: posting-list pair expansion (operators/similarity.group_pairs)
    # — one fingerprint exchange instead of the double-shuffled self-join,
    # which also ran the whole winnow HOF chain once per side.
    # Posting-size bound (ADVICE r10): no df cap here because winnow
    # fingerprints are window-MINIMA of shingle hashes — a fingerprint's
    # df is bounded by how many docs share a near-identical region, not
    # by corpus size (measured at sf0.1: max df 23, p99.9 = 19 over
    # 17,195 distinct fingerprints; the oracle would need the identical
    # cap to stay value-equal, so a cap needs fixture-divergence
    # evidence first — tools/amplify_fixture.py — before adding one).
    return (
        group_pairs(fps, "fp", "doc_id", ordered=True)
        .groupBy(
            F.col("ia").alias("doc_id_a"),
            F.col("ib").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH: recall-boosted bucket search. Single-probe SRP search
# misses any neighbor whose sign vector differs in >=1 bit; multi-probe
# additionally scans the Hamming-distance-1 buckets (flip each of the 4
# hyperplane bits), trading 5x candidate volume for the recall a
# bands-style rerun would cost a full re-index to get (Lv et al. 2007).
# Probes are an equi JOIN on bucket id against a 5-row broadcast probe
# list — the corpus-side plan is identical to single-probe; only the
# tiny probe dim grows.
# ---------------------------------------------------------------------------

_MULTIPROBE_SQL = f"""
WITH bkt AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           {_bucket_sql('embedding::DOUBLE[]')} AS bucket
    FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qb FROM bkt WHERE vec_id = 0),
probes AS (
    SELECT xor(qb, flip) AS pb,
           CASE WHEN flip = 0 THEN 0 ELSE 1 END AS probe_dist
    FROM q CROSS JOIN (VALUES (0), (1), (2), (4), (8)) f(flip)
),
cand AS (
    SELECT bkt.vec_id, bkt.label, probes.probe_dist,
           {R("list_dot_product(bkt.v, q.qv) / (sqrt(list_dot_product(bkt.v, bkt.v)) * sqrt(list_dot_product(q.qv, q.qv)))", 6)} AS score
    FROM bkt JOIN probes ON bkt.bucket = probes.pb CROSS JOIN q
    WHERE bkt.vec_id <> 0
)
SELECT vec_id, label, CAST(probe_dist AS BIGINT) AS probe_dist, score
FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10
"""


@register("simsearch_multiprobe_lsh", _MULTIPROBE_SQL)
def simsearch_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH top-10 for query vec_id=0: candidates from the
    query's bucket AND every Hamming-1 bucket (each hyperplane bit
    flipped), exact-cosine ranked; probe_dist marks which probe found
    each survivor."""
    e = read_table(spark, sf_dir, "embeddings")
    bkt = pin(e.select(
        "vec_id",
        "label",
        to_double_array(F.col("embedding")).alias("v"),
        _bucket_spark(F.col("embedding")).alias("bucket"),
    ))
    q = bkt.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    flips = values_frame(spark, [(0,), (1,), (2,), (4,), (8,)], ["flip"])
    probes = q.crossJoin(flips).select(
        "qv",
        F.expr("qb ^ flip").alias("pb"),
        F.when(F.col("flip") == 0, 0).otherwise(1).alias("probe_dist"),
    )
    cand = (
        bkt.join(F.broadcast(probes), F.col("bucket") == F.col("pb"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.col("probe_dist").cast("long").alias("probe_dist"),
            dround(cosine(F.col("v"), F.col("qv")), 6).alias("score"),
        )
    )
    return cand.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)
