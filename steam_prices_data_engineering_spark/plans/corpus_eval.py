"""Corpus-evaluation and cleaning operators (north-star extension,
SURVEY.md §2b): the measurement half of an LLM-data pipeline.

Round-1 shipped the *signals* (chunk dup ratio, quality scores, dedup
pairs); this module adds the *evaluations and transforms* built on them:

- `doc_unigram_lm_quality` — perplexity-proxy quality filter: a corpus
  unigram LM scores each document's mean token surprisal (the KenLM-style
  fluency gate of CCNet/RefinedWeb, with the LM reduced to unigrams so
  both engines replay it exactly).
- `tokenizer_vocab_coverage` — OOV rate per source against a top-N
  frequency vocab (the "will my tokenizer cover this corpus" check).
- `boilerplate_strip_rebuild` — span-level boilerplate REMOVAL: the
  transform complement of `chunk_dedup_ratio` (which only reports the
  signal) — drop cross-document repeated chunks and reassemble the
  cleaned text per document (C4/CCNet line-dedup shape).
- `minhash_estimate_error` — sketch-quality evaluation: MinHash-estimated
  vs exact Jaccard on the LSH candidate pairs.
- `simsearch_recall_eval` — ANN-quality evaluation: recall@k of the LSH
  bucket search against brute-force exact top-k ground truth.

All plans are shuffle-minimal: token/chunk statistics shuffle hashed keys
with map-side combine; tiny derived dims (vocab, query vectors, corpus
totals) broadcast; no UDFs. Reference has no corpus surface — these rows
extend SURVEY.md §2b (BASELINE.json north-star), not §2a.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import STOPWORDS, tokens
from ..functions.vectors import cosine
from ..operators.ranking import prefix_sums_binned
from ..session import pin
from ..sources.tables import read_table, values_frame
from .registry import register

# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (perplexity-proxy fluency gate).
#
# P(tok) = corpus_count(tok) / corpus_total; doc score = mean over token
# OCCURRENCES of -ln P(tok) (surprisal, nats). Real pipelines use a KenLM
# 5-gram here; the unigram reduction keeps the gate exactly replayable in
# ANSI SQL while exercising the identical plan shape: corpus-wide token
# statistics (one map-side-combined shuffle on token), a broadcast of the
# tiny LM table back onto the token stream, and a per-doc aggregation.
# At 100 TB the LM table is still vocab-sized (≤ a few M rows) — the
# broadcast holds; only the two token-keyed aggregations scan the corpus.
# ---------------------------------------------------------------------------

_FLUENT_NATS = 3.5  # ~uniform-over-vocab surprisal; docs above are "disfluent"

_UNIGRAM_LM_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
lm AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
total AS (SELECT sum(cnt) AS n FROM lm)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       {R("avg(-ln(CAST(lm.cnt AS DOUBLE) / total.n))", 6)} AS mean_surprisal,
       (avg(-ln(CAST(lm.cnt AS DOUBLE) / total.n)) <= {_FLUENT_NATS}) AS is_fluent
FROM tok t JOIN lm ON lm.tok = t.tok CROSS JOIN total
GROUP BY t.doc_id
"""


@register("doc_unigram_lm_quality", _UNIGRAM_LM_SQL)
def doc_unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token surprisal per document under the corpus unigram LM.

    Plan: explode(tokens) -> groupBy(tok) count (map-side combined; the
    shuffle carries vocab-sized rows) -> join the LM back onto the token
    stream + broadcast the scalar total -> groupBy(doc_id) avg. The LM
    join carries NO broadcast hint on purpose: a whitespace-token vocab
    grows with Heaps' law (10^8-10^9 distinct tokens at 100 TB), so the
    strategy must stay size-based — AQE broadcasts while the vocab is
    small and falls back to a shuffle join when it is not, instead of
    OOMing on a forced build (pinned by
    tests/test_plans.py::test_no_broadcast_hint_on_unbounded_frames)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    lm = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("n"))
    surprisal = -F.log(F.col("cnt").cast("double") / F.col("n"))
    return (
        tok.join(lm, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            dround(F.avg(surprisal), 6).alias("mean_surprisal"),
            (F.avg(surprisal) <= F.lit(_FLUENT_NATS)).alias("is_fluent"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer vocab coverage: build a top-N token vocabulary by corpus
# frequency (ties broken lexicographically) and report the out-of-vocab
# occurrence rate per source. The pre-flight check before committing a
# tokenizer/vocab to a corpus mixture.
# ---------------------------------------------------------------------------

_VOCAB_K = 16

_VOCAB_COVERAGE_SQL = f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
vocab AS (
    SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS r
        FROM freq
    ) WHERE r <= {_VOCAB_K}
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (v.tok IS NULL) AS BIGINT) AS oov_tokens,
       {R("CAST(count(*) FILTER (v.tok IS NULL) AS DOUBLE) / count(*)", 6)} AS oov_rate
FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.source
"""


@register("tokenizer_vocab_coverage", _VOCAB_COVERAGE_SQL)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV occurrence rate per source against the top-16 (_VOCAB_K) vocab.

    Top-K selection is `orderBy().limit(K)` (TakeOrderedAndProject — a
    per-partition heap + a K-row driver merge), NOT a global row_number
    window: corpus vocabulary at 100 TB is tens of millions of rows and
    must never funnel through one task. The K survivors broadcast back
    onto the token stream as a left join; the corpus-scale work is the
    same two map-side-combined token aggregations as the LM scorer."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        freq.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
            dround(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate strip + rebuild: drop every 10-token chunk whose exact text
# occurs in >= 2 DISTINCT documents (navigation chrome / license blocks /
# templated intros in web corpora), then reassemble each document from its
# surviving chunks in order. `chunk_dedup_ratio` measures this signal;
# this operator APPLIES it — the output is the cleaned corpus.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 10
_BOILER_MIN_DOCS = 2

_BOILERPLATE_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks AS (
    SELECT doc_id, s,
           array_to_string(
               list_slice(t, s, least(s + {_CHUNK_TOKENS} - 1, len(t))), ' '
           ) AS txt
    FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, {_CHUNK_TOKENS})) AS s
          FROM toks)
),
freq AS (
    SELECT md5(txt) AS h, count(DISTINCT doc_id) AS n_docs
    FROM chunks GROUP BY md5(txt)
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (f.n_docs < {_BOILER_MIN_DOCS}) AS BIGINT) AS kept_chunks,
       coalesce(
           string_agg(c.txt, ' ' ORDER BY c.s)
               FILTER (f.n_docs < {_BOILER_MIN_DOCS}),
           ''
       ) AS cleaned_text
FROM chunks c JOIN freq f ON f.h = md5(c.txt)
GROUP BY c.doc_id
"""


@register("boilerplate_strip_rebuild", _BOILERPLATE_SQL)
def boilerplate_strip_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove cross-document repeated chunks and rebuild the cleaned text.

    Scale shape: the frequency pass shuffles 32-byte md5 keys only (never
    chunk text) with map-side combine; the join back is hash-to-hash; the
    rebuild groups each doc's own chunks — partitioned by doc_id, so the
    collect_list is bounded by single-document size (the same bound any
    per-doc transform already carries). Docs whose every chunk is
    boilerplate survive with kept_chunks=0 and empty text, preserving
    corpus row identity for downstream joins."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(_CHUNK_TOKENS))
        ).alias("s"),
    )
    chunks = starts.select(
        "doc_id",
        "s",
        F.concat_ws(
            " ",
            F.slice(
                F.col("t"),
                F.col("s"),
                F.least(
                    F.lit(_CHUNK_TOKENS), F.size("t") - F.col("s") + F.lit(1)
                ),
            ),
        ).alias("txt"),
    ).withColumn("h", F.md5(F.col("txt").cast("binary")))
    freq = (
        chunks.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    keep = F.col("n_docs") < _BOILER_MIN_DOCS
    # collect_list drops NULLs, so gating the struct with when() filters
    # boilerplate chunks inside the aggregation — one groupBy, no re-join.
    kept_struct = F.when(keep, F.struct(F.col("s"), F.col("txt")))
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(keep.cast("int")).cast("long").alias("kept_chunks"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda x: x.getField("txt"),
                ),
            ).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash sketch-quality evaluation: for every LSH candidate pair, compare
# the signature-estimated Jaccard (fraction of equal minhash components)
# with the exact shingle-set Jaccard. The operator a pipeline owner runs
# before trusting a (bands, rows) configuration at full scale — it turns
# the sketch's accuracy from folklore into a measured column.
# ---------------------------------------------------------------------------


def _minhash_est_sql() -> str:
    from ..functions.sqlfrag import sql_minhash_sig_band_ctes
    from ..operators.dedup import MINHASH_PARAMS

    n_sig = len(MINHASH_PARAMS)
    eq_sum = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(1, n_sig + 1)
    )
    from ..functions.sqlfrag import sql_exact_jaccard

    exact = sql_exact_jaccard("a.hs", "b.hs")
    # The signature/band chain is the SHARED production fragment
    # (functions/sqlfrag.py) — the same text the neardup_minhash_lsh
    # oracle composes, so this evaluator measures exactly that pipeline.
    return f"""
WITH {sql_minhash_sig_band_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
)
SELECT c.doc_id_a, c.doc_id_b,
       {R(f"CAST({eq_sum} AS DOUBLE) / {n_sig}", 6)} AS est_jaccard,
       {R(exact, 6)} AS exact_jaccard,
       {R(f"abs(CAST({eq_sum} AS DOUBLE) / {n_sig} - ({exact}))", 6)} AS abs_err
FROM cand c
JOIN sig a ON a.doc_id = c.doc_id_a
JOIN sig b ON b.doc_id = c.doc_id_b
"""


@register("minhash_estimate_error", _minhash_est_sql())
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated-vs-exact Jaccard for every MinHash-LSH candidate pair.

    Reuses the production signature pipeline (operators/dedup.py — the
    cached hashed-shingle table feeds the signature aggregation, the band
    explode, and both sides of the evaluation join), then scores each
    candidate twice: est = mean(sig components equal), exact = shingle-set
    Jaccard. At scale the evaluation join is candidate-bounded (LSH
    output), never all-pairs."""
    from ..operators.dedup import (
        MINHASH_PARAMS,
        hashed_shingle_table,
        minhash_banded,
        minhash_candidates,
        minhash_sig_table,
    )

    d = read_table(spark, sf_dir, "documents")
    # Composed from the SAME staged pipeline stages neardup_minhash_lsh
    # runs (operators/dedup.py) — never re-implemented, so this evaluator
    # measures the production sketch, not a twin that can drift.
    hashed = hashed_shingle_table(d)
    sig = pin(minhash_sig_table(hashed).join(hashed, "doc_id"))
    cand = minhash_candidates(minhash_banded(sig))

    n_sig = len(MINHASH_PARAMS)

    a = sig.alias("a")
    b = sig.alias("b")
    est = (
        sum(
            F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0)
            for i in range(1, n_sig + 1)
        ).cast("double")
        / n_sig
    )
    union_sz = F.size(F.array_distinct(F.concat(F.col("a.hs"), F.col("b.hs"))))
    exact = F.when(
        union_sz > 0,
        F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs"))).cast("double")
        / union_sz,
    ).otherwise(F.lit(0.0))
    return (
        cand.join(a, cand.doc_id_a == F.col("a.doc_id"))
        .join(b, cand.doc_id_b == F.col("b.doc_id"))
        .select(
            "doc_id_a",
            "doc_id_b",
            dround(est, 6).alias("est_jaccard"),
            dround(exact, 6).alias("exact_jaccard"),
            dround(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation: recall@k of the LSH-bucket search against
# brute-force exact top-k, over a panel of query vectors. The accept gate
# for any approximate index config before it serves a 100 TB corpus —
# at scale the exact arm runs on a sampled query panel exactly like this
# one (ground truth is always panel-sized, never corpus×corpus).
# ---------------------------------------------------------------------------

_RECALL_K = 10
_N_QUERIES = 8


def _recall_sql() -> str:
    from .llm_text import HYPERPLANES, _bucket_sql, _sql_plane_literal  # noqa: F401

    bucket = _bucket_sql("embedding::DOUBLE[]")
    cos = (
        "list_dot_product(c.v, q.v) / "
        "(sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v)))"
    )
    return f"""
WITH bkt AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS qid, v, bucket FROM bkt WHERE vec_id < {_N_QUERIES}),
exact AS (
    SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY {R(cos, 6)} DESC, c.vec_id ASC
               ) AS r
        FROM bkt c JOIN q ON c.vec_id <> q.qid
    ) WHERE r <= {_RECALL_K}
),
lsh AS (
    SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY {R(cos, 6)} DESC, c.vec_id ASC
               ) AS r
        FROM bkt c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.qid
    ) WHERE r <= {_RECALL_K}
)
SELECT e.qid AS query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(l.vec_id) AS BIGINT) AS n_hit,
       {R(f"CAST(count(l.vec_id) AS DOUBLE) / {_RECALL_K}", 6)} AS recall_at_k
FROM exact e
LEFT JOIN lsh l ON l.qid = e.qid AND l.vec_id = e.vec_id
GROUP BY e.qid
"""


@register("simsearch_recall_eval", _recall_sql())
def simsearch_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 (_RECALL_K) of the sign-random-projection LSH search vs
    brute-force ground truth for 8 (_N_QUERIES) query vectors.

    Both arms broadcast the tiny query panel: the exact arm scans the
    corpus once (panel × corpus scored rows, ranked per query), the LSH
    arm joins on bucket equality first — the same candidate pruning the
    production path (`simsearch_lsh_topk`) uses. Scores are rounded
    BEFORE ranking so tie-breaks agree across engines."""
    from .llm_text import _bucket_spark

    e = read_table(spark, sf_dir, "embeddings")
    bkt = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        _bucket_spark(F.col("embedding")).alias("bucket"),
    )
    q = bkt.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
    )

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    scored_exact = (
        bkt.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            dround(cosine(F.col("v"), F.col("qv")), 6).alias("score"),
        )
    )
    exact = (
        scored_exact.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    scored_lsh = (
        bkt.join(F.broadcast(q), bkt.bucket == F.col("qb"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            dround(cosine(F.col("v"), F.col("qv")), 6).alias("score"),
        )
    )
    # Both arms share the `bkt` lineage, so rename the LSH arm's
    # columns before joining to avoid a self-join ambiguity.
    lsh = (
        scored_lsh.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _RECALL_K)
        .select(
            F.col("qid").alias("lsh_qid"), F.col("vec_id").alias("lsh_vec_id")
        )
    )
    return (
        exact.join(
            lsh,
            (F.col("qid") == F.col("lsh_qid"))
            & (F.col("vec_id") == F.col("lsh_vec_id")),
            "left",
        )
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("lsh_vec_id").cast("long").alias("n_hit"),
            dround(
                F.count("lsh_vec_id").cast("double") / F.lit(_RECALL_K), 6
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring with Stupid Backoff (Brants et al. 2007).
#
# Score of a bigram occurrence (prev, cur):
#   S(cur | prev) = C2(prev,cur) / C1(prev)        if the bigram was seen
#                 = 0.4 * C1(cur) / N              otherwise (backoff)
# Doc score = mean over bigram OCCURRENCES of -ln S  (nats). This is the
# n-gram step up from `doc_unigram_lm_quality`: the same corpus-statistic
# plan shape, but conditioned — it separates word-salad documents (high
# bigram surprisal, plausible unigrams) from fluent ones, which the
# unigram gate cannot.
#
# Scale: the bigram construction is a NARROW per-document pass (token
# array -> sliding pairs), not a token-stream self-join — no shuffle to
# build bigrams. The two LM tables are vocab- and bigram-vocab-sized;
# real web-scale deployments prune low-count n-grams (KenLM filter) to
# keep the LM broadcastable, which the broadcast hints here assume.
# ---------------------------------------------------------------------------

_BACKOFF = 0.4
_BIGRAM_FLUENT_NATS = 4.0

_BIGRAM_LM_SQL = f"""
WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok FROM arr),
c1 AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
total AS (SELECT sum(cnt) AS n FROM c1),
bi AS (
    SELECT doc_id,
           unnest(CASE WHEN len(t) < 2 THEN []
                  ELSE list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i + 1]) END) AS bg
    FROM arr
),
c2 AS (SELECT bg, count(*) AS cnt FROM bi GROUP BY bg),
scored AS (
    SELECT bi.doc_id,
           CASE WHEN c2.cnt IS NOT NULL
                THEN CAST(c2.cnt AS DOUBLE) / p.cnt
                ELSE {_BACKOFF} * CAST(w.cnt AS DOUBLE) / total.n
           END AS s
    FROM bi
    LEFT JOIN c2 ON c2.bg = bi.bg
    JOIN c1 p ON p.tok = split_part(bi.bg, ' ', 1)
    JOIN c1 w ON w.tok = split_part(bi.bg, ' ', 2)
    CROSS JOIN total
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       {R("avg(-ln(s))", 6)} AS mean_surprisal,
       (avg(-ln(s)) <= {_BIGRAM_FLUENT_NATS}) AS is_fluent
FROM scored
GROUP BY doc_id
"""


@register("doc_bigram_lm_quality", _BIGRAM_LM_SQL)
def doc_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram surprisal per document under a corpus bigram LM with
    Stupid Backoff (S = C2/C1 if seen, else 0.4 * unigram MLE).

    Plan: one narrow pass builds the per-doc bigram array (staged token
    projection, cached BEFORE the explode — Generate over the uncached
    interpreted-HOF chain re-evaluates the transform per exploded row,
    the O(tokens^2)/doc trap); explode feeds two map-side-combined
    aggregations (unigram + bigram counts, both vocab-bounded) that
    broadcast back onto the bigram stream; one final per-doc agg. Every
    corpus-scale shuffle key is a short string; doc text never shuffles."""
    d = read_table(spark, sf_dir, "documents")
    arr = pin(
        d.select("doc_id", tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.col("t").alias("t"),
            F.when(
                F.size("t") < 2, F.array().cast("array<string>")
            )
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                    ),
                )
            )
            .alias("bga"),
        )
    )
    tok = arr.select("doc_id", F.explode("t").alias("tok"))
    c1 = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = c1.agg(F.sum("cnt").alias("n"))
    bi = arr.select("doc_id", F.explode("bga").alias("bg"))
    c2 = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt2"))
    prev_c = c1.select(F.col("tok").alias("ptok"), F.col("cnt").alias("pcnt"))
    cur_c = c1.select(F.col("tok").alias("wtok"), F.col("cnt").alias("wcnt"))
    s = F.when(
        F.col("cnt2").isNotNull(),
        F.col("cnt2").cast("double") / F.col("pcnt"),
    ).otherwise(F.lit(_BACKOFF) * F.col("wcnt").cast("double") / F.col("n"))
    return (
        bi.join(F.broadcast(c2), "bg", "left")
        .join(
            F.broadcast(prev_c),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("ptok"),
        )
        .join(
            F.broadcast(cur_c),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)) == F.col("wtok"),
        )
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            dround(F.avg(-F.log(s)), 6).alias("mean_surprisal"),
            (F.avg(-F.log(s)) <= F.lit(_BIGRAM_FLUENT_NATS)).alias(
                "is_fluent"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule gate (Rae et al. 2021 §A1.1, restricted to
# the rules this corpus can exercise): word-count bounds, mean-word-length
# bounds, repetition via TOP-TOKEN DOMINANCE (fraction of occurrences
# held by the modal token), and a minimum stopword count. Unlike
# `doc_quality_scores` (pure per-row expressions), the dominance rule
# needs per-(doc, token) frequencies — a different plan family:
# explode -> groupBy(doc_id, tok) -> per-doc reduce. Both shuffles carry
# compact keys with map-side combine; text never shuffles.
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MAX_TOP_FRAC = 0.12
_GOPHER_MIN_STOPWORDS = 2
_GOPHER_STOPWORDS = STOPWORDS  # single source with stopword_ratio/quality_score

_GOPHER_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
per AS (
    SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok
),
feat AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           sum(length(tok) * cnt) / CAST(sum(cnt) AS DOUBLE) AS mwl,
           max(cnt) / CAST(sum(cnt) AS DOUBLE) AS top_frac,
           sum(cnt) FILTER (tok IN {repr(_GOPHER_STOPWORDS)}) AS n_stop
    FROM per GROUP BY doc_id
)
SELECT doc_id, n_words,
       {R('mwl', 6)} AS mean_word_len,
       {R('top_frac', 6)} AS top_token_frac,
       CAST(coalesce(n_stop, 0) AS BIGINT) AS n_stopwords,
       (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
        AND mwl BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
        AND top_frac <= {_GOPHER_MAX_TOP_FRAC}
        AND coalesce(n_stop, 0) >= {_GOPHER_MIN_STOPWORDS}) AS keep
FROM feat
"""


@register("gopher_quality_rules", _GOPHER_SQL)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document gate: word-count / mean-word-length bounds,
    modal-token dominance cap, and minimum stopword occurrences, with the
    composite keep flag.

    Plan: explode(tokens) -> groupBy(doc_id, tok) count (map-side
    combined) -> one per-doc aggregation deriving every feature from the
    (tok, cnt) pairs — the modal-token fraction rides the same aggregate
    as the means, so the corpus is scanned once and only compact keys
    shuffle."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    per = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    n_words = F.sum("cnt")
    mwl = F.sum(F.length("tok") * F.col("cnt")) / n_words.cast("double")
    top_frac = F.max("cnt") / n_words.cast("double")
    n_stop = F.coalesce(
        F.sum(F.when(F.col("tok").isin(*_GOPHER_STOPWORDS), F.col("cnt"))),
        F.lit(0),
    )
    keep = (
        n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & mwl.between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
        & (top_frac <= _GOPHER_MAX_TOP_FRAC)
        & (n_stop >= _GOPHER_MIN_STOPWORDS)
    )
    return per.groupBy("doc_id").agg(
        n_words.cast("long").alias("n_words"),
        dround(mwl, 6).alias("mean_word_len"),
        dround(top_frac, 6).alias("top_token_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Collocation mining: top-20 bigrams by pointwise mutual information,
# PMI = ln(C2(a,b) * N1 / (C1(a) * C1(b))), min-count 5 to kill the
# hapax-PMI explosion. The word-association analytics built on the SAME
# staged bigram construction as `doc_bigram_lm_quality` (narrow per-doc
# pass; vocab-bounded count tables; top-k is TakeOrderedAndProject, no
# global sort). N1 = total unigram occurrences — the standard estimator
# with P(a,b) = C2/N1 over adjacent-pair trials.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 20

_PMI_SQL = f"""
WITH arr AS (SELECT string_split(text, ' ') AS t FROM documents),
tok AS (SELECT unnest(t) AS tok FROM arr),
c1 AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM c1),
bi AS (
    SELECT unnest(CASE WHEN len(t) < 2 THEN []
                  ELSE list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i + 1]) END) AS bg
    FROM arr
),
c2 AS (SELECT bg, count(*) AS cnt2 FROM bi GROUP BY bg HAVING count(*) >= {_PMI_MIN_COUNT}),
scored AS (
    SELECT c2.bg, c2.cnt2,
           {R("ln(c2.cnt2 * total.n / (CAST(p.cnt AS DOUBLE) * w.cnt))", 6)} AS pmi
    FROM c2
    JOIN c1 p ON p.tok = split_part(c2.bg, ' ', 1)
    JOIN c1 w ON w.tok = split_part(c2.bg, ' ', 2)
    CROSS JOIN total
)
SELECT bg AS bigram, CAST(cnt2 AS BIGINT) AS n_pair, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, bg ASC) AS BIGINT) AS rank
FROM scored
ORDER BY pmi DESC, bg ASC
LIMIT {_PMI_TOP_K}
"""


@register("collocations_pmi", _PMI_SQL)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} collocations by PMI (min pair count 5, deterministic
    (pmi DESC, bigram ASC) order). Ranking happens post-limit on K rows;
    the limit lowers to TakeOrderedAndProject."""
    d = read_table(spark, sf_dir, "documents")
    arr = pin(
        d.select(tokens(F.col("text")).alias("t"))
        .select(
            "t",
            F.when(F.size("t") < 2, F.array().cast("array<string>"))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                    ),
                )
            )
            .alias("bga"),
        )
    )
    c1 = (
        arr.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = c1.agg(F.sum("cnt").cast("double").alias("n"))
    c2 = (
        arr.select(F.explode("bga").alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt2"))
        .filter(F.col("cnt2") >= _PMI_MIN_COUNT)
    )
    prev_c = c1.select(F.col("tok").alias("ptok"), F.col("cnt").alias("pcnt"))
    cur_c = c1.select(F.col("tok").alias("wtok"), F.col("cnt").alias("wcnt"))
    pmi = F.log(
        F.col("cnt2") * F.col("n") / (F.col("pcnt").cast("double") * F.col("wcnt"))
    )
    scored = (
        c2.join(
            F.broadcast(prev_c),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("ptok"),
        )
        .join(
            F.broadcast(cur_c),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)) == F.col("wtok"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("bg").alias("bigram"),
            F.col("cnt2").cast("long").alias("n_pair"),
            dround(pmi, 6).alias("pmi"),
        )
    )
    topk = scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(_PMI_TOP_K)
    w = Window.orderBy(F.desc("pmi"), F.asc("bigram"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Score-calibration report: does the continuous heuristic quality score
# actually predict the rule-based Gopher gate? Bin the [0,1] score into
# deciles and report each bin's occupancy, mean score, and empirical
# keep-rate under `gopher_quality_rules` — the reliability-diagram shape
# used to calibrate any document-quality classifier before trusting its
# threshold at corpus scale. Both signals COMPOSE from their canonical
# definitions (the registry's quality SQL CTE and this module's Gopher
# SQL), so the calibration can never disagree with the per-doc reports.
# ---------------------------------------------------------------------------


def _calibration_sql() -> str:
    from .registry import _DOC_QUALITY_SQL

    return f"""
WITH q AS ({_DOC_QUALITY_SQL}),
g AS ({_GOPHER_SQL}),
j AS (
    SELECT least(CAST(floor(q.quality * 10) AS INTEGER), 9) AS bin,
           q.quality, g.keep
    FROM q JOIN g ON g.doc_id = q.doc_id
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       {R('avg(quality)', 6)} AS mean_quality,
       {R('CAST(count(*) FILTER (keep) AS DOUBLE) / count(*)', 6)} AS keep_rate
FROM j GROUP BY bin
"""


@register("quality_calibration_bins", _calibration_sql())
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins of the heuristic quality score against the Gopher
    rule gate: per score-decile occupancy, mean score, empirical
    keep-rate.

    Plan: the two per-doc signals are the SAME plans their standalone
    queries run (composition, not re-implementation); the join keys on
    doc_id and the report is a 10-row aggregate."""
    from ..functions.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", dround(quality_score(F.col("text")), 6).alias("quality")
    )
    g = gopher_quality_rules(spark, sf_dir).select("doc_id", "keep")
    j = q.join(g, "doc_id").select(
        F.least(F.floor(F.col("quality") * 10).cast("int"), F.lit(9)).alias(
            "bin"
        ),
        "quality",
        "keep",
    )
    return j.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        dround(F.avg("quality"), 6).alias("mean_quality"),
        dround(
            F.sum(F.col("keep").cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("keep_rate"),
    )


# ---------------------------------------------------------------------------
# Threshold-free gate evaluation: exact ROC-AUC of the heuristic quality
# score against the Gopher keep label, via the Mann-Whitney rank-sum with
# the tie-aware 0.5 credit: AUC = sum over distinct scores of
# n_pos(s) * (N_neg below s + 0.5 * n_neg(s)) / (P * N). The corpus
# reduces to DISTINCT-SCORE rows first (bounded by score cardinality, not
# docs) — the cumulative window then runs on that small table, which is
# the scale-correct alternative to ranking every document in one task.
# Composes the same two canonical signals as `quality_calibration_bins`.
# ---------------------------------------------------------------------------


def _auc_sql() -> str:
    from .registry import _DOC_QUALITY_SQL

    return f"""
WITH q AS ({_DOC_QUALITY_SQL}),
g AS ({_GOPHER_SQL}),
lab AS (
    SELECT q.quality AS s, g.keep FROM q JOIN g ON g.doc_id = q.doc_id
),
per_score AS (
    SELECT s,
           CAST(count(*) FILTER (keep) AS DOUBLE) AS np,
           CAST(count(*) FILTER (NOT keep) AS DOUBLE) AS nn
    FROM lab GROUP BY s
),
cum AS (
    SELECT s, np, nn,
           coalesce(sum(nn) OVER (ORDER BY s ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS neg_below
    FROM per_score
)
SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       CAST(sum(nn) AS BIGINT) AS n_neg,
       {R('sum(np * (neg_below + 0.5 * nn)) / (sum(np) * sum(nn))', 6)} AS auc
FROM cum
"""


@register("auc_quality_gate", _auc_sql())
def auc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC of the quality score as a predictor of the
    Gopher keep gate (one row: n_pos, n_neg, auc).

    Grain-cardinality assumption: the rank-sum window runs over the
    DISTINCT-score grain (scores are dround(6)-quantized, so the domain
    is bounded by score resolution, not corpus size). For an unbounded
    continuous score, quantize first — exact tie-aware AUC requires the
    full score order."""
    from ..functions.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", dround(quality_score(F.col("text")), 6).alias("s")
    )
    g = gopher_quality_rules(spark, sf_dir).select("doc_id", "keep")
    per_score = (
        q.join(g, "doc_id")
        .groupBy("s")
        .agg(
            F.count(F.when(F.col("keep"), F.lit(1)))
            .cast("double")
            .alias("np"),
            F.count(F.when(~F.col("keep"), F.lit(1)))
            .cast("double")
            .alias("nn"),
        )
    )
    w = Window.orderBy(F.asc("s")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_score.withColumn(
        "neg_below", F.coalesce(F.sum("nn").over(w), F.lit(0.0))
    )
    return cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        dround(
            F.sum(F.col("np") * (F.col("neg_below") + 0.5 * F.col("nn")))
            / (F.sum("np") * F.sum("nn")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law view): distinct vocabulary size as
# a function of tokens processed, in doc_id ingestion order. The naive
# form needs "distinct tokens so far" per prefix — quadratic. The
# relational identity: a token joins the vocabulary exactly ONCE, at its
# minimum doc_id — so per-doc new-vocab counts are min(doc_id)-per-token
# aggregated (map-side combined), and the curve is two running sums over
# the doc-cardinality table. The release diagnostic for "is this corpus
# still adding new language or just repeating itself".
# ---------------------------------------------------------------------------

_VOCAB_GROWTH_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
doc_tokens AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM tok GROUP BY doc_id
),
first_seen AS (
    SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY tok
),
new_vocab AS (
    SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
    FROM first_seen GROUP BY first_doc
)
SELECT d.doc_id,
       CAST(sum(d.n_toks) OVER w AS BIGINT) AS cum_tokens,
       CAST(sum(coalesce(v.n_new, 0)) OVER w AS BIGINT) AS cum_vocab
FROM doc_tokens d LEFT JOIN new_vocab v ON v.doc_id = d.doc_id
WINDOW w AS (ORDER BY d.doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("vocab_growth_curve", _VOCAB_GROWTH_SQL)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cum_tokens, cum_vocab) after each document in ingestion order —
    the Heaps'-law vocabulary growth curve via the min-doc first-
    occurrence identity (no per-prefix distinct).

    The two running totals are two-phase prefix sums
    (`operators.ranking.prefix_sums_binned`: constant-count doc_id bins,
    broadcast bin offsets, bin-PARTITIONED windows) — the per-doc grain
    scales with the corpus, so a partition-less cumulative window would
    one-task at 100 TB. Both accumulators are BIGINT counts, so the
    two-phase re-association is bit-exact vs the sequential oracle."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    doc_tokens = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    first_seen = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    new_vocab = first_seen.groupBy(
        F.col("first_doc").alias("vd")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    j = doc_tokens.join(
        new_vocab, doc_tokens.doc_id == new_vocab.vd, "left"
    )
    return prefix_sums_binned(
        j,
        F.col("doc_id"),
        {
            "cum_tokens": F.col("n_toks"),
            "cum_vocab": F.coalesce(F.col("n_new"), F.lit(0)),
        },
    ).select(
        "doc_id",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
    )


# ---------------------------------------------------------------------------
# Corpus-overlap matrix: vocabulary Jaccard between every pair of
# sources — the "are these two crawls the same corpus" screen run before
# mixing weights are assigned. The inverted-index identity again: a
# token contributes to |V_a ∩ V_b| iff it appears in both sources, so
# the pair counts come from an equi self-join of the DISTINCT
# (source, token) table ON TOKEN (vocab-sized, map-side combined) —
# never a vocabulary cross product. |V_a ∪ V_b| = |V_a| + |V_b| - inter.
# ---------------------------------------------------------------------------

_SRC_OVERLAP_SQL = f"""
WITH st AS (
    SELECT DISTINCT source, tok FROM (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    )
),
vsize AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM st GROUP BY source),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, va.nv AS vocab_a, vb.nv AS vocab_b, i.n_shared,
       {R('CAST(i.n_shared AS DOUBLE) / (va.nv + vb.nv - i.n_shared)', 6)}
           AS vocab_jaccard
FROM inter i
JOIN vsize va ON va.source = i.src_a
JOIN vsize vb ON vb.source = i.src_b
"""


@register("source_vocab_overlap", _SRC_OVERLAP_SQL)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources via a token-keyed
    self-join of the distinct (source, token) table."""
    d = read_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    vsize = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nv")
    )
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    va = vsize.select(F.col("source").alias("src_a"), F.col("nv").alias("vocab_a"))
    vb = vsize.select(F.col("source").alias("src_b"), F.col("nv").alias("vocab_b"))
    return (
        inter.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a", "src_b", "vocab_a", "vocab_b", "n_shared",
            dround(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("vocab_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical diversity index per source: Shannon entropy of the unigram
# distribution and its exponential ("effective vocabulary" — the number
# of equally-likely tokens that would produce the same entropy; the
# perplexity of the source's own unigram LM). Comparable across sources
# of different sizes where raw vocab counts aren't. One (source, token)
# aggregate, entropy folded per source from the count table.
# ---------------------------------------------------------------------------

_EFFVOCAB_SQL = f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY source)
SELECT cnt.source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(any_value(tot.n) AS BIGINT) AS n_tokens,
       {R('-sum((c / tot.n) * ln(c / tot.n))', 6)} AS entropy_nats,
       {R('exp(-sum((c / tot.n) * ln(c / tot.n)))', 4)} AS effective_vocab
FROM cnt JOIN tot ON tot.source = cnt.source
GROUP BY cnt.source
"""


@register("effective_vocab_by_source", _EFFVOCAB_SQL)
def effective_vocab_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram entropy and effective vocabulary exp(H)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    tot = cnt.groupBy(F.col("source").alias("tsrc")).agg(
        F.sum("c").alias("n")
    )
    j = cnt.join(F.broadcast(tot), cnt.source == tot.tsrc)
    p = F.col("c") / F.col("n")
    h = -F.sum(p * F.log(p))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.first("n").cast("long").alias("n_tokens"),
        dround(h, 6).alias("entropy_nats"),
        dround(F.exp(h), 4).alias("effective_vocab"),
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit per source: OLS slope of ln(freq) on ln(rank) over each
# source's top-100 tokens — natural language sits near -1; generated or
# templated text bends the curve. Companion diagnostic to the Heaps
# curve (vocab_growth_curve). The rank window partitions by source over
# the vocab-sized count table (WindowGroupLimit keeps 100 per source);
# the OLS derives from explicit moment sums, engine-identical.
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100

_ZIPF_SQL = f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2),
ranked AS (
    SELECT source, c,
           row_number() OVER (PARTITION BY source
                              ORDER BY c DESC, tok ASC) AS r
    FROM cnt
),
pts AS (
    SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(c) AS y
    FROM ranked WHERE r <= {_ZIPF_TOP}
),
mom AS (
    SELECT source, CAST(count(*) AS DOUBLE) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
    FROM pts GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_points,
       {R('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 6)} AS zipf_slope,
       {R('(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n', 6)} AS intercept
FROM mom
"""


@register("zipf_fit_by_source", _ZIPF_SQL)
def zipf_fit_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS Zipf slope/intercept per source over the top-100 token ranks
    (explicit-moment regression; per-source rank window)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    pts = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _ZIPF_TOP)
        .select(
            "source",
            F.log(F.col("r").cast("double")).alias("x"),
            F.log("c").alias("y"),
        )
    )
    mom = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        "source",
        F.col("n").cast("long").alias("n_points"),
        dround(slope, 6).alias("zipf_slope"),
        dround((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over the
# word co-occurrence graph — adjacent-token pairs form undirected
# weighted edges; 3 fixed power iterations (the
# pagerank_event_transitions discipline, unrolled identically in the
# oracle); top-20 keywords by rank.
#
# Vocabulary gate: document frequency in [_TR_MIN_DF, 90% of docs] —
# drops hapax noise AND the most stopword-grade tokens before any pair
# is built (the fixture vocabulary is 31 tokens at df 75-80%, so a
# production-style 50% cap would empty the graph; the gate's INTENT is
# what matters and the bound is a named constant either way),
# so the graph is sparse-vocab-bounded, never corpus-bounded. Scale: the
# bigram build is the shared narrow staged+cached pass; the rank table
# is vocab-sized (broadcast here; at web vocabularies this flips to the
# partitioned-join PR loop with localCheckpoint per round, as
# kcore_neardup_graph demonstrates).
# ---------------------------------------------------------------------------

_TR_DAMPING = 0.85
_TR_ITERS = 3
_TR_MIN_DF = 3
_TR_TOPK = 20


def _textrank_sql() -> str:
    d = _TR_DAMPING
    iters = ["r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"]
    for i in range(1, _TR_ITERS + 1):
        iters.append(f"""
r{i} AS (
    SELECT node, (1 - {d}) / n + {d} * coalesce(c.contrib, 0.0) AS rank
    FROM nodes CROSS JOIN nn
    LEFT JOIN (
        SELECT b.dst AS cn, sum(r.rank * b.w / ow.outw) AS contrib
        FROM bidir b
        JOIN r{i - 1} r ON r.node = b.src
        JOIN outw ow ON ow.src = b.src
        GROUP BY b.dst
    ) c ON c.cn = node
)""")
    return f"""
WITH arr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok FROM arr),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
ndocs AS (SELECT count(*) AS nd FROM documents),
kept AS (
    SELECT tok FROM df CROSS JOIN ndocs
    WHERE df >= {_TR_MIN_DF} AND df * 10 <= nd * 9
),
bi AS (
    SELECT unnest(CASE WHEN len(t) < 2 THEN []
                  ELSE list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i + 1]) END) AS bg
    FROM arr
),
uv AS (
    SELECT split_part(bg, ' ', 1) AS u, split_part(bg, ' ', 2) AS v FROM bi
),
pairs AS (
    SELECT least(u, v) AS u, greatest(u, v) AS v,
           CAST(count(*) AS DOUBLE) AS w
    FROM uv
    WHERE u <> v
      AND u IN (SELECT tok FROM kept) AND v IN (SELECT tok FROM kept)
    GROUP BY 1, 2
),
bidir AS (
    SELECT u AS src, v AS dst, w FROM pairs
    UNION ALL
    SELECT v AS src, u AS dst, w FROM pairs
),
outw AS (SELECT src, sum(w) AS outw FROM bidir GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM bidir),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
{",".join(iters)}
SELECT node AS token, {R('rank', 6)} AS tr_rank
FROM r{_TR_ITERS}
ORDER BY {R('rank', 6)} DESC, node
LIMIT {_TR_TOPK}
"""


@register("textrank_keywords", _textrank_sql())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus keywords by TextRank: PageRank (damping 0.85, 3
    fixed iterations) over the df-gated adjacent-token co-occurrence
    graph. Final top-k is orderBy().limit() — TakeOrderedAndProject,
    never a global ranked window."""
    from .retrieval import corpus_bigrams, corpus_tokens

    docs = read_table(spark, sf_dir, "documents")
    # r10: ride the SHARED pinned token + bigram stages
    # (retrieval.corpus_tokens / corpus_bigrams) instead of a private
    # tokenize cache plus an explode of an HOF wrapped in
    # when().otherwise() — the CodegenFallback-conditional trap
    # (CLAUDE.md): the whole generator expression ran interpreted and
    # Generate re-evaluated it per exploded row. The shared bigram
    # array is staged + pinned BEFORE the explode; <2-token docs are
    # filtered there (they contributed no bigrams here either way).
    ct = corpus_tokens(spark, sf_dir)
    tok = ct.select("doc_id", F.explode("th").alias("tok"))
    ndocs = docs.count()
    kept = (
        tok.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= _TR_MIN_DF) & (F.col("df") * 10 <= ndocs * 9))
        .select("tok")
    )
    bg = corpus_bigrams(spark, sf_dir).select(F.explode("bga").alias("bg"))
    uv = bg.select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("u"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    uv = uv.join(
        F.broadcast(kept.select(F.col("tok").alias("u"))), "u", "left_semi"
    ).join(F.broadcast(kept.select(F.col("tok").alias("v"))), "v", "left_semi")
    pairs = (
        uv.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    bidir = pin(pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"), "w"))
    outw = bidir.groupBy("src").agg(F.sum("w").alias("outw"))
    weighted = pin(bidir.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("wn")
    ))
    nodes = bidir.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    if n == 0:  # empty landing: no co-occurrence graph, no keywords
        return spark.createDataFrame([], "token string, tr_rank double")
    ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))
    for _ in range(_TR_ITERS):
        contrib = (
            weighted.join(F.broadcast(ranks), weighted.src == ranks.node)
            .groupBy(F.col("dst").alias("cn"))
            .agg(F.sum(F.col("rank") * F.col("wn")).alias("contrib"))
        )
        ranks = nodes.join(
            F.broadcast(contrib), nodes.node == F.col("cn"), "left"
        ).select(
            "node",
            (
                F.lit((1 - _TR_DAMPING) / n)
                + F.lit(_TR_DAMPING)
                * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
    return (
        ranks.select(
            F.col("node").alias("token"), dround(F.col("rank"), 6).alias("tr_rank")
        )
        .orderBy(F.col("tr_rank").desc(), "token")
        .limit(_TR_TOPK)
    )


# ---------------------------------------------------------------------------
# Held-out perplexity under the TRAIN-split LM: the evaluation loop a
# training-data pipeline runs after a split — build the unigram LM on the
# train side of trainset_group_holdout's source-hashed split, score BOTH
# splits under it with add-1 smoothing over the joint vocabulary (val
# tokens unseen in train get a finite probability), and report per-split
# perplexity. A healthy leakage-safe split shows val >= train surprisal;
# near-equality under a group split is the designed outcome when sources
# share a language model, and a val BELOW train flags leakage.
#
# Scale: same two-shuffle LM shape as doc_unigram_lm_quality (vocab-keyed
# counts broadcast back onto the token stream); the split tag rides the
# token rows from the doc scan, no extra join.
# ---------------------------------------------------------------------------

from ..functions.sqlfrag import sql_md5_hex6_to_int as _sql_md5i  # noqa: E402
from ..functions.text import md5_hex6_to_int as _md5i  # noqa: E402

_HOLDOUT_BUCKETS = 10  # composes trainset_group_holdout's split rule

_HOLDOUT_PPL_SQL = f"""
WITH tagged AS (
    SELECT doc_id, text,
           CASE WHEN ({_sql_md5i("concat_ws('', 'gh_', source)")})
                     % {_HOLDOUT_BUCKETS} = 0
                THEN 'val' ELSE 'train' END AS split
    FROM documents
),
tok AS (
    SELECT split, doc_id, unnest(string_split(text, ' ')) AS tok FROM tagged
),
vocab AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM tok),
lm AS (
    SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM tok
    WHERE split = 'train' GROUP BY tok
),
ntrain AS (SELECT sum(cnt) AS n FROM lm),
scored AS (
    SELECT t.split,
           -ln((coalesce(lm.cnt, 0.0) + 1.0) / (ntrain.n + vocab.v)) AS s
    FROM tok t
    LEFT JOIN lm ON lm.tok = t.tok
    CROSS JOIN ntrain CROSS JOIN vocab
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_tokens,
       {R("avg(s)", 6)} AS mean_surprisal,
       {R("exp(avg(s))", 4)} AS perplexity
FROM scored GROUP BY split
"""


@register("holdout_lm_perplexity", _HOLDOUT_PPL_SQL)
def holdout_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split perplexity under the train-split add-1-smoothed unigram
    LM — the held-out evaluation of trainset_group_holdout's split,
    composed from the same md5 split rule (functions/text.py twin of the
    sqlfrag fragment). The train-vocab LM join is hint-free (unbounded
    grain; AQE picks broadcast vs shuffle by measured size) — only the
    1-row ntrain/vocab scalars are force-broadcast."""
    d = read_table(spark, sf_dir, "documents")
    bucket = _md5i(F.concat_ws("", F.lit("gh_"), F.col("source"))) % _HOLDOUT_BUCKETS
    tagged = d.select(
        "doc_id",
        "text",
        F.when(bucket == 0, "val").otherwise("train").alias("split"),
    )
    tok = tagged.select(
        "split", "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = tok.agg(F.countDistinct("tok").cast("double").alias("v"))
    lm = (
        tok.filter(F.col("split") == "train")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    ntrain = lm.agg(F.sum("cnt").alias("n"))
    scored = (
        tok.join(lm, "tok", "left")
        .crossJoin(F.broadcast(ntrain))
        .crossJoin(F.broadcast(vocab))
        .select(
            "split",
            (
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0.0)) + 1.0)
                    / (F.col("n") + F.col("v"))
                )
            ).alias("s"),
        )
    )
    return scored.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        dround(F.avg("s"), 6).alias("mean_surprisal"),
        dround(F.exp(F.avg("s")), 4).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# Dedup shadow-mode agreement: run TWO production near-dup systems over
# the same corpus — SimHash banded (hamming <= 1) as the CANDIDATE
# system, MinHash-LSH (jaccard >= 0.5) as the REFERENCE — and report the
# pairwise confusion: pair counts, precision/recall of the candidate
# against the reference, and the pair-set Jaccard. This is the standard
# migration gate before swapping dedup algorithms on a production
# corpus: run shadow, compare pair sets, ship if agreement clears the
# bar. Both systems are COMPOSED from the repo's shared stages
# (operators/dedup.py; plans/coverage_extra.py simhash SQL fragments),
# so the eval measures exactly the pipelines it would replace — and the
# full-outer join of the two pair sets is keyed on (doc_id_a, doc_id_b),
# both sides already blocked/verified, never a corpus-scale product.
# ---------------------------------------------------------------------------


def _shadow_sql() -> str:
    from .coverage_extra import _SIMHASH_NEARDUP_SQL
    from .registry import _NEARDUP_MINHASH_SQL

    return f"""
WITH sp AS (
    SELECT doc_id_a, doc_id_b FROM ({_SIMHASH_NEARDUP_SQL})
),
mp AS (
    SELECT doc_id_a, doc_id_b FROM ({_NEARDUP_MINHASH_SQL})
),
j AS (
    SELECT (sp.doc_id_a IS NOT NULL) AS in_s,
           (mp.doc_id_a IS NOT NULL) AS in_m
    FROM sp FULL OUTER JOIN mp
      ON sp.doc_id_a = mp.doc_id_a AND sp.doc_id_b = mp.doc_id_b
)
SELECT CAST(count(*) FILTER (in_s) AS BIGINT) AS n_simhash,
       CAST(count(*) FILTER (in_m) AS BIGINT) AS n_minhash,
       CAST(count(*) FILTER (in_s AND in_m) AS BIGINT) AS n_both,
       {R("CASE WHEN count(*) FILTER (in_s) > 0 THEN CAST(count(*) FILTER (in_s AND in_m) AS DOUBLE) / count(*) FILTER (in_s) END", 6)} AS precision_vs_minhash,
       {R("CASE WHEN count(*) FILTER (in_m) > 0 THEN CAST(count(*) FILTER (in_s AND in_m) AS DOUBLE) / count(*) FILTER (in_m) END", 6)} AS recall_vs_minhash,
       {R("CASE WHEN count(*) > 0 THEN CAST(count(*) FILTER (in_s AND in_m) AS DOUBLE) / count(*) END", 6)} AS pair_jaccard
FROM j
"""


@register("dedup_shadow_agreement", _shadow_sql())
def dedup_shadow_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement between the SimHash-banded and MinHash-LSH
    near-dup systems (shadow-mode migration gate): counts, candidate
    precision/recall vs the MinHash reference, pair-set Jaccard."""
    from ..operators.dedup import minhash_lsh_pairs
    from .coverage_extra import neardup_simhash_banded

    d = read_table(spark, sf_dir, "documents")
    sp = neardup_simhash_banded(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(True).alias("in_s")
    )
    mp = minhash_lsh_pairs(d, threshold=0.5).select(
        "doc_id_a", "doc_id_b", F.lit(True).alias("in_m")
    )
    j = sp.join(mp, ["doc_id_a", "doc_id_b"], "full_outer").select(
        F.coalesce(F.col("in_s"), F.lit(False)).alias("in_s"),
        F.coalesce(F.col("in_m"), F.lit(False)).alias("in_m"),
    )
    ns = F.sum(F.col("in_s").cast("long"))
    nm = F.sum(F.col("in_m").cast("long"))
    nb = F.sum((F.col("in_s") & F.col("in_m")).cast("long"))
    nt = F.count(F.lit(1))
    return j.agg(
        ns.cast("long").alias("n_simhash"),
        nm.cast("long").alias("n_minhash"),
        nb.cast("long").alias("n_both"),
        dround(
            F.when(ns > 0, nb.cast("double") / ns), 6
        ).alias("precision_vs_minhash"),
        dround(
            F.when(nm > 0, nb.cast("double") / nm), 6
        ).alias("recall_vs_minhash"),
        dround(
            F.when(nt > 0, nb.cast("double") / nt), 6
        ).alias("pair_jaccard"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators; Ayer et al. 1955,
# Zadrozny & Elkan 2002 for classifier calibration): the monotone
# regression of the Gopher keep-rate onto the quality-score order,
# computed over the SAME 10 score-decile bins as
# `quality_calibration_bins` — binned isotonic is how production
# calibrators ship. Instead of the sequential PAV stack (unimplementable
# as a distributed plan), the fit uses PAV's exact MINIMAX identity:
#     iso_rate(b) = max_{k<=b} min_{j>=b} mean(keep over bins k..j)
# Interval means come from integer (n, keep) sums — bit-identical in
# both engines — so min/max pick the same candidates and the result IS
# the PAV solution (pinned against a reference Python PAV in
# tests/test_insights.py). Everything after the per-doc scoring is
# algebra on a CONSTANT 10-bin grid: the interval table is 10x10x10
# broadcast joins, no windows anywhere.
# ---------------------------------------------------------------------------


def _isotonic_sql() -> str:
    from .registry import _DOC_QUALITY_SQL

    return f"""
WITH q AS ({_DOC_QUALITY_SQL}),
g AS ({_GOPHER_SQL}),
j AS (
    SELECT least(CAST(floor(q.quality * 10) AS INTEGER), 9) AS bin, g.keep
    FROM q JOIN g ON g.doc_id = q.doc_id
),
bins AS (
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (keep) AS BIGINT) AS k
    FROM j GROUP BY bin
),
iv AS (
    SELECT a.bin AS kb, b.bin AS jb,
           CAST(sum(c.k) AS DOUBLE) / sum(c.n) AS mn
    FROM bins a
    JOIN bins b ON a.bin <= b.bin
    JOIN bins c ON c.bin BETWEEN a.bin AND b.bin
    GROUP BY 1, 2
),
inner_min AS (
    SELECT g2.bin, i.kb, min(i.mn) AS lo
    FROM bins g2 JOIN iv i ON i.kb <= g2.bin AND i.jb >= g2.bin
    GROUP BY 1, 2
),
fit AS (SELECT bin, max(lo) AS iso FROM inner_min GROUP BY bin)
SELECT b.bin,
       b.n AS n_docs,
       {R("CAST(b.k AS DOUBLE) / b.n", 6)} AS raw_keep_rate,
       {R("f.iso", 6)} AS iso_keep_rate
FROM bins b JOIN fit f ON f.bin = b.bin
"""


@register("quality_isotonic_calibration", _isotonic_sql())
def quality_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (PAV) calibration of the Gopher keep-rate over quality
    score deciles, via PAV's exact minimax identity on the constant
    10-bin grid."""
    from ..functions.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", dround(quality_score(F.col("text")), 6).alias("quality")
    )
    g = gopher_quality_rules(spark, sf_dir).select("doc_id", "keep")
    bins = (
        q.join(g, "doc_id")
        .select(
            F.least(
                F.floor(F.col("quality") * 10).cast("int"), F.lit(9)
            ).alias("bin"),
            "keep",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("k"),
        )
    )
    a = bins.select(F.col("bin").alias("kb"))
    b = bins.select(F.col("bin").alias("jb"))
    c = bins.select(F.col("bin").alias("cb"), "n", "k")
    iv = (
        a.join(F.broadcast(b), F.col("kb") <= F.col("jb"))
        .join(
            F.broadcast(c),
            (F.col("cb") >= F.col("kb")) & (F.col("cb") <= F.col("jb")),
        )
        .groupBy("kb", "jb")
        .agg(
            (F.sum("k").cast("double") / F.sum("n")).alias("mn")
        )
    )
    grid = bins.select("bin")
    inner_min = (
        grid.join(
            F.broadcast(iv),
            (F.col("kb") <= F.col("bin")) & (F.col("jb") >= F.col("bin")),
        )
        .groupBy("bin", "kb")
        .agg(F.min("mn").alias("lo"))
    )
    fit = inner_min.groupBy("bin").agg(F.max("lo").alias("iso"))
    return (
        bins.join(fit, "bin")
        .select(
            "bin",
            F.col("n").alias("n_docs"),
            dround(F.col("k").cast("double") / F.col("n"), 6).alias(
                "raw_keep_rate"
            ),
            dround(F.col("iso"), 6).alias("iso_keep_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup threshold sensitivity (round 4): before committing a Jaccard
# cutoff, sweep the verified near-dup pairs across candidate thresholds
# and report, per threshold, how many pairs survive and how many
# documents the lowest-id-survives rule would remove. The operational
# tuning table every dedup rollout reads before picking tau.
#
# Scale design: the candidate pairs come from the SAME staged LSH
# pipeline as neardup_minhash_lsh (band-blocked, never all-pairs); the
# sweep itself is a broadcast crossJoin of a CONSTANT 5-row threshold
# frame onto the verified pairs, so the whole sensitivity table costs
# one extra pass over LSH-bounded survivors regardless of how many
# thresholds are swept.
# ---------------------------------------------------------------------------

_SWEEP_TAUS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _dedup_sweep_sql() -> str:
    from ..functions.sqlfrag import (
        sql_exact_jaccard,
        sql_minhash_sig_band_ctes,
    )

    taus = ", ".join(f"({t})" for t in _SWEEP_TAUS)
    return f"""
WITH {sql_minhash_sig_band_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
),
scored AS (
    SELECT doc_id_a, doc_id_b,
           {R(sql_exact_jaccard("sa.hs", "sb.hs"), 6)} AS jaccard
    FROM cand
    JOIN shinglehash sa ON sa.doc_id = cand.doc_id_a
    JOIN shinglehash sb ON sb.doc_id = cand.doc_id_b
),
taus(tau) AS (VALUES {taus})
SELECT {R('t.tau', 2)} AS tau,
       CAST(count(*) FILTER (WHERE s.jaccard >= t.tau) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT CASE WHEN s.jaccard >= t.tau THEN s.doc_id_b END)
            AS BIGINT) AS n_docs_removed
FROM scored s CROSS JOIN taus t
GROUP BY t.tau
"""


@register("dedup_threshold_sweep", _dedup_sweep_sql())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving near-dup pairs and docs-removed (lowest-id survives, so
    the higher-id side of each pair is the casualty) at 5 candidate
    Jaccard cutoffs, from the production MinHash-LSH candidate set."""
    from ..operators.dedup import minhash_lsh_pairs

    d = read_table(spark, sf_dir, "documents")
    # threshold=0.0 returns ALL verified candidates; the sweep filters.
    scored = minhash_lsh_pairs(d, threshold=0.0)
    taus = values_frame(spark, [(float(t),) for t in _SWEEP_TAUS], ["tau"])
    hit = F.col("jaccard") >= F.col("tau")
    return (
        scored.crossJoin(F.broadcast(taus))
        .groupBy(dround(F.col("tau"), 2).alias("tau"))
        .agg(
            F.sum(hit.cast("long")).alias("n_pairs"),
            F.count_distinct(
                F.when(hit, F.col("doc_id_b"))
            ).cast("long").alias("n_docs_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility (round 4): subword tokens per whitespace word, per
# language — the standard "is this tokenizer efficient for this
# language" metric (fertility ~1 is ideal; high-fertility languages pay
# more context budget per word). Composes the SAME BPE-ish pre-tokenizer
# regex as token_count_bpe (plans/llm_text.py) so the two read as one
# tokenizer report. One narrow map + one tiny aggregate; no shuffle
# beyond the |langs|-group combine.
# ---------------------------------------------------------------------------


def _fertility_sql() -> str:
    from .llm_text import _BPE_PATTERN

    return f"""
WITH per_doc AS (
    SELECT lang,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
               AS n_bpe,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_ws,
           CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_chars
    FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       {R('sum(n_bpe) / sum(n_ws)', 6)} AS fertility,
       {R('sum(n_chars) / sum(n_bpe)', 6)} AS chars_per_token,
       CAST(count(*) FILTER (WHERE n_bpe / n_ws > 2.0) AS BIGINT)
           AS n_high_fertility_docs
FROM per_doc
GROUP BY lang
"""


@register("tokenizer_fertility", _fertility_sql())
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility (BPE-ish subword tokens per whitespace
    word), compression (chars per subword token) and the count of
    docs whose fertility exceeds 2.0 — the tokenizer-efficiency review
    table of a multilingual corpus."""
    from .llm_text import _BPE_PATTERN

    d = read_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0)))
        .cast("double")
        .alias("n_bpe"),
        F.size(tokens(F.col("text"))).cast("double").alias("n_ws"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("double")
        .alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        dround(F.sum("n_bpe") / F.sum("n_ws"), 6).alias("fertility"),
        dround(F.sum("n_chars") / F.sum("n_bpe"), 6).alias("chars_per_token"),
        F.sum(
            (F.col("n_bpe") / F.col("n_ws") > 2.0).cast("long")
        ).alias("n_high_fertility_docs"),
    )
