"""Lexical ranked retrieval (north-star extension, SURVEY.md §2b): BM25
top-k search over the documents corpus for a fixed query panel — the
standard retrieval baseline every RAG / data-curation pipeline starts
from (Robertson & Zaragoza 2009), and the lexical complement to the
embedding-space `simsearch_*` family.

The reference has no retrieval surface; this extends §2b the same way
`tfidf_top_terms` does, but with the real BM25 saturation + length
normalization (tf-idf's odds-form idf is monotone per term, which is
enough for a per-document ranking; BM25 SUMS idf-weighted terms per
(query, doc), so the log must be kept — DuckDB `ln` == Spark `F.log`
and `dround(.., 6)` absorbs the ULP, per the repo rounding contract).

Scale design (100 TB corpus, bounded query panel):
- The panel (a handful of (q_id, term) rows) broadcasts onto the token
  explode, so only panel-term occurrences survive the map side — the
  shuffle carries (q_id, doc_id, term, dl) for matching tokens only,
  never the corpus vocabulary.
- Per-doc length rides the explode as a column (computed once per row
  before the explode), so no corpus-scale doc-stats join is needed.
- df and the (N, avgdl) globals are term-panel-sized / single-row
  aggregates, broadcast back — never a driver collect.
- The per-query top-k is a rank window over (score DESC, doc_id) →
  WindowGroupLimit keeps k candidates per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import tokens
from ..session import pin
from ..sources.tables import read_table
from .registry import register

# Fixed query panel over the fixture vocabulary (any real deployment
# feeds these in as a small table; bounded either way).
_BM25_PANEL: tuple[tuple[int, str], ...] = (
    (0, "hash join scan"),
    (1, "window agg stream batch"),
    (2, "customer order query value"),
)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP_K = 10

_PANEL_ROWS = [
    (q_id, term) for q_id, text in _BM25_PANEL for term in dict.fromkeys(text.split())
]

_PANEL_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _PANEL_ROWS)


def panel_df(spark: SparkSession) -> DataFrame:
    """The query panel as a SQL VALUES local relation — NOT
    createDataFrame: a LogicalRDD plan never sameResult-matches across
    builder calls (CLAUDE.md), which silently defeats CacheManager
    substitution for ANY cached frame whose plan embeds the panel. The
    VALUES plan compares equal, so the cached BM25 ranking below is
    reused by every consumer (rm3, hybrid fusion) instead of re-running
    the explode/join chain per invocation."""
    return spark.sql(
        f"SELECT * FROM VALUES {_PANEL_VALUES} AS panel(q_id, term)"
    )


def corpus_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHED (doc_id, source, th: array<string>) token projection of
    the documents corpus, shared by the BM25 stage and its downstream
    consumers (rm3's feedback-doc token stage; bigram_entropy_rate's
    unigram/bigram streams ride `source`). The plan is identical
    across builders, so repeat calls within one query build get
    CacheManager same-plan hits — the corpus text is scanned and
    tokenized ONCE per build even when rm3 embeds a full BM25 run.
    spread() lands the one-row-
    group parquet across tasks before the split; cache sits BEFORE any
    explode (the CLAUDE.md cache-before-explode rule)."""
    from ..sources.tables import spread

    d = spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", tokens(F.col("text")).alias("th")
    )
    return pin(d)


def corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHED (doc_id, source, bga: array<string>) adjacent-token bigram
    arrays over corpus_tokens, staged + cached BEFORE any explode (the
    CLAUDE.md cache-before-explode rule: Generate re-evaluates an
    interpreted HOF chain per exploded row). Shared by
    bigram_entropy_rate (source-keyed streams) and textrank_keywords
    (co-occurrence edges) — identical plan across builders, so the
    bigram transform runs once per query build. Docs with <2 tokens
    are filtered (they contribute no bigrams either way)."""
    ct = corpus_tokens(spark, sf_dir)
    return pin(
        ct.filter(F.size("th") >= 2)
        .select(
            "doc_id",
            "source",
            F.transform(
                F.sequence(F.lit(1), F.size("th") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("th", i), F.element_at("th", i + 1)
                ),
            ).alias("bga"),
        )
    )

_BM25_SQL = f"""
WITH panel(q_id, term) AS (VALUES {_PANEL_VALUES}),
gstats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           avg(len(string_split(text, ' '))) AS avgdl
    FROM documents
),
tok AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents
),
hits AS (
    SELECT p.q_id, t.doc_id, t.term, t.dl, count(*) AS tf
    FROM tok t JOIN panel p USING (term)
    GROUP BY 1, 2, 3, 4
),
df AS (
    SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
    FROM hits GROUP BY 1
),
contrib AS (
    SELECT h.q_id, h.doc_id,
           ln(1 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
             * h.tf * ({_BM25_K1} + 1)
             / (h.tf + {_BM25_K1}
                * (1 - {_BM25_B} + {_BM25_B} * h.dl / g.avgdl)) AS c
    FROM hits h JOIN df d USING (term) CROSS JOIN gstats g
),
scored AS (
    SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
           {R("sum(c)", 6)} AS score
    FROM contrib GROUP BY 1, 2
),
ranked AS (
    SELECT q_id, doc_id, n_hit_terms, score,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
)
SELECT CAST(q_id AS INTEGER) AS q_id, doc_id, n_hit_terms, score,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {_BM25_TOP_K}
"""


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full (uncached) BM25 top-k plan — see bm25_search_topk for
    the ranking contract and the staging rationale. Kept separate so
    the plan-shape test pins the real computation, not the cache
    wrapper."""
    d = corpus_tokens(spark, sf_dir)
    glob = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("th")).alias("avgdl"),
    )
    panel = panel_df(spark)
    terms = panel.select("term").distinct()
    tok = d.select(
        "doc_id",
        F.size("th").alias("dl"),
        F.explode("th").alias("term"),
    )
    # tf per (doc, term) FIRST, df as a COUNT WINDOW over that same subtree
    # (each row is a distinct (doc, term), so a plain count per term
    # partition IS the document frequency) — the tfidf_top_terms pattern:
    # one corpus scan, not a second aggregate branch re-scanning the
    # parquet (plan-tested in tests/test_retrieval_dedup.py).
    tf_dt = (
        tok.join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("double")
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    contrib = (
        tf_dt.join(F.broadcast(panel), "term")
        .crossJoin(F.broadcast(glob))
        .select(
            "q_id",
            "doc_id",
            (
                F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * F.col("tf")
                * (k1 + 1)
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("q_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        dround(F.sum("c"), 6).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BM25_TOP_K)
        .select("q_id", "doc_id", "n_hit_terms", "score", "rank")
    )


@register("bm25_search_topk", _BM25_SQL)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents per panel query (k1=1.2, b=0.75, idf =
    ln(1 + (N-df+0.5)/(df+0.5))). Rank ties break on doc_id over the
    ROUNDED score so both engines rank identically.

    spread() the corpus scan: the documents landing is one row group, so
    the tokenize pass otherwise runs on ONE task (A/B measured 1.85 s ->
    1.56 s at sf0.1; shipping 5k text rows round-robin is cheaper than a
    serial corpus tokenize).

    The corpus tokenizes ONCE: the token-array projection is cached
    BEFORE the explode (the CLAUDE.md cache-before-explode rule) and
    BOTH consumers — the (N, avgdl) globals and the token stream — read
    the cached arrays, so the text column is scanned and split a single
    time (was two full tokenize passes; plan-pinned in
    tests/test_retrieval_dedup.py).

    The RANKED RESULT is pinned: it is a bounded top-k stage (panel x
    10 rows) that rm3_query_expansion and hybrid_rrf_fusion embed as
    their lexical input, and with the VALUES panel (panel_df) the plan
    sameResult-matches across builder calls within one query build, so
    CacheManager substitutes the in-memory ranking into every consumer
    there instead of re-running the token explode + joins (the
    corpus_tokens stage-reuse discipline, one level higher)."""
    return pin(_bm25_ranked(spark, sf_dir))


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical ranking
# and the exact-cosine embedding ranking for the same query (Cormack et
# al. 2009, RRF k=60 — the standard hybrid-search combiner). Lexical
# side = bm25_search_topk's q_id=0 ranking (REUSED, not re-derived);
# dense side = cosine to vec_id 0 ranked over the rounded score. The
# fixture embeds one vector per document with vec_id == doc_id, which is
# the production contract anyway (the embedding table carries the doc
# key). Either side missing contributes 0 — a doc found by only one
# retriever still fuses.
#
# Scale: both inputs are top-k tables (k rows each), so the fusion join
# is trivially broadcast; the dense ranking is the brute-force baseline
# here and swaps for simsearch_lsh_topk / simsearch_ivf_pq_topk
# unchanged — rank is rank, whatever produced it.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPN = 10

_HYBRID_SQL = f"""
WITH bm AS (
    SELECT doc_id, rank AS bm25_rank FROM ({_BM25_SQL}) WHERE q_id = 0
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
scored AS (
    SELECT vec_id,
           {R("list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))", 6)} AS score
    FROM e CROSS JOIN q WHERE vec_id <> 0
),
dn AS (
    SELECT vec_id AS doc_id, rn AS cos_rank FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rn
        FROM scored
    ) t WHERE rn <= {_RRF_TOPN}
)
SELECT coalesce(bm.doc_id, dn.doc_id) AS doc_id,
       CAST(bm.bm25_rank AS INTEGER) AS bm25_rank,
       CAST(dn.cos_rank AS INTEGER) AS cos_rank,
       {R(f"coalesce(1.0 / ({_RRF_K} + bm.bm25_rank), 0) + coalesce(1.0 / ({_RRF_K} + dn.cos_rank), 0)", 6)} AS rrf_score
FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
"""


@register("hybrid_rrf_fusion", _HYBRID_SQL)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF(k=60) fusion of BM25 q_id=0 top-10 and exact-cosine top-10 to
    vec_id 0. NULL rank on a side the doc wasn't retrieved by; fused
    score = sum of reciprocal ranks over the sides present."""
    from ..functions.rounding import dround as _dr
    from ..functions.vectors import cosine
    from ..sources.tables import read_table as _rt

    bm = (
        bm25_search_topk(spark, sf_dir)
        .filter(F.col("q_id") == 0)
        .select("doc_id", F.col("rank").alias("bm25_rank"))
    )
    e = _rt(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", _dr(cosine(F.col("v"), F.col("qv")), 6).alias("score")
        )
    )
    # top-N FIRST via TakeOrderedAndProject (scale-safe: per-partition
    # heads merge on the driver), THEN the rank window over the N
    # survivors only — an unpartitioned row_number over the raw scored
    # corpus would drag every row to one task.
    topn = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(_RRF_TOPN)
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    dn = topn.withColumn("rn", F.row_number().over(w)).select(
        F.col("vec_id").alias("doc_id"), F.col("rn").alias("cos_rank")
    )
    fused = bm.join(dn, "doc_id", "full_outer")
    return fused.select(
        "doc_id",
        F.col("bm25_rank").cast("int").alias("bm25_rank"),
        F.col("cos_rank").cast("int").alias("cos_rank"),
        _dr(
            F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("cos_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )


# ---------------------------------------------------------------------------
# Ranking-quality evaluation: nDCG@10 of the BM25 lexical ranking against
# EMBEDDING-COSINE graded relevance (Jarvelin & Kekalainen 2002's nDCG;
# judging lexical search with semantic gold is the standard diagnostic
# for whether a corpus needs hybrid retrieval — low agreement here is
# the signal that motivates `hybrid_rrf_fusion`). Queries are DOCUMENTS
# (doc_id < 3) so each query has both text (drives BM25) and an
# embedding (drives the gold): relevance of candidate c to query q is
# the bucketed rounded cosine (>=0.9 -> 3, >=0.7 -> 2, >=0.5 -> 1,
# else 0; candidates without an embedding count 0).
#
# Scale design: BM25 reuses the panel-broadcast shape of
# `bm25_search_topk` (query-doc vocabulary is panel-bounded, so only
# matching tokens survive the map side); the cosine gold is
# panel x corpus like `simsearch_recall_eval` (ground truth is always
# panel-sized); every window is PARTITIONED by query.
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_QUERIES = 3


def _ndcg_sql() -> str:
    cos = (
        "list_dot_product(c.v, q.v) / "
        "(sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v)))"
    )
    rel_case = (
        "CASE WHEN cs >= 0.9 THEN 3 WHEN cs >= 0.7 THEN 2 "
        "WHEN cs >= 0.5 THEN 1 ELSE 0 END"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < {_NDCG_QUERIES}),
qterm AS (
    SELECT DISTINCT d.doc_id AS qid, t.term
    FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
    WHERE d.doc_id < {_NDCG_QUERIES}
),
gstats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           avg(len(string_split(text, ' '))) AS avgdl
    FROM documents
),
tok AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents
),
tf AS (
    SELECT t.doc_id, t.term, t.dl, count(*) AS tf
    FROM tok t SEMI JOIN qterm qt ON qt.term = t.term
    GROUP BY 1, 2, 3
),
dfreq AS (
    SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
),
contrib AS (
    SELECT qt.qid, h.doc_id,
           ln(1 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
             * h.tf * ({_BM25_K1} + 1)
             / (h.tf + {_BM25_K1}
                * (1 - {_BM25_B} + {_BM25_B} * h.dl / g.avgdl)) AS c
    FROM tf h
    JOIN qterm qt ON qt.term = h.term
    JOIN dfreq d ON d.term = h.term
    CROSS JOIN gstats g
    WHERE h.doc_id <> qt.qid
),
scored AS (
    SELECT qid, doc_id, {R("sum(c)", 6)} AS score
    FROM contrib GROUP BY 1, 2
),
ranked AS (
    SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id, score,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {_NDCG_K}
),
relt AS (
    SELECT qid, vec_id, {rel_case} AS rel FROM (
        SELECT q.qid, c.vec_id, {R(cos, 6)} AS cs
        FROM e c JOIN q ON c.vec_id <> q.qid
    )
),
dcg AS (
    SELECT r.qid,
           CAST(count(*) AS BIGINT) AS n_ranked,
           sum((pow(2, coalesce(rl.rel, 0)) - 1)
               / (ln(r.rank + 1) / ln(2))) AS dcg
    FROM ranked r
    LEFT JOIN relt rl ON rl.qid = r.qid AND rl.vec_id = r.doc_id
    GROUP BY 1
),
ideal AS (
    SELECT qid, sum((pow(2, rel) - 1) / (ln(ir + 1) / ln(2))) AS idcg
    FROM (
        SELECT qid, rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, vec_id ASC) AS ir
        FROM relt
    ) WHERE ir <= {_NDCG_K}
    GROUP BY 1
)
SELECT d.qid AS query_id, d.n_ranked,
       {R("d.dcg", 6)} AS dcg,
       {R("i.idcg", 6)} AS idcg,
       {R("CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg END", 6)} AS ndcg
FROM dcg d JOIN ideal i ON i.qid = d.qid
"""


@register("bm25_ndcg_vs_semantic", _ndcg_sql())
def bm25_ndcg_vs_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of BM25 doc-query rankings against embedding-cosine graded
    relevance — the lexical-vs-semantic agreement gate for hybrid
    retrieval."""
    from ..functions.vectors import cosine, to_double_array

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # every text consumer reads the ONE cached corpus tokenize (r8
    # stage sharing — corpus_tokens; was three separate tokenize scans)
    ct = corpus_tokens(spark, sf_dir)
    qterm = (
        ct.filter(F.col("doc_id") < _NDCG_QUERIES)
        .select(
            F.col("doc_id").alias("qid"),
            F.explode("th").alias("term"),
        )
        .distinct()
    )
    glob = ct.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("th")).alias("avgdl"),
    )
    tok = ct.select(
        "doc_id",
        F.size("th").alias("dl"),
        F.explode("th").alias("term"),
    )
    tf = (
        tok.join(
            F.broadcast(qterm.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterm), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .crossJoin(F.broadcast(glob))
        .select(
            "qid",
            "doc_id",
            (
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (k1 + 1)
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("qid", "doc_id").agg(
        dround(F.sum("c"), 6).alias("score")
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= _NDCG_K)
        .select("qid", "doc_id", "rank")
    )
    cs = dround(cosine(F.col("v"), F.col("qv")), 6)
    # relt is consumed twice (dcg join + ideal window) with different
    # exchange shapes; caching the graded panel was probed r10 and
    # measured NEUTRAL (2.51 -> 2.54 isolated) — the N x Q cosine fold
    # is small next to the token explode + semi-join chain. Left
    # uncached (no unmeasured barriers).
    relt = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.when(cs >= 0.9, 3)
            .when(cs >= 0.7, 2)
            .when(cs >= 0.5, 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    gain = (
        F.pow(F.lit(2.0), F.coalesce(F.col("rel"), F.lit(0))) - 1
    ) / (F.log(F.col("rank") + 1) / F.log(F.lit(2.0)))
    dcg = (
        ranked.join(
            relt,
            (ranked.qid == relt.qid) & (ranked.doc_id == relt.vec_id),
            "left",
        )
        .select(ranked.qid.alias("qid"), "rank", "rel")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ranked"),
            F.sum(gain).alias("dcg"),
        )
    )
    wi = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    igain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / (
        F.log(F.col("ir") + 1) / F.log(F.lit(2.0))
    )
    ideal = (
        relt.withColumn("ir", F.row_number().over(wi))
        .filter(F.col("ir") <= _NDCG_K)
        .groupBy("qid")
        .agg(F.sum(igain).alias("idcg"))
    )
    return (
        dcg.join(ideal, "qid")
        .select(
            F.col("qid").alias("query_id"),
            "n_ranked",
            dround(F.col("dcg"), 6).alias("dcg"),
            dround(F.col("idcg"), 6).alias("idcg"),
            dround(
                F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")), 6
            ).alias("ndcg"),
        )
    )
