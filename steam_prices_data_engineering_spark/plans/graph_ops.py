"""Graph analytics over the near-dup candidate graph (north-star
extension, SURVEY.md §2b). Complements the iterative algorithms in
`plans/iterative.py` (connected components, PageRank) with the classic
non-iterative one: distributed triangle counting.

Why it belongs in a dedup pipeline: the candidate-pair graph's triangle
density says whether near-dup clusters are tight cliques (template
families — safe to collapse to one survivor) or loose chains (topic
overlap — collapsing loses real data). Pipelines look at exactly this
before choosing an aggressive vs conservative dedup policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import pin
from ..sources.tables import read_table
from .registry import register

_MIN_SHARED_FPS = 2  # docs sharing >= 2 shingle hashes form an edge
_MAX_POSTING_DF = 50  # drop shingles appearing in more docs (stop-shingles)

# Shared canonical hash fragments (functions/sqlfrag.py) — the triangle
# graph must use the SAME shingle space as the LSH candidate graph it
# analyzes, so the formulas are composed, never inlined.
from ..functions.sqlfrag import sql_shinglehash_ctes as _sql_shinglehash_ctes  # noqa: E402

# Shared edge-list CTE chain: shingle index -> df cap -> >=2-shared-hash
# pair join. Composed by the triangle AND k-core oracles (never inlined
# twice — the CLAUDE.md hash-arithmetic rule).
_SQL_EDGE_CTES = f"""{_sql_shinglehash_ctes()},
fps AS (SELECT doc_id, unnest(hs) AS fp FROM shinglehash),
kept AS (
    SELECT fp FROM fps GROUP BY fp
    HAVING count(*) <= {_MAX_POSTING_DF}
),
capped AS (SELECT f.doc_id, f.fp FROM fps f JOIN kept k ON k.fp = f.fp),
edges AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_MIN_SHARED_FPS}
)"""

_TRIANGLE_SQL = f"""
WITH {_SQL_EDGE_CTES},
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
tri_member AS (
    SELECT unnest([a, b, c]) AS doc_id FROM tri
),
tri_count AS (
    SELECT doc_id, count(*) AS n_triangles FROM tri_member GROUP BY doc_id
),
degree AS (
    SELECT doc_id, count(*) AS degree FROM (
        SELECT u AS doc_id FROM edges UNION ALL SELECT v FROM edges
    ) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles
FROM degree d LEFT JOIN tri_count t ON t.doc_id = d.doc_id
"""


def neardup_edges(docs: DataFrame) -> DataFrame:
    """(u, v) edge list of the shared-shingle candidate graph (u < v;
    >= _MIN_SHARED_FPS shared hashes; posting lists df-capped at
    _MAX_POSTING_DF). Built on the staged+cached shingle index
    (operators/dedup.py:hashed_shingle_table) — same shingle space as
    the LSH pipeline, and the cache barrier before the explode
    (Generate over the uncached interpreted chain re-evaluates it per
    exploded row; measured 50s vs 3s at sf0.1 for this stage). SQL twin:
    _SQL_EDGE_CTES."""
    from ..operators.dedup import hashed_shingle_table

    hashed = hashed_shingle_table(docs)
    fps = hashed.select("doc_id", F.explode("hs").alias("fp"))
    # r10: posting-list pair expansion instead of the exploded self-join
    # (the lsh_recall_empirical rewrite): the old a JOIN b shuffled the
    # SAME exploded (fp, doc_id) rows TWICE (per-side aliases break
    # exchange reuse) into a shuffle join, and needed a separate df
    # aggregate + semi-join for the posting cap. ONE groupBy(fp) collects
    # each shingle's posting list; the df-cap becomes a size() filter on
    # the list and a double explode emits the identical ordered-pair
    # stream — 1 exchange where the old shape paid 4. Same pair multiset
    # -> same shared counts -> same edges.
    # Memory bound (ADVICE r10): unlike the old count+semi-join shape,
    # an over-cap (hot) shingle's FULL posting list is buffered in one
    # aggregation buffer before the size() filter discards it. Bounded
    # here — shingles are 5-gram window hashes and the fixture's max df
    # is far below corpus size — but at a scale where a stop-shingle
    # could post millions of docs, pre-filter with a cheap count
    # aggregate before collect_list.
    posts = (
        fps.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") <= _MAX_POSTING_DF)
    )
    return (
        posts.select(F.explode("ds").alias("u"), "ds")
        .select("u", F.explode("ds").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= _MIN_SHARED_FPS)
        .select("u", "v")
    )


@register("graph_neardup_triangles", _TRIANGLE_SQL)
def graph_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document degree + triangle count in the shared-shingle candidate
    graph (edges: >= 2 shared shingle hashes (_MIN_SHARED_FPS), posting
    lists df-capped at 50 (_MAX_POSTING_DF)).

    Scale shape: the inverted index joins on the shingle hash (never
    all-pairs); the df-cap semi join removes stop-shingle posting lists
    BEFORE the pair join — the standard guard that keeps the quadratic
    per-posting blowup bounded (a shingle shared by 10^6 docs would
    otherwise emit 10^12 pairs). Triangle enumeration is the ordered-edge
    (u<v<w) double join — each edge shuffles by its endpoint keys, the
    textbook distributed triangle count. Per-doc totals are two
    map-side-combined aggregations."""
    edges = pin(neardup_edges(read_table(spark, sf_dir, "documents")))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("ta"),
            F.col("e1.v").alias("tb"),
            F.col("e2.v").alias("tc"),
        )
    )
    tri_count = (
        tri.select(
            F.explode(F.array(F.col("ta"), F.col("tb"), F.col("tc"))).alias(
                "doc_id"
            )
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    degree = (
        edges.select(F.col("u").alias("doc_id"))
        .unionAll(edges.select(F.col("v").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return degree.join(tri_count, "doc_id", "left").select(
        "doc_id",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )


# ---------------------------------------------------------------------------
# K-core decomposition (K=2): iteratively peel nodes of degree < K until
# the fixpoint; survivors form the 2-core — the "dense part" of the
# near-dup graph, where aggressive collapse policies are safe (every
# member has >= 2 independent similarity witnesses). Peeling is NOT a
# monotone reachability (nodes are removed, not added), so a recursive
# CTE cannot express it; both engines instead unroll a FIXED number of
# peel rounds (_KCORE_ROUNDS — the fixture graphs converge in <= 2;
# tests/test_patterns.py asserts the fixpoint was actually reached).
#
# Scale: each round is one degree aggregation + two semi joins on the
# node key — per-round cost is O(|edges|) shuffled on endpoints, and the
# edge list only shrinks. The driver never sees a row.
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_sql() -> str:
    rounds = []
    prev_e = "bidir"
    for i in range(_KCORE_ROUNDS):
        rounds.append(
            f"s{i} AS (SELECT u AS node FROM {prev_e} GROUP BY u "
            f"HAVING count(*) >= {_KCORE_K})"
        )
        rounds.append(
            f"e{i + 1} AS (SELECT b.u, b.v FROM {prev_e} b "
            f"JOIN s{i} x ON b.u = x.node JOIN s{i} y ON b.v = y.node)"
        )
        prev_e = f"e{i + 1}"
    return f"""
WITH {_SQL_EDGE_CTES},
bidir AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
{",".join(rounds)}
SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
FROM {prev_e} GROUP BY u HAVING count(*) >= {_KCORE_K}
"""


@register("kcore_neardup_graph", _kcore_sql())
def kcore_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the shared-shingle candidate graph: per surviving doc,
    its degree within the core subgraph. Fixed _KCORE_ROUNDS peel rounds
    unrolled identically in both engines (the kmeans fixed-iteration
    discipline)."""
    edges = neardup_edges(read_table(spark, sf_dir, "documents"))
    # localCheckpoint per generation, not persist: each round references
    # its bidir three times (degree agg + two semi joins) AND deepens the
    # plan, and AQE re-plans the whole persisted stack every round —
    # measured 2.1s -> 14.4s per-round growth with persist vs a flat
    # 0.3s/round once the lineage is truncated (32s -> 9s total at
    # sf0.01). The data stays on executors; only the logical plan resets.
    bidir = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    # Early exit at the fixed point (r10): peeling is MONOTONE — the
    # edge set only shrinks — so an unchanged row count means the
    # survivor set is stable and every remaining round is an identity
    # map; stopping there returns exactly what _KCORE_ROUNDS unrolled
    # rounds would (the oracle's fixed unroll included). count() on the
    # just-checkpointed frame is ~free (already materialized); at sf0.1
    # the graph stabilizes after round 1 of 4 (measured, rounds ~0.5 s
    # each).
    prev_rows = bidir.count()
    for _ in range(_KCORE_ROUNDS):
        survivors = (
            bidir.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("u").alias("node"))
        )
        bidir = bidir.join(
            survivors, bidir.u == survivors.node, "left_semi"
        ).join(
            survivors, bidir.v == survivors.node, "left_semi"
        ).localCheckpoint()
        rows = bidir.count()
        if rows == prev_rows:
            break
        prev_rows = rows
    return (
        bidir.groupBy(F.col("u").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .filter(F.col("core_degree") >= _KCORE_K)
    )


# ---------------------------------------------------------------------------
# Link prediction by neighbor overlap: for document pairs NOT directly
# connected but sharing neighbors (distance 2 in the candidate graph),
# score = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the classic Jaccard link
# predictor. In a dedup pipeline this surfaces "probably the same
# template family, but the shingle blocking missed the direct edge"
# pairs for a second-look pass.
#
# Scale: common neighbors come from ONE self-join of the edge list on
# the shared endpoint (the triangle-count wedge join); the direct-edge
# exclusion is an anti join on the edge key; degrees are one map-side
# aggregation. Never all-pairs.
# ---------------------------------------------------------------------------

_LP_TOPK = 20

_LINKPRED_SQL = f"""
WITH {_SQL_EDGE_CTES},
bidir AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM bidir GROUP BY u),
wedge AS (
    SELECT a.u AS x, b.v AS y, CAST(count(*) AS BIGINT) AS common
    FROM bidir a JOIN bidir b ON a.v = b.u AND a.u < b.v
    GROUP BY a.u, b.v
),
cand AS (
    SELECT w.x, w.y, w.common FROM wedge w
    WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = w.x AND e.v = w.y)
)
SELECT c.x AS doc_id_a, c.y AS doc_id_b, c.common,
       {R("CAST(c.common AS DOUBLE) / (da.d + db.d - c.common)", 6)}
           AS jaccard_score
FROM cand c JOIN deg da ON da.node = c.x JOIN deg db ON db.node = c.y
ORDER BY {R("CAST(c.common AS DOUBLE) / (da.d + db.d - c.common)", 6)} DESC,
         c.x, c.y
LIMIT {_LP_TOPK}
"""


@register("linkpred_neighbor_jaccard", _LINKPRED_SQL)
def linkpred_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted missing edges in the near-dup candidate graph by
    neighbor-overlap Jaccard: wedge self-join for common neighbors, anti
    join to exclude existing edges, degree join for the union size,
    TakeOrderedAndProject for the top-k."""
    edges = pin(neardup_edges(read_table(spark, sf_dir, "documents")))
    bidir = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = bidir.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    a = bidir.alias("a")
    b = bidir.alias("b")
    wedge = (
        a.join(b, (F.col("a.v") == F.col("b.u")) & (F.col("a.u") < F.col("b.v")))
        .groupBy(F.col("a.u").alias("x"), F.col("b.v").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    cand = wedge.join(
        edges,
        (wedge.x == edges.u) & (wedge.y == edges.v),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("x"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("y"), F.col("d").alias("db"))
    score = dround(
        F.col("common").cast("double")
        / (F.col("da") + F.col("db") - F.col("common")),
        6,
    )
    return (
        cand.join(da, "x")
        .join(db, "y")
        .select(
            F.col("x").alias("doc_id_a"),
            F.col("y").alias("doc_id_b"),
            "common",
            score.alias("jaccard_score"),
        )
        .orderBy(F.col("jaccard_score").desc(), "doc_id_a", "doc_id_b")
        .limit(_LP_TOPK)
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (Raghavan et al. 2007, "Near
# linear time algorithm to detect community structures in large-scale
# networks") over the near-dup candidate graph: each node repeatedly
# adopts its neighbourhood's most frequent label. The async/random form
# is non-deterministic, so this is the SYNCHRONOUS variant with a fixed
# round count and a (count DESC, label ASC) tie-break — fully
# deterministic, hence oracle-comparable. Communities complement
# dedup_connected_components: CC says "reachable", LPA says "densely
# attached", which is what a template-family dedup policy wants.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_sql() -> str:
    rounds = []
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
cnt{r} AS (
    SELECT bd.node, lb.lbl, count(*) AS c
    FROM bidir bd JOIN lab{r - 1} lb ON lb.node = bd.nbr
    GROUP BY bd.node, lb.lbl
),
lab{r} AS (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rk
        FROM cnt{r}
    ) WHERE rk = 1
)""")
    return f"""
WITH {_SQL_EDGE_CTES},
bidir AS (
    SELECT u AS node, v AS nbr FROM edges
    UNION ALL
    SELECT v AS node, u AS nbr FROM edges
),
lab0 AS (SELECT DISTINCT node, node AS lbl FROM bidir),
{",".join(rounds)}
SELECT CAST(lbl AS BIGINT) AS community,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(node) AS BIGINT) AS min_doc,
       CAST(max(node) AS BIGINT) AS max_doc
FROM lab{_LPA_ROUNDS}
GROUP BY lbl
"""


@register("label_propagation_communities", _lpa_sql())
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community sizes after 3 synchronous label-propagation rounds on
    the shared-shingle near-dup graph (deterministic min-label
    majority). Each round is one equi join on the node key + one
    map-side-combined (node, label) count + a node-PARTITIONED window
    whose partition is degree-bounded — no global window, no driver
    loop (the round count is a constant, so the plan is just unrolled
    3x)."""
    docs = read_table(spark, sf_dir, "documents")
    edges = neardup_edges(docs)
    bidir = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(
            edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
    )
    lab = bidir.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    wn = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            bidir.join(
                lab.select(
                    F.col("node").alias("nbr"), F.col("lbl")
                ),
                "nbr",
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lab = (
            cnt.withColumn("rk", F.row_number().over(wn))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
        )
    return lab.groupBy(F.col("lbl").cast("long").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").cast("long").alias("min_doc"),
        F.max("node").cast("long").alias("max_doc"),
    )
