"""Iterative algorithms (driver-coordinated loops over distributed steps):
connected-component dedup clustering and deterministic k-means. The loop
body is always a full DataFrame plan — the driver only checks convergence
(a count) or collects K tiny centroids, never row data.

Connected components is THE missing piece between near-dup pair generation
and actual deduplication: pairs form a graph; each component keeps one
representative (its min doc_id). Min-label propagation converges to a
unique fixpoint, so the result is deterministic and the DuckDB oracle can
verify it with a recursive CTE computing true reachability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..operators.dedup import minhash_lsh_pairs
from ..sources.tables import read_table
from .registry import _NEARDUP_MINHASH_SQL, register

# ---------------------------------------------------------------------------
# Connected components over the MinHash-LSH near-dup pair graph.
# ---------------------------------------------------------------------------

_COMPONENTS_SQL = f"""
WITH RECURSIVE edges AS (
    SELECT doc_id_a, doc_id_b FROM ({_NEARDUP_MINHASH_SQL}) t
),
bidir AS (
    SELECT doc_id_a AS u, doc_id_b AS v FROM edges
    UNION
    SELECT doc_id_b AS u, doc_id_a AS v FROM edges
),
reach(u, label) AS (
    SELECT u, u AS label FROM (SELECT DISTINCT u FROM bidir)
    UNION
    SELECT b.v AS u, r.label FROM reach r JOIN bidir b ON b.u = r.u
)
SELECT u AS doc_id, CAST(min(label) AS BIGINT) AS component
FROM reach GROUP BY u
"""


# Driver-side fast-path bound for cc_labels: an edge list at or under
# this count (~32 MB of long pairs) is collected and union-found in one
# action instead of paying the propagation loop's per-iteration job
# overhead (~0.75 s/iteration at sf0.1 for a 482-edge graph — pure
# scheduling). Above it, the distributed min-label loop runs unchanged.
# A near-dup graph at 100 TB blows past this immediately; the gate is
# the same bounded-driver-coordination discipline as the k-means
# centroid / BPE argmax collects, with the bound explicit.
CC_DRIVER_MAX_EDGES = 2_000_000


def _cc_union_find(rows) -> list[tuple]:
    """Min-label union-find over collected (u, v) edge rows — the exact
    fixpoint the propagation loop converges to (label = min node id in
    the component)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            # union by min: the smaller id stays the root, so every
            # root IS its component's min label.
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {x for r in rows for x in (r[0], r[1])}
    return [(n, find(n)) for n in sorted(nodes)]


def cc_labels(edges: DataFrame) -> DataFrame:
    """(node, label) — connected components of an undirected edge list
    (columns doc_id_a, doc_id_b) by min-label propagation. Shared by the
    CC query and the end-to-end dedup report; see
    dedup_connected_components for the scale rationale.

    Adaptive: the bidirectional edge list is materialized (one count on
    the persisted frame); at or under CC_DRIVER_MAX_EDGES it is
    union-found driver-side in one collect — same fixpoint, none of the
    loop's per-iteration scheduling. Larger graphs run the distributed
    loop below."""
    spark = edges.sparkSession
    node_dt = edges.schema["doc_id_a"].dataType
    bidir = (
        edges.select(F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v"))
        .union(edges.select(F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v")))
        .distinct()
        .persist()
    )
    n_edges = bidir.count()  # materializes the persist either way
    if n_edges <= CC_DRIVER_MAX_EDGES:
        pairs = _cc_union_find(bidir.collect())
        bidir.unpersist()
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("node", node_dt, False),
                StructField("label", node_dt, False),
            ]
        )
        return spark.createDataFrame(pairs, schema)
    labels = (
        bidir.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    # One persisted generation at a time: each iteration materializes the
    # new label table (the convergence count drives it), then UNPERSISTS
    # the superseded parent — without this the loop accumulates one cached
    # copy of the full label table per iteration, which at 100 TB evicts
    # everything else from executor storage. The persist also truncates
    # effective recomputation depth (every iteration reads its parent from
    # cache); for loops running into the hundreds of rounds, swap the
    # persist for localCheckpoint every few generations to also bound the
    # logical-plan depth.
    gen = labels
    for _ in range(15):
        # Candidate new label per node: min of own label and neighbors'.
        neighbor_min = (
            bidir.join(labels, bidir.v == labels.node)
            .groupBy(bidir.u.alias("nu"))
            .agg(F.min("label").alias("nlabel"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == F.col("nu"), "left")
            .select(
                "node",
                "label",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("new_label"),
            )
            .persist()
        )
        changed = updated.filter(F.col("new_label") != F.col("label")).count()
        gen.unpersist()  # superseded generation; `updated` is materialized
        gen = updated
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels


@register("dedup_connected_components", _COMPONENTS_SQL)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster near-dup pairs into components by min-label propagation; the
    component id (= min doc_id in the cluster) is the kept representative.
    Each iteration is one shuffle join on the edge list; the driver sees
    only the converged/not-converged count. At 100 TB this is the standard
    large-graph CC loop (alternating small-star/large-star variants change
    the constant, not the shape)."""
    d = read_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(d, threshold=0.5).select("doc_id_a", "doc_id_b")
    labels = cc_labels(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").cast("long").alias("component")
    )


# ---------------------------------------------------------------------------
# Deterministic k-means over embeddings, HASH-VERIFIED like pagerank: the
# oracle unrolls the same 3 Lloyd iterations as nested CTEs (assign ->
# update -> carry-on-empty), so the iterative algorithm is checked
# end-to-end, not rows-only. Fixed seeds (vec_id < K) + fixed iteration
# count + deterministic argmin tie-break (lowest cluster wins, strict <
# in Spark == ORDER BY d, cluster in SQL) make both engines agree; the
# only cross-engine freedom is double-summation order, absorbed by the
# dround(…, 4) on inertia and the non-degenerate distance gaps of the
# fixture embeddings.
# ---------------------------------------------------------------------------

_KMEANS_K = 4
_KMEANS_ITERS = 3


def _kmeans_sql() -> str:
    ctes = [
        f"""
vecs AS (
    SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
    FROM (SELECT vec_id, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i
          FROM embeddings)
),
cent0 AS (
    SELECT CAST(vec_id AS INTEGER) AS cluster, dim, val AS cval
    FROM vecs WHERE vec_id < {_KMEANS_K}
),
-- Spark degrades to an EMPTY result when the landing has fewer rows than
-- seeds (see kmeans_embeddings' guard); mirror that so both engines agree
-- on small/partial landings.
seedok AS (
    SELECT count(DISTINCT cluster) = {_KMEANS_K} AS ok FROM cent0
)"""
    ]
    for i in range(1, _KMEANS_ITERS + 1):
        ctes.append(f"""
dist{i} AS (
    SELECT v.vec_id, c.cluster,
           sum((v.val - c.cval) * (v.val - c.cval)) AS d
    FROM vecs v JOIN cent{i - 1} c ON v.dim = c.dim
    GROUP BY 1, 2
),
asg{i} AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM dist{i}
    ) t WHERE rn = 1
),
newc{i} AS (
    SELECT a.cluster, v.dim, avg(v.val) AS cval
    FROM asg{i} a JOIN vecs v ON v.vec_id = a.vec_id
    GROUP BY 1, 2
),
cent{i} AS (
    -- empty clusters keep their previous centroid (Spark: cents.get(i, old))
    SELECT p.cluster, p.dim, coalesce(n.cval, p.cval) AS cval
    FROM cent{i - 1} p
    LEFT JOIN newc{i} n ON n.cluster = p.cluster AND n.dim = p.dim
)""")
    final = _KMEANS_ITERS + 1
    return f"""
WITH {",".join(ctes)},
dist{final} AS (
    SELECT v.vec_id, c.cluster,
           sum((v.val - c.cval) * (v.val - c.cval)) AS d
    FROM vecs v JOIN cent{_KMEANS_ITERS} c ON v.dim = c.dim
    GROUP BY 1, 2
),
asg{final} AS (
    SELECT vec_id, cluster, d FROM (
        SELECT vec_id, cluster, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM dist{final}
    ) t WHERE rn = 1
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
       {R('sum(d)', 4)} AS inertia
FROM asg{final}
WHERE (SELECT ok FROM seedok)
GROUP BY cluster
"""


@register("kmeans_embeddings", _kmeans_sql())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, K=4, 3 iterations, seeds = vec_id < K. Assignment
    is a broadcast argmin over K centroids (narrow map over the corpus);
    the centroid update is posexplode -> groupBy(cluster, dim) avg — one
    shuffle of K*dim partial means per iteration. Only the K x dim centroid
    matrix ever reaches the driver."""
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = [
        [float(x) for x in r.v]
        for r in e.filter(F.col("vec_id") < _KMEANS_K).orderBy("vec_id").collect()
    ]
    if len(centroids) < _KMEANS_K:
        # Fewer rows than seeds (empty landing / fresh partition): degrade
        # to an empty result instead of an IndexError in the seed loop.
        return spark.createDataFrame(
            [], "cluster int, n_vectors long, inertia double"
        )

    def assign(cents: list[list[float]]) -> DataFrame:
        best_cluster, best_dist = None, None
        for ci, cent in enumerate(cents):
            lit = F.array(*[F.lit(x) for x in cent])
            dist = F.aggregate(
                F.zip_with(F.col("v"), lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            if best_cluster is None:
                best_cluster, best_dist = F.lit(ci), dist
            else:
                is_better = dist < best_dist
                best_cluster = F.when(is_better, F.lit(ci)).otherwise(best_cluster)
                best_dist = F.when(is_better, dist).otherwise(best_dist)
        return e.select(
            "vec_id", "v", best_cluster.alias("cluster"), best_dist.alias("dist")
        )

    for _ in range(_KMEANS_ITERS):
        assigned = assign(centroids)
        new_cents = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cluster", F.col("dm.m").alias("centroid"))
            .orderBy("cluster")
            .collect()
        )
        cents = dict((r.cluster, list(r.centroid)) for r in new_cents)
        centroids = [cents.get(i, centroids[i]) for i in range(_KMEANS_K)]

    final = assign(centroids)
    return final.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        dround(F.sum("dist"), 4).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# PageRank over the event-transition graph (oracle-checked iterative
# algorithm: fixed 3 power iterations unrolled identically in the SQL).
# ---------------------------------------------------------------------------

_PR_DAMPING = 0.85
_PR_ITERS = 3


def _pagerank_sql() -> str:
    d = _PR_DAMPING
    iters = [
        """
r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
r{i} AS (
    SELECT node, (1 - {d}) / n + {d} * coalesce(c.contrib, 0.0) AS rank
    FROM nodes CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst AS cn, sum(r.rank * e.w) AS contrib
        FROM edges e JOIN r{i - 1} r ON r.node = e.src
        GROUP BY e.dst
    ) c ON c.cn = node
)""")
    return f"""
WITH seq AS (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
),
ecount AS (
    SELECT prev_type AS src, event_type AS dst, CAST(count(*) AS DOUBLE) AS cnt
    FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
edges AS (
    SELECT src, dst, cnt / sum(cnt) OVER (PARTITION BY src) AS w FROM ecount
),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
{",".join(iters)}
SELECT node AS event_type, {R('rank', 6)} AS pagerank FROM r{_PR_ITERS}
"""


@register("pagerank_event_transitions", _pagerank_sql())
def pagerank_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed power iterations) over the directed
    graph of consecutive event-type transitions per user — "which event
    state accumulates behavioral mass". Edge weights are per-source
    normalized transition counts (one lag window + one agg + one
    normalization window, same partition, no re-join). Each iteration is
    edges ⋈ ranks -> groupBy(dst) — with the rank table broadcast, the big
    edge side never shuffles; at web scale this flips to the standard
    partitioned-join PR loop with localCheckpoint every few rounds to cut
    lineage (the kmeans loop above shows the driver-coordinated variant).
    Dangling-node mass is dropped, identically in both engines. The oracle
    unrolls the SAME 3 iterations as nested CTEs, so this iterative
    algorithm is fully hash-verified — not a rows-only exemption."""
    e = read_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w_user).alias("prev_type")
    )
    ecount = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    edges = ecount.select(
        "src",
        "dst",
        (F.col("cnt") / F.sum("cnt").over(Window.partitionBy("src"))).alias("w"),
    )
    nodes = e.select(F.col("event_type").alias("node")).distinct()
    n = nodes.count()  # driver sees one scalar: the node count

    ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(F.broadcast(ranks), edges.src == ranks.node)
            .groupBy(F.col("dst").alias("cn"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        ranks = nodes.join(F.broadcast(contrib), nodes.node == F.col("cn"), "left").select(
            "node",
            (
                F.lit((1 - _PR_DAMPING) / n)
                + F.lit(_PR_DAMPING) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select(
        F.col("node").alias("event_type"), dround(F.col("rank"), 6).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# End-to-end dedup pipeline report: the composition a corpus owner actually
# runs — exact dedup (content-hash keep-first), then MinHash-LSH near-dup
# clustering over the exact survivors, one representative per component —
# reported per source with doc and token attrition. Ties the dedup stack
# (operators/dedup.py stages + cc_labels) into ONE verified product.
# ---------------------------------------------------------------------------


def _dedup_report_sql() -> str:
    from ..functions.rounding import dround_sql as R
    from ..functions.sqlfrag import (
        sql_exact_jaccard,
        sql_minhash_sig_band_ctes,
    )

    return f"""
WITH RECURSIVE keepers AS (
    SELECT doc_id, source, text,
           string_split(text, ' ') AS toks,
           (doc_id = min(doc_id) OVER (PARTITION BY md5(text)))
               AS is_exact_keeper
    FROM documents
),
survivors AS (
    SELECT doc_id, source, text FROM keepers WHERE is_exact_keeper
),
{sql_minhash_sig_band_ctes(source="survivors")},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
),
pairs AS (
    -- shared verify fragment, dround'd BEFORE the threshold like the
    -- Spark side (minhash_lsh_pairs filters on the rounded score)
    SELECT doc_id_a, doc_id_b
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.doc_id_a
    JOIN sig sb ON sb.doc_id = cand.doc_id_b
    WHERE {R(sql_exact_jaccard("sa.hs", "sb.hs"), 6)} >= 0.5
),
bidir AS (
    SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
    UNION
    SELECT doc_id_b AS u, doc_id_a AS v FROM pairs
),
reach(u, label) AS (
    SELECT u, u AS label FROM (SELECT DISTINCT u FROM bidir)
    UNION
    SELECT b.v AS u, r.label FROM reach r JOIN bidir b ON b.u = r.u
),
comp AS (SELECT u, min(label) AS component FROM reach GROUP BY u),
status AS (
    SELECT k.source,
           len(k.toks) AS n_toks,
           CASE WHEN NOT k.is_exact_keeper THEN 'exact_removed'
                WHEN coalesce(c.component, k.doc_id) <> k.doc_id
                    THEN 'neardup_removed'
                ELSE 'survivor' END AS st
    FROM keepers k LEFT JOIN comp c ON c.u = k.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (st = 'exact_removed') AS BIGINT) AS exact_removed,
       CAST(count(*) FILTER (st = 'neardup_removed') AS BIGINT) AS neardup_removed,
       CAST(count(*) FILTER (st = 'survivor') AS BIGINT) AS n_survivors,
       CAST(sum(n_toks) AS BIGINT) AS tokens_total,
       CAST(sum(n_toks) FILTER (st = 'survivor') AS BIGINT) AS tokens_surviving,
       {R("CAST(count(*) FILTER (st = 'survivor') AS DOUBLE) / count(*)", 6)}
           AS survive_rate
FROM status
GROUP BY source
"""


@register("dedup_pipeline_report", _dedup_report_sql())
def dedup_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source attrition of the full dedup stack: exact content-hash
    keep-first, then MinHash-LSH + connected components over the exact
    survivors (component min = representative).

    Scale shape: the exact stage is one window over md5(text) (32-byte
    partition keys); the near-dup stage is the shared production LSH
    pipeline on the surviving subset; the CC loop moves only
    convergence counts to the driver; the report is one tiny groupBy.
    Every stage is the same code the standalone queries run — this is
    composition, not re-implementation."""
    from ..functions.text import token_count

    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    keepers = d.select(
        "doc_id",
        "source",
        "text",
        token_count(F.col("text")).cast("long").alias("n_toks"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_exact_keeper"),
    )
    survivors = keepers.filter(F.col("is_exact_keeper")).select(
        "doc_id", "text"
    )
    pairs = minhash_lsh_pairs(survivors, threshold=0.5).select(
        "doc_id_a", "doc_id_b"
    )
    labels = cc_labels(pairs)
    status = (
        keepers.join(labels, keepers.doc_id == labels.node, "left")
        .select(
            "source",
            "n_toks",
            F.when(~F.col("is_exact_keeper"), F.lit("exact_removed"))
            .when(
                F.coalesce(F.col("label"), F.col("doc_id")) != F.col("doc_id"),
                F.lit("neardup_removed"),
            )
            .otherwise(F.lit("survivor"))
            .alias("st"),
        )
    )
    surviving = F.col("st") == "survivor"
    return status.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("st") == "exact_removed").cast("int"))
        .cast("long")
        .alias("exact_removed"),
        F.sum((F.col("st") == "neardup_removed").cast("int"))
        .cast("long")
        .alias("neardup_removed"),
        F.sum(surviving.cast("int")).cast("long").alias("n_survivors"),
        F.sum("n_toks").cast("long").alias("tokens_total"),
        F.sum(F.when(surviving, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("tokens_surviving"),
        dround(
            F.sum(surviving.cast("int")).cast("double") / F.count(F.lit(1)), 6
        ).alias("survive_rate"),
    )


# ---------------------------------------------------------------------------
# Near-dup cluster-size distribution: how big are the components the LSH
# graph collapses into? The histogram a corpus owner reads BEFORE picking
# a dedup policy — a corpus of pairs (size 2) dedups safely; heavy tails
# (giant template families) deserve inspection first. Singleton documents
# (no near-dup pair) are reported as cluster_size = 1.
# ---------------------------------------------------------------------------

_CLUSTER_SIZES_SQL = f"""
WITH RECURSIVE edges AS (
    SELECT doc_id_a, doc_id_b FROM ({_NEARDUP_MINHASH_SQL}) t
),
bidir AS (
    SELECT doc_id_a AS u, doc_id_b AS v FROM edges
    UNION
    SELECT doc_id_b AS u, doc_id_a AS v FROM edges
),
reach(u, label) AS (
    SELECT u, u AS label FROM (SELECT DISTINCT u FROM bidir)
    UNION
    SELECT b.v AS u, r.label FROM reach r JOIN bidir b ON b.u = r.u
),
comp AS (SELECT u, min(label) AS component FROM reach GROUP BY u),
labeled AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
),
sizes AS (
    SELECT component, count(*) AS cluster_size FROM labeled GROUP BY component
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM sizes
GROUP BY cluster_size
"""


@register("dedup_cluster_sizes", _CLUSTER_SIZES_SQL)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of near-dup component sizes over the whole corpus
    (singletons included at size 1). Reuses the production LSH pair
    generator and the shared CC loop; the two final aggregations are
    component-keyed and size-keyed — both map-side combined."""
    d = read_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(d, threshold=0.5).select("doc_id_a", "doc_id_b")
    labels = cc_labels(edges)
    labeled = d.select("doc_id").join(
        labels, d.doc_id == labels.node, "left"
    ).select(
        F.coalesce(F.col("label"), F.col("doc_id")).alias("component")
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )
