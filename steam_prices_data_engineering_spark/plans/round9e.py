"""Round-9e extension tier: BSP graph traversal, log-round pointer
jumping, and local differential privacy.

- `neardup_bfs_hops` — breadth-first hop distribution from a seed set
  over the near-dup candidate graph (the Pregel/BSP frontier-expansion
  primitive): per superstep, the frontier joins the edge list and
  anti-joins the visited set; the result is how much of the corpus a
  contamination / takedown seed set reaches within 3 hops.
- `containment_root_resolution` — transitive closure of directed
  containment chains (A ⊆ B ⊆ C) by POINTER JUMPING: each round
  composes the parent map with itself, so depth-d chains resolve in
  ceil(log2 d) rounds — the classic O(log n)-round distributed
  find-root primitive, vs the O(d)-round naive walk. The oracle walks
  the SAME parent forest with a recursive CTE.
- `ldp_randomized_response` — local-DP frequency estimation:
  generalized randomized response (report the true category with
  probability p, else a hash-picked uniform category) followed by the
  standard debiasing estimator pi_c = (obs_c/n - (1-p)/K) / p. The
  "coin" derives from the shared md5 primitive, so both engines replay
  the mechanism exactly and the estimator is deterministic.
- `horvitz_thompson_total` — unequal-probability sampling with the
  pi-expansion estimator (see its docstring): the inference step that
  makes the existing weighted/reservoir sampling family actionable.
- `fd_violation_audit` — functional-dependency profiling across the
  warehouse: the dependency check run before
  trusting a column as a dimension key.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the graph-propagation, lineage-closure and
privacy-telemetry jobs a 100 TB training-data platform runs on the
same engine.

Scale notes (the 100 TB lens):
- BFS: per-superstep cost is O(|frontier| join |edges|) shuffled on
  the node key, never all-pairs; frontiers are localCheckpointed so
  the 3-round lineage stays flat (the kcore discipline).
- Pointer jumping: each round is ONE self-equi-join of the parent map
  (size = number of contained docs, far smaller than the corpus);
  4 rounds resolve chains to depth 16. The naive per-hop walk would
  take max-depth rounds.
- Randomized response: one event scan, all codegen'd hash arithmetic,
  two bounded-grain aggregates on the event-type spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_md5_hex6_to_int, sql_shinglehash_ctes
from ..functions.text import md5_hex6_to_int
from ..session import pin
from ..sources.tables import read_table
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# BFS hop distribution over the near-dup candidate graph
# ---------------------------------------------------------------------------

_BFS_MOD = 101  # seeds: doc_id % 101 == 0 (count scales ~linearly)
_BFS_MAX_HOP = 3

# The edge list MUST be the same candidate graph the dedup pipeline
# uses — composed from plans/graph_ops.py, never re-derived.
from .graph_ops import _SQL_EDGE_CTES, neardup_edges  # noqa: E402

_BFS_SQL = f"""
WITH RECURSIVE {_SQL_EDGE_CTES},
bidir AS MATERIALIZED (
    SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
),
seeds AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
    WHERE doc_id IS NOT NULL AND CAST(doc_id AS BIGINT) % {_BFS_MOD} = 0
),
walk AS (
    SELECT doc_id, 0 AS hop FROM seeds
    UNION
    SELECT b.v AS doc_id, w.hop + 1 AS hop
    FROM walk w JOIN bidir b ON b.u = w.doc_id
    WHERE w.hop < {_BFS_MAX_HOP}
),
mh AS (SELECT doc_id, min(hop) AS hop FROM walk GROUP BY doc_id)
SELECT CAST(hop AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_docs
FROM mh GROUP BY hop
"""


@register("neardup_bfs_hops", _BFS_SQL)
def neardup_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop histogram of a BFS from the seed docs over the bidirected
    near-dup candidate graph: per superstep the frontier equi-joins the
    edge list on the node key and anti-joins the visited set (min-hop
    semantics); frontiers and the visited set are localCheckpointed so
    the bounded 3-round lineage stays flat."""
    docs = read_table(spark, sf_dir, "documents")
    edges = neardup_edges(docs)
    bidir = pin(edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ))  # reused every superstep

    frontier = (
        docs.filter(
            F.col("doc_id").isNotNull() & (F.col("doc_id") % _BFS_MOD == 0)
        )
        .select("doc_id")
        .distinct()
        .localCheckpoint()
    )
    visited = frontier
    layers = [frontier.withColumn("hop", F.lit(0))]
    for k in range(1, _BFS_MAX_HOP + 1):
        nxt = (
            bidir.join(frontier, bidir.u == frontier.doc_id)
            .select(F.col("v").alias("doc_id"))
            .distinct()
            .join(visited, "doc_id", "left_anti")
            .localCheckpoint()
        )
        # Early exit on an empty frontier (r10): BFS frontiers only ever
        # shrink to empty once the component is exhausted, and an empty
        # frontier makes every remaining superstep a no-op (empty layers
        # add no histogram rows) — count() on the just-checkpointed
        # frame is ~free.
        if nxt.count() == 0:
            break
        layers.append(nxt.withColumn("hop", F.lit(k)))
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt

    out = layers[0]
    for extra in layers[1:]:
        out = out.unionByName(extra)
    return out.groupBy(F.col("hop").cast("long").alias("hop")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Pointer-jumping root resolution over containment chains
# ---------------------------------------------------------------------------

_PJ_ROUNDS = 4  # resolves chains to depth 2^4 = 16

# SAME candidate/verify constants as the production containment stage.
from .semantic_dedup import _CONT_DF_CAP, _CONT_TAU  # noqa: E402


def _root_sql() -> str:
    cont = R("s.shared / CAST(si.sz AS DOUBLE)", 6)
    return f"""
WITH RECURSIVE {sql_shinglehash_ctes()},
posting0 AS (SELECT doc_id, unnest(hs) AS h FROM shinglehash),
keep AS (
    SELECT h FROM posting0 GROUP BY h
    HAVING count(*) <= {_CONT_DF_CAP}
),
posting AS MATERIALIZED (SELECT p.* FROM posting0 p SEMI JOIN keep USING (h)),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM posting GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc, count(*) AS shared
    FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
),
cand AS (
    SELECT CAST(s.inner_doc AS BIGINT) AS inner_doc,
           CAST(s.outer_doc AS BIGINT) AS outer_doc,
           {cont} AS c, so.sz AS osz
    FROM shared s
    JOIN sizes si ON si.doc_id = s.inner_doc
    JOIN sizes so ON so.doc_id = s.outer_doc
    WHERE {cont} >= {_CONT_TAU}
      AND (so.sz > si.sz
           OR (so.sz = si.sz
               AND CAST(s.outer_doc AS BIGINT) < CAST(s.inner_doc AS BIGINT)))
),
parent AS MATERIALIZED (
    SELECT inner_doc AS doc_id, outer_doc AS parent
    FROM (
        SELECT inner_doc, outer_doc,
               row_number() OVER (
                   PARTITION BY inner_doc
                   ORDER BY c DESC, osz ASC, outer_doc ASC
               ) AS rn
        FROM cand
    )
    WHERE rn = 1
),
walk AS (
    SELECT doc_id, parent, CAST(1 AS BIGINT) AS depth FROM parent
    UNION ALL
    SELECT w.doc_id, p.parent, w.depth + 1
    FROM walk w JOIN parent p ON p.doc_id = w.parent
)
SELECT doc_id, parent AS root_doc, depth
FROM (
    SELECT doc_id, parent, depth,
           row_number() OVER (PARTITION BY doc_id ORDER BY depth DESC) AS rn
    FROM walk
)
WHERE rn = 1
"""


@register("containment_root_resolution", _root_sql())
def containment_root_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contained doc: the ROOT container of its containment chain
    and the exact chain depth, resolved in log-rounds. The parent is
    the TIGHTEST enclosing container (best containment, then smallest
    capped size, then smallest doc_id) and must be strictly larger (or
    equal-size with a smaller id), so the forest is acyclic and
    pointer jumping converges; the oracle walks the same forest
    hop-by-hop with a recursive CTE. The driver fixture's duplicates
    are equal-size replicas (depth-1 stars — probed); deep chains are
    pinned by the nested-prefix fixture test."""
    # Shared containment candidate stage (r10): bit-identical to
    # containment_dedup_pairs' subtree, now built+cached once per
    # session in semantic_dedup.containment_shared_pairs.
    from .semantic_dedup import containment_shared_pairs

    shared, sizes = containment_shared_pairs(spark, sf_dir)
    cont = dround(F.col("shared") / F.col("isz").cast("double"), 6)
    cand = (
        shared.join(
            sizes.select(F.col("doc_id").alias("inner_doc"), F.col("sz").alias("isz")),
            "inner_doc",
        )
        .join(
            sizes.select(F.col("doc_id").alias("outer_doc"), F.col("sz").alias("osz")),
            "outer_doc",
        )
        .withColumn("c", cont)
        .filter(
            (F.col("c") >= _CONT_TAU)
            & (
                (F.col("osz") > F.col("isz"))
                | ((F.col("osz") == F.col("isz")) & (F.col("outer_doc") < F.col("inner_doc")))
            )
        )
    )
    w = Window.partitionBy("inner_doc").orderBy(
        F.desc("c"), F.asc("osz"), F.asc("outer_doc")
    )
    forest = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("inner_doc").alias("doc_id"),
            F.col("outer_doc").alias("parent"),
            F.lit(1).cast("long").alias("depth"),
        )
        .localCheckpoint()
    )
    # Pointer jumping: parent <- parent(parent), depth accumulates.
    # ADAPTIVE round count (r10, guide §1.2 — don't run jobs that do
    # nothing): each round's left join already knows whether any row
    # moved (its parent had a parent), so carry that as a `jumped` flag
    # and stop when a round moves nothing — that round was an identity
    # map, hence so would every later one be, and the result equals the
    # fixed _PJ_ROUNDS unroll by construction. The flag count is a
    # plain filter-count on the just-checkpointed frame (no join, no
    # broadcast — the semi-join convergence probe measured ~0.5 s per
    # check at sf0.1, the flag count ~0.1 s). Chains converge in
    # ceil(log2(depth)) rounds (the nested-prefix fixture still
    # exercises multi-round jumping).
    ptr = forest
    converged = False
    for _ in range(_PJ_ROUNDS):
        p = ptr.select(
            F.col("doc_id").alias("p_doc"),
            F.col("parent").alias("p_parent"),
            F.col("depth").alias("p_depth"),
        )
        ptr = (
            ptr.join(p, ptr.parent == p.p_doc, "left")
            .select(
                "doc_id",
                F.coalesce("p_parent", "parent").alias("parent"),
                (
                    F.col("depth")
                    + F.coalesce(F.col("p_depth"), F.lit(0))
                ).alias("depth"),
                F.col("p_parent").isNotNull().alias("jumped"),
            )
            .localCheckpoint()
        )
        n_changed = ptr.filter(F.col("jumped")).count()
        ptr = ptr.drop("jumped")
        if n_changed == 0:
            converged = True
            break
    # Convergence guard (ADVICE r9): _PJ_ROUNDS rounds resolve chains to
    # depth 2^_PJ_ROUNDS; the oracle's recursive CTE walks ANY depth. A
    # fixture deeper than that must fail LOUDLY here, not hash-red at
    # the driver — converged iff no remaining parent is itself a child
    # (only worth re-probing when the loop exhausted its rounds while
    # still moving rows).
    unresolved = (
        0
        if converged
        else ptr.join(
            ptr.select(F.col("doc_id").alias("parent")),
            "parent",
            "left_semi",
        ).count()
    )
    if unresolved:
        raise RuntimeError(
            f"pointer jumping did not converge: {unresolved} docs still "
            f"point at a non-root parent after {_PJ_ROUNDS} rounds "
            f"(chain deeper than {2 ** _PJ_ROUNDS}) — raise _PJ_ROUNDS"
        )
    return ptr.select(
        "doc_id", F.col("parent").alias("root_doc"), F.col("depth")
    )


# ---------------------------------------------------------------------------
# Local-DP randomized response with debiasing
# ---------------------------------------------------------------------------

_LDP_KEEP_NUM = 3  # report the true category with p = 3/4
_LDP_KEEP_DEN = 4


def _ldp_sql() -> str:
    h = sql_md5_hex6_to_int(
        "concat_ws('|', 'ldp', CAST(CAST(event_id AS BIGINT) AS VARCHAR))"
    )
    est = (
        "(CAST(n_reported AS DOUBLE)"
        " - CAST(n AS DOUBLE) * 0.25 / CAST(k AS DOUBLE)) / 0.75"
    )
    return f"""
WITH ev AS (
    SELECT event_type, {h} AS h FROM events
    WHERE event_id IS NOT NULL AND event_type IS NOT NULL
),
types AS (
    SELECT event_type,
           row_number() OVER (ORDER BY event_type) - 1 AS idx
    FROM (SELECT DISTINCT event_type FROM ev)
),
kn AS (SELECT count(*) AS k FROM types),
evk AS (SELECT ev.event_type, ev.h, kn.k FROM ev CROSS JOIN kn),
coined AS (
    SELECT evk.event_type AS true_type,
           CASE WHEN evk.h % {_LDP_KEEP_DEN} < {_LDP_KEEP_NUM}
                THEN evk.event_type ELSE t.event_type END AS reported_type
    FROM evk
    JOIN types t ON t.idx = (evk.h // {_LDP_KEEP_DEN}) % evk.k
),
true_agg AS (
    SELECT true_type AS event_type, CAST(count(*) AS BIGINT) AS n_true
    FROM coined GROUP BY 1
),
rep_agg AS (
    SELECT reported_type AS event_type, CAST(count(*) AS BIGINT) AS n_reported
    FROM coined GROUP BY 1
),
j AS (
    SELECT t.event_type, t.n_true,
           COALESCE(r.n_reported, 0) AS n_reported,
           sum(t.n_true) OVER () AS n,
           count(*) OVER () AS k
    FROM true_agg t LEFT JOIN rep_agg r ON r.event_type = t.event_type
)
SELECT event_type, n_true, n_reported,
       {R(est, 4)} AS est_true
FROM j
"""


@register("ldp_randomized_response", _ldp_sql())
def ldp_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized randomized response over event_type with the
    standard debiasing estimator: each event reports its true category
    with p = 3/4, else a hash-picked uniform one of the K categories;
    est_true_c = n * (obs_c/n - (1-p)/K) / p. The coin is the shared
    md5 primitive, so the mechanism replays exactly in both engines."""
    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            md5_hex6_to_int(
                F.concat_ws(
                    "|", F.lit("ldp"), F.col("event_id").cast("string")
                )
            ).alias("h"),
        )
    )
    types = (
        e.select("event_type")
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("event_type")) - 1,
        )
    )
    kn = types.agg(F.count(F.lit(1)).alias("k"))
    coined = (
        e.crossJoin(F.broadcast(kn))
        .withColumn(
            "ridx", (F.col("h") / _LDP_KEEP_DEN).cast("long") % F.col("k")
        )
        .join(
            F.broadcast(
                types.select(
                    F.col("idx").alias("ridx"),
                    F.col("event_type").alias("alt_type"),
                )
            ),
            "ridx",
        )
        .select(
            F.col("event_type").alias("true_type"),
            F.when(
                F.col("h") % _LDP_KEEP_DEN < _LDP_KEEP_NUM,
                F.col("event_type"),
            )
            .otherwise(F.col("alt_type"))
            .alias("reported_type"),
        )
    )
    true_agg = coined.groupBy(
        F.col("true_type").alias("event_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    rep_agg = coined.groupBy(
        F.col("reported_type").alias("event_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_reported"))
    j = (
        true_agg.join(rep_agg, "event_type", "left")
        .withColumn("n_reported", F.coalesce("n_reported", F.lit(0)).cast("long"))
        .withColumn("n", F.sum("n_true").over(Window.partitionBy()))
        .withColumn("k", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    est = (
        F.col("n_reported").cast("double")
        - F.col("n").cast("double") * F.lit(0.25) / F.col("k").cast("double")
    ) / F.lit(0.75)
    return j.select(
        "event_type",
        "n_true",
        "n_reported",
        dround(est, 4).alias("est_true"),
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson total under unequal-probability sampling
# ---------------------------------------------------------------------------

_HT_BIG_CENTS = 5_000_000  # >= $50k extended price: the "certainty-ish" stratum
_HT_HEX6 = 16_777_216  # md5-hex6 domain size


def _ht_sql() -> str:
    h = sql_md5_hex6_to_int(
        "concat_ws('|', 'ht', CAST(CAST(l_orderkey AS BIGINT) AS VARCHAR),"
        " CAST(CAST(l_linenumber AS BIGINT) AS VARCHAR))"
    )
    err = (
        "(CAST(ht_cents AS DOUBLE) - CAST(true_cents AS DOUBLE))"
        " / CAST(true_cents AS DOUBLE)"
    )
    return f"""
WITH li AS (
    SELECT l_returnflag,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
           {h} AS h
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
      AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
),
drawn AS (
    SELECT l_returnflag, cents,
           CASE WHEN cents >= {_HT_BIG_CENTS} THEN 2 ELSE 10 END AS expansion,
           CASE WHEN cents >= {_HT_BIG_CENTS}
                THEN CASE WHEN h * 2 < {_HT_HEX6} THEN 1 ELSE 0 END
                ELSE CASE WHEN h * 10 < {_HT_HEX6} THEN 1 ELSE 0 END
           END AS included
    FROM li
),
agg AS (
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_pop,
           CAST(sum(included) AS BIGINT) AS n_sampled,
           CAST(sum(cents) AS BIGINT) AS true_cents,
           CAST(sum(included * expansion * cents) AS BIGINT) AS ht_cents
    FROM drawn GROUP BY l_returnflag
)
SELECT l_returnflag, n_pop, n_sampled, true_cents, ht_cents,
       {R(err, 6)} AS rel_err
FROM agg
"""


@register("horvitz_thompson_total", _ht_sql())
def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unequal-probability sampling + the Horvitz-Thompson pi-expansion
    estimator: big line items (>= $50k) sample at p=1/2, the rest at
    p=1/10; the estimated revenue total per return flag is
    sum(cents / p_i) over the included rows — ALL integer arithmetic
    (expansion factors 2 and 10), so the estimate is exact in both
    engines; only the final relative error divides."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isNotNull()
            & F.col("l_extendedprice").isNotNull()
            & F.col("l_orderkey").isNotNull()
            & F.col("l_linenumber").isNotNull()
        )
        .select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            md5_hex6_to_int(
                F.concat_ws(
                    "|",
                    F.lit("ht"),
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("long").cast("string"),
                )
            ).alias("h"),
        )
    )
    big = F.col("cents") >= _HT_BIG_CENTS
    drawn = li.select(
        "l_returnflag",
        "cents",
        F.when(big, F.lit(2)).otherwise(F.lit(10)).alias("expansion"),
        F.when(
            big, F.when(F.col("h") * 2 < _HT_HEX6, 1).otherwise(0)
        )
        .otherwise(F.when(F.col("h") * 10 < _HT_HEX6, 1).otherwise(0))
        .alias("included"),
    )
    agg = drawn.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum("included").cast("long").alias("n_sampled"),
        F.sum("cents").cast("long").alias("true_cents"),
        F.sum(F.col("included") * F.col("expansion") * F.col("cents"))
        .cast("long")
        .alias("ht_cents"),
    )
    err = (
        F.col("ht_cents").cast("double") - F.col("true_cents").cast("double")
    ) / F.col("true_cents").cast("double")
    return agg.select(
        "l_returnflag",
        "n_pop",
        "n_sampled",
        "true_cents",
        "ht_cents",
        dround(err, 6).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency violation audit (data profiling)
# ---------------------------------------------------------------------------

# Candidate FDs X -> Y across the warehouse: a mix of ones that must
# hold (key-based) and ones expected to fail (behavioral). The audit
# grain is the LHS group: an FD holds iff every X-group sees exactly
# one distinct non-NULL Y.
_FD_CANDIDATES = [
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("part", "p_brand", "p_type"),
    ("events", "user_id", "event_type"),
    ("lineitem", "l_orderkey", "l_returnflag"),
]


def _fd_sql() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
SELECT '{tbl}.{lhs}->{rhs}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
       CAST(max(n_rhs) AS BIGINT) AS max_distinct_rhs,
       CAST(sum(CASE WHEN n_rhs > 1 THEN grp_rows ELSE 0 END) AS BIGINT)
           AS rows_in_violating
FROM (
    SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs, count(*) AS grp_rows
    FROM {tbl} WHERE {lhs} IS NOT NULL AND {rhs} IS NOT NULL
    GROUP BY {lhs}
)""")
    return "\nUNION ALL\n".join(parts)

register_sql("fd_violation_audit", _fd_sql())
