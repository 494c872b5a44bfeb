"""Semantic and substring-level dedup (north-star extension, SURVEY.md
§2b): the two dedup tiers the token-level family (exact / MinHash /
SimHash / chunk) does not cover.

- `semdedup_prune` — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
  cluster the embedding space, then prune near-duplicate *meanings*
  within each cluster by pairwise cosine. The cluster id is the blocking
  key, so the pairwise stage is per-cluster, never corpus x corpus.
  Clustering here is a single deterministic assignment to K fixed seed
  centroids (the first K vectors) — the paper's k-means reduced to its
  assignment step so both engines replay it exactly; the full Lloyd loop
  lives in `kmeans_embeddings` and swaps in unchanged. Keep-rule:
  the LOWEST vec_id in a mutually-similar set survives (the paper keeps
  the lowest-centroid-distance item; any deterministic choice works and
  an id rule needs no extra join).
- `substring_dup_spans` — exact substring-level dedup signal (Lee et
  al. 2022 "Deduplicating Training Data Makes Language Models Better",
  arXiv:2107.06499): their suffix-array duplicate-substring pass,
  re-expressed distributed as stride-1 sliding token windows. A window
  of W tokens hashes to md5; windows seen in >= 2 distinct documents
  mark every position they cover; per document, overlapping marked
  windows merge into MAXIMAL duplicated spans (the suffix-array
  result at W-token resolution). `chunk_dedup_ratio` is the stride=W
  approximation of the same signal; stride 1 additionally catches
  SHIFTED copies that chunk alignment misses.

Scale design at 100 TB:
- SemDeDup: assignment is a broadcast K-row cross join (K*N narrow
  rows); the pair stage shuffles on `cluster` — cluster sizes are
  bounded by construction (K scales with corpus), so no all-pairs
  blowup. Norms are computed once per vector, not per pair.
- Substring spans: the shuffle key is the 16-byte window md5 (never the
  window text); the dup-window set comes from one map-side-combined
  aggregation; span merging is a lag+cumsum window per doc partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_shinglehash_ctes
from ..functions.text import tokens
from ..functions.vectors import dot, norm, to_double_array
from ..session import pin
from ..sources.tables import read_table, spread
from .registry import register

# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

# Seed-centroid count scales with the corpus: K = max(8, ceil(sqrt(N)/2)).
# The two stages trade off in K — seed assignment costs N * K distance
# folds, the within-cluster verify costs N^2 / 2K pair cosines — so the
# total is minimized at K ∝ sqrt(N), giving BOTH stages ~N^1.5 (the
# standard IVF cell-count law). A fixed K = 8 was quadratic in the pair
# stage: the round-7 100x decade probe measured 0.9 s -> 41.8 s (46x
# per decade); K ∝ N (fixed cluster size) just moved the quadratic into
# the assignment stage. Both engines derive K from the same count() so
# parity holds at every scale.
_SEM_K_MIN = 8
_SEM_TAU = 0.35  # cosine threshold (fixture embeddings are near-random;
# real text embeddings would sit at ~0.95+ — the parameter, not the shape)

_SEMDEDUP_SQL = f"""
WITH vl AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
),
kf AS (
    SELECT greatest({_SEM_K_MIN},
                    CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)) / 2) AS BIGINT))
           AS n_seeds
    FROM vl
),
seeds AS (
    SELECT CAST(vec_id AS INTEGER) AS cluster, v AS sv
    FROM vl CROSS JOIN kf WHERE vec_id < kf.n_seeds
),
dist AS (
    SELECT vl.vec_id, s.cluster,
           list_aggregate(list_transform(range(1, len(vl.v) + 1),
                          i -> (vl.v[i] - s.sv[i]) * (vl.v[i] - s.sv[i])),
                          'sum') AS d
    FROM vl CROSS JOIN seeds s
),
asg AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM dist
    ) t WHERE rn = 1
),
pairs AS (
    SELECT b.vec_id,
           {R("list_dot_product(av.v, bv.v) / (av.nrm * bv.nrm)", 6)} AS cos
    FROM asg a JOIN asg b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    JOIN vl av ON av.vec_id = a.vec_id
    JOIN vl bv ON bv.vec_id = b.vec_id
),
mx AS (SELECT vec_id, max(cos) AS max_cos_lower FROM pairs GROUP BY 1)
SELECT g.vec_id, g.cluster, mx.max_cos_lower,
       coalesce(mx.max_cos_lower < {_SEM_TAU}, TRUE) AS is_kept
FROM asg g LEFT JOIN mx ON mx.vec_id = g.vec_id
"""


@register("semdedup_prune", _SEMDEDUP_SQL)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: assign each vector to its
    nearest of K = max(8, ceil(sqrt(N)/2)) seed centroids (squared distance,
    ties to the lowest cluster), then within each cluster prune any
    vector whose cosine to a LOWER-id cluster-mate reaches tau=0.35.
    Emits every vector with its cluster, the max offending cosine (NULL
    if none) and the keep flag — the corpus-curation decision column.
    K ~ sqrt(N) balances the N*K assignment stage against the N^2/2K
    pair stage at ~N^1.5 each (see the constant block above — fixed K=8
    measured 46x per decade at the 100x probe). The count() here is a
    bounded driver-coordination action on the vector table (the
    kmeans-seed discipline), mirrored by the kf CTE in the oracle."""
    import math

    e = read_table(spark, sf_dir, "embeddings")
    vl = e.select(
        "vec_id",
        to_double_array(F.col("embedding")).alias("v"),
        norm(F.col("embedding")).alias("nrm"),
    )
    n_seeds = max(_SEM_K_MIN, math.ceil(math.sqrt(vl.count()) / 2))
    seeds = vl.filter(F.col("vec_id") < n_seeds).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("sv")
    )
    dist = vl.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cluster",
        F.aggregate(
            F.zip_with(F.col("v"), F.col("sv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cluster")
    # Assignment + vector + norm in ONE pinned table: the pair join reads
    # it on both sides and the final left join a third time — without the
    # pin the N x K distance fold and the argmin window re-run per
    # consumer (measured 3 scans -> 1).
    asgv = pin(
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster")
        .join(vl, "vec_id")
    )
    asg = asgv.select("vec_id", "cluster")
    # spread() the PROBE side of the pair join: under AQE-resized caching
    # the pinned asgv can land in one byte-sized partition, which would
    # serialize the O(cluster^2) interpreted-HOF cosine stage on one core
    # (measured 2x at sf0.1). The b side broadcasts, so the probe's
    # partitioning alone sets the pair stage's parallelism; at scale the
    # O(N) row exchange is minor next to the quadratic compare it feeds.
    a = spread(asgv).alias("a")
    b = asgv.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("b.vec_id").alias("vec_id"),
        dround(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("cos"),
    )
    mx = pairs.groupBy("vec_id").agg(F.max("cos").alias("max_cos_lower"))
    return asg.join(mx, "vec_id", "left").select(
        "vec_id",
        "cluster",
        "max_cos_lower",
        F.coalesce(F.col("max_cos_lower") < _SEM_TAU, F.lit(True)).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Substring-level duplicated spans
# ---------------------------------------------------------------------------

_SPAN_W = 12  # window width in tokens (Lee et al. use 50 BPE tokens; the
# fixture docs are 10-99 whitespace tokens, so 12 keeps spans non-trivial)


def _sql_window_hash(toks: str, pos: str) -> str:
    return f"md5(array_to_string(list_slice({toks}, {pos}, {pos} + {_SPAN_W - 1}), ' '))"


_SPANS_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= {_SPAN_W}
),
h AS (
    SELECT doc_id, pos, {_sql_window_hash('toks', 'pos')} AS wh
    FROM (SELECT doc_id, toks,
                 unnest(range(1, len(toks) - {_SPAN_W} + 2)) AS pos
          FROM t)
),
dup AS (SELECT wh FROM h GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
hit AS (SELECT doc_id, pos FROM h SEMI JOIN dup USING (wh)),
brk AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     > {_SPAN_W} OR
                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM hit
),
isl AS (
    SELECT doc_id, pos,
           sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_idx
    FROM brk
)
SELECT doc_id, CAST(span_idx AS INTEGER) AS span_idx,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPAN_W - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {_SPAN_W - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, span_idx
"""


@register("substring_dup_spans", _SPANS_SQL)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated substrings at W=12-token
    resolution: stride-1 window md5s -> windows in >=2 distinct docs ->
    per-doc merge of overlapping/adjacent hits (break when the gap
    between consecutive hit positions exceeds W) into spans. 1-based
    token positions, span covers [span_start, span_end] inclusive."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= _SPAN_W
    )
    h = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (_SPAN_W - 1))).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), _SPAN_W))).alias(
            "wh"
        ),
    )
    dup = (
        h.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    hit = h.join(dup, "wh", "left_semi").select("doc_id", "pos")
    ow = Window.partitionBy("doc_id").orderBy("pos")
    brk = hit.withColumn(
        "is_new",
        F.when(
            (F.col("pos") - F.lag("pos").over(ow) > _SPAN_W)
            | F.lag("pos").over(ow).isNull(),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    isl = brk.withColumn(
        "span_idx",
        F.sum("is_new").over(ow.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", F.col("span_idx").cast("int").alias("span_idx")).agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (_SPAN_W - 1)).cast("long").alias("span_end"),
        (F.max("pos") + (_SPAN_W - 1) - F.min("pos") + 1)
        .cast("long")
        .alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    )


# ---------------------------------------------------------------------------
# Containment near-dup (Broder 1997's "containment" resemblance variant,
# the signal SuperMinHash/"one-sided dup" pipelines use): directional
# |A ∩ B| / |A| over distinct shingle sets — catches a document EMBEDDED
# inside a larger one, which symmetric Jaccard dilutes below threshold.
# Candidates come from the shingle inverted index (the join count IS the
# intersection size), after dropping "promiscuous" shingles that appear
# in more than _CONT_DF_CAP documents — the standard df-cap that bounds
# posting-list fan-out at corpus scale. Containment is then computed
# over the CAPPED sets on both sides (a well-defined semantic both
# engines replay exactly; docs whose entire set is promiscuous drop out).
# Scale: the only shuffles are the posting groupBys and the capped
# posting self-join keyed on the shingle hash; per-key fan-out is
# <= _CONT_DF_CAP^2 by construction, never all-pairs.
# ---------------------------------------------------------------------------

_CONT_TAU = 0.8
_CONT_DF_CAP = 50

_CONTAIN_SQL = f"""
WITH {sql_shinglehash_ctes()},
posting0 AS (SELECT doc_id, unnest(hs) AS h FROM shinglehash),
keep AS (
    SELECT h FROM posting0 GROUP BY h
    HAVING count(*) <= {_CONT_DF_CAP}
),
posting AS (SELECT p.* FROM posting0 p SEMI JOIN keep USING (h)),
sizes AS (SELECT doc_id, count(*) AS sz FROM posting GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc, count(*) AS shared
    FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT s.inner_doc, s.outer_doc,
       CAST(s.shared AS BIGINT) AS shared_shingles,
       CAST(sa.sz AS BIGINT) AS inner_size,
       {R("s.shared / CAST(sa.sz AS DOUBLE)", 6)} AS containment
FROM shared s JOIN sizes sa ON sa.doc_id = s.inner_doc
WHERE {R("s.shared / CAST(sa.sz AS DOUBLE)", 6)} >= {_CONT_TAU}
"""


def capped_shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHED df-capped shingle posting list (doc_id, h) — the shared
    candidate-index base of the containment family
    (containment_dedup_pairs here, containment_root_resolution in
    round9e). Composes `operators/dedup.py:hashed_shingle_table` (the
    cached shared first stage of the shingle family); identical plan
    across builders, so repeat calls within one query build are
    CacheManager same-plan hits."""
    from ..operators.dedup import hashed_shingle_table

    docs = read_table(spark, sf_dir, "documents")
    hashed = hashed_shingle_table(docs)
    posting0 = hashed.select("doc_id", F.explode("hs").alias("h"))
    keep = (
        posting0.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _CONT_DF_CAP)
        .select("h")
    )
    return pin(posting0.join(keep, "h", "left_semi"))


def containment_shared_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(shared, sizes) of the containment candidate stage: per ordered
    doc pair the co-shingle count over the capped postings, and per doc
    its capped set size. `shared` is the expensive inverted-index
    self-join + pair aggregation, CACHED (r10) because
    containment_dedup_pairs and containment_root_resolution build the
    bit-identical subtree — the second consumer in a session was paying
    the full self-join again for nothing."""
    posting = capped_shingle_postings(spark, sf_dir)
    # sizes is referenced twice by root resolution's candidate filter
    # (inner + outer side) and once here — cache the doc-grain frame
    sizes = pin(posting.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("sz")
    ))
    a = posting.select(F.col("doc_id").alias("inner_doc"), "h")
    b = posting.select(F.col("doc_id").alias("outer_doc"), "h")
    shared = pin(  # two containment consumers
        a.join(b, "h")
        .filter(F.col("inner_doc") != F.col("outer_doc"))
        .groupBy("inner_doc", "outer_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return shared, sizes


@register("containment_dedup_pairs", _CONTAIN_SQL)
def containment_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs (inner ⊆ outer at >= 0.8) over
    df-capped distinct shingle sets; inverted-index candidates only.

    Composes the shared containment candidate stage
    (containment_shared_pairs) over the cached shingle family base."""
    shared, sizes = containment_shared_pairs(spark, sf_dir)
    cont = dround(F.col("shared") / F.col("sz").cast("double"), 6)
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("inner_doc"), "sz"), "inner_doc"
        )
        .select(
            "inner_doc",
            "outer_doc",
            F.col("shared").cast("long").alias("shared_shingles"),
            F.col("sz").cast("long").alias("inner_size"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= _CONT_TAU)
    )
