"""Product-quantization ANN: PQ encode + asymmetric-distance (ADC) top-k,
standalone and composed with IVF coarse routing (IVF-PQ).

The missing tier between brute-force cosine (`simsearch_topk_cosine`) and
bucket prefilters (LSH / IVF): at 10^10+ vectors the float corpus itself
no longer fits the cluster's memory budget. PQ splits each vector into M
subvectors and stores one small-codebook code per subvector — here
M=8 x 8 dims with K=4 codes, i.e. a 64-float (256-byte) vector becomes 8
one-byte codes, a 32x compression. A query is answered WITHOUT decoding:
precompute the M x K table of (query-subvector x centroid) distances,
then each candidate's approximate distance is M table lookups (ADC,
Jegou et al., "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011 — public method).

Spark shape: ENCODING is the landing-time job — posexplode to
(vec, subspace, dim) terms, one broadcast join against the K x M x 8
codebook, one partial-agg'd groupBy to per-(vec, subspace, code)
distances, one window argmin. The shuffle carries 8-byte partials, never
vectors. SCORING is the cheap repeated path: codes ⋈ broadcast LUT →
groupBy(vec) sum — no vector math, no vector shuffle, and top-k is
TakeOrderedAndProject. At production scale codes land as a table and
scoring runs per query against codes alone; re-ranking the top
candidates against true floats (as `simsearch_lsh_topk` does) composes
on top.

Codebook "training" here is deterministic seeding (subvectors of
vec_id 1..4 -> codes 0..3) so the DuckDB oracle can replay encode + LUT
+ ADC end-to-end; real Lloyd refinement per subspace is exactly
`kmeans_embeddings`'s loop run M times and changes no plumbing.

SINGLE SOURCE: the encode/LUT pipeline exists ONCE — `_PQ_PIPELINE_CTES`
for the oracles, `_pq_parts/_pq_cents/_pq_codes/_pq_lut` for the Spark
builders. Both registered queries (plain ADC and IVF-PQ) compose from
these; a codebook/distance change lands in one place (repo rule: shared
arithmetic never gets inlined copies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..sources.tables import read_table
from .registry import register

_PQ_SUBDIM = 8   # dims per subspace (8 subspaces x 8 = the fixture's 64 dims)
_PQ_K = 4        # codes per subspace (seeds: vec_id 1..K -> code vec_id-1)
_PQ_TOPK = 10

# The shared encode + query-LUT pipeline, ending in `codes` (corpus PQ
# codes, query vec 0 excluded) and `lut` (query subdistance table).
_PQ_PIPELINE_CTES = f"""parts AS (
    SELECT vec_id, (i - 1) // {_PQ_SUBDIM} AS sub, (i - 1) % {_PQ_SUBDIM} AS w,
           CAST(embedding[i] AS DOUBLE) AS val
    FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
          FROM embeddings)
),
cents AS (
    SELECT CAST(vec_id - 1 AS INTEGER) AS code, sub, w, val AS cval
    FROM parts WHERE vec_id BETWEEN 1 AND {_PQ_K}
),
subdist AS (
    SELECT c.vec_id, c.sub, k.code,
           sum((c.val - k.cval) * (c.val - k.cval)) AS d
    FROM parts c JOIN cents k ON k.sub = c.sub AND k.w = c.w
    WHERE c.vec_id <> 0
    GROUP BY 1, 2, 3
),
codes AS (
    SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
        FROM subdist
    ) t WHERE rn = 1
),
lut AS (
    SELECT k.sub, k.code, sum((p.val - k.cval) * (p.val - k.cval)) AS qd
    FROM parts p JOIN cents k ON k.sub = p.sub AND k.w = p.w
    WHERE p.vec_id = 0
    GROUP BY 1, 2
)"""


def _pq_parts(e: DataFrame) -> DataFrame:
    """(vec_id, sub, w, val) terms from (vec_id, v array<double>)."""
    return e.select("vec_id", F.posexplode("v").alias("dim", "val")).select(
        "vec_id",
        F.floor(F.col("dim") / _PQ_SUBDIM).cast("int").alias("sub"),
        F.pmod(F.col("dim"), F.lit(_PQ_SUBDIM)).alias("w"),
        "val",
    )


def _pq_cents(parts: DataFrame) -> DataFrame:
    """Deterministic seed codebook: subvectors of vec_id 1..K."""
    return parts.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= _PQ_K)
    ).select(
        (F.col("vec_id") - 1).cast("int").alias("code"),
        "sub",
        "w",
        F.col("val").alias("cval"),
    )


def _pq_term():
    # built lazily: Column ops need an active SparkContext in PySpark 4,
    # and this module imports at registry load time
    return (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))


def _pq_codes(parts: DataFrame, cents: DataFrame) -> DataFrame:
    """Encode: per-(vector, subspace) distance to each of the K
    centroids, then argmin. The broadcast keeps the corpus side
    shuffle-free until the 8-byte partial sums; the window partition is
    (vec, sub) — K rows."""
    subdist = (
        parts.filter(F.col("vec_id") != 0)
        .join(F.broadcast(cents), ["sub", "w"])
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum(_pq_term()).alias("d"))
    )
    w_argmin = Window.partitionBy("vec_id", "sub").orderBy("d", "code")
    return (
        subdist.withColumn("rn", F.row_number().over(w_argmin))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "code")
    )


def _pq_lut(parts: DataFrame, cents: DataFrame) -> DataFrame:
    """Query (vec 0) subdistance lookup table: M x K rows."""
    return (
        parts.filter(F.col("vec_id") == 0)
        .join(F.broadcast(cents), ["sub", "w"])
        .groupBy("sub", "code")
        .agg(F.sum(_pq_term()).alias("qd"))
    )


_PQ_ADC_SQL = f"""
WITH {_PQ_PIPELINE_CTES},
adc AS (
    SELECT c.vec_id, {R('sum(l.qd)', 6)} AS adc_dist
    FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
    GROUP BY 1
)
SELECT vec_id, adc_dist FROM adc
ORDER BY adc_dist, vec_id LIMIT {_PQ_TOPK}
"""


@register("simsearch_pq_adc_topk", _PQ_ADC_SQL)
def simsearch_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus (M=8 subspaces, K=4 codes, deterministic
    seed codebook), then answer vec_id=0's top-10 by asymmetric distance:
    one M x K lookup table, M lookups per candidate, zero vector math on
    the scoring path."""
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    parts = _pq_parts(e)
    cents = _pq_cents(parts)
    codes = _pq_codes(parts, cents)
    lut = _pq_lut(parts, cents)
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("vec_id")
        .agg(dround(F.sum("qd"), 6).alias("adc_dist"))
    )
    return adc.orderBy("adc_dist", "vec_id").limit(_PQ_TOPK)


# ---------------------------------------------------------------------------
# IVF-PQ: the composed production index (Jegou et al. 2011 §V; the FAISS
# IVFPQ shape). `simsearch_ivf_cells` prunes the search to the query's
# cell but scores true floats; `simsearch_pq_adc_topk` scores compressed
# codes but scans every vector. At 10^10+ vectors you need BOTH: route
# the query to its nprobe nearest cells, then ADC-score only the codes
# landed in those cells — the scoring path touches nprobe/K of the
# corpus and never a float vector.
#
# Spark shape: cell assignment and PQ codes are the landing-time jobs
# (both one broadcast join + one partial-agg'd shuffle of scalar
# partials); the query path is [probe cells: K-row broadcast argsort] ->
# [semi join codes on cell: partition-pruned at scale] -> [M LUT lookups
# per candidate] -> TakeOrderedAndProject. Cells use the same cosine
# coarse quantizer as `simsearch_ivf_cells`; ADC refines by L2 on the
# same PQ codebook as `simsearch_pq_adc_topk` (composed from the shared
# helpers above) — each stage swaps for its trained version without
# changing the plumbing.
# ---------------------------------------------------------------------------

_IVFPQ_K = 8      # coarse cells (seeds: vec_id < K)
_IVFPQ_NPROBE = 2

_IVFPQ_COS = (
    "list_dot_product(e.v, s.sv) / "
    "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.sv, s.sv)))"
)

_IVFPQ_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e WHERE vec_id < {_IVFPQ_K}),
assign AS (
    SELECT e.vec_id, s.seed_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_IVFPQ_COS} DESC, s.seed_id ASC) AS rn
    FROM e CROSS JOIN seeds s
),
cells AS (SELECT vec_id, seed_id AS cell FROM assign WHERE rn = 1),
probe AS (SELECT seed_id AS cell FROM assign WHERE vec_id = 0 AND rn <= {_IVFPQ_NPROBE}),
{_PQ_PIPELINE_CTES},
cand AS (
    SELECT c.vec_id, c.sub, c.code, cl.cell
    FROM codes c JOIN cells cl ON cl.vec_id = c.vec_id
    SEMI JOIN probe p ON p.cell = cl.cell
),
adc AS (
    SELECT c.vec_id, any_value(c.cell) AS cell, {R('sum(l.qd)', 6)} AS adc_dist
    FROM cand c JOIN lut l ON l.sub = c.sub AND l.code = c.code
    GROUP BY c.vec_id
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell, adc_dist FROM adc
ORDER BY adc_dist, vec_id LIMIT {_PQ_TOPK}
"""


@register("simsearch_ivf_pq_topk", _IVFPQ_SQL)
def simsearch_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for vec_id=0: probe the query's nprobe=2 nearest
    coarse cells, ADC-score only the PQ codes landed there. No float
    vector is read on the scoring path."""
    from ..functions.vectors import cosine

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = e.filter(F.col("vec_id") < _IVFPQ_K).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.desc("seed_cos"), F.asc("seed_id")
    )
    # Both consumers (cells at rn==1, probe at vec 0 rn<=nprobe) read
    # rn <= nprobe rows only.
    assign = (
        e.crossJoin(F.broadcast(seeds))
        .withColumn("seed_cos", cosine(F.col("v"), F.col("sv")))
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("vec_id", "seed_id", "rn")
    )
    cells = assign.filter(F.col("rn") == 1).select(
        "vec_id", F.col("seed_id").alias("cell")
    )
    probe = assign.filter(F.col("vec_id") == 0).select(
        F.col("seed_id").alias("cell")
    )

    parts = _pq_parts(e)
    cents = _pq_cents(parts)
    codes = _pq_codes(parts, cents)
    lut = _pq_lut(parts, cents)
    cand = codes.join(cells, "vec_id").join(F.broadcast(probe), "cell", "left_semi")
    adc = (
        cand.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("vec_id")
        .agg(
            F.first("cell").cast("long").alias("cell"),
            dround(F.sum("qd"), 6).alias("adc_dist"),
        )
    )
    return adc.select("vec_id", "cell", "adc_dist").orderBy(
        "adc_dist", "vec_id"
    ).limit(_PQ_TOPK)
