"""Round-9f extension tier: exact set-similarity join via prefix
filtering, and AMS sketch join-size estimation.

- `setjoin_prefix_filter` — the AllPairs/PPJoin prefix-filtering
  principle (Bayardo et al. 2007, WWW; Xiao et al. 2008): order each
  doc's shingles rarest-first under ONE global (df, hash) order; a pair
  with Jaccard >= t MUST share a shingle within each side's first
  |x| - ceil(t|x|) + 1 entries, so indexing only prefixes prunes the
  candidate space while remaining EXACT. The oracle generates
  candidates the brute way (every co-shingle pair) and applies the
  same verify — the two DIFFERENT candidate generators must produce
  the identical final pair set, which is precisely the prefix-filter
  completeness theorem under test.
- `ams_f2_join_size` — the Alon-Matias-Szegedy F2 sketch (STOC 1996):
  16 sign-hash estimators Z_i = sum(sign_i(key)) whose squared mean
  estimates sum_k n_k^2 — the self-join size a query optimizer needs
  before picking a join strategy. Signs derive from one md5 with
  mod-Mersenne affine rehashes (the measured-independent family,
  CLAUDE.md rendezvous lesson), so both engines replay the sketch
  bit-for-bit and the estimate is deterministic.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the exact-similarity-join and cardinality-estimation
primitives a 100 TB platform's dedup and optimizer layers run.

Scale notes: the prefix index carries ~(1-t) of each doc's postings —
at t=0.7 that is a 70% reduction in index size AND candidate fan-out
versus the full inverted index, with zero recall loss; verification
joins only candidate pairs to their postings. The AMS pass is one
scan with codegen'd integer arithmetic folded into a single global
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_md5_hex6_to_int, sql_shinglehash_ctes
from ..functions.text import md5_hex6_to_int
from ..sources.tables import read_table
from .registry import register

# SAME df-cap as the production containment/graph stages.
from .semantic_dedup import _CONT_DF_CAP  # noqa: E402

# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join
# ---------------------------------------------------------------------------

_SSJ_TAU_NUM = 7  # Jaccard threshold 7/10 — integer ceil arithmetic
_SSJ_TAU_DEN = 10


def _ssj_sql() -> str:
    jacc = R("CAST(i.i AS DOUBLE) / (sa.s + sb.s - i.i)", 6)
    return f"""
WITH {sql_shinglehash_ctes()},
p0 AS (SELECT doc_id, unnest(hs) AS h FROM shinglehash),
keep AS (SELECT h FROM p0 GROUP BY h HAVING count(*) <= {_CONT_DF_CAP}),
p AS MATERIALIZED (
    SELECT CAST(p0.doc_id AS BIGINT) AS doc_id, p0.h
    FROM p0 SEMI JOIN keep USING (h)
),
sz AS (SELECT doc_id, count(*) AS s FROM p GROUP BY doc_id),
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
i AS (
    SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN p a ON a.doc_id = c.doc_a
    JOIN p b ON b.doc_id = c.doc_b AND b.h = a.h
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, CAST(i.i AS BIGINT) AS n_shared,
       CAST(sa.s AS BIGINT) AS size_a, CAST(sb.s AS BIGINT) AS size_b,
       {jacc} AS jaccard
FROM i
JOIN sz sa ON sa.doc_id = i.doc_a
JOIN sz sb ON sb.doc_id = i.doc_b
WHERE i.i * {_SSJ_TAU_DEN} >= (sa.s + sb.s - i.i) * {_SSJ_TAU_NUM}
"""


def _ssj_stages(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings p, sizes sz, candidate pairs cand) of the prefix-filter
    join — shared by the registered query and the scale probe's
    candidate-law counter (tools/scale_probe_100x.py)."""
    from ..operators.dedup import hashed_shingle_table

    docs = read_table(spark, sf_dir, "documents")
    p0 = hashed_shingle_table(docs).select(
        "doc_id", F.explode("hs").alias("h")
    )
    # df as a COUNT WINDOW over the h partition (r10): the old shape
    # shuffled p0 into a per-h aggregate AND joined it back (two
    # exchanges + a join); one h-partitioned window computes df and
    # keeps the posting row in the same pass (the cap filter drops
    # whole h-groups, so df over kept postings equals df over p0).
    p = (
        p0.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("df") <= _CONT_DF_CAP)
    )
    # rn and the set size s share ONE doc_id-partitioned window stage
    # (r10: s was a separate groupBy + join — another exchange pair);
    # the unordered count window rides the same shuffle/sort.
    wd = Window.partitionBy("doc_id")
    ranked = p.withColumn(
        "rn",
        F.row_number().over(wd.orderBy(F.asc("df"), F.asc("h"))),
    ).withColumn("s", F.count(F.lit(1)).over(wd))
    sz = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    pref_len = (
        F.col("s")
        - ((F.col("s") * _SSJ_TAU_NUM + (_SSJ_TAU_DEN - 1)) / _SSJ_TAU_DEN)
        .cast("long")
        + 1
    )
    prefix = ranked.filter(F.col("rn") <= pref_len).select("doc_id", "h", "s")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "h", F.col("s").alias("s_a")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "h", F.col("s").alias("s_b")
    )
    # Length filter (AllPairs/PPJoin, r11): Jaccard >= t needs
    # min(s) >= t*max(s) — i <= min(s) and union >= max(s), so
    # 10*min < 7*max makes the verify inequality strictly unsatisfiable.
    # Applying it IN the candidate join condition prunes pairs before the
    # distinct and before the set-attach verify joins (exact integer
    # arithmetic, same in the completeness proof's direction: only pairs
    # that cannot qualify are dropped, so the output set is unchanged —
    # the brute-force oracle is the proof). Measured at sf0.1:
    # candidates 202,628 -> see OPTIMIZATION_r11.md.
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.col("s_a") * _SSJ_TAU_DEN
                >= F.col("s_b") * _SSJ_TAU_NUM
            )
            & (
                F.col("s_b") * _SSJ_TAU_DEN
                >= F.col("s_a") * _SSJ_TAU_NUM
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return p, sz, cand


def setjoin_candidate_count(spark: SparkSession, sf_dir: str) -> int:
    """Candidate pairs the prefix index generates BEFORE verification —
    the growth-law counter the 100x decade probe records next to the
    MinHash-LSH table (tools/scale_probe_100x.py)."""
    _, _, cand = _ssj_stages(spark, sf_dir)
    return cand.count()


@register("setjoin_prefix_filter", _ssj_sql())
def setjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.7 pairs over df-capped distinct shingle sets,
    with candidates from PREFIX FILTERING: under the global
    (df ASC, hash ASC) order, only each doc's first
    s - ceil(0.7*s) + 1 postings are indexed — any qualifying pair
    provably shares a prefix entry, so pruning ~70% of the index loses
    nothing. The oracle mines candidates from EVERY co-shingle pair;
    equality of the final sets is the completeness theorem, checked on
    real data. ceil uses integer arithmetic ((7s+9) div 10) — float
    0.7*s would ceil wrong on exact multiples in either engine."""
    p, sz, cand = _ssj_stages(spark, sf_dir)
    # PPJoin-style verify (r10): attach each side's CAPPED POSTING SET
    # as an array and count the intersection in codegen. The old shape
    # re-exploded both sides' postings through two shuffle joins and a
    # groupBy — ~|cand| x avg-set-size (10.5M at sf0.1, for 202k
    # candidates over 260k postings) rows through an exchange plus an
    # aggregation exchange; here the per-pair work is the same O(s)
    # intersection but the aggregate shuffle is gone and each doc's set
    # ships once per candidate pair (measured 3.67 s -> see
    # OPTIMIZATION_r10.md). array_intersect over distinct elements
    # yields exactly the old co-occurrence count.
    csets = p.groupBy("doc_id").agg(
        F.collect_list("h").alias("hh"),
        F.count(F.lit(1)).alias("s"),
    )
    ca = csets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hh").alias("ha"),
        F.col("s").alias("s_a"),
    )
    cb = csets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hh").alias("hb"),
        F.col("s").alias("s_b"),
    )
    inter = (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "i", F.size(F.array_intersect("ha", "hb")).cast("long")
        )
    )
    jacc = dround(
        F.col("i").cast("double")
        / (F.col("s_a") + F.col("s_b") - F.col("i")),
        6,
    )
    # verify on the EXACT integer inequality 10*i >= 7*(union) in BOTH
    # engines: the prefix-filter completeness theorem covers pairs with
    # TRUE Jaccard >= t, but a rounded jaccard in [t - 5e-7, t) would
    # pass a dround(6)-threshold verify in the brute-force oracle while
    # the prefix index may legitimately prune it (ADVICE r9). dround
    # stays only on the REPORTED jaccard column.
    return (
        inter.filter(
            F.col("i") * F.lit(_SSJ_TAU_DEN)
            >= (F.col("s_a") + F.col("s_b") - F.col("i"))
            * F.lit(_SSJ_TAU_NUM)
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("i").cast("long").alias("n_shared"),
            F.col("s_a").cast("long").alias("size_a"),
            F.col("s_b").cast("long").alias("size_b"),
            jacc.alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# AMS F2 sketch: self-join size estimation
# ---------------------------------------------------------------------------

_AMS_K = 16


def _ams_sign_key(i: int) -> str:
    return (
        f"concat_ws('|', 'ams', '{i}',"
        " CAST(CAST(user_id AS BIGINT) AS VARCHAR))"
    )


def _ams_sql() -> str:
    # Signs on the KEY grain (Z_i = sum_k n_k * s_i(k)): 16 independent
    # md5 draws per key row — the key grain is bounded (distinct users),
    # so full md5 independence costs nothing, and the correlated-affine
    # trap (CLAUDE.md rendezvous lesson; probed here: consecutive-odd
    # multipliers under-estimated F2 by 25x) cannot arise.
    signs = ", ".join(
        f"CAST(sum(n * (1 - 2 * ({sql_md5_hex6_to_int(_ams_sign_key(i))}"
        f" % 2))) AS BIGINT) AS z{i}"
        for i in range(_AMS_K)
    )
    est_sum = " + ".join(f"z{i} * z{i}" for i in range(_AMS_K))
    err = (
        "(CAST(ams_f2_x16 AS DOUBLE) / 16.0 - CAST(exact_f2 AS DOUBLE))"
        " / CAST(exact_f2 AS DOUBLE)"
    )
    return f"""
WITH keyed AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
sk AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n * n) AS BIGINT) AS exact_f2,
           {signs}
    FROM keyed
),
j AS (
    SELECT n_rows, n_keys, exact_f2,
           CAST({est_sum} AS BIGINT) AS ams_f2_x16
    FROM sk
)
SELECT n_rows, n_keys, exact_f2, ams_f2_x16,
       {R('CAST(ams_f2_x16 AS DOUBLE) / 16.0', 2)} AS ams_f2,
       {R(err, 6)} AS rel_err
FROM j
"""


@register("ams_f2_join_size", _ams_sql())
def ams_f2_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment sketch vs exact self-join size on the events
    user_id key. The scan reduces to the key grain first (map-side
    combined groupBy); 16 independent md5 sign draws then ride the
    bounded key frame, so Z_i = sum(n_k * s_i(k)) and the truth
    sum(n_k^2) fold into ONE aggregate. All arithmetic is integer
    until the two report divisions. (An affine rehash family was
    probed first and under-estimated F2 by 25x — correlated signs;
    md5-per-draw on the key grain is both exact-cheap and clean.)"""
    keyed = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )

    def sign(i: int) -> F.Column:
        h = md5_hex6_to_int(
            F.concat_ws(
                "|",
                F.lit("ams"),
                F.lit(str(i)),
                F.col("user_id").cast("string"),
            )
        )
        return 1 - 2 * (h % 2)

    z_aggs = [
        F.sum(F.col("n") * sign(i)).cast("long").alias(f"z{i}")
        for i in range(_AMS_K)
    ]
    sk = keyed.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("exact_f2"),
        *z_aggs,
    )
    est_sum = None
    for i in range(_AMS_K):
        term = F.col(f"z{i}") * F.col(f"z{i}")
        est_sum = term if est_sum is None else est_sum + term
    j = sk.withColumn("ams_f2_x16", est_sum.cast("long"))
    err = (
        F.col("ams_f2_x16").cast("double") / F.lit(16.0)
        - F.col("exact_f2").cast("double")
    ) / F.col("exact_f2").cast("double")
    return j.select(
        "n_rows",
        "n_keys",
        "exact_f2",
        "ams_f2_x16",
        dround(F.col("ams_f2_x16").cast("double") / F.lit(16.0), 2).alias(
            "ams_f2"
        ),
        dround(err, 6).alias("rel_err"),
    )
