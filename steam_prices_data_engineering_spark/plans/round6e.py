"""Round-6 extension operators, part E: winnowing fingerprint selection
(Schleimer, Wilkerson & Aiken 2003 — the MOSS local fingerprinting
algorithm), top-K vocabulary churn between ingest halves, and Burrows'
Delta stylometric distance (Burrows 2002).

Same discipline as the earlier round-6 parts: shingle/token hash
arithmetic COMPOSES from functions/text.py + functions/sqlfrag.py (one
formula, two engines), interpreted-HOF array columns are staged and
cached before their explode, global top-K uses orderBy().limit(k)
(TakeOrderedAndProject) with rank windows only on the post-limit
survivors, and everything downstream of the fact scan lives on bounded
grains.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the local-fingerprint dedup, vocabulary-drift and
source-attribution jobs a 100 TB training-data platform runs on the
same engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import pin
from ..sources.tables import read_table
from .registry import register

# ===========================================================================
# Winnowing fingerprint selection (Schleimer et al. 2003): slide a
# window of w = 4 consecutive 3-gram shingle hashes over each document
# and keep each window's minimum (rightmost on ties — the paper's
# robust-winnowing rule); the distinct selected hashes are the
# document's fingerprint set. Guarantee: any shared substring of at
# least w + k - 1 = 6 tokens yields a shared fingerprint. Expected
# selected density is 2 / (w + 1) = 0.4 of the k-gram positions — the
# report compares the measured density against it.
#
# Scale shape: the shingle-hash array is STAGED and CACHED before its
# posexplode (interpreted-HOF rule); the window min is PARTITIONED by
# doc_id with a 4-row frame (never a global window); the rightmost-min
# tie rule is encoded arithmetically (min of h * C + (C - 1 - pos),
# C = 2^20 > any position) so both engines pick the identical hash with
# zero comparator ambiguity. Everything after the per-doc distinct is
# the bounded source grain.
# ===========================================================================

_WIN_W = 4
_WIN_C = 1_048_576  # 2^20 — h * C + pos stays < 2^51 (h < 2^31)


def _winnow_sql() -> str:
    from ..functions.sqlfrag import sql_shingle_hashes, sql_token_hashes

    return f"""
WITH tokhash AS (
    SELECT doc_id, source, {sql_token_hashes()} AS th FROM documents
),
shf AS (
    SELECT doc_id, source, {sql_shingle_hashes('th')} AS sh FROM tokhash
),
per_doc AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(sh)) AS BIGINT) AS n_kgrams
    FROM shf GROUP BY source
),
pe AS (
    SELECT doc_id, source, len(sh) AS n_sh,
           unnest(range(1, len(sh) + 1)) AS pos, unnest(sh) AS h
    FROM shf
),
sel AS (
    SELECT doc_id, source, n_sh, pos,
           min(h * {_WIN_C} + ({_WIN_C} - 1 - pos))
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS mk
    FROM pe
),
fp AS (
    SELECT DISTINCT doc_id, source,
           CAST(floor(mk / {_WIN_C}) AS BIGINT) AS fph
    FROM sel WHERE pos <= n_sh - {_WIN_W - 1}
),
per_fp AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_fingerprints
    FROM fp GROUP BY source
)
SELECT d.source, d.n_docs, d.n_kgrams,
       CAST(coalesce(f.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
       {R('''CAST(coalesce(f.n_fingerprints, 0) AS DOUBLE)
             / nullif(d.n_kgrams, 0)''', 6)} AS density,
       {R(f'CAST(2.0 AS DOUBLE) / ({_WIN_W} + 1)', 6)} AS expected_density,
       {R(f'''CAST(coalesce(f.n_fingerprints, 0) AS DOUBLE)
              / nullif(d.n_kgrams, 0)
              / (CAST(2.0 AS DOUBLE) / ({_WIN_W} + 1))''', 6)}
           AS density_ratio
FROM per_doc d LEFT JOIN per_fp f ON f.source = d.source
"""


@register("winnowing_fingerprint_density", _winnow_sql())
def winnowing_fingerprint_density(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source winnowing fingerprint density vs the 2/(w+1) law."""
    from ..functions.text import shingle_hash_array, token_hash_array

    d = read_table(spark, sf_dir, "documents")
    th = d.select(
        "doc_id", "source", token_hash_array(F.col("text")).alias("th")
    )
    shf = th.select(
        "doc_id", "source", shingle_hash_array(F.col("th")).alias("sh")
    )
    shf = pin(shf)  # doc stats + the posexplode
    per_doc = shf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("sh")).cast("long").alias("n_kgrams"),
    )
    pe = shf.select(
        "doc_id",
        "source",
        F.size("sh").alias("n_sh"),
        F.posexplode("sh").alias("pos0", "h"),
    ).select(
        "doc_id", "source", "n_sh", (F.col("pos0") + 1).alias("pos"), "h"
    )
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WIN_W - 1)
    )
    sel = pe.select(
        "doc_id",
        "source",
        "n_sh",
        "pos",
        F.min(
            F.col("h") * _WIN_C + (F.lit(_WIN_C - 1) - F.col("pos"))
        )
        .over(wmin)
        .alias("mk"),
    )
    fp = (
        sel.filter(F.col("pos") <= F.col("n_sh") - (_WIN_W - 1))
        .select(
            "doc_id",
            "source",
            F.floor(F.col("mk") / _WIN_C).cast("long").alias("fph"),
        )
        .distinct()
    )
    per_fp = fp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints")
    )
    exp_d = F.lit(2.0) / (_WIN_W + 1)
    dens = F.col("n_fingerprints").cast("double") / F.nullif(
        F.col("n_kgrams"), F.lit(0)
    )
    return (
        per_doc.join(per_fp, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_kgrams",
            F.coalesce(F.col("n_fingerprints"), F.lit(0))
            .cast("long")
            .alias("n_fingerprints"),
        )
        .select(
            "source",
            "n_docs",
            "n_kgrams",
            "n_fingerprints",
            dround(dens, 6).alias("density"),
            dround(exp_d, 6).alias("expected_density"),
            dround(dens / exp_d, 6).alias("density_ratio"),
        )
    )


# ===========================================================================
# Top-K vocabulary churn: split the corpus at its doc_id midpoint (the
# ingest-order proxy) and diff the two halves' top-20 token lists —
# Jaccard-style membership status plus rank displacement per token. The
# drift monitor a corpus team reads before retraining a tokenizer.
#
# Scale shape: the split bound is a broadcast 1-row aggregate; each
# half's top-20 is orderBy().limit() (TakeOrderedAndProject — streaming
# per-partition top-k, never a global sort); rank windows run on the 20
# post-limit survivors only (census-allowlisted).
# ===========================================================================

_CHURN_K = 20

_CHURN_SQL = f"""
WITH bounds AS (
    SELECT CAST(floor((min(doc_id) + max(doc_id)) / 2.0) AS BIGINT) AS mid
    FROM documents
),
tok AS (
    SELECT CASE WHEN d.doc_id <= b.mid THEN 0 ELSE 1 END AS side,
           unnest(string_split(d.text, ' ')) AS tok
    FROM documents d CROSS JOIN bounds b
),
cnt AS (
    SELECT side, tok, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY side, tok
),
old_top AS (
    SELECT tok, c FROM cnt WHERE side = 0
    ORDER BY c DESC, tok ASC LIMIT {_CHURN_K}
),
new_top AS (
    SELECT tok, c FROM cnt WHERE side = 1
    ORDER BY c DESC, tok ASC LIMIT {_CHURN_K}
),
old_r AS (
    SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
    FROM old_top
),
new_r AS (
    SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
    FROM new_top
)
SELECT coalesce(o.tok, n.tok) AS token,
       CAST(o.rn AS BIGINT) AS rank_old,
       CAST(n.rn AS BIGINT) AS rank_new,
       CAST(o.c AS BIGINT) AS n_old,
       CAST(n.c AS BIGINT) AS n_new,
       CASE WHEN o.tok IS NULL THEN 'entered'
            WHEN n.tok IS NULL THEN 'dropped'
            ELSE 'both' END AS status,
       CAST(CASE WHEN o.tok IS NOT NULL AND n.tok IS NOT NULL
                 THEN abs(o.rn - n.rn) END AS BIGINT) AS rank_shift
FROM old_r o FULL OUTER JOIN new_r n ON n.tok = o.tok
"""


@register("topk_token_churn", _CHURN_SQL)
def topk_token_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership + rank churn of the top-20 tokens, old vs new half."""
    from ..functions.text import tokens

    d = read_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.floor((F.min("doc_id") + F.max("doc_id")) / 2.0)
        .cast("long")
        .alias("mid")
    )
    cnt = (
        d.crossJoin(F.broadcast(bounds))
        .select(
            F.when(F.col("doc_id") <= F.col("mid"), 0)
            .otherwise(1)
            .alias("side"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("side", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wr = Window.orderBy(F.desc("c"), F.asc("tok"))

    def top(side):
        return (
            cnt.filter(F.col("side") == side)
            .orderBy(F.desc("c"), F.asc("tok"))
            .limit(_CHURN_K)
            .select("tok", "c", F.row_number().over(wr).alias("rn"))
        )

    o = top(0).select(
        F.col("tok").alias("otok"),
        F.col("c").alias("oc"),
        F.col("rn").alias("orn"),
    )
    n = top(1).select(
        F.col("tok").alias("ntok"),
        F.col("c").alias("nc"),
        F.col("rn").alias("nrn"),
    )
    j = o.join(n, F.col("ntok") == F.col("otok"), "full_outer")
    return j.select(
        F.coalesce(F.col("otok"), F.col("ntok")).alias("token"),
        F.col("orn").cast("long").alias("rank_old"),
        F.col("nrn").cast("long").alias("rank_new"),
        F.col("oc").cast("long").alias("n_old"),
        F.col("nc").cast("long").alias("n_new"),
        F.when(F.col("otok").isNull(), "entered")
        .when(F.col("ntok").isNull(), "dropped")
        .otherwise("both")
        .alias("status"),
        F.when(
            F.col("otok").isNotNull() & F.col("ntok").isNotNull(),
            F.abs(F.col("orn") - F.col("nrn")),
        )
        .cast("long")
        .alias("rank_shift"),
    )


# ===========================================================================
# Burrows' Delta (Burrows 2002; Evert et al. 2017): the stylometric
# distance between sources — per-source rates of the corpus's top-20
# most frequent tokens (the "function words"), z-scored per token
# across sources (population sd, explicit monoid form), then
# Delta(a, b) = mean |z_a - z_b|. The source-attribution /
# contamination-forensics read: near-zero Delta pairs share a
# generator.
#
# Scale shape: one explode feeds BOTH the global top-20 (TakeOrdered)
# and the (source, token) counts; the function-word panel broadcasts
# onto the bounded count frame; the z grid and the pairwise join live
# on the 20 x |sources| grain. A (source, token) spine guarantees
# zero-count cells enter the z-scores.
# ===========================================================================

_DELTA_K = 20

_DELTA_SQL = f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS MATERIALIZED (
    SELECT source, tok, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY source, tok
),
fw AS MATERIALIZED (
    SELECT tok FROM (
        SELECT tok, sum(c) AS tc FROM cnt GROUP BY tok
    ) g ORDER BY tc DESC, tok ASC LIMIT {_DELTA_K}
),
totals AS MATERIALIZED (
    SELECT source, CAST(sum(c) AS DOUBLE) AS nt FROM cnt GROUP BY source
),
spine AS (
    SELECT t.source, t.nt, f.tok FROM totals t CROSS JOIN fw f
),
rate AS MATERIALIZED (
    SELECT s.source, s.tok,
           1000.0 * coalesce(c.c, 0) / s.nt AS r
    FROM spine s LEFT JOIN cnt c ON c.source = s.source AND c.tok = s.tok
),
zstat AS (
    SELECT tok, avg(r) AS m,
           sqrt(greatest(avg(r * r) - avg(r) * avg(r), 0.0)) AS sd,
           CAST(count(*) AS DOUBLE) AS g
    FROM rate GROUP BY tok
),
z AS MATERIALIZED (
    SELECT r.source, r.tok,
           CASE WHEN s.sd > 0 THEN (r.r - s.m) / s.sd ELSE 0.0 END AS z
    FROM rate r JOIN zstat s ON s.tok = r.tok
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_function_words,
       {R('avg(abs(a.z - b.z))', 6)} AS delta
FROM z a JOIN z b ON b.tok = a.tok AND a.source < b.source
GROUP BY a.source, b.source
"""


@register("burrows_delta_stylometry", _DELTA_SQL)
def burrows_delta_stylometry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Burrows' Delta between sources over the top-20 tokens."""
    from ..functions.text import tokens

    d = read_table(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    fw = (
        cnt.groupBy("tok")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("tok"))
        .limit(_DELTA_K)
        .select("tok")
    )
    totals = cnt.groupBy("source").agg(
        F.sum("c").cast("double").alias("nt")
    )
    spine = totals.crossJoin(F.broadcast(fw))
    rate = spine.join(cnt, ["source", "tok"], "left").select(
        "source",
        "tok",
        (1000.0 * F.coalesce(F.col("c"), F.lit(0)) / F.col("nt")).alias(
            "r"
        ),
    )
    rate = pin(rate)  # z stats + the z join
    zstat = rate.groupBy("tok").agg(
        F.avg("r").alias("m"),
        F.sqrt(
            F.greatest(
                F.avg(F.col("r") * F.col("r"))
                - F.avg("r") * F.avg("r"),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    # hint-free: zstat is the bounded 20-row function-word grain here,
    # but the repo-wide census bans hints on token-keyed aggregates —
    # AQE broadcasts a measured-tiny frame on its own
    z = rate.join(zstat, "tok").select(
        "source",
        "tok",
        F.when(
            F.col("sd") > 0, (F.col("r") - F.col("m")) / F.col("sd")
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    a = z.select(
        F.col("source").alias("source_a"),
        F.col("tok").alias("tok_a"),
        F.col("z").alias("za"),
    )
    b = z.select(
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
        F.col("z").alias("zb"),
    )
    return (
        a.join(
            b,
            (F.col("tok_a") == F.col("tok_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_function_words"),
            dround(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias(
                "delta"
            ),
        )
    )
