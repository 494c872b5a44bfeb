"""Round-6 extension operators: exact substring dedup at the chunk grain
(keep-first, the Lee et al. 2022 §4 exact variant), deterministic
stratified reservoir sampling with coverage accounting, per-source
quality-classifier calibration drift, empirical LSH recall/precision
against an independent exact truth set, hash-shard balance auditing,
corpus-order n-gram novelty curves, embedding per-label centroid drift,
hard-negative mining for contrastive training, rolling-origin forecast
backtesting, bigram entropy rate, group-sequential alpha-spending
monitoring, and covariate-shift-weighted evaluation.

Same discipline as plans/round5.py: fact-scale work is map-side-combined
aggregation or hash-key equi joins, bounded grids/panels ride broadcast
joins, every window is partitioned or runs on a documented bounded
grain, and shared hash/quality/p-value arithmetic composes from
functions/sqlfrag.py so the two engines cannot drift.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py); these
are the data-curation and evaluation jobs a 100 TB training-data
platform runs on the same engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import (
    SQL_QUALITY_EXPR,
    sql_quality_feat_ctes,
)
from ..functions.text import quality_score, token_count, tokens
from ..sources.tables import read_table, values_frame
from .registry import register

# ===========================================================================
# Exact substring dedup at the chunk grain, KEEP-FIRST (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better", §4 exact
# variant, suffix-array-free approximation): split every document into
# fixed 10-token chunks, and keep a chunk occurrence only when it is the
# globally FIRST occurrence of that chunk content (corpus order =
# (doc_id, chunk_start)). Differs from boilerplate_strip_rebuild (which
# removes ALL copies of any cross-doc repeated chunk): dedup retains one
# canonical copy, so unique content is never lost. Per-source attrition
# accounting is the rollup a curation run reports.
#
# Scale shape: chunks shuffle as 32-byte md5 keys (never chunk text) to a
# map-side-combined min-position aggregate; the join back is hash-to-
# hash; the rollup is a tiny source-grain aggregate.
# ===========================================================================

_SDK_W = 10  # chunk width in tokens (matches quality.py:_CHUNK_TOKENS)
# position key: doc token counts are far below 1e6, so doc_id*1e6+start
# is a total corpus order aligned with (doc_id, chunk_start)
_SDK_POSK = 1_000_000

_SUBSTRING_KEEPFIRST_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
chunks AS (
    SELECT doc_id, source,
           doc_id * {_SDK_POSK} + s AS pos_key,
           CAST(least(s + {_SDK_W} - 1, len(t)) - s + 1 AS BIGINT) AS cl,
           md5(array_to_string(
               list_slice(t, s, least(s + {_SDK_W} - 1, len(t))), ' '
           )) AS h
    FROM (SELECT doc_id, source, t,
                 unnest(range(1, len(t) + 1, {_SDK_W})) AS s
          FROM toks)
),
first_pos AS (SELECT h, min(pos_key) AS fp FROM chunks GROUP BY h)
SELECT c.source,
       CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (c.pos_key <> f.fp) AS BIGINT) AS chunks_removed,
       CAST(sum(c.cl) AS BIGINT) AS tokens_total,
       CAST(coalesce(sum(c.cl) FILTER (c.pos_key <> f.fp), 0) AS BIGINT)
           AS tokens_removed,
       {R("1.0 - CAST(coalesce(sum(c.cl) FILTER (c.pos_key <> f.fp), 0) AS DOUBLE) / sum(c.cl)", 6)}
           AS token_retention
FROM chunks c JOIN first_pos f ON f.h = c.h
GROUP BY c.source
"""


@register("substring_dedup_keep_first", _SUBSTRING_KEEPFIRST_SQL)
def substring_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token attrition of keep-first exact chunk dedup."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", tokens(F.col("text")).alias("t"))
    chunks = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(_SDK_W))
        ).alias("s"),
        "t",
    ).select(
        "doc_id",
        "source",
        (F.col("doc_id") * _SDK_POSK + F.col("s")).alias("pos_key"),
        (
            F.least(F.col("s") + (_SDK_W - 1), F.size("t"))
            - F.col("s")
            + 1
        )
        .cast("long")
        .alias("cl"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("t"), F.col("s"), _SDK_W)).cast(
                "binary"
            )
        ).alias("h"),
    )
    first_pos = chunks.groupBy("h").agg(F.min("pos_key").alias("fp"))
    j = chunks.join(first_pos, "h")
    removed = F.col("pos_key") != F.col("fp")
    return j.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(removed.cast("int")).cast("long").alias("chunks_removed"),
        F.sum("cl").cast("long").alias("tokens_total"),
        F.coalesce(F.sum(F.when(removed, F.col("cl"))), F.lit(0))
        .cast("long")
        .alias("tokens_removed"),
        dround(
            F.lit(1.0)
            - F.coalesce(F.sum(F.when(removed, F.col("cl"))), F.lit(0)).cast(
                "double"
            )
            / F.sum("cl"),
            6,
        ).alias("token_retention"),
    )


# ===========================================================================
# Deterministic stratified reservoir sampling with coverage accounting:
# the eval-set carve-out. K docs per source by uniform hash rank
# (md5 over a seeded doc key — order-free, so re-runs and late-arriving
# partitions agree), plus the coverage proof a sampling job must emit:
# achieved fill vs target K and sampled-vs-population mean token length
# (the cheap representativeness check).
#
# Scale shape: the rank window is PARTITIONED by source (the stratum);
# at 100 TB a top-K-per-stratum is exactly this window or its
# TakeOrdered-per-group equivalent. One doc scan.
# ===========================================================================

_RSV_K = 5
_RSV_SEED = "rsv1"

_RESERVOIR_SQL = f"""
WITH keyed AS (
    SELECT source,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat_ws('|', '{_RSV_SEED}',
                            CAST(CAST(doc_id AS BIGINT) AS VARCHAR))),
                        CAST(doc_id AS BIGINT)
           ) AS rk
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (rk <= {_RSV_K}) AS BIGINT) AS n_sampled,
       {R(f"CAST(count(*) FILTER (rk <= {_RSV_K}) AS DOUBLE) / {_RSV_K}", 6)}
           AS fill_rate,
       {R("avg(n_toks)", 4)} AS avg_tokens_all,
       {R(f"avg(n_toks) FILTER (rk <= {_RSV_K})", 4)} AS avg_tokens_sampled
FROM keyed
GROUP BY source
"""


@register("eval_reservoir_sample", _RESERVOIR_SQL)
def eval_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-rank reservoir of K docs per source + coverage accounting."""
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(
            F.concat_ws(
                "|", F.lit(_RSV_SEED), F.col("doc_id").cast("string")
            ).cast("binary")
        ),
        F.col("doc_id"),
    )
    keyed = d.select(
        "source",
        token_count(F.col("text")).cast("double").alias("n_toks"),
        F.row_number().over(w).alias("rk"),
    )
    hit = F.col("rk") <= _RSV_K
    return keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(hit.cast("int")).cast("long").alias("n_sampled"),
        dround(F.sum(hit.cast("int")).cast("double") / _RSV_K, 6).alias(
            "fill_rate"
        ),
        dround(F.avg("n_toks"), 4).alias("avg_tokens_all"),
        dround(F.avg(F.when(hit, F.col("n_toks"))), 4).alias(
            "avg_tokens_sampled"
        ),
    )


# ===========================================================================
# Per-source quality-classifier calibration drift: bin the composite
# quality score (shared sqlfrag weights) into 5 bins, compare the bin's
# mean score against the empirical rate of a reference label (high
# lexical diversity), roll up to a per-source expected calibration error
# (ECE), and report each source's drift from the pooled ECE — the
# monitoring job that catches a quality classifier whose calibration
# holds globally but breaks on one domain.
#
# Scale shape: one doc scan -> (source, bin) and (bin) aggregates (both
# map-side combined, bounded grains); the pooled row is a broadcast
# 1-row cross join.
# ===========================================================================

_CAL_LABEL = "CASE WHEN diversity >= 0.5 THEN 1.0 ELSE 0.0 END"
_CAL_BIN = f"least(4, CAST(floor(({SQL_QUALITY_EXPR}) * 5) AS BIGINT))"

_CALIBRATION_DRIFT_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS (
    SELECT d.source,
           {_CAL_BIN} AS bin,
           ({SQL_QUALITY_EXPR}) AS score,
           {_CAL_LABEL} AS label
    FROM feat f JOIN documents d ON d.doc_id = f.doc_id
),
per_src_bin AS (
    SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
           avg(score) AS mean_score, avg(label) AS rate
    FROM scored GROUP BY source, bin
),
src_ece AS (
    SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
           sum(CAST(n AS DOUBLE) * abs(mean_score - rate)) / sum(n) AS ece
    FROM per_src_bin GROUP BY source
),
pool_bin AS (
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           avg(score) AS mean_score, avg(label) AS rate
    FROM scored GROUP BY bin
),
pool AS (
    SELECT sum(CAST(n AS DOUBLE) * abs(mean_score - rate)) / sum(n)
               AS pooled_ece
    FROM pool_bin
)
SELECT s.source, s.n_docs,
       {R('s.ece', 6)} AS ece,
       {R('p.pooled_ece', 6)} AS pooled_ece,
       {R('abs(s.ece - p.pooled_ece)', 6)} AS drift
FROM src_ece s CROSS JOIN pool p
"""


@register("quality_calibration_drift", _CALIBRATION_DRIFT_SQL)
def quality_calibration_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ECE of the quality score vs pooled ECE (drift audit)."""
    from ..functions.text import distinct_token_ratio

    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    score = quality_score(text)
    scored = d.select(
        "source",
        F.least(F.lit(4), F.floor(score * 5)).cast("long").alias("bin"),
        score.alias("score"),
        F.when(distinct_token_ratio(text) >= 0.5, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("label"),
    )
    per_src_bin = scored.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("score").alias("mean_score"),
        F.avg("label").alias("rate"),
    )
    src_ece = per_src_bin.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        (
            F.sum(F.col("n").cast("double") * F.abs(F.col("mean_score") - F.col("rate")))
            / F.sum("n")
        ).alias("ece"),
    )
    pool_bin = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("score").alias("mean_score"),
        F.avg("label").alias("rate"),
    )
    pool = pool_bin.agg(
        (
            F.sum(F.col("n").cast("double") * F.abs(F.col("mean_score") - F.col("rate")))
            / F.sum("n")
        ).alias("pooled_ece")
    )
    return src_ece.crossJoin(F.broadcast(pool)).select(
        "source",
        "n_docs",
        dround(F.col("ece"), 6).alias("ece"),
        dround(F.col("pooled_ece"), 6).alias("pooled_ece"),
        dround(F.abs(F.col("ece") - F.col("pooled_ece")), 6).alias("drift"),
    )


# ===========================================================================
# Empirical LSH recall/precision: the banding scheme's measured operating
# point against the EXACT truth set — the companion to the theoretical
# lsh_parameter_curve (plans/round5.py). Truth = the UNBLOCKED exact-
# Jaccard pairs over the SAME hashed-shingle sets the bands sketch
# (threshold 0.5), computed in inverted-index form from the shared
# cached shingle stage — exactly the similarity the LSH approximates,
# with no length-band blocking to hide recall misses behind (the r6
# shape measured recall against the lang/length-blocked string-shingle
# truth AND paid a full second shingle pipeline for it; VERDICT r6
# task 3). predicted = the raw MinHash band candidates BEFORE
# verification; verified = the production exact-Jaccard verify on those
# candidates. recall = |truth AND cand| / |truth|; precision =
# |verified| / |cand|. The truth join key is the shingle hash itself,
# so only pairs sharing a shingle materialize — never all-pairs (pairs
# with zero shared shingles have Jaccard 0 < 0.5 by construction).
# ===========================================================================


def _lsh_recall_sql() -> str:
    from ..functions.sqlfrag import (
        sql_exact_jaccard,
        sql_minhash_sig_band_ctes,
    )

    return f"""
WITH {sql_minhash_sig_band_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
),
verified AS (
    SELECT doc_id_a, doc_id_b FROM cand
    JOIN shinglehash sa ON sa.doc_id = cand.doc_id_a
    JOIN shinglehash sb ON sb.doc_id = cand.doc_id_b
    WHERE {R(sql_exact_jaccard("sa.hs", "sb.hs"), 6)} >= 0.5
),
ex AS (
    SELECT doc_id, len(hs) AS sz, unnest(hs) AS h0 FROM shinglehash
),
tp AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           a.sz AS sza, b.sz AS szb, CAST(count(*) AS DOUBLE) AS inter
    FROM ex a JOIN ex b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
),
truth AS (
    SELECT doc_id_a, doc_id_b FROM tp
    WHERE {R('inter / (sza + szb - inter)', 6)} >= 0.5
),
hit AS (
    SELECT t.doc_id_a FROM truth t
    JOIN cand c ON c.doc_id_a = t.doc_id_a AND c.doc_id_b = t.doc_id_b
),
counts AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM verified) AS n_verified,
           (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_truth_hit
)
SELECT n_truth, n_candidates, n_verified, n_truth_hit,
       {R('CAST(n_truth_hit AS DOUBLE) / nullif(n_truth, 0)', 6)} AS recall,
       {R('CAST(n_verified AS DOUBLE) / nullif(n_candidates, 0)', 6)}
           AS precision
FROM counts
"""


@register("lsh_recall_empirical", _lsh_recall_sql())
def lsh_recall_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of the MinHash banding vs exact truth.

    Stage-reuse contract (VERDICT r6 task 3): the shingle pipeline is
    built ONCE — `hashed` is the shared pinned stage; `cand` derives
    from it (three consumers: the candidate count, the truth-hit join,
    the exact-Jaccard verify); the verify runs on
    the SAME frames via verified_jaccard_pairs; and the exact TRUTH set
    is the unblocked exact-Jaccard over the SAME hashed shingles in
    inverted-index form (explode + equi-join on the shingle hash +
    count = |A∩B|) — the r6 shape instead re-shingled the corpus with
    the string-n-gram pipeline, a full second chain. spread() before
    the verify join: `cand` has shuffles in its plan, so AQE coalesces
    it to ~1 partition and the per-pair array intersection would
    otherwise run on one core.

    One documents scan in the whole plan (census-tested): every stage
    derives from the pinned `hashed` frame."""
    from ..operators.dedup import (
        hashed_shingle_table,
        minhash_banded,
        minhash_candidates,
        minhash_sig_table,
        verified_jaccard_pairs,
    )
    from ..sources.tables import spread

    d = read_table(spark, sf_dir, "documents")
    hashed = hashed_shingle_table(d)
    cand = minhash_candidates(
        minhash_banded(minhash_sig_table(hashed))
    )
    verified = verified_jaccard_pairs(spread(cand), hashed, threshold=0.5)
    ex = hashed.select(
        "doc_id", F.size("hs").alias("sz"), F.explode("hs").alias("h0")
    )
    # r10: posting-list pair expansion instead of the exploded self-join
    # — the old exa JOIN exb shuffled the SAME 2.6M exploded rows TWICE
    # (the per-side aliases break exchange reuse) and paid a shuffle
    # join; one groupBy(h0) collects each shingle's posting list and a
    # double explode emits the identical ordered-pair stream from ONE
    # exchange. Same pair multiset -> same counts.
    posts = ex.groupBy("h0").agg(
        F.collect_list(F.struct("doc_id", "sz")).alias("ps")
    )
    inter = (
        posts.select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("inter"))
    )
    truth = inter.filter(
        dround(
            F.col("inter")
            / (F.col("sza") + F.col("szb") - F.col("inter")),
            6,
        )
        >= 0.5
    ).select("doc_id_a", "doc_id_b")
    # truth is deliberately NOT cached: its two consumers (the count and
    # the hit join) share identical shuffle subtrees that ReuseExchange
    # dedupes within the single action, and a cache barrier here measured
    # SLOWER by serializing the materialization.
    hit = truth.join(cand, ["doc_id_a", "doc_id_b"])
    counts = (
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
        .crossJoin(
            cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        )
        .crossJoin(
            verified.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
        )
        .crossJoin(
            hit.agg(F.count(F.lit(1)).cast("long").alias("n_truth_hit"))
        )
    )
    return counts.select(
        "n_truth",
        "n_candidates",
        "n_verified",
        "n_truth_hit",
        dround(
            F.col("n_truth_hit").cast("double")
            / F.nullif(F.col("n_truth"), F.lit(0)),
            6,
        ).alias("recall"),
        dround(
            F.col("n_verified").cast("double")
            / F.nullif(F.col("n_candidates"), F.lit(0)),
            6,
        ).alias("precision"),
    )


# ===========================================================================
# Hash-shard balance audit: assign every document to one of 16 shards by
# uniform hash (the shared md5-hex6 primitive) and report the skew a
# shard planner needs — per-shard doc/token spread and max/mean ratios.
# At 100 TB this is the job that validates a proposed output sharding
# BEFORE the rewrite: one scan, one bounded 16-row aggregate, one 1-row
# summary.
# ===========================================================================

_SHARD_N = 16
_SHARD_SEED = "shard1"


def _shard_skew_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int

    key = sql_md5_hex6_to_int(
        f"concat_ws('|', '{_SHARD_SEED}', "
        f"CAST(CAST(doc_id AS BIGINT) AS VARCHAR))"
    )
    return f"""
WITH sharded AS (
    SELECT {key} % {_SHARD_N} AS shard,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
    FROM documents
),
per AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_toks) AS BIGINT) AS toks
    FROM sharded GROUP BY shard
)
SELECT CAST(count(*) AS BIGINT) AS shards_used,
       CAST(min(docs) AS BIGINT) AS min_docs,
       CAST(max(docs) AS BIGINT) AS max_docs,
       {R('avg(CAST(docs AS DOUBLE))', 4)} AS avg_docs,
       {R('CAST(max(docs) AS DOUBLE) / avg(CAST(docs AS DOUBLE))', 6)}
           AS doc_skew,
       {R('CAST(max(toks) AS DOUBLE) / avg(CAST(toks AS DOUBLE))', 6)}
           AS token_skew
FROM per
"""


@register("shard_skew_audit", _shard_skew_sql())
def shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc/token balance of a 16-way hash sharding (planner audit)."""
    from ..functions.text import md5_hex6_to_int

    d = read_table(spark, sf_dir, "documents")
    sharded = d.select(
        F.pmod(
            md5_hex6_to_int(
                F.concat_ws(
                    "|", F.lit(_SHARD_SEED), F.col("doc_id").cast("string")
                )
            ),
            F.lit(_SHARD_N),
        ).alias("shard"),
        token_count(F.col("text")).cast("long").alias("n_toks"),
    )
    per = sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_toks").cast("long").alias("toks"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("shards_used"),
        F.min("docs").cast("long").alias("min_docs"),
        F.max("docs").cast("long").alias("max_docs"),
        dround(F.avg(F.col("docs").cast("double")), 4).alias("avg_docs"),
        dround(
            F.max("docs").cast("double") / F.avg(F.col("docs").cast("double")),
            6,
        ).alias("doc_skew"),
        dround(
            F.max("toks").cast("double") / F.avg(F.col("toks").cast("double")),
            6,
        ).alias("token_skew"),
    )


# ===========================================================================
# Corpus-order n-gram novelty curve: per corpus decile (by doc_id order),
# the fraction of that decile's distinct-per-doc shingle occurrences that
# are the corpus-FIRST occurrence of the shingle. The curve a data-mixing
# run reads to see diminishing novel-content returns as more of a source
# is ingested (Heaps'-law decay, at the shingle grain).
#
# Scale shape: the doc_id bounds ride a broadcast 1-row aggregate; the
# first-seen table is a map-side-combined min over the shingle hash; the
# rollup is a 10-row aggregate.
# ===========================================================================


def _novelty_sql() -> str:
    from ..functions.sqlfrag import sql_shinglehash_ctes

    return f"""
WITH {sql_shinglehash_ctes()},
bounds AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
occ AS (
    SELECT s.doc_id,
           least(9, CAST(floor(CAST(s.doc_id - b.mn AS DOUBLE) * 10
                               / (b.mx - b.mn + 1)) AS BIGINT)) AS decile,
           unnest(s.hs) AS h
    FROM shinglehash s CROSS JOIN bounds b
),
first_doc AS (SELECT h, min(doc_id) AS fd FROM occ GROUP BY h)
SELECT o.decile,
       CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(*) FILTER (o.doc_id = f.fd) AS BIGINT) AS n_novel,
       {R('CAST(count(*) FILTER (o.doc_id = f.fd) AS DOUBLE) / count(*)', 6)}
           AS novelty_rate
FROM occ o JOIN first_doc f ON f.h = o.h
GROUP BY o.decile
"""


@register("ngram_novelty_curve", _novelty_sql())
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence shingle rate per corpus decile (Heaps decay)."""
    from ..operators.dedup import hashed_shingle_table

    d = read_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    hashed = hashed_shingle_table(d)
    occ = (
        hashed.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("doc_id") - F.col("mn")).cast("double")
                    * 10
                    / (F.col("mx") - F.col("mn") + 1)
                ),
            )
            .cast("long")
            .alias("decile"),
            F.explode("hs").alias("h"),
        )
    )
    first_doc = occ.groupBy("h").agg(F.min("doc_id").alias("fd"))
    j = occ.join(first_doc, "h")
    novel = F.col("doc_id") == F.col("fd")
    return j.groupBy("decile").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.sum(novel.cast("int")).cast("long").alias("n_novel"),
        dround(
            F.sum(novel.cast("int")).cast("double") / F.count(F.lit(1)), 6
        ).alias("novelty_rate"),
    )


# ===========================================================================
# Embedding per-label centroid drift: each label's centroid cosine to the
# global centroid, plus the label's mean member-to-centroid cosine
# (within-cluster cohesion). The embedding-space health check run after
# re-embedding a corpus — a label whose centroid swings or whose cohesion
# collapses flags an upstream encoder/data change.
#
# Scale shape: one dim-explode (vectors never shuffle whole), label and
# global centroids are (label x dim) / dim aggregates (map-side
# combined), and the member-cohesion pass is an equi join on
# (label, dim) against the bounded centroid frame. Explicit
# (sum, sum-sq) arithmetic, dround(6) absorbs fold-order ULPs.
# ===========================================================================

_CENTROID_DRIFT_SQL = f"""
WITH d AS (
    SELECT vec_id, label,
           unnest(range(1, len(embedding) + 1)) AS dim,
           unnest(embedding::DOUBLE[]) AS x
    FROM embeddings
),
lc AS (
    SELECT label, dim, avg(x) AS c, count(*) AS n
    FROM d GROUP BY label, dim
),
gc AS (SELECT dim, avg(x) AS g FROM d GROUP BY dim),
drift AS (
    SELECT lc.label,
           sum(lc.c * gc.g) / (sqrt(sum(lc.c * lc.c)) * sqrt(sum(gc.g * gc.g)))
               AS cos_to_global
    FROM lc JOIN gc ON gc.dim = lc.dim
    GROUP BY lc.label
),
member AS (
    SELECT d.vec_id, d.label,
           sum(d.x * lc.c) / (sqrt(sum(d.x * d.x)) * sqrt(sum(lc.c * lc.c)))
               AS cos_m
    FROM d JOIN lc ON lc.label = d.label AND lc.dim = d.dim
    GROUP BY d.vec_id, d.label
),
cohesion AS (
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           avg(cos_m) AS mean_member_cos
    FROM member GROUP BY label
)
SELECT c.label, c.n_vecs,
       {R('dr.cos_to_global', 6)} AS cos_to_global,
       {R('c.mean_member_cos', 6)} AS mean_member_cos
FROM cohesion c JOIN drift dr ON dr.label = c.label
"""


@register("embedding_label_centroid_drift", _CENTROID_DRIFT_SQL)
def embedding_label_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid-vs-global cosine + within-label cohesion."""
    e = read_table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), "x")
    lc = d.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    gc = d.groupBy("dim").agg(F.avg("x").alias("g"))
    drift = (
        lc.join(F.broadcast(gc), "dim")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("c") * F.col("g"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("g") * F.col("g")))
                )
            ).alias("cos_to_global")
        )
    )
    member = (
        d.join(F.broadcast(lc), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            (
                F.sum(F.col("x") * F.col("c"))
                / (
                    F.sqrt(F.sum(F.col("x") * F.col("x")))
                    * F.sqrt(F.sum(F.col("c") * F.col("c")))
                )
            ).alias("cos_m")
        )
    )
    cohesion = member.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.avg("cos_m").alias("mean_member_cos"),
    )
    return cohesion.join(drift, "label").select(
        "label",
        "n_vecs",
        dround(F.col("cos_to_global"), 6).alias("cos_to_global"),
        dround(F.col("mean_member_cos"), 6).alias("mean_member_cos"),
    )


# ===========================================================================
# Hard-negative mining for contrastive training: for each query in a
# bounded panel, the top-3 most-similar vectors with a DIFFERENT label —
# the negatives that actually move a contrastive loss (random negatives
# are trivially separable; see contrastive_negatives in plans/corpus_ops
# for the random baseline this replaces).
#
# Scale shape: the panel broadcasts (the knn_join discipline); the corpus
# never self-joins; ranking partitions by query over rounded scores with
# a vec_id tie-break (raw doubles can flip last-ULP between engines).
# ===========================================================================

_HNM_PANEL = 8
_HNM_K = 3

_HARD_NEG_SQL = f"""
WITH q AS (
    SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {_HNM_PANEL}
),
scored AS (
    SELECT q.q_id, e.vec_id, e.label,
           {R("list_dot_product(e.embedding::DOUBLE[], q.qv) / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)))", 6)}
               AS score
    FROM embeddings e, q
    WHERE e.label <> q.q_label
),
ranked AS (
    SELECT q_id, vec_id, label, score,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, vec_id ASC) AS rnk
    FROM scored
)
SELECT q_id, vec_id AS neg_id, label AS neg_label, score,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_HNM_K}
"""


@register("hard_negative_mining", _HARD_NEG_SQL)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 different-label cosine neighbors per panel query."""
    from ..functions.vectors import cosine

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _HNM_PANEL).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "vec_id",
            "label",
            dround(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HNM_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ===========================================================================
# Rolling-origin forecast backtest (Hyndman & Athanasopoulos' time-series
# cross-validation): naive (t-1-from-origin) vs seasonal-naive (t-7)
# daily-revenue forecasts evaluated over a sliding grid of 8 origins x
# horizons {{1, 3, 7}}, scored by MAE and the skill ratio. The honest
# upgrade over a single-split backtest (forecast_backtest_snaive): every
# origin contributes an error sample per horizon.
#
# Scale shape: one map-side-combined day rollup over events; every
# subsequent join is day-to-day on the calendar-bounded daily frame. The
# daily CTE is multiply-referenced, so the oracle marks it MATERIALIZED
# (DuckDB inlines plain CTEs once per reference).
#
# Determinism (the r6 WATCH flake, root-caused in r7): the day revenue
# was a FLOAT sum whose partition-order association varies with AQE's
# run-to-run partitioning; one horizon's MAE sat exactly on a dround(4)
# half-boundary (228.00875) and flipped between 228.0087/228.0088
# depending on the summation order (captured by the oracle-diff hook).
# All accumulation is now INTEGER micro-units (per-event dround-style
# quantization floor(v*1e6+0.5) as LONG; long sums are order-free in
# both engines); the single float division happens once, at the end.
# ===========================================================================

_RO_HORIZONS = (1, 3, 7)

_ROLLING_ORIGIN_SQL = f"""
WITH daily AS MATERIALIZED (
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
           sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS rev
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
bounds AS (SELECT max(d) AS mx FROM daily),
origins AS (
    SELECT o.d AS o FROM daily o CROSS JOIN bounds b
    WHERE o.d BETWEEN b.mx - 14 AND b.mx - 7
),
grid AS (
    SELECT o, h FROM origins
    CROSS JOIN (VALUES (1), (3), (7)) hs(h)
),
evals AS (
    SELECT g.h,
           abs(po.rev - act.rev) AS err_naive,
           abs(ps.rev - act.rev) AS err_snaive
    FROM grid g
    JOIN daily act ON act.d = g.o + g.h
    JOIN daily po ON po.d = g.o
    JOIN daily ps ON ps.d = g.o + g.h - 7
)
SELECT CAST(h AS BIGINT) AS horizon,
       CAST(count(*) AS BIGINT) AS n_evals,
       {R('sum(err_naive) / (count(err_naive) * 1000000.0)', 4)} AS mae_naive,
       {R('sum(err_snaive) / (count(err_snaive) * 1000000.0)', 4)}
           AS mae_snaive,
       {R('1.0 - CAST(sum(err_snaive) AS DOUBLE)'
          ' / nullif(CAST(sum(err_naive) AS DOUBLE), 0.0)', 6)}
           AS skill_vs_naive
FROM evals GROUP BY h
"""


@register("rolling_origin_backtest", _ROLLING_ORIGIN_SQL)
def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE + skill of naive vs seasonal-naive over rolling origins."""
    e = read_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.floor(F.col("ts").cast("long") / 86400)
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
            ).alias("rev")
        )
    )
    bounds = daily.agg(F.max("d").alias("mx"))
    origins = (
        daily.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("d") >= F.col("mx") - 14) & (F.col("d") <= F.col("mx") - 7)
        )
        .select(F.col("d").alias("o"))
    )
    horizons = values_frame(spark, [(h,) for h in _RO_HORIZONS], ["h"]).select(
        F.col("h").cast("long")
    )
    grid = origins.crossJoin(F.broadcast(horizons))
    act = daily.select(F.col("d").alias("ad"), F.col("rev").alias("act"))
    po = daily.select(F.col("d").alias("pd"), F.col("rev").alias("pn"))
    ps = daily.select(F.col("d").alias("sd"), F.col("rev").alias("psn"))
    evals = (
        grid.join(act, F.col("ad") == F.col("o") + F.col("h"))
        .join(po, F.col("pd") == F.col("o"))
        .join(ps, F.col("sd") == F.col("o") + F.col("h") - 7)
        .select(
            "h",
            F.abs(F.col("pn") - F.col("act")).alias("err_naive"),
            F.abs(F.col("psn") - F.col("act")).alias("err_snaive"),
        )
    )
    return evals.groupBy(F.col("h").cast("long").alias("horizon")).agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        dround(
            F.sum("err_naive")
            / (F.count("err_naive") * F.lit(1000000.0)),
            4,
        ).alias("mae_naive"),
        dround(
            F.sum("err_snaive")
            / (F.count("err_snaive") * F.lit(1000000.0)),
            4,
        ).alias("mae_snaive"),
        dround(
            F.lit(1.0)
            - F.sum("err_snaive").cast("double")
            / F.nullif(F.sum("err_naive").cast("double"), F.lit(0.0)),
            6,
        ).alias("skill_vs_naive"),
    )


# ===========================================================================
# Bigram entropy rate per source: conditional entropy H(next | prev) in
# nats over token bigrams, against the unigram entropy H(tok) — the
# sequence-predictability profile of a source (templated/boilerplate
# sources show a collapsed ratio). Complements the bigram LM quality
# gates (plans/corpus_eval.py), which score DOCUMENTS under a trained
# LM; this scores the SOURCE distribution itself.
#
# Scale shape: bigram counts are one explode + map-side-combined
# (source, prev, next) aggregate; both entropies reduce over that count
# frame. No windows, no joins beyond the bounded source grain.
# ===========================================================================

_ENTROPY_RATE_SQL = f"""
WITH t AS (
    SELECT source, string_split(text, ' ') AS sp FROM documents
),
big AS (
    SELECT source, unnest(
        list_transform(range(1, len(sp)),
                       i -> sp[i] || ' ' || sp[i + 1])) AS bg
    FROM t WHERE len(sp) >= 2
),
bc AS (
    SELECT source, string_split(bg, ' ')[1] AS prev,
           CAST(count(*) AS DOUBLE) AS c
    , bg FROM big GROUP BY source, bg
),
pc AS (
    SELECT source, prev, sum(c) AS cp FROM bc GROUP BY source, prev
),
hb AS (
    SELECT bc.source,
           CAST(sum(bc.c) AS BIGINT) AS n_bigrams,
           -(sum(bc.c * ln(bc.c / pc.cp)) / sum(bc.c)) AS h_bigram
    FROM bc JOIN pc ON pc.source = bc.source AND pc.prev = bc.prev
    GROUP BY bc.source
),
uni AS (
    SELECT source, unnest(sp) AS tok FROM t
),
uc AS (
    SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
    FROM uni GROUP BY source, tok
),
hu AS (
    -- H = -sum(p ln p) = -(sum(c ln c)/N - ln N): same algebra as the
    -- Spark side so the two engines share one summation shape
    SELECT source,
           -(sum(c * ln(c)) / sum(c) - ln(sum(c))) AS h_unigram
    FROM uc GROUP BY source
)
SELECT hb.source, hb.n_bigrams,
       {R('hb.h_bigram', 6)} AS h_bigram,
       {R('hu.h_unigram', 6)} AS h_unigram,
       {R('hb.h_bigram / nullif(hu.h_unigram, 0.0)', 6)} AS entropy_ratio
FROM hb JOIN hu ON hu.source = hb.source
"""


@register("bigram_entropy_rate", _ENTROPY_RATE_SQL)
def bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H(next|prev) vs H(tok) per source (sequence predictability).

    r10 shape: both the unigram and the bigram stream derive from the
    SHARED cached corpus_tokens projection (one text scan + split per
    session instead of two scans here). The bigram array is a staged
    transform over the CACHED token arrays, itself cached BEFORE the
    explode (the cache-before-explode rule: Generate re-evaluates an
    interpreted chain per exploded row). Docs with <2 tokens are
    filtered; `shingles(text, 2)` gives them an empty array, so they
    add no rows either way."""
    from .retrieval import corpus_bigrams, corpus_tokens

    ct = corpus_tokens(spark, sf_dir)
    # shared cached bigram stage (retrieval.corpus_bigrams) — same frame
    # textrank_keywords consumes, one transform per session.
    bigarr = corpus_bigrams(spark, sf_dir)
    big = bigarr.select("source", F.explode("bga").alias("bg"))
    bc = big.groupBy("source", "bg").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).withColumn("prev", F.split(F.col("bg"), " ").getItem(0))
    pc = bc.groupBy("source", "prev").agg(F.sum("c").alias("cp"))
    hb = (
        bc.join(pc, ["source", "prev"])
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            (
                -F.sum(F.col("c") * F.log(F.col("c") / F.col("cp")))
                / F.sum("c")
            ).alias("h_bigram"),
        )
    )
    uni = ct.select("source", F.explode("th").alias("tok"))
    uc = uni.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    hu = uc.groupBy("source").agg(
        (
            -(
                F.sum(F.col("c") * F.log("c")) / F.sum("c")
                - F.log(F.sum("c"))
            )
        ).alias("h_unigram")
    )
    return hb.join(hu, "source").select(
        "source",
        "n_bigrams",
        dround(F.col("h_bigram"), 6).alias("h_bigram"),
        dround(F.col("h_unigram"), 6).alias("h_unigram"),
        dround(
            F.col("h_bigram") / F.nullif(F.col("h_unigram"), F.lit(0.0)), 6
        ).alias("entropy_ratio"),
    )


# ===========================================================================
# Group-sequential A/B monitoring with the O'Brien-Fleming boundary
# (O'Brien & Fleming 1979; Pocock 1977 framing): the experiment timeline
# splits into K = 5 equal-width looks; at each look the cumulative
# two-proportion pooled z-statistic for purchase conversion (arm =
# user_id parity) is compared against the OBF critical value
# C * sqrt(K / k) — near-unspendable alpha early, nominal-width at the
# final look. The frequentist complement to the likelihood-ratio SPRT
# monitor (plans/round5.py:sprt_sequential_monitor).
#
# Scale shape: one map-side-combined (variant, day) rollup over events;
# look assignment rides a broadcast 1-row bounds frame; the cumulative
# per-look sums come from a broadcast 5-row look grid joined on
# day_look <= k and re-aggregated — no window at all, so nothing is
# dragged to one task. The z and boundary arithmetic are ONE SQL
# fragment evaluated by F.expr and verbatim by DuckDB (the
# plans/linalg.py:_det3 discipline).
# ===========================================================================

_OBF_K = 5
# OBF critical value for K=5 looks at two-sided alpha=0.05 (Pocock 1982
# table); DOUBLE-cast so both engines divide at double precision.
_OBF_C = "CAST(2.04 AS DOUBLE)"
# pooled two-proportion z over cumulative counts (na,xa | nb,xb); NULL
# when either arm is empty or the pooled rate is degenerate (mirrored
# exactly in both engines via this shared fragment)
_OBF_Z = (
    "(CASE WHEN na > 0 AND nb > 0 AND (xa + xb) > 0"
    "           AND (xa + xb) < (na + nb)"
    " THEN ((CAST(xb AS DOUBLE) / nb) - (CAST(xa AS DOUBLE) / na))"
    "      / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))"
    "             * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))"
    "             * (1.0 / na + 1.0 / nb))"
    " ELSE NULL END)"
)
_OBF_BOUND = f"({_OBF_C} * sqrt(CAST({_OBF_K} AS DOUBLE) / k))"

_OBF_SQL = f"""
WITH dv AS (
    SELECT user_id % 2 AS variant,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS x
    FROM events GROUP BY 1, 2
),
b AS (SELECT min(d) AS mn, max(d) AS mx FROM dv),
dl AS (
    SELECT variant, n, x,
           least({_OBF_K} - 1,
                 CAST(floor(CAST((d - b.mn) * {_OBF_K} AS DOUBLE)
                            / (b.mx - b.mn + 1)) AS BIGINT)) + 1 AS lk
    FROM dv CROSS JOIN b
),
looks AS (
    SELECT k FROM (VALUES (1), (2), (3), (4), (5)) ks(k)
),
cum AS (
    SELECT l.k,
           coalesce(sum(n) FILTER (WHERE variant = 0), 0) AS na,
           coalesce(sum(x) FILTER (WHERE variant = 0), 0) AS xa,
           coalesce(sum(n) FILTER (WHERE variant = 1), 0) AS nb,
           coalesce(sum(x) FILTER (WHERE variant = 1), 0) AS xb
    FROM looks l JOIN dl ON dl.lk <= l.k
    GROUP BY l.k
)
SELECT CAST(k AS BIGINT) AS look,
       CAST(na AS BIGINT) AS n_ctrl, CAST(xa AS BIGINT) AS x_ctrl,
       CAST(nb AS BIGINT) AS n_trt, CAST(xb AS BIGINT) AS x_trt,
       {R(_OBF_Z, 6)} AS z_stat,
       {R(_OBF_BOUND, 6)} AS obf_bound,
       CAST(CASE WHEN abs({_OBF_Z}) >= {_OBF_BOUND} THEN 1 ELSE 0 END
            AS BIGINT) AS crossed
FROM cum
"""


@register("group_sequential_obf", _OBF_SQL)
def group_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-look pooled z vs the O'Brien-Fleming boundary (K=5 looks)."""
    e = read_table(spark, sf_dir, "events")
    dv = (
        e.select(
            (F.col("user_id") % 2).alias("variant"),
            F.floor(F.col("ts").cast("long") / 86400)
            .cast("long")
            .alias("d"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("xx"),
        )
        .groupBy("variant", "d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xx").cast("long").alias("x"),
        )
    )
    b = dv.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    dl = dv.crossJoin(F.broadcast(b)).select(
        "variant",
        "n",
        "x",
        (
            F.least(
                F.lit(_OBF_K - 1),
                F.floor(
                    ((F.col("d") - F.col("mn")) * _OBF_K).cast("double")
                    / (F.col("mx") - F.col("mn") + 1)
                ),
            ).cast("long")
            + 1
        ).alias("lk"),
    )
    looks = spark.range(1, _OBF_K + 1).select(F.col("id").alias("k"))
    cum = (
        dl.join(F.broadcast(looks), F.col("lk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("variant") == 0, F.col("n"))), F.lit(0)
            ).alias("na"),
            F.coalesce(
                F.sum(F.when(F.col("variant") == 0, F.col("x"))), F.lit(0)
            ).alias("xa"),
            F.coalesce(
                F.sum(F.when(F.col("variant") == 1, F.col("n"))), F.lit(0)
            ).alias("nb"),
            F.coalesce(
                F.sum(F.when(F.col("variant") == 1, F.col("x"))), F.lit(0)
            ).alias("xb"),
        )
    )
    z = F.expr(_OBF_Z)
    bound = F.expr(_OBF_BOUND)
    return cum.select(
        F.col("k").cast("long").alias("look"),
        F.col("na").cast("long").alias("n_ctrl"),
        F.col("xa").cast("long").alias("x_ctrl"),
        F.col("nb").cast("long").alias("n_trt"),
        F.col("xb").cast("long").alias("x_trt"),
        dround(z, 6).alias("z_stat"),
        dround(bound, 6).alias("obf_bound"),
        F.when(F.abs(z) >= bound, 1).otherwise(0).cast("long").alias(
            "crossed"
        ),
    )


# ===========================================================================
# Covariate-shift-weighted evaluation (Shimodaira 2000 importance
# weighting; Sugiyama et al. 2007): the labeled eval pool (the min-name
# source's documents) is length-distribution-shifted relative to the
# full corpus, so its naive mean quality is a biased estimate of the
# corpus mean. Binned density-ratio weights w(bin) =
# p_corpus(bin) / p_eval(bin) correct the estimate; the effective sample
# size (Kish ESS = (sum w)^2 / sum w^2) prices the variance cost. Bins
# present in the corpus but absent from the eval pool surface as
# n_eval = 0 rows (coverage violations — the weights cannot fix those).
#
# Scale shape: one scored doc scan (cached: the quality HOFs are
# interpreted) feeds two bounded-bin aggregates; the eval-source scalar
# and bin totals ride broadcast 1-row frames; the overall row re-
# aggregates the bounded bin frame. No windows, no fact-fact joins.
# ===========================================================================

_CSE_BIN_W = 32
_CSE_NBINS = 8  # bins 0..7 (token counts cap out far below 8*32)

_COVSHIFT_SQL = f"""
WITH {sql_quality_feat_ctes()},
scored AS (
    SELECT d.doc_id, d.source,
           least({_CSE_NBINS} - 1,
                 CAST(floor(CAST(f.n_tokens AS DOUBLE) / {_CSE_BIN_W})
                      AS BIGINT)) AS len_bin,
           ({SQL_QUALITY_EXPR}) AS q
    FROM feat f JOIN documents d ON d.doc_id = f.doc_id
),
esrc AS (SELECT min(source) AS s FROM documents),
tgt AS (
    SELECT len_bin, CAST(count(*) AS BIGINT) AS n_t
    FROM scored GROUP BY len_bin
),
ev AS (
    SELECT len_bin, CAST(count(*) AS BIGINT) AS n_e,
           sum(q) AS sq, avg(q) AS mq
    FROM scored, esrc WHERE source = s GROUP BY len_bin
),
tots AS (
    SELECT (SELECT sum(n_t) FROM tgt) AS nt,
           (SELECT sum(n_e) FROM ev) AS ne
),
bins AS (
    SELECT t.len_bin, t.n_t, coalesce(e.n_e, 0) AS n_e,
           CASE WHEN e.n_e IS NOT NULL THEN
               (CAST(t.n_t AS DOUBLE) / tt.nt)
               / (CAST(e.n_e AS DOUBLE) / tt.ne)
           END AS w,
           e.sq, e.mq
    FROM tgt t LEFT JOIN ev e ON e.len_bin = t.len_bin
    CROSS JOIN tots tt
)
SELECT len_bin, CAST(n_t AS BIGINT) AS n_target,
       CAST(n_e AS BIGINT) AS n_eval,
       {R('w', 6)} AS weight,
       {R('mq', 6)} AS mean_q_eval,
       CAST(NULL AS DOUBLE) AS shifted_mean_q,
       CAST(NULL AS DOUBLE) AS ess
FROM bins
UNION ALL
SELECT CAST(-1 AS BIGINT) AS len_bin,
       CAST(sum(n_t) AS BIGINT) AS n_target,
       CAST(sum(n_e) AS BIGINT) AS n_eval,
       CAST(NULL AS DOUBLE) AS weight,
       {R('sum(sq) / nullif(sum(n_e), 0)', 6)} AS mean_q_eval,
       {R('sum(w * sq) / nullif(sum(w * n_e), 0)', 6)} AS shifted_mean_q,
       {R('(sum(w * n_e) * sum(w * n_e)) / nullif(sum(w * w * n_e), 0)', 4)}
           AS ess
FROM bins
"""


@register("covariate_shift_eval", _COVSHIFT_SQL)
def covariate_shift_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted eval-pool quality vs naive, with Kish ESS."""
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    scored = d.select(
        "doc_id",
        "source",
        F.least(
            F.lit(_CSE_NBINS - 1),
            F.floor(token_count(text).cast("double") / _CSE_BIN_W),
        )
        .cast("long")
        .alias("len_bin"),
        quality_score(text).alias("q"),
    )
    esrc = d.agg(F.min("source").alias("s"))
    tgt = scored.groupBy("len_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    ev = (
        scored.crossJoin(F.broadcast(esrc))
        .filter(F.col("source") == F.col("s"))
        .groupBy("len_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_e"),
            F.sum("q").alias("sq"),
            F.avg("q").alias("mq"),
        )
    )
    tots = tgt.agg(F.sum("n_t").alias("nt")).crossJoin(
        ev.agg(F.sum("n_e").alias("ne"))
    )
    bins = (
        tgt.join(ev, "len_bin", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "len_bin",
            "n_t",
            F.coalesce(F.col("n_e"), F.lit(0)).alias("n_e"),
            F.when(
                F.col("n_e").isNotNull(),
                (F.col("n_t").cast("double") / F.col("nt"))
                / (F.col("n_e").cast("double") / F.col("ne")),
            ).alias("w"),
            "sq",
            "mq",
        )
    )
    per_bin = bins.select(
        "len_bin",
        F.col("n_t").cast("long").alias("n_target"),
        F.col("n_e").cast("long").alias("n_eval"),
        dround(F.col("w"), 6).alias("weight"),
        dround(F.col("mq"), 6).alias("mean_q_eval"),
        F.lit(None).cast("double").alias("shifted_mean_q"),
        F.lit(None).cast("double").alias("ess"),
    )
    overall = bins.agg(
        F.sum("n_t").cast("long").alias("n_target"),
        F.sum("n_e").cast("long").alias("n_eval"),
        dround(
            F.sum("sq") / F.nullif(F.sum("n_e"), F.lit(0)), 6
        ).alias("mean_q_eval"),
        dround(
            F.sum(F.col("w") * F.col("sq"))
            / F.nullif(F.sum(F.col("w") * F.col("n_e")), F.lit(0)),
            6,
        ).alias("shifted_mean_q"),
        dround(
            (
                F.sum(F.col("w") * F.col("n_e"))
                * F.sum(F.col("w") * F.col("n_e"))
            )
            / F.nullif(
                F.sum(F.col("w") * F.col("w") * F.col("n_e")), F.lit(0)
            ),
            4,
        ).alias("ess"),
    ).select(
        F.lit(-1).cast("long").alias("len_bin"),
        "n_target",
        "n_eval",
        F.lit(None).cast("double").alias("weight"),
        "mean_q_eval",
        "shifted_mean_q",
        "ess",
    )
    return per_bin.unionByName(overall)
