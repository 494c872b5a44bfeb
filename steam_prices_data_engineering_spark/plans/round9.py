"""Round-9 extension tier (VERDICT r8 Next-round #6), composed on
existing production stages:

- `longest_dup_substring` — suffix-grain longest duplicated substring
  via sorted window-hash runs (Lee et al. 2022 "Deduplicating Training
  Data Makes Language Models Better" §4.1, arXiv:2107.06499): upgrades
  the fixed 8/10-token chunk passes (`chunk_dedup_ratio`,
  `substring_dup_spans`) to MAXIMAL duplicated-run length per document.
- `streaming_restart_carryover` — checkpoint stop/start compatibility
  as a REGISTERED query: the same stateful aggregation runs as two
  availableNow triggers over one checkpoint, the second seeing only
  newly-landed files; the final table must equal the batch aggregate,
  which is the oracle (promotes tests/test_streaming_restart.py's
  property into the driver gate).
- `dedup_index_compaction` — cross-snapshot maintenance of the MinHash
  band index: merge tonight's delta bands into the base index while
  dropping tombstoned (deleted) docs; composes the SAME sig/band stages
  as neardup_minhash_lsh / dedup_incremental_delta.
- `embedding_source_psi` — per-source embedding drift: PSI of each
  source's dim-1 marginal against the reference source's decile bins
  (composes psi_value_drift's binning discipline at the
  embedding_dim_stats grain; the fixture's embeddings are
  unit-normalized, so norm-based drift is vacuous — probed).
- `streaming_state_introspection` — the state store read BACK from
  checkpoint files with Spark 4's `statestore` batch source and audited
  per event_type (state rows, folded counts, window range) against an
  exact batch oracle — the production state-debugging surface.

No counterpart in the reference (a single-threaded pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py);
these are the dedup-forensics, stream-redeploy, index-maintenance and
embedding-monitoring jobs a 100 TB training-data platform runs on the
same engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..session import landing, pin
from ..sources.tables import TABLE_SCHEMAS, read_table
from ..streaming.sizing import run_stream
from .registry import register

# ===========================================================================
# Longest duplicated substring (suffix grain, W-token resolution).
#
# Stride-1 windows of W=8 token hashes; a window duplicated across >= 2
# distinct docs marks its start position; per doc, CONSECUTIVE marked
# positions merge into maximal runs (pos - row_number() islands), and a
# run of L windows certifies a duplicated substring of L + W - 1 tokens
# — the suffix-array longest-dup result at W-token resolution, without
# the suffix array: every stage is explode -> groupBy (map-side
# combined) or an equi-join on the window hash, so the shuffle key is
# the 31-bit window hash and nothing is quadratic in corpus size.
#
# Scale shape: the window-hash index is the SAME shape as the
# substring_dup_spans pass (stride-1 windows shuffle as keys); the
# dup-hash set is DF-bounded by construction (HAVING >= 2 distinct
# docs), and the top-20 report is TakeOrderedAndProject, never a global
# window.
# ===========================================================================

_LDS_W = 8  # window width in tokens
_LDS_TOP = 20


def _lds_wpos_ctes() -> str:
    """tokhash -> winh -> wpos CTE prefix (SQL twin of _lds_wpos)."""
    from ..functions.sqlfrag import sql_ngram_hashes, sql_token_hashes

    return f"""tokhash AS (
    SELECT doc_id, {sql_token_hashes()} AS th FROM documents
),
winh AS (
    SELECT doc_id, {sql_ngram_hashes('th', _LDS_W)} AS wh FROM tokhash
),
wpos AS (
    SELECT doc_id, h, pos FROM (
        SELECT doc_id, unnest(wh) AS h,
               generate_subscripts(wh, 1) AS pos
        FROM winh
    )
)"""


def _lds_sql() -> str:
    return f"""
WITH {_lds_wpos_ctes()},
duph AS (
    SELECT h FROM wpos GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
dup_pos AS (
    SELECT p.doc_id, p.pos FROM wpos p JOIN duph d ON d.h = p.h
),
runs AS (
    SELECT doc_id,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
    FROM dup_pos
),
spans AS (
    SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_windows
    FROM runs GROUP BY doc_id, grp
),
per_doc AS (
    SELECT doc_id,
           CAST(max(run_windows) + {_LDS_W - 1} AS BIGINT)
               AS longest_dup_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(run_windows) AS BIGINT) AS n_dup_windows
    FROM spans GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, longest_dup_tokens, n_spans,
       n_dup_windows
FROM per_doc
ORDER BY longest_dup_tokens DESC, doc_id ASC NULLS FIRST
LIMIT {_LDS_TOP}
"""


def _lds_wpos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, h) stride-1 window-hash positions — the shared
    first stage of both suffix-grain dup queries.

    Staged projections per the interpreted-HOF rule; the window array
    is pinned BEFORE posexplode (Generate re-evaluates an uncached HOF
    chain per exploded row — the 50x shingle-index lesson). spread()
    first: the W=8 unrolled window hash is ~4x heavier per row than the
    shingle chain and MEASURED 4.3 -> 1.1 s cold at sf0.1 with the
    round-robin exchange (the single-file landing otherwise runs the
    whole HOF stage on one task)."""
    from ..functions.text import ngram_hash_array, token_hash_array
    from ..sources.tables import spread

    d = read_table(spark, sf_dir, "documents")
    winh = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", token_hash_array(F.col("text")).alias("th"))
        .select(
            "doc_id", ngram_hash_array(F.col("th"), _LDS_W).alias("wh")
        )
    )
    winh = pin(winh)  # explode feeds 2 consumers
    wpos = winh.select(
        "doc_id", F.posexplode(F.col("wh")).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    return wpos


@register("longest_dup_substring", _lds_sql())
def longest_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 docs by longest duplicated substring (in tokens, W=8
    window resolution), with span/window counts — all exact integers."""
    wpos = _lds_wpos(spark, sf_dir)
    duph = (
        wpos.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_pos = wpos.join(duph, "h", "left_semi").select("doc_id", "pos")
    wrn = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        dup_pos.select(
            "doc_id", (F.col("pos") - F.row_number().over(wrn)).alias("grp")
        )
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_windows"))
    )
    per_doc = spans.groupBy("doc_id").agg(
        (F.max("run_windows") + (_LDS_W - 1))
        .cast("long")
        .alias("longest_dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("run_windows").cast("long").alias("n_dup_windows"),
    )
    return (
        per_doc.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "longest_dup_tokens",
            "n_spans",
            "n_dup_windows",
        )
        .orderBy(F.desc("longest_dup_tokens"), F.asc("doc_id"))
        .limit(_LDS_TOP)
    )


# ===========================================================================
# Streaming checkpoint stop/start carryover as a driver-gated query.
#
# The SAME hourly stateful aggregation runs as TWO availableNow triggers
# sharing one checkpoint: run 1 sees only the even-event_id file batch,
# stops, the odd batch lands while the query is DOWN, and run 2 (state
# RESTORED from the checkpoint) processes only the new files. Complete
# output mode re-emits full state each batch, so the final table equals
# the batch hourly aggregate over ALL events — the oracle — if and only
# if the restart restored state instead of rebuilding from scratch
# (run 1's partial totals are asserted strictly smaller in-builder).
#
# sum_value is carried as INTEGER MICRO-UNITS (floor(v*1e6+0.5) summed
# as LONG) — complete-mode re-aggregation order is nondeterministic and
# a float sum feeding a dround-compared output can land on a rounding
# half-boundary (the rolling_origin_backtest lesson, CLAUDE.md).
#
# Scale shape: the source files and checkpoint sit in a session landing
# (`session.landing`); state is per (hour, event_type) — the production form adds a
# watermark to bound it; state partitions are sized from the landing
# (streaming/sizing.py).
# ===========================================================================

# WHERE mirrors the builder's NULL guard on the event_id batch split: a
# NULL event_id row falls in NEITHER parity batch (the r9 NULL-branch-
# predicate gotcha), so it must not land in the oracle's count either.
_RESTART_SQL = f"""
SELECT CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts))) AS BIGINT)
           AS hour_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * CAST(1000000 AS DOUBLE)
                           + CAST(0.5 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS sum_value_micro
FROM events
WHERE event_id IS NOT NULL
GROUP BY 1, 2
"""


def _restart_agg(stream: DataFrame) -> DataFrame:
    return (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.floor(
                    F.col("value") * F.lit(1000000.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("sum_value_micro"),
        )
        .select(
            F.col("w.start").cast("long").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value_micro",
        )
    )


def _restart_run_once(spark: SparkSession, src: str, ckpt: str) -> DataFrame:
    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .format("parquet")
        .load(src)
    )
    # State sized from the scratch landing (floor=8, the r9-measured value
    # at local scale). Run 1 pins the count into the checkpoint and run 2
    # resumes with it; results are partitioning-invariant (oracle +
    # carryover assertion).
    return run_stream(
        _restart_agg(stream), "complete", src, floor=8, checkpoint=ckpt
    )


@register("streaming_restart_carryover", _RESTART_SQL)
def streaming_restart_carryover(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly event aggregate computed ACROSS a checkpoint stop/start
    (two availableNow runs, second sees only new files); equals the
    batch aggregate iff checkpointed state carried over."""
    # NULL guard + pmod: a NULL event_id falls in neither parity batch
    # and a negative id under `%` gives remainder -1, also neither — the
    # r9 NULL-branch-predicate gotcha. The oracle carries the same
    # IS NOT NULL filter.
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull()
    )
    scratch = landing(spark, "restart_carryover", sf_dir)
    src = os.path.join(scratch, "src")
    ckpt = os.path.join(scratch, "ckpt")
    evens = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    odds = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    # both parity counts in ONE scan (was two .count() jobs = two
    # full passes over events; guide §1.2 — don't compute twice)
    parity_counts = {
        r["p"]: r["n"]
        for r in ev.groupBy(
            F.pmod(F.col("event_id"), F.lit(2)).alias("p")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_even = parity_counts.get(0, 0)
    n_odd = parity_counts.get(1, 0)
    evens.write.mode("append").parquet(src)
    run1 = _restart_run_once(spark, src, ckpt)
    n1 = run1.agg(F.sum("n_events")).collect()[0][0] or 0
    odds.write.mode("append").parquet(src)
    run2 = _restart_run_once(spark, src, ckpt)
    n2 = run2.agg(F.sum("n_events")).collect()[0][0] or 0
    # exact carryover proof (empty-input safe: 0 == 0 on empty
    # events): run 1 saw exactly the even batch; the restarted run's
    # state covers even + odd — a rebuilt state would total only
    # n_odd.
    if n1 != n_even or n2 != n_even + n_odd:
        raise RuntimeError(
            f"checkpoint carryover violated: run1 totals {n1} "
            f"(expected {n_even}), restarted run totals {n2} "
            f"(expected {n_even + n_odd}) — state was rebuilt or "
            "batch 2 leaked into run 1"
        )
    # the memory sink holds its rows driver-side — the returned frame
    # does not read the landing or checkpoint again
    return run2.select(
        "hour_start", "event_type", "n_events", "sum_value_micro"
    )


# ===========================================================================
# Dedup band-index compaction (cross-snapshot maintenance): the nightly
# job that folds tonight's DELTA bands into the BASE MinHash band index
# while physically dropping TOMBSTONED (deleted) docs' entries — the
# LSM-style merge that keeps dedup_incremental_delta's probe target from
# accreting dead entries. Splits reuse dedup_incremental_delta's knuth
# buckets: delta = buckets 8-9, base = 0-7, tombstones = bucket 0 (a
# GDPR-style deletion batch inside the base).
#
# Scale shape: ONE sig/band derivation (the shared minhash stages); the
# report is two map-side-combined aggregates on the (band_idx) grain —
# compaction at 100 TB rewrites band-partitioned files, and this report
# is exactly the per-band bookkeeping that drives which partitions
# rewrite (all-integer, so the driver gate is exact).
# ===========================================================================


def _compaction_sql() -> str:
    from ..functions.sqlfrag import sql_minhash_sig_band_ctes
    from .trainset import knuth_sql

    bucket = f"({knuth_sql()} % 10)"
    return f"""
WITH {sql_minhash_sig_band_ctes()},
sides AS (
    SELECT doc_id,
           ({bucket} >= 8) AS is_delta,
           ({bucket} = 0) AS is_tomb
    FROM documents
),
tagged AS (
    SELECT b.band_idx, b.band_key, s.is_delta, s.is_tomb
    FROM banded b JOIN sides s ON s.doc_id = b.doc_id
),
counts AS (
    SELECT band_idx,
           CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
           CAST(sum(CASE WHEN is_tomb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tombstoned,
           CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
               AS n_delta
    FROM tagged GROUP BY band_idx
),
live_buckets AS (
    SELECT band_idx,
           CAST(count(DISTINCT band_key) AS BIGINT) AS n_live_buckets
    FROM tagged WHERE NOT is_tomb GROUP BY band_idx
)
SELECT c.band_idx, c.n_base, c.n_tombstoned, c.n_delta,
       CAST(c.n_base - c.n_tombstoned + c.n_delta AS BIGINT) AS n_live,
       lb.n_live_buckets
FROM counts c JOIN live_buckets lb ON lb.band_idx = c.band_idx
"""


@register("dedup_index_compaction", _compaction_sql())
def dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band compaction report: base entries, tombstoned drops, delta
    additions, live entries and live bucket count after the merge."""
    from ..operators.dedup import (
        hashed_shingle_table,
        minhash_banded,
        minhash_sig_table,
    )
    from .trainset import knuth_hash

    d = read_table(spark, sf_dir, "documents")
    bucket = knuth_hash() % 10
    sides = d.select(
        "doc_id",
        (bucket >= 8).alias("is_delta"),
        (bucket == 0).alias("is_tomb"),
    )
    banded = minhash_banded(minhash_sig_table(hashed_shingle_table(d)))
    tagged = banded.join(sides, "doc_id").select(
        "band_idx", "band_key", "is_delta", "is_tomb"
    )
    tagged = pin(tagged)  # counts + bucket census
    counts = tagged.groupBy("band_idx").agg(
        F.sum(F.when(~F.col("is_delta"), 1).otherwise(0))
        .cast("long")
        .alias("n_base"),
        F.sum(F.when(F.col("is_tomb"), 1).otherwise(0))
        .cast("long")
        .alias("n_tombstoned"),
        F.sum(F.when(F.col("is_delta"), 1).otherwise(0))
        .cast("long")
        .alias("n_delta"),
    )
    live_buckets = (
        tagged.filter(~F.col("is_tomb"))
        .groupBy("band_idx")
        .agg(F.count_distinct("band_key").cast("long").alias("n_live_buckets"))
    )
    return counts.join(live_buckets, "band_idx").select(
        "band_idx",
        "n_base",
        "n_tombstoned",
        "n_delta",
        (F.col("n_base") - F.col("n_tombstoned") + F.col("n_delta"))
        .cast("long")
        .alias("n_live"),
        "n_live_buckets",
    )


# ===========================================================================
# Per-source embedding drift (PSI over the reference source's decile
# bins). Value = the dim-1 MARGINAL of each embedding, dround(6) — a
# per-coordinate drift monitor (the embedding_dim_stats grain). The
# fixture's embeddings are UNIT-NORMALIZED (probed: norm² is exactly
# 1.0 after dround(6) for all 500 sf0.001 vectors), so a norm-based
# value is vacuous; a coordinate marginal carries real distributional
# signal and stays pure codegen (element_at — no fold, no ULP-order
# channel: the float32 -> double conversion is exact and identical in
# both engines). Reference source = min(source) (deterministic,
# regeneration-proof); its 9 decile edges (percentile == quantile_cont,
# CLAUDE.md) bin every source; PSI terms use the psi_value_drift
# epsilon discipline. The production form maps this over all d dims
# (dim-explode) and alerts on max-PSI dim per source.
#
# Scale shape: one embeddings scan, one bounded percentile pass on the
# reference source, one (source, bin) aggregate; the edges and totals
# ride broadcast crossJoins. The spine is sources × 10 bins so empty
# bins surface with p_cur = 0.
# ===========================================================================

_EPSI_EPS = "CAST(0.000001 AS DOUBLE)"


def _epsi_sql() -> str:
    return f"""
WITH j AS MATERIALIZED (
    SELECT d.source,
           {R('CAST(e.embedding[1] AS DOUBLE)', 6)} AS v
    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
refsrc AS MATERIALIZED (SELECT min(source) AS ref FROM j),
edges AS MATERIALIZED (
    SELECT {", ".join(
        R(f'quantile_cont(v, {i / 10.0})', 6) + f' AS e{i}'
        for i in range(1, 10)
    )}
    FROM j CROSS JOIN refsrc WHERE j.source = refsrc.ref
),
binned AS (
    SELECT j.source,
           1 {"".join(
               f"+ (CASE WHEN j.v > e.e{i} THEN 1 ELSE 0 END) "
               for i in range(1, 10)
           )} AS bin
    FROM j CROSS JOIN edges e
),
cnt AS MATERIALIZED (
    SELECT source, bin, CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY source, bin
),
totals AS MATERIALIZED (
    SELECT source, CAST(sum(n) AS DOUBLE) AS tot FROM cnt GROUP BY source
),
refshare AS MATERIALIZED (
    SELECT c.bin, CAST(c.n AS DOUBLE) / t.tot AS p_ref
    FROM cnt c
    JOIN totals t ON t.source = c.source
    CROSS JOIN refsrc r
    WHERE c.source = r.ref
),
spine AS (
    SELECT s.source, CAST(r.range AS INTEGER) AS bin
    FROM (SELECT DISTINCT source FROM j) s
    CROSS JOIN range(1, 11) r
)
SELECT sp.source, CAST(sp.bin AS BIGINT) AS bin,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_cur,
       {R('coalesce(CAST(c.n AS DOUBLE) / t.tot, CAST(0 AS DOUBLE))', 6)}
           AS p_cur,
       {R('coalesce(rs.p_ref, CAST(0 AS DOUBLE))', 6)} AS p_ref,
       {R(f'''(coalesce(CAST(c.n AS DOUBLE) / t.tot, CAST(0 AS DOUBLE))
              - coalesce(rs.p_ref, CAST(0 AS DOUBLE)))
             * ln(greatest(coalesce(CAST(c.n AS DOUBLE) / t.tot,
                                    CAST(0 AS DOUBLE)), {_EPSI_EPS})
                  / greatest(coalesce(rs.p_ref, CAST(0 AS DOUBLE)),
                             {_EPSI_EPS}))''', 6)} AS psi_term
FROM spine sp
CROSS JOIN refsrc r
LEFT JOIN cnt c ON c.source = sp.source AND c.bin = sp.bin
LEFT JOIN totals t ON t.source = sp.source
LEFT JOIN refshare rs ON rs.bin = sp.bin
WHERE sp.source <> r.ref
"""


@register("embedding_source_psi", _epsi_sql())
def embedding_source_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, bin) PSI terms of the embedding dim-1 marginal vs
    the reference (alphabetically-first) source's decile bins."""
    e = read_table(spark, sf_dir, "embeddings")
    d = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    j = e.join(d, "vec_id").select(
        "source",
        dround(
            F.element_at(F.col("embedding"), 1).cast("double"), 6
        ).alias("v"),
    )
    j = pin(j)  # ref pick + edges + binning
    refsrc = j.agg(F.min("source").alias("ref"))
    edges = (
        j.crossJoin(F.broadcast(refsrc))
        .filter(F.col("source") == F.col("ref"))
        .agg(
            *[
                dround(F.percentile(F.col("v"), i / 10.0), 6).alias(f"e{i}")
                for i in range(1, 10)
            ]
        )
    )
    binexpr = F.lit(1)
    for i in range(1, 10):
        binexpr = binexpr + F.when(
            F.col("v") > F.col(f"e{i}"), 1
        ).otherwise(0)
    cnt = (
        j.crossJoin(F.broadcast(edges))
        .select("source", binexpr.alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cnt = pin(cnt)  # totals + ref share + spine
    totals = cnt.groupBy("source").agg(
        F.sum("n").cast("double").alias("tot")
    )
    refshare = (
        cnt.join(totals, "source")
        .crossJoin(F.broadcast(refsrc))
        .filter(F.col("source") == F.col("ref"))
        .select("bin", (F.col("n").cast("double") / F.col("tot")).alias("p_ref"))
    )
    spine = (
        cnt.select("source")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
            )
        )
    )
    eps = F.expr(_EPSI_EPS)
    p_cur = F.coalesce(
        F.col("n").cast("double") / F.col("tot"), F.lit(0.0)
    )
    p_ref = F.coalesce(F.col("p_ref"), F.lit(0.0))
    return (
        spine.crossJoin(F.broadcast(refsrc))
        .join(cnt, ["source", "bin"], "left")
        .join(totals, "source", "left")
        .join(refshare, "bin", "left")
        .filter(F.col("source") != F.col("ref"))
        .select(
            "source",
            F.col("bin").cast("long").alias("bin"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_cur"),
            dround(p_cur, 6).alias("p_cur"),
            dround(p_ref, 6).alias("p_ref"),
            dround(
                (p_cur - p_ref)
                * F.log(
                    F.greatest(p_cur, eps) / F.greatest(p_ref, eps)
                ),
                6,
            ).alias("psi_term"),
        )
    )

# ===========================================================================
# Streaming state-store introspection (Spark 4's `statestore` batch
# reader): run the hourly stateful aggregation to a checkpoint, then
# batch-read the state store FILES back and audit what the operator is
# actually holding — per event_type: state-row count, the total count
# folded into state, and the first/last window held. In production this
# is the state-debugging / capacity-planning surface (state bloat, key
# skew, watermark stalls) that otherwise needs the Spark UI; here the
# whole audit is an exact-integer oracle row because one availableNow
# batch folds every event into state.
#
# Scale shape: the state read is partition-parallel over the store's
# own files (no shuffle until the bounded event_type rollup); the
# streaming run lands its source and checkpoint in a session landing, as
# streaming_restart_carryover does.
# ===========================================================================

_SSI_SQL = """
WITH hourly AS (
    SELECT event_type,
           CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts))) AS BIGINT)
               AS hs,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_state_rows,
       CAST(sum(n) AS BIGINT) AS sum_state_count,
       CAST(min(hs) AS BIGINT) AS first_hour,
       CAST(max(hs) AS BIGINT) AS last_hour
FROM hourly GROUP BY event_type
"""


@register("streaming_state_introspection", _SSI_SQL)
def streaming_state_introspection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event_type audit of the windowed-count operator's state
    store, read back from checkpoint files with the `statestore` batch
    source; equals the batch hourly rollup (complete-mode state holds
    every window after one availableNow batch)."""
    ev = read_table(spark, sf_dir, "events")
    scratch = landing(spark, "state_introspection", sf_dir)
    src = os.path.join(scratch, "src")
    ckpt = os.path.join(scratch, "ckpt")
    ev.write.parquet(src)
    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .format("parquet")
        .load(src)
    )
    # (hour, event_type) state is hundreds of keys: state sized from
    # the landing (floor=8) cuts both the commit I/O of the run AND
    # the statestore read-back (one state file per partition).
    # partition_id never reaches the compared output (CLAUDE.md).
    run_stream(
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        "complete",
        src,
        floor=8,
        checkpoint=ckpt,
    )
    state = spark.read.format("statestore").load(ckpt)
    audited = state.groupBy(
        F.col("key.event_type").alias("event_type")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_state_rows"),
        F.sum(F.col("value.count")).cast("long").alias("sum_state_count"),
        F.min(F.col("key.window.start").cast("long"))
        .cast("long")
        .alias("first_hour"),
        F.max(F.col("key.window.start").cast("long"))
        .cast("long")
        .alias("last_hour"),
    )
    # the statestore read is FILE-backed and lazy, and the next build of
    # this query removes the checkpoint — materialize the bounded
    # (event_type-grain) audit and hand back a local relation
    rows = audited.collect()
    return spark.createDataFrame(rows, audited.schema)

# ===========================================================================
# Pairwise longest-shared-span attribution (round 9b): the TRUE
# longest-common-substring report per DOCUMENT PAIR — Lee et al. 2022's
# matched-span extension, relationalized. Window matches between two
# docs at positions (pa, pb) extend into a longer shared substring
# exactly when BOTH advance by one, i.e. along a CONSTANT DIAGONAL
# pa - pb; so per (doc_a, doc_b, diag), consecutive pa runs are maximal
# shared spans, and a run of L windows certifies L + W - 1 shared
# tokens WITH the partner attributed (longest_dup_substring reports the
# per-doc signal without naming the partner; this names it and cannot
# chimera two different partners into one span).
#
# Scale shape: the match relation is a SELF-EQUI-JOIN of wpos on the
# window hash, DF-CAPPED at the hash grain (windows held by more than
# _LDS_PAIR_CAP distinct docs are boilerplate/stop-windows; skipping
# them bounds per-hash pair fan-out at CAP², the containment-dedup
# discipline — the trade is stated, and the cap is an audit knob).
# Islands/rollups are map-side-combined groupBys on (pair, diag); the
# report is TakeOrderedAndProject.
# ===========================================================================

_LDS_PAIR_CAP = 16


def _ldsp_sql() -> str:
    return f"""
WITH {_lds_wpos_ctes()},
hocc AS MATERIALIZED (
    SELECT h FROM wpos GROUP BY h
    HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_LDS_PAIR_CAP}
),
m AS (
    SELECT a.doc_id AS da, b.doc_id AS db,
           a.pos AS pa, a.pos - b.pos AS diag
    FROM wpos a
    JOIN hocc s ON s.h = a.h
    JOIN wpos b ON b.h = a.h AND a.doc_id < b.doc_id
),
runs AS (
    SELECT da, db, diag,
           pa - row_number() OVER (
               PARTITION BY da, db, diag ORDER BY pa) AS grp
    FROM m
),
spans AS (
    SELECT da, db, CAST(count(*) AS BIGINT) AS run_windows
    FROM runs GROUP BY da, db, diag, grp
),
per_pair AS (
    SELECT da, db,
           CAST(max(run_windows) + {_LDS_W - 1} AS BIGINT)
               AS longest_shared_tokens,
           CAST(count(*) AS BIGINT) AS n_shared_spans
    FROM spans GROUP BY da, db
)
SELECT CAST(da AS BIGINT) AS doc_id_a, CAST(db AS BIGINT) AS doc_id_b,
       longest_shared_tokens, n_shared_spans
FROM per_pair
ORDER BY longest_shared_tokens DESC, doc_id_a ASC NULLS FIRST,
         doc_id_b ASC NULLS FIRST
LIMIT {_LDS_TOP}
"""


@register("longest_dup_span_pairs", _ldsp_sql())
def longest_dup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 document pairs by longest shared substring (tokens, W=8
    resolution, constant-diagonal run extension), with span counts."""
    wpos = _lds_wpos(spark, sf_dir)
    hocc = (
        wpos.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _LDS_PAIR_CAP))
        .select("h")
    )
    a = wpos.join(hocc, "h", "left_semi").alias("a")
    b = wpos.alias("b")
    m = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.col("a.pos").alias("pa"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    wrn = Window.partitionBy("da", "db", "diag").orderBy("pa")
    spans = (
        m.select(
            "da", "db", "diag",
            (F.col("pa") - F.row_number().over(wrn)).alias("grp"),
        )
        .groupBy("da", "db", "diag", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_windows"))
    )
    per_pair = spans.groupBy("da", "db").agg(
        (F.max("run_windows") + (_LDS_W - 1))
        .cast("long")
        .alias("longest_shared_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_shared_spans"),
    )
    return (
        per_pair.select(
            F.col("da").cast("long").alias("doc_id_a"),
            F.col("db").cast("long").alias("doc_id_b"),
            "longest_shared_tokens",
            "n_shared_spans",
        )
        .orderBy(
            F.desc("longest_shared_tokens"),
            F.asc("doc_id_a"),
            F.asc("doc_id_b"),
        )
        .limit(_LDS_TOP)
    )

# ===========================================================================
# PII redaction TRANSFORM (round 9c): the round-7 audit counts PII; a
# governance pipeline must also REWRITE it. Staged regexp_replace chain
# in a pinned order — emails first (their digit runs vanish with them),
# then international phone tokens, then residual 6+-digit runs — each
# count taken on the string state the replacement actually sees, so the
# per-type replacement totals are exact in both engines. The rebuilt
# corpus itself is verified by an ORDER-FREE integer checksum (sum of
# 24-bit md5 prefixes of the redacted lines), not just by counts — the
# partition_fingerprint_diff discipline applied to a transform output.
#
# Scale shape: one event scan; every stage is a per-row codegen'd
# regexp over the staged line projection; the report is a map-side-
# combined aggregate on the bounded event_type grain. DuckDB needs the
# 'g' flag (its regexp_replace is first-match by default; Spark's is
# global) — parity pinned by the oracle gate and the hostile test.
# ===========================================================================

def _pii_redact_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int
    from .round7 import _PII_DIGITS, _PII_EMAIL, _PII_PHONE, pii_line_sql

    chk = sql_md5_hex6_to_int("r3")
    return f"""
WITH msg AS (
    SELECT event_type, {pii_line_sql()} AS line FROM events
),
s1 AS (
    SELECT event_type, line,
           CAST(len(regexp_extract_all(line, '{_PII_EMAIL}')) AS BIGINT)
               AS e_cnt,
           regexp_replace(line, '{_PII_EMAIL}', '<EMAIL>', 'g') AS r1
    FROM msg
),
s2 AS (
    SELECT event_type, line, e_cnt,
           CAST(len(regexp_extract_all(r1, '{_PII_PHONE}')) AS BIGINT)
               AS p_cnt,
           regexp_replace(r1, '{_PII_PHONE}', '<PHONE>', 'g') AS r2
    FROM s1
),
s3 AS (
    SELECT event_type, line, e_cnt, p_cnt,
           CAST(len(regexp_extract_all(r2, '{_PII_DIGITS}')) AS BIGINT)
               AS d_cnt,
           regexp_replace(r2, '{_PII_DIGITS}', '<NUM>', 'g') AS r3
    FROM s2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN line <> r3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_redacted,
       CAST(sum(e_cnt) AS BIGINT) AS n_email_repl,
       CAST(sum(p_cnt) AS BIGINT) AS n_phone_repl,
       CAST(sum(d_cnt) AS BIGINT) AS n_digit_repl,
       CAST(sum({chk}) AS BIGINT) AS redacted_checksum
FROM s3
GROUP BY event_type
"""


@register("pii_redaction_transform", _pii_redact_sql())
def pii_redaction_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type redaction report: events touched, replacements by
    pattern class, and an order-free integer checksum of the REDACTED
    corpus proving the rewritten text matches byte-for-byte."""
    from ..functions.text import md5_hex6_to_int
    from .round7 import _PII_DIGITS, _PII_EMAIL, _PII_PHONE, pii_line_col

    from ..sources.tables import spread

    e = read_table(spark, sf_dir, "events")
    # spread() the narrow (event_type, line) projection before the
    # regex chain: 5 regexp passes + a per-row md5 are the whole cost of
    # this query and the single-file landing otherwise runs them on the
    # scan's 1-3 splits (guide §2.6 stragglers/idle capacity; the
    # bootstrap_mean_ci lesson — ship only what the CPU stage needs).
    s1 = spread(e.select("event_type", pii_line_col().alias("line"))).select(
        "event_type",
        "line",
        F.size(
            F.regexp_extract_all(F.col("line"), F.lit(_PII_EMAIL), F.lit(0))
        )
        .cast("long")
        .alias("e_cnt"),
        F.regexp_replace(F.col("line"), _PII_EMAIL, "<EMAIL>").alias("r1"),
    )
    s2 = s1.select(
        "event_type",
        "line",
        "e_cnt",
        F.size(
            F.regexp_extract_all(F.col("r1"), F.lit(_PII_PHONE), F.lit(0))
        )
        .cast("long")
        .alias("p_cnt"),
        F.regexp_replace(F.col("r1"), _PII_PHONE, "<PHONE>").alias("r2"),
    )
    s3 = s2.select(
        "event_type",
        "line",
        "e_cnt",
        "p_cnt",
        F.size(
            F.regexp_extract_all(F.col("r2"), F.lit(_PII_DIGITS), F.lit(0))
        )
        .cast("long")
        .alias("d_cnt"),
        F.regexp_replace(F.col("r2"), _PII_DIGITS, "<NUM>").alias("r3"),
    )
    return s3.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("line") != F.col("r3"), 1).otherwise(0))
        .cast("long")
        .alias("n_redacted"),
        F.sum("e_cnt").cast("long").alias("n_email_repl"),
        F.sum("p_cnt").cast("long").alias("n_phone_repl"),
        F.sum("d_cnt").cast("long").alias("n_digit_repl"),
        F.sum(md5_hex6_to_int(F.col("r3")))
        .cast("long")
        .alias("redacted_checksum"),
    )
