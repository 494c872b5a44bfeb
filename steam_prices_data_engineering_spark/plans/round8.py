"""Round-8 tier: the thinnest remaining surfaces after the round-7
verdict — eval-suite decontamination at the standard 13-gram grain,
a chained stateful streaming query DOWNSTREAM of a stream-stream join
(Spark 3.4+ multi-stateful support; the streaming family's missing
composition), an SRE-style multi-window SLO burn-rate monitor, a
consistent-hashing shard-rebalance audit (the topology-maintenance
twin of shard_skew_audit), a BPE encode-decode round-trip property
check composed on the learned merges, and a range-partition planner
built on the exact-quantile selection primitive.

No counterpart in the reference (a single-threaded 2-job pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py:1);
these extend SURVEY.md §2b's LLM-data-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_ngram_hashes, sql_token_hashes
from ..functions.text import ngram_hash_array, token_hash_array
from ..session import pin
from ..sources.tables import read_table, spread
from .registry import register

# ===========================================================================
# Eval-suite decontamination at the 13-gram grain — the n-gram-overlap
# standard large-LM reports use (GPT-3 appendix C / PaLM use 8-13 token
# overlaps; 13 is the canonical "long enough to be non-accidental"
# choice). The existing 3-gram `decontaminate_ngram_overlap` is the
# high-recall prefilter; THIS is the precision gate: a train doc is
# contaminated only if it shares a full 13-token run with the eval set.
# Composes the parametric n-gram hash (functions/text.py:
# ngram_hash_array / sqlfrag.sql_ngram_hashes — same fold + constants as
# the 3-gram shingle family, never an inline copy).
#
# Scale shape: hashes explode to (doc, gram) rows and the overlap test
# is a semi join on the gram key; the eval side is a benchmark suite —
# bounded — so its distinct grams broadcast. The corpus never joins
# itself; candidate volume is linear in matching grams.
# ===========================================================================

_D13_N = 13
_D13_EVAL_MOD = 97  # doc_id % 97 == 0 -> the held-out eval suite


def _d13_sql() -> str:
    return f"""
WITH tokhash13 AS (
    SELECT doc_id, source, {sql_token_hashes()} AS th FROM documents
),
ng13 AS (
    SELECT doc_id, source,
           list_distinct({sql_ngram_hashes('th', _D13_N)}) AS hs
    FROM tokhash13
),
ev13 AS (
    SELECT DISTINCT unnest(hs) AS g FROM ng13
    WHERE doc_id % {_D13_EVAL_MOD} = 0
),
tr13 AS (
    SELECT doc_id, unnest(hs) AS g FROM ng13
    WHERE doc_id % {_D13_EVAL_MOD} <> 0
),
flagged13 AS (
    SELECT DISTINCT t.doc_id FROM tr13 t JOIN ev13 e ON e.g = t.g
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       {R('CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) '
          'AS DOUBLE) / count(*)', 6)} AS flag_rate
FROM (SELECT doc_id, source FROM documents
      WHERE doc_id % {_D13_EVAL_MOD} <> 0) b
LEFT JOIN flagged13 f ON f.doc_id = b.doc_id
GROUP BY 1
"""


@register("decontam_ngram13_eval", _d13_sql())
def decontam_ngram13_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination rate of the training split against the
    eval split at the 13-gram grain."""
    d = read_table(spark, sf_dir, "documents")
    # stage th, then cache the hash-array frame BEFORE any explode (the
    # interpreted-HOF staging + cache-before-explode rules); both the
    # eval and train branches read the one cached hashing pass.
    sh = (
        spread(d)
        .select("doc_id", "source", token_hash_array(F.col("text")).alias("th"))
        .select(
            "doc_id",
            "source",
            F.array_distinct(
                ngram_hash_array(F.col("th"), _D13_N)
            ).alias("hs"),
        )
    )
    sh = pin(sh)  # eval + train branches
    is_eval = F.pmod(F.col("doc_id"), F.lit(_D13_EVAL_MOD)) == 0
    # explode_outer: plain explode would let InferFiltersFromGenerate
    # push a size(hs) > 0 filter (with the hash chain inlined) below the
    # exchange — the decontaminate_ngram_overlap lesson.
    ev = (
        sh.filter(is_eval)
        .select(F.explode_outer("hs").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    tr = (
        sh.filter(~is_eval)
        .select("doc_id", F.explode_outer("hs").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    flagged = (
        tr.join(F.broadcast(ev), "g", "left_semi").select("doc_id").distinct()
    )
    base = d.filter(~is_eval).select("doc_id", "source")
    return (
        base.join(flagged.withColumn("fl", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.sum(F.coalesce(F.col("fl"), F.lit(0)))
            .cast("long")
            .alias("n_flagged"),
            dround(
                F.sum(F.coalesce(F.col("fl"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("flag_rate"),
        )
    )


# ===========================================================================
# Chained stateful AFTER a stream-stream join (Spark 3.4+ multiple-
# stateful-operator support): purchases inner-joined to the same user's
# errors within 10 minutes, then tumbled into 15-minute pair counts —
# the join->window composition streaming_multires_rollup's agg->agg
# chain does not cover. Emission rule (probed empirically on this
# Spark, pinned in tests/test_streaming_boundary.py): the interval join
# delays the downstream event-time watermark by the interval UPPER
# bound, so with one availableNow replay a window emits iff
#   window_end < least(max_p_ts, max_e_ts) - (delay + interval)
# with STRICT <  (observed: a window whose end equals the boundary is
# still in state) — which is what the oracle encodes.
#
# Scale shape: join state is bounded by watermark delay + interval on
# both sides; the window agg holds only open 15-minute windows. The
# sum accumulates INTEGER micro-units (the rolling_origin rule) so
# state-store accumulation order cannot flip a dround boundary.
# ===========================================================================

_SJW_SQL = f"""
WITH wm AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'error')
    ) - INTERVAL 70 MINUTE AS w
),
pairs AS (
    SELECT p.ts AS pts, p.value AS v
    FROM events p JOIN events e
      ON p.user_id = e.user_id
     AND p.event_type = 'purchase' AND e.event_type = 'error'
     AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
),
win AS (
    SELECT time_bucket(INTERVAL 15 MINUTE, pts) AS ws,
           count(*) AS n_pairs,
           sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)) AS sv
    FROM pairs GROUP BY 1
)
SELECT CAST(floor(epoch(ws)) AS BIGINT) AS window_start,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       {R('CAST(sv AS DOUBLE) / 1000000.0', 4)} AS sum_purchase_value
FROM win CROSS JOIN wm
WHERE ws + INTERVAL 15 MINUTE < wm.w
"""


@register("streaming_join_then_window", _SJW_SQL)
def streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute pair counts of purchase->error-within-10-min, computed
    as ONE streaming query: stream-stream interval join chained into a
    stateful windowed aggregate."""
    from ..sources.tables import events_stream, table_path
    from ..streaming.sizing import run_stream

    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    e = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    agg = joined.groupBy(F.window("p_ts", "15 minutes").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.floor(F.col("p_value") * 1000000.0 + 0.5).cast("long")
        ).alias("_sv"),
    )
    out = agg.select(
        F.col("w.start").cast("long").alias("window_start"),
        "n_pairs",
        dround(F.col("_sv").cast("double") / F.lit(1000000.0), 4).alias(
            "sum_purchase_value"
        ),
    )
    # Three state stores (two join sides + the window agg) commit per
    # partition per micro-batch, so this chain gains most from state
    # sized to the data (streaming/sizing.py: 32 -> 18.2 s, 4 -> ~3 s);
    # the result set is partitioning-invariant (oracle + boundary tests).
    return run_stream(out, "append", table_path(sf_dir, "events"))


# ===========================================================================
# Multi-window SLO burn-rate monitor (the Google SRE-workbook fast-burn
# alert): per hour, the error-event share over the trailing 1-hour and
# 6-hour windows, expressed as burn rates against an error budget
# (observed rate / SLO target); the alert fires only when BOTH windows
# burn hot — the standard short+long window rule that filters blips
# without missing sustained burns.
#
# Scale shape: ONE events pass reduces to the hour grain (map-side
# combined); the 6-hour lookback is a RANGE frame over the hourly table
# — calendar-bounded (census-allowed), never a second fact scan. Every
# compared value is a ratio of exact integers over exact constants.
# ===========================================================================

_SLO_TARGET = "CAST(0.2 AS DOUBLE)"  # 20% error budget
_SLO_FAST = "CAST(1.3 AS DOUBLE)"  # 1h burn threshold
_SLO_SLOW = "CAST(1.15 AS DOUBLE)"  # 6h burn threshold

_SLO_SQL = f"""
WITH hourly AS (
    SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hb,
           CAST(count(*) AS BIGINT) AS n_1h,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS err_1h
    FROM events GROUP BY 1
),
rolled AS (
    SELECT hb, n_1h, err_1h,
           sum(n_1h) OVER (ORDER BY hb
                           RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
               AS n_6h,
           sum(err_1h) OVER (ORDER BY hb
                             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
               AS err_6h
    FROM hourly
)
SELECT hb * 3600 AS hour_start, n_1h, err_1h,
       {R(f'CAST(err_1h AS DOUBLE) / n_1h / {_SLO_TARGET}', 6)} AS burn_1h,
       CAST(n_6h AS BIGINT) AS n_6h, CAST(err_6h AS BIGINT) AS err_6h,
       {R(f'CAST(err_6h AS DOUBLE) / n_6h / {_SLO_TARGET}', 6)} AS burn_6h,
       (CAST(err_1h AS DOUBLE) / n_1h / {_SLO_TARGET} > {_SLO_FAST}
        AND CAST(err_6h AS DOUBLE) / n_6h / {_SLO_TARGET} > {_SLO_SLOW})
           AS fast_burn_alert
FROM rolled
"""


@register("slo_burn_rate_windows", _SLO_SQL)
def slo_burn_rate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly 1h/6h error burn rates vs a 20% budget with the
    two-window fast-burn alert."""
    e = read_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("hb")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_1h"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("err_1h"),
    )
    # hour grain: calendar-bounded (a year of hours is ~9k rows at any
    # corpus size) — the allowed partition-less RANGE frame class.
    w6 = Window.orderBy("hb").rangeBetween(-5, 0)
    rolled = hourly.select(
        "hb",
        "n_1h",
        "err_1h",
        F.sum("n_1h").over(w6).cast("long").alias("n_6h"),
        F.sum("err_1h").over(w6).cast("long").alias("err_6h"),
    )
    target = F.expr(_SLO_TARGET)
    b1 = F.col("err_1h").cast("double") / F.col("n_1h") / target
    b6 = F.col("err_6h").cast("double") / F.col("n_6h") / target
    return rolled.select(
        (F.col("hb") * 3600).alias("hour_start"),
        "n_1h",
        "err_1h",
        dround(b1, 6).alias("burn_1h"),
        "n_6h",
        "err_6h",
        dround(b6, 6).alias("burn_6h"),
        ((b1 > F.expr(_SLO_FAST)) & (b6 > F.expr(_SLO_SLOW))).alias(
            "fast_burn_alert"
        ),
    )


# ===========================================================================
# Shard-rebalance movement audit: what fraction of documents MOVE when
# the shard count grows 16 -> 17, under (a) mod-N assignment and (b)
# rendezvous / highest-random-weight hashing (Thaler & Ravishankar
# 1998) — the consistent-placement scheme whose expected movement is
# 1/(N+1) instead of mod-N's N/(N+1). The topology-maintenance twin of
# shard_skew_audit: this is the number a 100 TB re-shard plan needs
# before it reshuffles an exabyte of training shards.
#
# Determinism: ONE md5 per doc (the md5-once + affine-rehash rule),
# per-shard weights w_j = ((h + c_j) * a_j) % (2^31 - 1) from module
# constants interpolated into ONE shared SQL text evaluated by BOTH
# engines (selectExpr / verbatim CTE); argmax is a first-match CASE
# over a staged greatest() column, so ties break identically. The
# two-stage staging keeps each expression small enough for codegen.
# Weight family chosen by measurement: mod-2^24 affine rehashes of one
# h are too correlated across j (19% movement); shift-then-multiply
# mod the Mersenne prime lands at 5.76% vs the 1/17 = 5.88% ideal.
# ===========================================================================

_RB_N0, _RB_N1 = 16, 17
_RB_P = 2_147_483_647
_RB_A = tuple(48271 * (j + 1) + 7919 for j in range(_RB_N1))
_RB_C = tuple(104729 * (j + 1) for j in range(_RB_N1))
_RB_SEED = "rb1"


def _rb_w(j: int) -> str:
    return f"(((h + {_RB_C[j]}) * {_RB_A[j]}) % {_RB_P})"


def _rb_stage1_cols() -> list[str]:
    """mod assignments + staged greatest() columns (shared SQL text —
    one list, joined for the oracle, splatted into selectExpr)."""
    m0 = "greatest(" + ", ".join(_rb_w(j) for j in range(_RB_N0)) + ")"
    m1 = "greatest(" + ", ".join(_rb_w(j) for j in range(_RB_N1)) + ")"
    return [
        f"h % {_RB_N0} AS mod_lo",
        f"h % {_RB_N1} AS mod_hi",
        f"{m0} AS m_lo",
        f"{m1} AS m_hi",
    ]


def _rb_stage2_cols() -> list[str]:
    """first-match argmax CASEs over the staged max columns."""
    c0 = " ".join(
        f"WHEN {_rb_w(j)} = m_lo THEN {j}" for j in range(_RB_N0 - 1)
    )
    c1 = " ".join(
        f"WHEN {_rb_w(j)} = m_hi THEN {j}" for j in range(_RB_N1 - 1)
    )
    return [
        f"CASE {c0} ELSE {_RB_N0 - 1} END AS hrw_lo",
        f"CASE {c1} ELSE {_RB_N1 - 1} END AS hrw_hi",
    ]


def _rb_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int

    key = sql_md5_hex6_to_int(
        f"concat_ws('|', '{_RB_SEED}', "
        f"CAST(CAST(doc_id AS BIGINT) AS VARCHAR))"
    )
    frac = (
        "CASE WHEN n_docs = 0 THEN NULL "
        "ELSE CAST({m} AS DOUBLE) / n_docs END"
    )
    return f"""
WITH rbh AS (SELECT {key} AS h FROM documents),
rb1 AS (SELECT h, {', '.join(_rb_stage1_cols())} FROM rbh),
rb2 AS (SELECT mod_lo, mod_hi, {', '.join(_rb_stage2_cols())} FROM rb1),
rbm AS MATERIALIZED (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN mod_lo <> mod_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_mod,
           CAST(sum(CASE WHEN hrw_lo <> hrw_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_hrw
    FROM rb2
)
SELECT 'mod' AS policy, n_docs, moved_mod AS n_moved,
       {R(frac.format(m='moved_mod'), 6)} AS moved_frac
FROM rbm
UNION ALL
SELECT 'rendezvous' AS policy, n_docs, moved_hrw AS n_moved,
       {R(frac.format(m='moved_hrw'), 6)} AS moved_frac
FROM rbm
"""


@register("shard_rebalance_movement", _rb_sql())
def shard_rebalance_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of docs that change shard when 16 -> 17 shards, mod-N
    vs rendezvous hashing."""
    from ..functions.text import md5_hex6_to_int

    d = read_table(spark, sf_dir, "documents")
    h = d.select(
        md5_hex6_to_int(
            F.concat_ws(
                "|", F.lit(_RB_SEED), F.col("doc_id").cast("string")
            )
        ).alias("h")
    )
    s1 = h.selectExpr("h", *_rb_stage1_cols())
    s2 = s1.selectExpr("mod_lo", "mod_hi", *_rb_stage2_cols())
    m = s2.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("mod_lo") != F.col("mod_hi"), 1).otherwise(0))
        .cast("long")
        .alias("moved_mod"),
        F.sum(F.when(F.col("hrw_lo") != F.col("hrw_hi"), 1).otherwise(0))
        .cast("long")
        .alias("moved_hrw"),
    )
    # 2-row unpivot from the ONE 1-row aggregate (stack — a single
    # reference, never a re-executed broadcast chain). moved_frac via
    # the Column dround, NOT dround_sql-in-selectExpr: Spark's SQL
    # parser types bare decimal literals as DECIMAL and silently
    # promotes the column (the coreset _kc_d2 lesson).
    return m.selectExpr(
        "stack(2, 'mod', moved_mod, 'rendezvous', moved_hrw) "
        "AS (policy, n_moved)",
        "n_docs",
    ).select(
        "policy",
        "n_docs",
        "n_moved",
        dround(
            F.when(F.col("n_docs") == 0, F.lit(None)).otherwise(
                F.col("n_moved").cast("double") / F.col("n_docs")
            ),
            6,
        ).alias("moved_frac"),
    )


# ===========================================================================
# BPE encode-decode round-trip property: apply the learned merges to
# the vocab and verify IN-ENGINE that (a) stripping the symbol
# delimiters reconstructs every word exactly (decode(encode(w)) == w —
# the lossless-tokenizer invariant), and (b) the symbol inventory is
# consistent (merged symbols appear, inventory is bounded by chars +
# merges). Composes _learn_merges / _bpe_train_ctes — the SAME learned
# merges as bpe_train_merges, never a re-derivation.
#
# Scale shape: everything after the (already corpus-reduced) word-count
# pass is vocab-sized; the symbol-inventory count is an explode over
# the vocab, map-side combined.
# ===========================================================================


def _rt_sql() -> str:
    from .bpe import _BPE_ITERS, _bpe_train_ctes

    return f"""
WITH {_bpe_train_ctes()},
v AS MATERIALIZED (
    -- MATERIALIZED: referenced by both the main aggregate and the
    -- symbol-inventory scalar subquery; a plain CTE would inline (and
    -- re-run) the whole training chain per reference.
    SELECT word, string_split(trim(seq), ' ') AS s,
           replace(seq, ' ', '') AS dec
    FROM w{_BPE_ITERS}
)
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN dec = word THEN 1 ELSE 0 END) AS BIGINT)
           AS n_roundtrip_ok,
       (count(*) = sum(CASE WHEN dec = word THEN 1 ELSE 0 END))
           AS roundtrip_exact,
       CAST(sum(CASE WHEN len(list_filter(s, x -> length(x) > 1)) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_merged_words,
       CAST(sum(len(s)) AS BIGINT) AS n_symbols_total,
       CAST((SELECT count(DISTINCT sym)
             FROM (SELECT unnest(s) AS sym FROM v)) AS BIGINT)
           AS n_distinct_symbols
FROM v
"""


@register("bpe_roundtrip_fidelity", _rt_sql())
def bpe_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip + inventory audit of the learned BPE merges over the
    final vocab."""
    from .bpe import _learn_merges

    words, _ = _learn_merges(spark, sf_dir)
    v = words.select(
        "word",
        F.split(F.trim(F.col("seq")), " ").alias("s"),
        F.replace(F.col("seq"), F.lit(" "), F.lit("")).alias("dec"),
    )
    stats = v.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.when(F.col("dec") == F.col("word"), 1).otherwise(0))
        .cast("long")
        .alias("n_roundtrip_ok"),
        F.sum(
            F.when(
                F.size(F.filter("s", lambda x: F.length(x) > 1)) > 0, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_merged_words"),
        F.sum(F.size("s")).cast("long").alias("n_symbols_total"),
    )
    inv = v.select(F.explode_outer("s").alias("sym")).filter(
        F.col("sym").isNotNull()
    ).agg(F.count_distinct("sym").cast("long").alias("n_distinct_symbols"))
    return stats.crossJoin(F.broadcast(inv)).select(
        "n_words",
        "n_roundtrip_ok",
        (F.col("n_words") == F.col("n_roundtrip_ok")).alias(
            "roundtrip_exact"
        ),
        "n_merged_words",
        "n_symbols_total",
        "n_distinct_symbols",
    )


# ===========================================================================
# Range-partition planner: boundaries for a P-way range partitioning of
# line revenue via the exact-quantile selection primitive
# (operators/ranking.py — GK-bracket + exact rank arithmetic, never the
# value-map percentile), then a balance audit of the resulting buckets.
# This is the write-path planning step a 100 TB global sort / range
# shuffle runs first: boundaries from a sketch-bracketed exact
# selection, assignment as a literal CASE ladder pushed into the scan
# pass, bucket shares from the SAME n the selection already counted (no
# extra total pass).
# ===========================================================================

_RP_P = 8


def _rp_sql() -> str:
    qs = ", ".join(str(i / _RP_P) for i in range(1, _RP_P))
    whens = " ".join(
        f"WHEN l_extendedprice < b.bs[{i}] THEN {i - 1}"
        for i in range(1, _RP_P)
    )
    lo = " ".join(
        f"WHEN bucket = {i} THEN {R(f'bs[{i}]', 6)}"
        for i in range(1, _RP_P)
    )
    hi = " ".join(
        f"WHEN bucket = {i} THEN {R(f'bs[{i + 1}]', 6)}"
        for i in range(_RP_P - 1)
    )
    return f"""
WITH b AS MATERIALIZED (
    SELECT quantile_cont(l_extendedprice, [{qs}]) AS bs,
           CAST(count(l_extendedprice) AS BIGINT) AS n
    FROM lineitem
),
assigned AS (
    SELECT CASE {whens} ELSE {_RP_P - 1} END AS bucket
    FROM lineitem CROSS JOIN b
),
counts AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows
    FROM assigned GROUP BY 1
)
SELECT CAST(c.bucket AS INTEGER) AS bucket,
       CASE {lo} ELSE NULL END AS lo,
       CASE {hi} ELSE NULL END AS hi,
       c.n_rows,
       {R('CAST(c.n_rows AS DOUBLE) / b.n', 6)} AS share
FROM counts c CROSS JOIN b
"""


@register("range_partition_planner", _rp_sql())
def range_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-way range-partition boundaries over l_extendedprice + the
    resulting bucket balance."""
    from ..operators.ranking import exact_quantiles_cont

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    qs = [i / _RP_P for i in range(1, _RP_P)]
    ex = exact_quantiles_cont(li, F.col("x"), qs)
    rows = sorted(ex.collect(), key=lambda r: r["q"])  # P-1 bounded rows
    n_total = rows[0]["n"] if rows else 0
    if n_total == 0:
        return spark.createDataFrame(
            [], "bucket int, lo double, hi double, n_rows long, share double"
        )
    bs = [float(r["value"]) for r in rows]
    bucket = F.lit(_RP_P - 1)
    for i in range(_RP_P - 1, 0, -1):
        bucket = F.when(F.col("x") < F.lit(bs[i - 1]), i - 1).otherwise(
            bucket
        )
    counts = li.groupBy(bucket.cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    lo = F.lit(None).cast("double")
    hi = F.lit(None).cast("double")
    for i in range(1, _RP_P):
        lo = F.when(F.col("bucket") == i, dround(F.lit(bs[i - 1]), 6)).otherwise(lo)
    for i in range(_RP_P - 1):
        hi = F.when(F.col("bucket") == i, dround(F.lit(bs[i]), 6)).otherwise(hi)
    return counts.select(
        "bucket",
        lo.alias("lo"),
        hi.alias("hi"),
        "n_rows",
        dround(F.col("n_rows").cast("double") / F.lit(float(n_total)), 6).alias(
            "share"
        ),
    )
