"""Round-8 part C: fuzzy-matching and operating-point primitives —
a pg_trgm-style character-trigram similarity join (the fuzzy string
join every entity-resolution pipeline starts from), Soundex-style
phonetic key generation with a vocabulary collision audit (the
classic blocking function), and a Youden-J threshold picker (the
operating point selection step downstream of auc_quality_gate).

No counterpart in the reference (a single-threaded 2-job pandas ETL,
/root/reference/Scripts/transformers/steam_prices_transformer.py:1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..sources.tables import read_table
from .registry import register

# ===========================================================================
# Character-trigram similarity join (the pg_trgm shape): candidate
# pairs from an inverted trigram index, exact trigram-set Jaccard as
# the verify predicate, top-20 by similarity. Names consolidate to the
# DISTINCT-name grain FIRST (the aggregate-then-compare rule — the
# part fixture has 2000 rows over 64 names; block sizes would
# otherwise explode quadratically in the duplicate counts).
#
# Scale shape: the index is DF-CAPPED (posting lists longer than the
# cap are dropped before the self-join, the containment_dedup_pairs
# discipline) so candidate fan-in per trigram is bounded; pairs
# sharing ONLY stop-trigrams are missed by construction — the
# standard recall trade, stated here. Trigram keys are exact 24-bit
# ASCII packs (no hash collisions), and Jaccard is a ratio of exact
# integers.
# ===========================================================================

_TRG_DF_CAP = 30
_TRG_MIN_J = 0.4
_TRG_TOP = 20


def _trg_sql() -> str:
    tg = (
        "list_distinct(list_transform(range(1, length(nm) - 1), "
        "i -> ascii(substr(nm, i, 1)) * 65536 "
        "+ ascii(substr(nm, i + 1, 1)) * 256 "
        "+ ascii(substr(nm, i + 2, 1))))"
    )
    return f"""
WITH nm AS (SELECT DISTINCT p_name AS nm FROM part WHERE length(p_name) >= 3),
tgs AS MATERIALIZED (
    SELECT nm, unnest({tg}) AS tg FROM nm
),
sizes AS MATERIALIZED (
    SELECT nm, CAST(count(*) AS BIGINT) AS n_tg FROM tgs GROUP BY nm
),
rare AS (
    SELECT tg FROM tgs GROUP BY tg HAVING count(*) <= {_TRG_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.nm AS nm_a, b.nm AS nm_b
    FROM tgs a JOIN rare r ON r.tg = a.tg
    JOIN tgs b ON b.tg = a.tg AND a.nm < b.nm
),
shared AS (
    SELECT c.nm_a, c.nm_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM cand c
    JOIN tgs ta ON ta.nm = c.nm_a
    JOIN tgs tb ON tb.nm = c.nm_b AND tb.tg = ta.tg
    GROUP BY 1, 2
),
scored AS (
    SELECT s.nm_a AS name_a, s.nm_b AS name_b, s.n_shared,
           {R('CAST(s.n_shared AS DOUBLE) '
              '/ (sa.n_tg + sb.n_tg - s.n_shared)', 6)} AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.nm = s.nm_a
    JOIN sizes sb ON sb.nm = s.nm_b
    WHERE CAST(s.n_shared AS DOUBLE) / (sa.n_tg + sb.n_tg - s.n_shared)
          >= {_TRG_MIN_J}
)
SELECT * FROM scored
ORDER BY jaccard DESC, name_a ASC, name_b ASC
LIMIT {_TRG_TOP}
"""


@register("trigram_similarity_join", _trg_sql())
def trigram_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 fuzzy part-name pairs by exact char-trigram Jaccard
    (df-capped inverted-index candidates, verify in the join)."""
    p = read_table(spark, sf_dir, "part")
    nm = (
        p.select(F.col("p_name").alias("nm"))
        .filter(F.length("nm") >= 3)
        .distinct()
    )
    tg_key = (
        F.ascii(F.substring(F.col("nm"), F.col("i"), 1)) * 65536
        + F.ascii(F.substring(F.col("nm"), F.col("i") + 1, 1)) * 256
        + F.ascii(F.substring(F.col("nm"), F.col("i") + 2, 1))
    )
    tgs = (
        nm.select(
            "nm",
            F.explode(
                F.sequence(F.lit(1), F.length("nm") - 2)
            ).alias("i"),
        )
        .select("nm", tg_key.alias("tg"))
        .distinct()
    )
    sizes = tgs.groupBy("nm").agg(F.count(F.lit(1)).cast("long").alias("n_tg"))
    rare = (
        tgs.groupBy("tg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _TRG_DF_CAP)
        .select("tg")
    )
    a = tgs.join(rare, "tg")
    b = tgs.select(F.col("nm").alias("nm_b"), F.col("tg").alias("tg_b"))
    cand = (
        a.join(b, (F.col("tg") == F.col("tg_b")) & (F.col("nm") < F.col("nm_b")))
        .select(F.col("nm").alias("nm_a"), "nm_b")
        .distinct()
    )
    ta = tgs.select(F.col("nm").alias("nm_a"), F.col("tg").alias("tg_a"))
    tb = tgs.select(F.col("nm").alias("nm_b2"), F.col("tg").alias("tg_b2"))
    shared = (
        cand.join(ta, "nm_a")
        .join(
            tb,
            (F.col("nm_b") == F.col("nm_b2"))
            & (F.col("tg_a") == F.col("tg_b2")),
        )
        .groupBy("nm_a", "nm_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("nm").alias("nm_a"), F.col("n_tg").alias("na"))
    sb = sizes.select(F.col("nm").alias("nm_b"), F.col("n_tg").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        shared.join(sa, "nm_a")
        .join(sb, "nm_b")
        .filter(jac >= _TRG_MIN_J)
        .select(
            F.col("nm_a").alias("name_a"),
            F.col("nm_b").alias("name_b"),
            "n_shared",
            dround(jac, 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("name_a"), F.asc("name_b"))
        .limit(_TRG_TOP)
    )


# ===========================================================================
# Soundex-style phonetic keys + vocabulary collision audit. The
# SIMPLIFIED American Soundex (no h/w separator rule): map letters to
# digit classes, collapse adjacent equal digits, drop the first
# letter's own digit, strip zeros, pad to 3 — Robert and Rupert both
# key to R163; Ashcraft keys to A226 (the h/w-less variant's known
# value). Both engines build the key from the SAME translate() table;
# the run-collapse is an index lambda in each engine's list dialect
# (1-based in DuckDB, 0-based in Spark) — parity pinned on a fixed
# word list in tests/test_round8c_tier.py.
#
# Scale shape: one tokenize pass to the DISTINCT-word grain (vocab-
# bounded under Heaps' law), then code-grain aggregates; the audit
# reports the top-20 collision blocks deterministically.
# ===========================================================================

_SDX_MAP = ("abcdefghijklmnopqrstuvwxyz", "01230120022455012623010202")
_SDX_TOP = 20


def _sdx_sql_expr(w: str) -> str:
    """Soundex-style key of lowercase alpha word `w` (DuckDB dialect:
    1-based list lambdas)."""
    digits = f"string_split(translate({w}, '{_SDX_MAP[0]}', '{_SDX_MAP[1]}'), '')"
    collapsed = (
        f"list_filter({digits}, (x, i) -> i = 1 OR x <> {digits}[i - 1])"
    )
    tail = f"list_filter({collapsed}[2:], x -> x <> '0')"
    # coalesce: DuckDB array_to_string([], '') is NULL (probed), while
    # Spark array_join([]) is '' — the empty-tail words (all-vowel /
    # short) would otherwise key to NULL on one side only.
    return (
        f"upper(substr({w}, 1, 1)) || "
        f"rpad(coalesce(array_to_string({tail}[1:3], ''), ''), 3, '0')"
    )


# The Spark twin STAGES each list step as its own projection (the
# interpreted-HOF staging rule — an inlined filter re-evaluates its
# input array per element): w -> dg (digit chars) -> cl (runs
# collapsed; 0-based filter index, element_at is 1-based so
# element_at(dg, i) IS the previous element) -> code.
_SDX_SPARK_DIGITS = (
    f"split(translate(w, '{_SDX_MAP[0]}', '{_SDX_MAP[1]}'), '')"
)
_SDX_SPARK_COLLAPSE = "filter(dg, (x, i) -> i = 0 OR x != element_at(dg, i))"
# slice tail bound: greatest(size-1, 1) — unbounded like the DuckDB
# twin's collapsed[2:] (a fixed 100 cap would key >101-letter words
# differently per engine; ADVICE r8). slice() errors on length 0, so
# floor at 1; for size(cl)=1 the from-2 slice is empty either way.
_SDX_SPARK_CODE = (
    "upper(substr(w, 1, 1)) || "
    "rpad(array_join(slice(filter("
    "slice(cl, 2, greatest(size(cl) - 1, 1)), x -> x != '0'), "
    "1, 3), ''), 3, '0')"
)


_SDX_SQL = f"""
WITH words AS (
    SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
),
alpha AS (
    SELECT w FROM words WHERE regexp_full_match(w, '[a-z]+')
),
coded AS MATERIALIZED (
    SELECT w, {_sdx_sql_expr('w')} AS code FROM alpha
)
SELECT code, CAST(count(*) AS BIGINT) AS n_words,
       min(w) AS example_min, max(w) AS example_max
FROM coded
GROUP BY code
ORDER BY n_words DESC, code ASC
LIMIT {_SDX_TOP}
"""


@register("soundex_token_blocks", _SDX_SQL)
def soundex_token_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 phonetic blocks over the distinct corpus vocabulary
    (simplified Soundex), largest first — the fixture vocabulary is
    collision-sparse, so singleton blocks appear; at real corpus scale
    the head of this report is the collision audit."""
    from ..functions.text import tokens

    d = read_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .distinct()
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    coded = (
        words.select("w", F.expr(_SDX_SPARK_DIGITS).alias("dg"))
        .select("w", F.expr(_SDX_SPARK_COLLAPSE).alias("cl"))
        .select("w", F.expr(_SDX_SPARK_CODE).alias("code"))
    )
    return (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.min("w").alias("example_min"),
            F.max("w").alias("example_max"),
        )
        .orderBy(F.desc("n_words"), F.asc("code"))
        .limit(_SDX_TOP)
    )


# ===========================================================================
# Youden-J operating point: the threshold that maximizes TPR - FPR for
# the quality score as a predictor of the diversity label — the
# decision step downstream of auc_quality_gate (AUC says the score
# ranks well; THIS says where to cut). The sweep runs on the
# dround(6)-quantized DISTINCT-score grain (the auc census precedent);
# the argmax compares the exact INTEGER form tp*N - fp*P, so float
# ordering can never flip the pick, with the smallest threshold as the
# deterministic tie-break.
# ===========================================================================

def _yj_sql() -> str:
    from ..functions.sqlfrag import SQL_QUALITY_EXPR, sql_quality_feat_ctes

    return f"""
WITH {sql_quality_feat_ctes()},
scored AS (
    -- s IS NOT NULL: a NULL-text doc would add a zero-count score row
    -- that TIES its neighbor on the integer argmax key, and the s ASC
    -- tie-break places NULLs differently per engine (Spark ASC = NULLS
    -- FIRST, DuckDB = NULLS LAST — the shard_order lesson)
    SELECT s, pos FROM (
        SELECT {R(f"({SQL_QUALITY_EXPR})", 6)} AS s,
               diversity >= 0.5 AS pos
        FROM feat
    ) WHERE s IS NOT NULL
),
per_score AS (
    SELECT s, CAST(count(*) FILTER (pos) AS BIGINT) AS np,
           CAST(count(*) FILTER (NOT pos) AS BIGINT) AS nn
    FROM scored GROUP BY s
),
tot AS MATERIALIZED (
    SELECT CAST(sum(np) AS BIGINT) AS p, CAST(sum(nn) AS BIGINT) AS n
    FROM per_score
),
cum AS (
    SELECT s,
           CAST(sum(np) OVER (ORDER BY s DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS tp,
           CAST(sum(nn) OVER (ORDER BY s DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS fp
    FROM per_score
)
SELECT c.s AS threshold, c.tp, c.fp,
       t.n - c.fp AS tn, t.p - c.tp AS fn,
       {R('CAST(c.tp AS DOUBLE) / t.p', 6)} AS tpr,
       {R('CAST(c.fp AS DOUBLE) / t.n', 6)} AS fpr,
       {R('CAST(c.tp AS DOUBLE) / t.p - CAST(c.fp AS DOUBLE) / t.n', 6)}
           AS youden_j
FROM cum c CROSS JOIN tot t
ORDER BY c.tp * t.n - c.fp * t.p DESC, c.s ASC
LIMIT 1
"""


@register("youden_threshold_pick", _yj_sql())
def youden_threshold_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The score threshold maximizing Youden's J (integer-exact argmax,
    min-threshold tie-break); one row with the confusion counts and
    rates at that cut."""
    from ..functions.text import distinct_token_ratio, quality_score

    d = read_table(spark, sf_dir, "documents")
    # quality_score is NULL-gated at the fragment (functions/text.py
    # _null_gate, r9): NULL text scores NULL in BOTH engines, so the
    # s-IS-NOT-NULL drop below is the whole NULL story — no per-query
    # text guard needed (hostile fixture pinned in
    # tests/test_round8c_tier.py).
    scored = d.select(
        dround(quality_score(F.col("text")), 6).alias("s"),
        (distinct_token_ratio(F.col("text")) >= 0.5).alias("pos"),
    ).filter(F.col("s").isNotNull())
    per_score = scored.groupBy("s").agg(
        F.count(F.when(F.col("pos"), 1)).cast("long").alias("np"),
        F.count(F.when(~F.col("pos"), 1)).cast("long").alias("nn"),
    )
    tot = per_score.agg(
        F.sum("np").cast("long").alias("p"),
        F.sum("nn").cast("long").alias("n"),
    )
    w = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_score.select(
        "s",
        F.sum("np").over(w).cast("long").alias("tp"),
        F.sum("nn").over(w).cast("long").alias("fp"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .orderBy(
            F.desc(F.col("tp") * F.col("n") - F.col("fp") * F.col("p")),
            F.asc("s"),
        )
        .limit(1)
        .select(
            F.col("s").alias("threshold"),
            "tp",
            "fp",
            (F.col("n") - F.col("fp")).alias("tn"),
            (F.col("p") - F.col("tp")).alias("fn"),
            dround(F.col("tp").cast("double") / F.col("p"), 6).alias("tpr"),
            dround(F.col("fp").cast("double") / F.col("n"), 6).alias("fpr"),
            dround(
                F.col("tp").cast("double") / F.col("p")
                - F.col("fp").cast("double") / F.col("n"),
                6,
            ).alias("youden_j"),
        )
    )
