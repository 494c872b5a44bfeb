"""Data-selection and sketch-accounting operators (north-star extension,
SURVEY.md §2b): the "which bytes do we train on" tier of an LLM-data
pipeline, round 2.

- `dsir_importance_select` — Data Selection via Importance Resampling
  (hashed-unigram form, Xie et al. 2023): a target-domain unigram LM vs
  the raw-corpus LM over hashed token buckets, per-doc importance weight
  = sum of bucket log-likelihood ratios, top-K selection.
- `bloom_prefilter_decontam` — the 100 TB shape of benchmark
  decontamination: a compact Bloom bitmap built from the benchmark's
  shingle hashes prefilters the training corpus scan-side; only bloom
  survivors reach the exact semi join. Reports per-doc bloom vs exact
  hits so false positives are visible (false NEGATIVES are impossible —
  every exact hit is a bloom hit by construction, and the oracle proves
  it row by row).
- `weighted_sample_expkeys` — distributed weighted sampling without
  replacement (Efraimidis–Spirakis exponential races): key =
  ln(u)/weight with a hash-derived uniform, global top-K. Reproducible
  across engines and partitionings — no rand(), no global sort.
- `doc_char_entropy` — character-unigram entropy per document: the
  gibberish / low-diversity gate (mojibake, key-mash, repeated-char
  spam score near-zero entropy; natural text sits well above).
- `cms_heavy_hitters` — Count-Min sketch token counts vs exact counts
  for the corpus's heavy hitters: the sketch-accounting path for
  frequency stats when the vocabulary itself is too large to shuffle.

The reference has no corpus surface — these extend SURVEY.md §2b, same
contract as plans/corpus_eval.py. All hash arithmetic composes from
functions/text.py + functions/sqlfrag.py (the single source of truth);
oracles replay the identical formulas in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..functions.sqlfrag import sql_shinglehash_ctes, sql_token_hash_scalar
from ..functions.text import token_hash, tokens
from ..operators.dedup import hashed_shingle_table
from ..sources.tables import read_table, values_frame
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# DSIR: hashed-unigram importance resampling.
#
# p_target / p_raw are add-one-smoothed unigram LMs over _DSIR_BUCKETS
# hashed token buckets (DSIR's hashed n-gram features with n=1, so both
# engines replay the LM exactly). Importance weight of a raw doc =
# sum over token OCCURRENCES of ln(p_t(bucket)) - ln(p_r(bucket)).
# At 100 TB: two map-side-combined token aggregations build the two LMs,
# the log-ratio table is _DSIR_BUCKETS rows (broadcast anywhere), and
# scoring is one more token aggregation — no shuffle ever carries more
# than (doc_id, bucket) pairs. Selection is top-K by rounded weight:
# TakeOrderedAndProject, never a global sort of the corpus.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_TARGET_SOURCE = "src0"  # target-domain stand-in (e.g. "wiki")
_DSIR_TOP_K = 40

_DSIR_SQL = f"""
WITH tok AS (
    SELECT doc_id, source,
           {sql_token_hash_scalar("tok")} % {_DSIR_BUCKETS} AS b
    FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
          FROM documents)
),
t_cnt AS (
    SELECT b, count(*) AS ct FROM tok
    WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY b
),
r_cnt AS (
    SELECT b, count(*) AS cr FROM tok
    WHERE source <> '{_DSIR_TARGET_SOURCE}' GROUP BY b
),
t_tot AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS nt FROM t_cnt),
r_tot AS (SELECT CAST(coalesce(sum(cr), 0) AS DOUBLE) AS nr FROM r_cnt),
lr AS (
    SELECT r.b,
           ln((coalesce(t.ct, 0) + 1.0) / (t_tot.nt + {_DSIR_BUCKETS}))
         - ln((r.cr + 1.0) / (r_tot.nr + {_DSIR_BUCKETS})) AS llr
    FROM r_cnt r LEFT JOIN t_cnt t ON t.b = r.b
    CROSS JOIN t_tot CROSS JOIN r_tot
),
scored AS (
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {R("sum(lr.llr)", 6)} AS weight
    FROM tok JOIN lr ON lr.b = tok.b
    WHERE tok.source <> '{_DSIR_TARGET_SOURCE}'
    GROUP BY tok.doc_id
)
SELECT doc_id, n_tokens, weight,
       CAST(row_number() OVER (ORDER BY weight DESC, doc_id ASC) AS BIGINT) AS rank
FROM scored
ORDER BY weight DESC, doc_id ASC
LIMIT {_DSIR_TOP_K}
"""


@register("dsir_importance_select", _DSIR_SQL)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} raw-corpus docs by DSIR importance weight vs the target
    domain (source == _DSIR_TARGET_SOURCE).

    Plan: one token explode feeds BOTH LM aggregations (bucket counts are
    map-side combined; shuffle rows are bucket ids); the log-ratio table
    (<= _DSIR_BUCKETS rows) and the two scalar totals broadcast back onto
    the token stream; per-doc weights aggregate on doc_id. Ordering and
    the K-boundary use the ROUNDED weight (tie-broken by doc_id) so both
    engines select the identical set even at double-ULP distance; limit
    lowers to TakeOrderedAndProject — no global sort. The rank window
    runs post-limit on K rows."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        "source",
        F.pmod(token_hash(F.col("tok")), F.lit(_DSIR_BUCKETS)).alias("b"),
    )
    is_target = F.col("source") == _DSIR_TARGET_SOURCE
    t_cnt = tok.filter(is_target).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    r_cnt = tok.filter(~is_target).groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    t_tot = t_cnt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("nt"))
    r_tot = r_cnt.agg(F.coalesce(F.sum("cr"), F.lit(0)).cast("double").alias("nr"))
    llr = F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + _DSIR_BUCKETS)) - F.log(
        (F.col("cr") + 1.0) / (F.col("nr") + _DSIR_BUCKETS)
    )
    lr = (
        r_cnt.join(F.broadcast(t_cnt), "b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select("b", llr.alias("llr"))
    )
    scored = (
        tok.filter(~is_target)
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            dround(F.sum("llr"), 6).alias("weight"),
        )
    )
    topk = scored.orderBy(F.desc("weight"), F.asc("doc_id")).limit(_DSIR_TOP_K)
    w = Window.orderBy(F.desc("weight"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Bloom-bitmap decontamination prefilter.
#
# m = 128 words x 31 bits = 3968 bit positions, k = 3 universal hashes
# over the shared shingle-hash space. 31-bit words keep every shift and
# bit_or inside BIGINT range on BOTH engines (DuckDB's BIGINT << faults
# at 63). The bitmap is built from the benchmark side (doc_id <
# _BENCH_MAX_ID, the plans/decontam.py convention) with one bit_or
# aggregation, then joins the training corpus's shingle positions as a
# <=128-row broadcast dim — at 100 TB this is the "serialize the Bloom
# filter to every executor" pattern in relational clothing: the
# benchmark never shuffles against the corpus, and only bloom survivors
# reach the exact verification join.
# ---------------------------------------------------------------------------

_BLOOM_WORD_BITS = 31
_BLOOM_WORDS = 128
_BLOOM_M = _BLOOM_WORDS * _BLOOM_WORD_BITS
_BLOOM_HASHES: tuple[tuple[int, int], ...] = ((2411, 7919), (5419, 9241), (9043, 3331))
_BLOOM_BENCH_MAX_ID = 20  # == plans/decontam.py:_BENCH_MAX_ID

_BLOOM_POS_VALUES = ", ".join(f"({a}, {b})" for a, b in _BLOOM_HASHES)

_BLOOM_SQL = f"""
WITH {sql_shinglehash_ctes("documents")},
pos AS (
    SELECT doc_id, h, (h * a + bc) % {_BLOOM_M} AS p
    FROM (SELECT doc_id, unnest(hs) AS h FROM shinglehash)
    CROSS JOIN (VALUES {_BLOOM_POS_VALUES}) k(a, bc)
),
bitmap AS (
    SELECT CAST(floor(p / {_BLOOM_WORD_BITS}) AS BIGINT) AS word_idx,
           bit_or(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_WORD_BITS} AS INTEGER)) AS bits
    FROM pos WHERE doc_id < {_BLOOM_BENCH_MAX_ID}
    GROUP BY 1
),
shingle_hits AS (
    SELECT p.doc_id, p.h,
           min(CASE WHEN ((bm.bits >> CAST(p.p % {_BLOOM_WORD_BITS} AS INTEGER)) & 1) = 1
                    THEN 1 ELSE 0 END) AS all_set
    FROM pos p
    LEFT JOIN bitmap bm
      ON bm.word_idx = CAST(floor(p.p / {_BLOOM_WORD_BITS}) AS BIGINT)
    WHERE p.doc_id >= {_BLOOM_BENCH_MAX_ID}
    GROUP BY 1, 2
),
bloom_doc AS (
    SELECT doc_id, CAST(max(all_set) AS INTEGER) AS bloom_hit
    FROM shingle_hits GROUP BY doc_id
),
bench_h AS (
    SELECT DISTINCT unnest(hs) AS h FROM shinglehash
    WHERE doc_id < {_BLOOM_BENCH_MAX_ID}
),
exact_doc AS (
    SELECT DISTINCT t.doc_id
    FROM (SELECT doc_id, unnest(hs) AS h FROM shinglehash
          WHERE doc_id >= {_BLOOM_BENCH_MAX_ID}) t
    JOIN bench_h b ON b.h = t.h
)
SELECT d.doc_id,
       CAST(coalesce(bd.bloom_hit, 0) AS INTEGER) AS bloom_hit,
       CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS exact_hit,
       CAST(CASE WHEN coalesce(bd.bloom_hit, 0) = 1 AND e.doc_id IS NULL
            THEN 1 ELSE 0 END AS INTEGER) AS false_positive
FROM documents d
LEFT JOIN bloom_doc bd ON bd.doc_id = d.doc_id
LEFT JOIN exact_doc e ON e.doc_id = d.doc_id
WHERE d.doc_id >= {_BLOOM_BENCH_MAX_ID}
"""

@register("bloom_prefilter_decontam", _BLOOM_SQL)
def bloom_prefilter_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc Bloom-prefilter vs exact decontamination hits.

    bloom_hit: >=1 shingle whose k=3 Bloom bits are all set in the
    benchmark bitmap. exact_hit: >=1 shingle shared with the benchmark
    (the plans/decontam.py semi join). false_positive = bloom - exact.
    No false negatives are possible (every benchmark shingle sets its own
    bits), which the row-level oracle verifies for every doc.

    Plan: the shared cached shingle table feeds both sides; the bitmap is
    a <=128-row bit_or aggregate broadcast onto the corpus's position
    stream; the per-shingle AND is a min-aggregate keyed by the ORIGINAL
    shingle hash (no position collisions); exact verification reuses the
    decontam semi join. At 100 TB only the two doc-keyed aggregates and
    the exact join shuffle, all on compact keys."""
    docs = read_table(spark, sf_dir, "documents")
    hashed = hashed_shingle_table(docs)  # (doc_id, hs) cached
    hs = hashed.select("doc_id", F.explode("hs").alias("h"))
    kdim = values_frame(spark, list(_BLOOM_HASHES), ["a", "bc"]).select(
        F.col("a").cast("long"), F.col("bc").cast("long")
    )
    pos = hs.crossJoin(F.broadcast(kdim)).select(
        "doc_id",
        "h",
        F.pmod(F.col("h") * F.col("a") + F.col("bc"), F.lit(_BLOOM_M)).alias("p"),
    ).select(
        "doc_id",
        "h",
        "p",
        F.floor(F.col("p") / _BLOOM_WORD_BITS).cast("long").alias("word_idx"),
        F.pmod(F.col("p"), F.lit(_BLOOM_WORD_BITS)).cast("int").alias("bit"),
    )
    bitmap = (
        pos.filter(F.col("doc_id") < _BLOOM_BENCH_MAX_ID)
        # shiftleft's numBits accepts a Column only through the SQL form
        .select("word_idx", F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("m"))
        .groupBy("word_idx")
        .agg(F.bit_or("m").alias("bits"))
    )
    train_pos = pos.filter(F.col("doc_id") >= _BLOOM_BENCH_MAX_ID)
    shingle_hits = (
        train_pos.join(F.broadcast(bitmap), "word_idx", "left")
        .select(
            "doc_id",
            "h",
            F.when(
                F.expr("(shiftright(bits, bit) & 1) = 1"), F.lit(1)
            ).otherwise(F.lit(0)).alias("is_set"),
        )
        .groupBy("doc_id", "h")
        .agg(F.min("is_set").alias("all_set"))
    )
    bloom_doc = shingle_hits.groupBy("doc_id").agg(
        F.max("all_set").cast("int").alias("bloom_hit")
    )
    bench_h = (
        hs.filter(F.col("doc_id") < _BLOOM_BENCH_MAX_ID).select("h").distinct()
    )
    exact_doc = (
        hs.filter(F.col("doc_id") >= _BLOOM_BENCH_MAX_ID)
        .join(bench_h, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("exact", F.lit(1))
    )
    return (
        docs.filter(F.col("doc_id") >= _BLOOM_BENCH_MAX_ID)
        .select("doc_id")
        .join(bloom_doc, "doc_id", "left")
        .join(exact_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("bloom_hit"), F.lit(0)).cast("int").alias("bloom_hit"),
            F.coalesce(F.col("exact"), F.lit(0)).cast("int").alias("exact_hit"),
            (
                (F.coalesce(F.col("bloom_hit"), F.lit(0)) == 1)
                & F.col("exact").isNull()
            ).cast("int").alias("false_positive"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis races).
#
# Each doc draws u in (0,1) from a DETERMINISTIC multiplicative hash of
# doc_id (no rand(): reproducible across engines, partitionings, and
# corpus growth — the same property trainset_hash_split relies on) and
# competes with key = ln(u) / weight; the global top-K keys win. This is
# THE distributed one-pass weighted sampler: no global sort, no driver
# state, and adding executors never changes the sample.
# ---------------------------------------------------------------------------

_WS_HASH_MULT = 2_654_435_761  # Knuth multiplicative constant
_WS_HASH_MOD = 1_000_003
_WS_TOP_K = 30

_WS_SQL = f"""
WITH keyed AS (
    SELECT doc_id, lang,
           CAST(n_chars AS DOUBLE) AS weight,
           {R(f"ln(CAST((doc_id * {_WS_HASH_MULT}) % {_WS_HASH_MOD} + 1 AS DOUBLE) / {_WS_HASH_MOD + 1}) / n_chars", 6)} AS race_key
    FROM documents
)
SELECT doc_id, lang, weight, race_key,
       CAST(row_number() OVER (ORDER BY race_key DESC, doc_id ASC) AS BIGINT) AS rank
FROM keyed
ORDER BY race_key DESC, doc_id ASC
LIMIT {_WS_TOP_K}
"""

register_sql("weighted_sample_expkeys", _WS_SQL)


# ---------------------------------------------------------------------------
# Character-unigram entropy: the gibberish gate.
#
# H(doc) = -sum_c (n_c/n) ln(n_c/n) over single characters. Key-mash and
# repeated-char spam score near 0 nats; natural language sits ~3+.
# Spark explodes split(text, '') (one O(len) tokenization per doc;
# Spark's empty-pattern split yields exactly the characters, no trailing
# empty — tested); the oracle keeps the range+substr spelling, identical
# characters either way. The explode is heavy (one row per char) but
# the (doc_id, ch) count is map-side combined, so the shuffle carries at
# most |alphabet| rows per doc — the same budget as the token stats.
# ---------------------------------------------------------------------------

_ENTROPY_GATE_NATS = 2.5

_ENTROPY_SQL = f"""
WITH ch AS (
    SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS c
    FROM documents, unnest(range(1, length(text) + 1)) t(i)
),
hist AS (
    SELECT doc_id, c, count(*) AS n_c FROM ch GROUP BY doc_id, c
),
tot AS (
    SELECT doc_id, CAST(sum(n_c) AS DOUBLE) AS n FROM hist GROUP BY doc_id
)
SELECT h.doc_id,
       CAST(t.n AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS alphabet_size,
       {R("-sum((h.n_c / t.n) * ln(h.n_c / t.n))", 6)} AS char_entropy,
       (-sum((h.n_c / t.n) * ln(h.n_c / t.n)) < {_ENTROPY_GATE_NATS}) AS low_diversity
FROM hist h JOIN tot t ON t.doc_id = h.doc_id
GROUP BY h.doc_id, t.n
"""


@register("doc_char_entropy", _ENTROPY_SQL)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram entropy (nats) + low-diversity flag per doc.

    Plan: explode(split(text, '')) -> one map-side-combined (doc_id, ch)
    count -> per-doc entropy fold. Two shuffles, both on (doc_id[, ch])
    keys; nothing leaves codegen. (The earlier explode(sequence) +
    substr(text, i, 1) form re-scanned the string per position —
    UTF8String.substring is O(i) — an O(len^2)/doc pass; split is one
    O(len) tokenization per doc, measured ~2x at sf0.1.)"""
    d = read_table(spark, sf_dir, "documents")
    # length > 0 guard keeps parity with the oracle's end-exclusive
    # range(1, 1) on empty text (split('', '') would yield [''], not []).
    ch = d.filter(F.length("text") > 0).select(
        "doc_id", F.explode(F.split("text", "")).alias("c")
    )
    hist = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n_c"))
    tot = hist.groupBy("doc_id").agg(F.sum("n_c").cast("double").alias("n"))
    p = F.col("n_c") / F.col("n")
    ent = -F.sum(p * F.log(p))
    return (
        hist.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("alphabet_size"),
            dround(ent, 6).alias("char_entropy"),
            (ent < _ENTROPY_GATE_NATS).alias("low_diversity"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            "alphabet_size",
            "char_entropy",
            "low_diversity",
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters.
#
# d = 3 rows x w = 512 counters; row j maps token t to bucket
# (token_hash(t) * A_j + B_j) % w. The sketch is built in ONE pass with
# map-side combine (shuffle rows are (j, bucket) pairs, at most d*w
# groups — executor-count-independent), and estimate(t) = min_j
# counter[j][bucket_j(t)] >= exact(t) always (CMS guarantee, visible in
# the output as over_estimate >= 0 on every row). At 100 TB the sketch
# replaces the full-vocabulary shuffle for frequency accounting; the
# exact counts here are the fixture-scale ground truth the sketch is
# judged against (the top-20 candidates themselves come from the exact
# table — at scale they'd come from per-partition local top-k).
# ---------------------------------------------------------------------------

_CMS_W = 512
_CMS_ROWS: tuple[tuple[int, int], ...] = ((769, 12289), (3079, 6151), (1543, 389))
_CMS_TOP_K = 20

_CMS_ROW_VALUES = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_ROWS))

_CMS_SQL = f"""
WITH tok AS (
    SELECT {sql_token_hash_scalar("tok")} AS h, tok
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
),
sketch AS (
    SELECT j, (h * a + bc) % {_CMS_W} AS bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM tok CROSS JOIN (VALUES {_CMS_ROW_VALUES}) r(j, a, bc)
    GROUP BY 1, 2
),
exact AS (
    SELECT tok, any_value(h) AS h, CAST(count(*) AS BIGINT) AS exact_cnt
    FROM tok GROUP BY tok
),
cand AS (
    SELECT tok, h, exact_cnt,
           row_number() OVER (ORDER BY exact_cnt DESC, tok ASC) AS r
    FROM exact
),
est AS (
    SELECT c.tok, c.exact_cnt, min(s.cnt) AS cms_cnt
    FROM cand c
    CROSS JOIN (VALUES {_CMS_ROW_VALUES}) r(j, a, bc)
    JOIN sketch s ON s.j = r.j AND s.bucket = (c.h * r.a + r.bc) % {_CMS_W}
    WHERE c.r <= {_CMS_TOP_K}
    GROUP BY c.tok, c.exact_cnt
)
SELECT tok, exact_cnt, cms_cnt,
       CAST(cms_cnt - exact_cnt AS BIGINT) AS over_estimate
FROM est
"""


@register("cms_heavy_hitters", _CMS_SQL)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS-estimated vs exact counts for the top-20 corpus tokens.

    Plan: one token projection feeds both the sketch build (explode x3
    hash rows -> groupBy(j, bucket), bounded at d*w groups) and the exact
    frequency table; candidates are the exact top-K via orderBy().limit(K)
    (TakeOrderedAndProject — per-partition heaps, never the whole
    vocabulary through one window task); the estimate joins candidates to the sketch
    as a broadcast (<= d*w rows). over_estimate >= 0 on every row is the
    CMS no-undercount guarantee, oracle-checked."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("tok")).select(
        "tok", token_hash(F.col("tok")).alias("h")
    )
    rdim = values_frame(
        spark, [(j, a, b) for j, (a, b) in enumerate(_CMS_ROWS)], ["j", "a", "bc"]
    ).select(
        F.col("j").cast("long"), F.col("a").cast("long"), F.col("bc").cast("long")
    )
    sketch = (
        tok.crossJoin(F.broadcast(rdim))
        .select(
            "j", F.pmod(F.col("h") * F.col("a") + F.col("bc"), F.lit(_CMS_W)).alias("bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    exact = tok.groupBy("tok").agg(
        F.any_value(F.col("h")).alias("h"),
        F.count(F.lit(1)).cast("long").alias("exact_cnt"),
    )
    cand = exact.orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(_CMS_TOP_K)
    est = (
        cand.crossJoin(F.broadcast(rdim))
        .withColumn(
            "bucket", F.pmod(F.col("h") * F.col("a") + F.col("bc"), F.lit(_CMS_W))
        )
        .join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_cnt"))
    )
    return est.select(
        "tok",
        "exact_cnt",
        "cms_cnt",
        (F.col("cms_cnt") - F.col("exact_cnt")).cast("long").alias("over_estimate"),
    )


# ---------------------------------------------------------------------------
# Domain mixture reweighting (round 4; the DoReMi recipe of Xie et al.
# 2023, arXiv:2305.10429, reduced to its measurable core): upweight the
# domains where the reference LM is WORST. Per-language excess loss =
# per-lang mean token surprisal under the corpus-global unigram LM minus
# the corpus mean; mixture weight = exponentiated-gradient update from
# uniform, w_d ∝ (1/D) * exp(eta * T * excess_d) with the T=3 steps of
# constant-gradient EG folded closed-form, then normalized. Emits the
# per-domain audit row (tokens, loss, excess, weight) a mixture rebuild
# consumes — corpus_mixture_resample applies such weights downstream.
#
# Scale design: one explode+groupBy builds the vocab LM (map-side
# combined, vocab-grain shuffle); the LM + scalar total broadcast back
# onto the token stream; everything after the |langs|-grain aggregate is
# arithmetic on a bounded frame. Two token-stream passes total.
# ---------------------------------------------------------------------------

_DOREMI_ETA = 0.5
_DOREMI_STEPS = 3


def _doremi_sql() -> str:
    return f"""
WITH tok AS (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
lm AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM lm),
dom AS (
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           avg(-ln(lm.cnt / tot.n)) AS loss
    FROM tok t JOIN lm ON lm.tok = t.tok CROSS JOIN tot
    GROUP BY t.lang
),
ref AS (
    SELECT sum(n_tokens * loss) / sum(n_tokens) AS ref_loss FROM dom
),
ex AS (
    SELECT d.lang, d.n_tokens, d.loss,
           greatest(d.loss - r.ref_loss, 0.0) AS excess,
           exp({_DOREMI_ETA} * {_DOREMI_STEPS}
               * greatest(d.loss - r.ref_loss, 0.0)) AS raw_w
    FROM dom d CROSS JOIN ref r
),
z AS (SELECT sum(raw_w) AS z FROM ex)
SELECT e.lang, e.n_tokens,
       {R('e.loss', 6)} AS avg_token_nll,
       {R('e.excess', 6)} AS excess_loss,
       {R('e.raw_w / z.z', 6)} AS mixture_weight
FROM ex e CROSS JOIN z
"""


@register("doremi_mixture_weights", _doremi_sql())
def doremi_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixture weights from unigram-LM excess loss: the
    domains the reference model finds hardest (above-average surprisal)
    get exponentially upweighted; at-or-below-average domains share the
    uniform floor. Weights sum to 1 by construction. The unigram-LM join
    is hint-free: the vocab frame is unbounded (Heaps' law), so the join
    strategy stays size-based (AQE) rather than a forced broadcast that
    would OOM at 100 TB."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    lm = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = lm.agg(F.sum("cnt").cast("double").alias("n"))
    surprisal = -F.log(F.col("cnt").cast("double") / F.col("n"))
    dom = (
        tok.join(lm, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg(surprisal).alias("loss"),
        )
    )
    ref = dom.agg(
        (
            F.sum(F.col("n_tokens") * F.col("loss")) / F.sum("n_tokens")
        ).alias("ref_loss")
    )
    excess = F.greatest(F.col("loss") - F.col("ref_loss"), F.lit(0.0))
    ex = dom.crossJoin(F.broadcast(ref)).select(
        "lang",
        "n_tokens",
        "loss",
        excess.alias("excess"),
        F.exp(F.lit(_DOREMI_ETA * _DOREMI_STEPS) * excess).alias("raw_w"),
    )
    z = ex.agg(F.sum("raw_w").alias("z"))
    return ex.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_tokens",
        dround(F.col("loss"), 6).alias("avg_token_nll"),
        dround(F.col("excess"), 6).alias("excess_loss"),
        dround(F.col("raw_w") / F.col("z"), 6).alias("mixture_weight"),
    )
