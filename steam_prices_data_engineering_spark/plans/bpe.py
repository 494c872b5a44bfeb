"""Distributed BPE merge learning (north-star extension, SURVEY.md §2b
"token counting" tier, taken to its logical end: training the tokenizer).

Byte-pair-encoding training is the canonical "simple algorithm, awkward
at scale" tokenizer step: count adjacent symbol pairs over the corpus,
merge the most frequent pair, repeat. The scale-correct Spark decomposition:

- ONE corpus-scale pass builds the word-frequency table (explode ->
  map-side-combined count) — after that, training runs on the compact
  weighted vocab (vocab-sized at any corpus size; this is why real BPE
  trainers operate on word counts, not raw text).
- Each merge iteration is a pair-count aggregation over the vocab plus a
  1-row argmax; only the single best pair reaches the driver (the
  kmeans-style driver-coordinated loop: scalars move, rows don't).
- Merge application uses non-overlapping left-to-right string replace on
  a space-delimited symbol string — IDENTICAL greedy semantics in Spark
  `replace` and DuckDB `replace`, so the oracle unrolls the same 3
  iterations exactly (ties broken by (count DESC, sym_a, sym_b)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import pin
from ..sources.tables import read_table
from .registry import register

_BPE_ITERS = 3


def _bpe_train_ctes() -> str:
    """The shared CTE chain wordcnt -> w0 -> (p/b/w)1..{iters}: both the
    trainer (unions the b_i rows) and the apply query (tokenizes against
    w{iters}) compose from this — no string surgery between them."""
    ctes = [
        """wordcnt AS (
    SELECT tok AS word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
),
w0 AS (
    SELECT word, cnt,
           ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq
    FROM wordcnt
)"""
    ]
    for i in range(1, _BPE_ITERS + 1):
        prev = f"w{i - 1}"
        ctes.append(f"""
p{i} AS (
    SELECT s[i] AS a, s[i + 1] AS b, sum(cnt) AS c
    FROM (SELECT cnt, s, unnest(range(1, len(s))) AS i
          FROM (SELECT cnt, string_split(trim(seq), ' ') AS s FROM {prev}))
    GROUP BY 1, 2
),
b{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
w{i} AS (
    -- LEFT JOIN ON TRUE: when no pair exists (degenerate corpus of
    -- 1-char words) the vocab passes through unchanged, matching the
    -- Spark loop's early break.
    SELECT word, cnt,
           CASE WHEN bp.a IS NULL THEN seq
                ELSE replace(seq, ' ' || bp.a || ' ' || bp.b || ' ',
                             ' ' || bp.a || bp.b || ' ') END AS seq
    FROM {prev} LEFT JOIN b{i} bp ON TRUE
)""")
    return ",".join(ctes)


def _bpe_sql() -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS iteration, a AS sym_a, b AS sym_b, a || b AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, _BPE_ITERS + 1)
    )
    return f"WITH {_bpe_train_ctes()}\n{unions}"


def _learn_merges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Run the training loop; returns (final vocab table with merged
    `seq` column, learned merges). Shared by the trainer query and the
    apply/compression query so both operate on the SAME learned merges."""
    d = read_table(spark, sf_dir, "documents")
    words = pin(
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "word",
            "cnt",
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.col("word"), ""), " "),
                F.lit(" "),
            ).alias("seq"),
        )
    )

    merges = []
    # Deferred unpersist: each iteration's collect() is the action that
    # materializes the CURRENT generation's cache; only then is its parent
    # safe to drop (unpersisting before materialization would force every
    # generation to rebuild from the corpus scan — the exact repeated pass
    # this design exists to avoid). Mirrors cc_labels' count-then-unpersist.
    prev = None
    for it in range(1, _BPE_ITERS + 1):
        syms = F.split(F.trim(F.col("seq")), " ")
        staged = words.select("cnt", syms.alias("s"))
        # sequence(1, 0) would generate a DESCENDING [1, 0] — guard
        # single-symbol words to an empty index list instead.
        idx = F.when(
            F.size("s") >= 2, F.sequence(F.lit(1), F.size("s") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pair_counts = (
            staged.select("cnt", "s", F.explode(idx).alias("i"))
            .select(
                F.element_at("s", F.col("i")).alias("a"),
                F.element_at("s", F.col("i") + 1).alias("b"),
                "cnt",
            )
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("c"))
        )
        best = (
            pair_counts.orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        # This collect materialized `words`' cache; the grandparent
        # generation can now go.
        if prev is not None:
            prev.unpersist()
            prev = None
        if not best:  # degenerate corpus (empty / all 1-char words)
            break
        a, b, c = best[0].a, best[0].b, best[0].c
        merges.append((it, a, b, a + b, int(c)))
        nxt = pin(
            words.withColumn(
                "seq",
                F.replace(
                    F.col("seq"),
                    F.lit(f" {a} {b} "),
                    F.lit(f" {a}{b} "),
                ),
            )
        )
        prev = words
        words = nxt
    # `prev` (the last superseded generation) stays cached until the final
    # vocab is materialized by the CALLER's first action — it is the final
    # table's direct parent, so dropping it here would force a full
    # rebuild. Both are pinned, so the next query build releases them.
    return words, merges


_MERGES_SCHEMA = (
    "iteration int, sym_a string, sym_b string, merged string, "
    "pair_count long"
)


@register("bpe_train_merges", _bpe_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 3 BPE merges over the corpus; one row per merge
    (iteration, sym_a, sym_b, merged, pair_count).

    The corpus is touched ONCE (word counts); every iteration then
    aggregates adjacent-pair counts over the cached vocab table and
    collects a single (a, b, count) row. Merge application is a literal
    string replace on the delimited symbol sequence — greedy
    non-overlapping left-to-right in both engines, so e.g. 'aaa' under
    merge (a,a) becomes [aa, a] identically."""
    _, merges = _learn_merges(spark, sf_dir)
    return spark.createDataFrame(merges, _MERGES_SCHEMA)


def _bpe_apply_sql() -> str:
    from ..functions.rounding import dround_sql as R

    # Reuse the trainer's unrolled CTE chain (w0..w{iters} carry the vocab
    # with merges applied), then tokenize the corpus against the final
    # vocab.
    ratio = R("CAST(sum(v.n_chars) AS DOUBLE) / sum(v.n_syms)", 6)
    return f"""WITH {_bpe_train_ctes()},
vocab AS (
    SELECT word, len(string_split(trim(seq), ' ')) AS n_syms,
           length(word) AS n_chars
    FROM w{_BPE_ITERS}
),
tok AS (
    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT t.lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(v.n_chars) AS BIGINT) AS chars_total,
       CAST(sum(v.n_syms) AS BIGINT) AS symbols_after,
       {ratio} AS compression
FROM tok t JOIN vocab v ON v.word = t.word
GROUP BY t.lang
"""


@register("bpe_apply_compression", _bpe_apply_sql())
def bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges back to the corpus: per-language token
    counts, character totals, post-merge symbol totals, and the
    chars-per-symbol compression ratio.

    The corpus side joins each token occurrence to the vocab-sized
    symbol table (broadcast at any corpus size with a bounded vocab) —
    tokenizing 100 TB against learned merges is exactly this shape: the
    merges live in a small broadcast dict; the scan stays narrow."""
    words, _ = _learn_merges(spark, sf_dir)
    vocab = words.select(
        "word",
        F.size(F.split(F.trim(F.col("seq")), " ")).alias("n_syms"),
        F.length("word").alias("n_chars"),
    )
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
    from ..functions.rounding import dround

    return (
        tok.join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum("n_syms").cast("long").alias("symbols_after"),
            dround(
                F.sum("n_chars").cast("double") / F.sum("n_syms"), 6
            ).alias("compression"),
        )
    )
