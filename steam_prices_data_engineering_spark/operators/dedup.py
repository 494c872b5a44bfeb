"""Deduplication operators (north-star extension, SURVEY.md §2b).

Four tiers, all shuffle-conscious:

- exact_dedup: hash groupBy on the dedup key; keeps min(id) deterministically.
  One shuffle on the key — at 100 TB this is the unavoidable minimum and AQE
  handles skewed keys.
- ngram_jaccard_pairs: blocked n-gram-shingle Jaccard in inverted-index
  form — the join key is the shingle (within a lang + length-band block),
  so only pairs sharing a shingle materialize and |A∩B| is a join-count,
  never a per-pair array intersection.
- minhash_lsh_pairs: deterministic arithmetic MinHash + banded LSH. The
  signature is computed with universal-hash functions over an arithmetic
  token hash (functions/text.py:token_hash), which makes the WHOLE pipeline
  reproducible in ANSI SQL — the DuckDB oracle can check LSH candidate
  generation itself, not just the final verify step. Candidates join on band
  equality (equi shuffle join, never a cross product).
- simhash_table: 64-bit-ish simhash over token hashes via bit-majority,
  expressed with explode + groupBy (exposed through plans/registry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import dround

from ..functions.text import shingles
from ..session import pin

# Universal-hash parameters for MinHash: (a, b) pairs, h_i(x) = (a*x + b) mod P.
# Fixed constants so Spark and the SQL oracle agree bit-for-bit.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (1_000_003, 12_345),
    (999_983, 54_321),
    (1_299_709, 98_765),
    (1_145_141, 19_191),
    (611_953, 777_777),
    (386_093, 222_222),
    (821_641, 333_333),
    (104_729, 444_444),
)
# Bands of 2 rows each -> 4 bands from 8 signatures (b=4, r=2): catches
# pairs with Jaccard >~ (1/4)^(1/2) = 0.5 with good probability.
MINHASH_BAND_ROWS = 2


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly the min-id row per key group (deterministic, unlike
    dropDuplicates whose survivor depends on partition order)."""
    w_min = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(w_min, key_cols + [id_col], "inner")


def _jaccard(sh_a: F.Column, sh_b: F.Column) -> F.Column:
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    band_width: int = 100,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard within blocking buckets
    (lang + coarse n_chars band), computed in inverted-index form: the
    join key is the SHINGLE itself, so only pairs sharing at least one
    shingle ever materialize and the intersection size falls out of a
    count — never a per-pair array intersection, never a cross product.

    Blocking compares docs whose length bands differ by AT MOST ONE:
    a 98-char vs 102-char near-dup straddles the 100-char band edge, and
    same-band-only blocking would never compare them. The join key is
    (lang, shingle) with the band constraint as a residual range filter
    |blk_a - blk_b| <= 1 — measured faster at sf0.1 than fanning the
    right side into {blk-1, blk, blk+1} join keys (the shingle is already
    selective; the residual prunes the rare hot-shingle fan-out without
    tripling the right-side explode). Each qualifying pair still meets
    once per shared shingle, so the join count is exactly |A∩B|. Pairs
    >1 band apart (length ratio far from 1, Jaccard necessarily low at
    these thresholds) remain blocked out; that is the recall contract.

    Contract: only pairs sharing >= 1 shingle are representable — a
    threshold <= 0 cannot return the (jaccard = 0) non-overlapping pairs
    a naive all-pairs scorer would. Asserted at entry.

    Returns (doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b.
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0: the inverted-index "
            "form only materializes pairs sharing at least one shingle"
        )
    from ..sources.tables import spread

    # spread(): the shingle build + explode is the CPU-heavy stage and a
    # single-file landing otherwise runs it on ONE task (measured 4x at
    # sf0.1); one row-level shuffle buys full parallelism, same as the
    # decontam/winnow shingle pipelines.
    prepped = spread(docs).select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / band_width).alias("blk"),
        F.array_distinct(shingles(F.col("text"), n)).alias("sh"),
    ).withColumn("sz", F.size(F.col("sh")))
    # Inverted-index form: explode shingles and equi-join ON THE SHINGLE
    # (within the block), then count matches per pair — |A∩B| arrives from
    # the join itself and J = inter / (|A| + |B| - inter). A pair with no
    # common shingle (J = 0, the overwhelming majority) never materializes
    # at all, vs the naive block-self-join that runs O(|A|+|B|) array
    # intersection on EVERY pair in the block (measured 4x slower at
    # sf0.1). Results are identical — this is algebra, not approximation;
    # the PPJoin prefix filter is the further refinement if ultra-frequent
    # shingles ever skew the join.
    ex = prepped.select(
        "doc_id", "lang", "blk", "sz", F.explode("sh").alias("g")
    )
    left = ex.select(
        F.col("doc_id").alias("doc_id_a"),
        "lang",
        F.col("blk").alias("blk_a"),
        F.col("sz").alias("sz_a"),
        "g",
    )
    right = ex.select(
        F.col("doc_id").alias("doc_id_b"),
        "lang",
        F.col("blk").alias("blk_b"),
        F.col("sz").alias("sz_b"),
        "g",
    )
    inter = (
        left.join(right, ["lang", "g"])
        .filter(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            & (F.abs(F.col("blk_a") - F.col("blk_b")) <= 1)
        )
        .groupBy("doc_id_a", "doc_id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac = F.when(union > 0, F.col("inter") / union).otherwise(F.lit(0.0))
    return (
        inter.withColumn("jaccard", dround(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def hashed_shingle_table(docs: DataFrame, spread_input: bool = False) -> DataFrame:
    """(doc_id, hs) — CACHED distinct shingle-hash sets per document, the
    shared first stage of every shingle-family operator (MinHash-LSH, the
    sketch-error evaluator, the candidate-graph index).

    Stages the chain text -> token hashes -> shingle hashes through
    explicit projections so each step is computed once per doc:
    Catalyst's CollapseProject keeps multi-consumer non-cheap expressions
    staged instead of inlining, so `hs` is evaluated once, not 8x (the
    naive single-projection form re-derives the whole chain per signature
    column — measured ~10x slower at sf0.1). Shingle hashes are composed
    from token hashes (near-injective; see functions/text.py) — a weak
    direct shingle-string hash collapses the space and explodes the LSH
    candidate count ~100x. Cached on purpose: downstream the signature
    explode and BOTH sides of any verify join consume this table, and a
    Generate (explode) over the uncached interpreted chain re-evaluates
    it per exploded row (~50x; measured 50s -> 3s at sf0.1).

    `spread_input` defaults OFF: the token+shingle hash chain is light
    (~1s/5000 docs on one core), so the round-robin exchange of full
    document rows costs more than the parallelism buys at bench scale
    (measured 1.9s -> 8.1s cold WITH spread at sf0.1). Flip it on for
    single-split landings where downstream consumers are heavy."""
    from ..functions.text import shingle_hash_array, token_hash_array
    from ..sources.tables import spread

    base = spread(docs) if spread_input else docs
    tokenized = base.select(
        "doc_id", token_hash_array(F.col("text")).alias("th")
    )
    return pin(tokenized.select(
        "doc_id",
        F.array_distinct(shingle_hash_array(F.col("th"), 3)).alias("hs"),
    ))


def minhash_sig_table(hashed: DataFrame) -> DataFrame:
    """(doc_id, s1..sN) MinHash signatures from a hashed-shingle table.

    Signature minima via explode + groupBy(min), NOT array_min(transform):
    Spark higher-order functions evaluate lambdas interpreted (outside
    whole-stage codegen) — 8 transform passes over every shingle hash
    measured ~20s at sf0.1, vs <1s for the relational form, whose
    min-aggregates are codegen'd and map-side combined (shuffle output is
    just docs x 8 longs). Docs with <3 tokens have no shingles, vanish in
    the explode, and are excluded (mirrored by `WHERE s1 IS NOT NULL` in
    the SQL oracle)."""
    exploded = hashed.select("doc_id", F.explode("hs").alias("h"))
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.col("h") * a + b, F.lit(MINHASH_PRIME))).alias(f"s{i}")
            for i, (a, b) in enumerate(MINHASH_PARAMS, start=1)
        ]
    )


def minhash_banded(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) — the LSH band explode (4 rows/doc)."""
    n_bands = len(MINHASH_PARAMS) // MINHASH_BAND_ROWS
    band_cols = []
    for bi in range(n_bands):
        lo = bi * MINHASH_BAND_ROWS + 1
        parts = [F.col(f"s{j}") for j in range(lo, lo + MINHASH_BAND_ROWS)]
        band_cols.append(
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.concat_ws("_", *[p.cast("string") for p in parts]).alias("band_key"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")


def minhash_candidates(banded: DataFrame) -> DataFrame:
    """Distinct (doc_id_a < doc_id_b) pairs sharing any band."""
    left = banded.select(F.col("doc_id").alias("doc_id_a"), "band_idx", "band_key")
    right = banded.select(F.col("doc_id").alias("doc_id_b"), "band_idx", "band_key")
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


def verified_jaccard_pairs(
    cand: DataFrame, hashed: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against a
    hashed-shingle table: (doc_id_a, doc_id_b) x (doc_id, hs) ->
    (doc_id_a, doc_id_b, jaccard >= threshold).

    Verification computes exact Jaccard over the HASHED shingle sets:
    identical semantics to string shingles up to 2^-31 hash collisions,
    and both engines hash identically so the oracle match is exact
    regardless. Exposed so evaluators that already built the candidate
    frame (lsh_recall_empirical) verify it WITHOUT rebuilding the
    signature/band/candidate chain a second time."""
    sh_a = hashed.select(
        F.col("doc_id").alias("doc_id_a"), F.col("hs").alias("sh_a")
    )
    sh_b = hashed.select(
        F.col("doc_id").alias("doc_id_b"), F.col("hs").alias("sh_b")
    )
    verified = cand.join(sh_a, "doc_id_a").join(sh_b, "doc_id_b")
    return (
        verified.withColumn("jaccard", dround(_jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup: signature -> bands -> band-equality join ->
    exact Jaccard verify. Fully deterministic (see module docstring).

    Scale: the only shuffles are (a) the explode of 4 band rows per doc and
    (b) the equi-join on (band_idx, band_key) — standard LSH cost model.
    Composed from the shared stages above (hashed_shingle_table ->
    minhash_sig_table -> minhash_banded -> minhash_candidates), which the
    sketch-error evaluator reuses verbatim so it measures THIS pipeline.
    Pass a staged `hashed` frame to share the cached shingle stage with
    sibling pipelines instead of re-deriving it.
    """
    if hashed is None:
        hashed = hashed_shingle_table(docs)
    sig = minhash_sig_table(hashed)
    banded = minhash_banded(sig)
    cand = minhash_candidates(banded)
    return verified_jaccard_pairs(cand, hashed, threshold)


def simhash_table(
    docs: DataFrame,
    hashes: F.Column,
    id_col: str = "doc_id",
    bits: int = 16,
    carry: dict[str, F.Column] | None = None,
    spread_input: bool = True,
) -> DataFrame:
    """(id, sim[, carried...]) — SimHash in RELATIONAL form: explode the
    token-hash array and majority-vote every bit with codegen'd
    conditional sums in ONE grouped aggregation.

    This is the fast path over the expression form (a per-bit
    `size(filter(hashes, h -> bit set))` majority test), whose lambdas run
    interpreted (outside whole-stage codegen) — 16 passes over every hash
    array, measured 4.4x slower at sf0.1. The
    explode shuffles (id, hash) pairs but map-side partial aggregation
    collapses them to one row of 17 longs per doc before the exchange —
    the same trick as the MinHash signature stage. Results are
    bit-identical; empty-token docs survive via explode_outer (their NULL
    bit-sums fail every majority test -> sim = 0, matching the
    expression form).

    `carry` maps output-column names to per-doc expressions computed in
    the same pass (e.g. a quality score) so callers need no join-back.
    """
    carry = carry or {}
    from ..sources.tables import spread

    # spread(): tokenize+hash+explode is the CPU stage; a single-file
    # landing otherwise runs it on one task (measured 1.5x whole-query at
    # sf0.1 for the banded variant). The row shuffle happens BELOW the
    # projection so the expensive expressions evaluate distributed. Pass
    # spread_input=False when the caller already repartitioned (avoids a
    # second exchange of full document rows).
    # Carried expressions are staged in a projection BELOW the Generate
    # (explode) node so they evaluate once per document — selecting them
    # alongside the explode would re-evaluate them once per TOKEN row.
    pre = (spread(docs) if spread_input else docs).select(
        F.col(id_col),
        *[c.alias(n) for n, c in carry.items()],
        hashes.alias("_hs"),
    )
    ex = pre.select(
        F.col(id_col),
        *[F.col(n) for n in carry],
        F.explode_outer(F.col("_hs")).alias("_h"),
    )
    agg = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.first(n).alias(n) for n in carry],
        *[
            F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(1)).alias(f"_b{b}")
            for b in range(bits)
        ],
    )
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"_b{b}") * 2 > F.col("_n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select(F.col(id_col), sim.alias("sim"), *list(carry))
