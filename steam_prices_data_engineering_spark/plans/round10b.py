"""Round-10b extension tier: estimator/maintenance invariants the
optimizer and index layers of a 100 TB platform run as queries.

- `minhash_merge_maintenance` — the MERGEABILITY law that makes MinHash
  signatures maintainable without re-sharding shingles: per permutation,
  sig(A ∪ B) == min(sig(A), sig(B)) (Broder 1997's min-wise property —
  the signature is a monoid, so an APPEND delta merges into a stored
  signature with elementwise least()). The two sides here run DIFFERENT
  code paths — recompute-from-union (explode + groupBy-min over the
  unioned shingle sets) vs merge (pairwise least of the two stored
  signatures) — so the query pins the implementation invariant the
  incremental-ingest path depends on (bpe_roundtrip_fidelity's genre),
  and reports the 8-perm match-fraction Jaccard estimate against the
  exact Jaccard per pair.
- `ams_innerprod_join_size` — the AMS inner-product estimator for the
  size of a JOIN BETWEEN TWO RELATIONS (Alon-Matias-Szegedy 1996 §3;
  the cross-relation form of round9f's self-join F2): |A ⋈_k B| =
  Σ_k a_k·b_k, estimated by mean_i(Z_i^A · Z_i^B) with ONE shared sign
  family — the cardinality input a cost-based optimizer needs BEFORE
  picking a join strategy, here over the (order day ⋈ event day)
  many-to-many key where skew makes naive row-count products wrong.
- `bloom_fpr_operating_curve` — measured vs theoretical false-positive
  rate of the Bloom prefilter at bits-per-key ∈ {4, 8, 12, 16} (k =
  round(m/n · ln 2) hash draws each), members vs a disjoint probe set:
  the sizing table read before provisioning the decontamination
  prefilter (`bloom_prefilter_decontam`) at corpus scale — sibling of
  `lsh_parameter_curve` and `ivf_pq_nprobe_curve`.

No counterpart in the reference (a single-threaded pandas ETL).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..sources.tables import read_table
from .registry import register

# ---------------------------------------------------------------------------
# MinHash signature merge maintenance
# ---------------------------------------------------------------------------

_MM_BUCKETS = 64  # pairs = (min, max) doc per knuth bucket


def _mm_sql() -> str:
    from ..functions.sqlfrag import (
        sql_exact_jaccard,
        sql_shinglehash_ctes,
    )
    from ..operators.dedup import MINHASH_PARAMS, MINHASH_PRIME
    from .trainset import knuth_sql

    def sig(hs: str, i: int) -> str:
        a, b = MINHASH_PARAMS[i]
        return (
            f"list_min(list_transform({hs}, x -> "
            f"(x * {a} + {b}) % {MINHASH_PRIME}))"
        )

    n = len(MINHASH_PARAMS)
    merge_ok = " + ".join(
        f"(CASE WHEN {sig('uh', i)} = least({sig('ha', i)}, {sig('hb', i)})"
        " THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    sig_match = " + ".join(
        f"(CASE WHEN {sig('ha', i)} = {sig('hb', i)} THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    return f"""
WITH {sql_shinglehash_ctes()},
ne AS (
    SELECT doc_id, hs, {knuth_sql()} % {_MM_BUCKETS} AS bkt
    FROM shinglehash WHERE len(hs) > 0
),
pairs AS (
    SELECT bkt, min(doc_id) AS doc_a, max(doc_id) AS doc_b
    FROM ne GROUP BY bkt HAVING count(*) >= 2
),
pj AS MATERIALIZED (
    SELECT p.doc_a, p.doc_b, a.hs AS ha, b.hs AS hb,
           list_distinct(list_cat(a.hs, b.hs)) AS uh
    FROM pairs p
    JOIN ne a ON a.doc_id = p.doc_a
    JOIN ne b ON b.doc_id = p.doc_b
)
SELECT CAST(doc_a AS BIGINT) AS doc_a,
       CAST(doc_b AS BIGINT) AS doc_b,
       CAST({n} AS BIGINT) AS n_perm,
       CAST({merge_ok} AS BIGINT) AS n_merge_ok,
       CAST({sig_match} AS BIGINT) AS n_sig_match,
       {R(f'CAST({sig_match} AS DOUBLE) / {n}', 6)} AS est_jaccard,
       {R(sql_exact_jaccard('ha', 'hb'), 6)} AS exact_jaccard
FROM pj
"""


@register("minhash_merge_maintenance", _mm_sql())
def minhash_merge_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per deterministic doc pair (min/max doc of each knuth bucket):
    how many of the 8 permutations satisfy sig(A∪B) == least(sigA,
    sigB) — recomputed and merged through DIFFERENT code paths, so 8/8
    pins the maintenance invariant — plus the signature match-fraction
    Jaccard estimate vs the exact Jaccard. The union signature runs the
    SAME relational explode+groupBy-min form the production sig table
    uses (the 20x HOF lesson)."""
    from ..operators.dedup import (
        MINHASH_PARAMS,
        MINHASH_PRIME,
        _jaccard,
        hashed_shingle_table,
        minhash_sig_table,
    )
    from .trainset import knuth_hash

    d = read_table(spark, sf_dir, "documents")
    hashed = hashed_shingle_table(d).filter(F.size("hs") > 0)
    ne = hashed.select(
        "doc_id", "hs", (knuth_hash() % _MM_BUCKETS).alias("bkt")
    )
    pairs = (
        ne.groupBy("bkt")
        .agg(
            F.min("doc_id").alias("doc_a"),
            F.max("doc_id").alias("doc_b"),
            F.count(F.lit(1)).alias("nb"),
        )
        .filter(F.col("nb") >= 2)
        .select("doc_a", "doc_b")
    )
    pj = (
        pairs.join(
            ne.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")),
            "doc_a",
        )
        .join(
            ne.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "ha",
            "hb",
            F.array_union("ha", "hb").alias("uh"),
        )
    )

    # recompute-from-union: the production relational form
    uh = pj.select("doc_a", "doc_b", F.explode("uh").alias("h"))
    usig = uh.groupBy("doc_a", "doc_b").agg(
        *[
            F.min(F.pmod(F.col("h") * a + b, F.lit(MINHASH_PRIME))).alias(
                f"u{i}"
            )
            for i, (a, b) in enumerate(MINHASH_PARAMS, start=1)
        ]
    )
    sig = minhash_sig_table(hashed)
    n = len(MINHASH_PARAMS)
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(1, n + 1)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(1, n + 1)],
    )
    merge_ok = sum(
        F.when(
            F.col(f"u{i}")
            == F.least(F.col(f"a{i}"), F.col(f"b{i}")),
            1,
        ).otherwise(0)
        for i in range(1, n + 1)
    )
    sig_match = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(1, n + 1)
    )
    return (
        pj.select("doc_a", "doc_b", "ha", "hb")
        .join(usig, ["doc_a", "doc_b"])
        .join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.lit(n).cast("long").alias("n_perm"),
            merge_ok.cast("long").alias("n_merge_ok"),
            sig_match.cast("long").alias("n_sig_match"),
            dround(sig_match.cast("double") / n, 6).alias("est_jaccard"),
            dround(_jaccard(F.col("ha"), F.col("hb")), 6).alias(
                "exact_jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# AMS inner-product join-size estimation (cross-relation)
# ---------------------------------------------------------------------------

_AMSJ_K = 16


def _amsj_sign_key(i: int) -> str:
    return f"concat_ws('|', 'amsj', '{i}', CAST(day AS VARCHAR))"


def _amsj_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int

    za = ", ".join(
        f"CAST(sum(na * (1 - 2 * ({sql_md5_hex6_to_int(_amsj_sign_key(i))}"
        f" % 2))) AS BIGINT) AS za{i}"
        for i in range(_AMSJ_K)
    )
    zb = ", ".join(
        f"CAST(sum(nb * (1 - 2 * ({sql_md5_hex6_to_int(_amsj_sign_key(i))}"
        f" % 2))) AS BIGINT) AS zb{i}"
        for i in range(_AMSJ_K)
    )
    est_sum = " + ".join(f"za{i} * zb{i}" for i in range(_AMSJ_K))
    err = (
        "(CAST(ams_x16 AS DOUBLE) / 16.0 - CAST(exact_join_rows AS DOUBLE))"
        " / nullif(CAST(exact_join_rows AS DOUBLE), 0.0)"
    )
    return f"""
WITH a AS (
    SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS na
    FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
b AS (
    SELECT CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS nb
    FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
),
sa AS (SELECT CAST(count(*) AS BIGINT) AS n_days_a, {za} FROM a),
sb AS (SELECT CAST(count(*) AS BIGINT) AS n_days_b, {zb} FROM b),
ex AS (
    SELECT CAST(coalesce(sum(a.na * b.nb), 0) AS BIGINT)
               AS exact_join_rows
    FROM a JOIN b ON b.day = a.day
),
j AS (
    SELECT sa.n_days_a, sb.n_days_b, ex.exact_join_rows,
           CAST({est_sum} AS BIGINT) AS ams_x16
    FROM sa CROSS JOIN sb CROSS JOIN ex
)
SELECT n_days_a, n_days_b, exact_join_rows, ams_x16,
       {R('CAST(ams_x16 AS DOUBLE) / 16.0', 2)} AS ams_est,
       {R(err, 6)} AS rel_err
FROM j
"""


@register("ams_innerprod_join_size", _amsj_sql())
def ams_innerprod_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS inner-product estimate of |orders ⋈_day lineitem-by-shipdate|
    vs the exact Σ_d a_d·b_d — the pre-join cardinality read a
    cost-based optimizer makes on a skewed many-to-many key. Both
    relations land in ONE tagged union pass (each fact table scanned
    once; the old a/sa + a⋈b shape scanned each table twice), one
    map-side-combined groupBy(day) yields (na, nb) per day, and a
    single global aggregate produces every output — days absent on one
    side contribute 0 to every sum, so the inner-join Σ na·nb and the
    per-side sketch sums are unchanged. The SHARED md5 sign family
    rides the day column, and everything is integer until the two
    report divisions (round9f's measured-independence lesson)."""
    from ..functions.text import md5_hex6_to_int

    def tagged(df: DataFrame, ts_col: str, ca: int, cb: int) -> DataFrame:
        return df.filter(F.col(ts_col).isNotNull()).select(
            F.floor(F.col(ts_col).cast("long") / 86400)
            .cast("long")
            .alias("day"),
            F.lit(ca).cast("long").alias("ca"),
            F.lit(cb).cast("long").alias("cb"),
        )

    def sign(i: int) -> F.Column:
        h = md5_hex6_to_int(
            F.concat_ws(
                "|",
                F.lit("amsj"),
                F.lit(str(i)),
                F.col("day").cast("string"),
            )
        )
        return 1 - 2 * (h % 2)

    g = (
        tagged(read_table(spark, sf_dir, "orders"), "o_orderdate", 1, 0)
        .unionByName(
            tagged(read_table(spark, sf_dir, "lineitem"), "l_shipdate", 0, 1)
        )
        .groupBy("day")
        .agg(
            F.sum("ca").cast("long").alias("na"),
            F.sum("cb").cast("long").alias("nb"),
        )
    )
    res = g.agg(
        F.sum((F.col("na") > 0).cast("long")).cast("long").alias("n_days_a"),
        F.sum((F.col("nb") > 0).cast("long")).cast("long").alias("n_days_b"),
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
        .cast("long")
        .alias("exact_join_rows"),
        *[
            F.sum(F.col("na") * sign(i)).cast("long").alias(f"za{i}")
            for i in range(_AMSJ_K)
        ],
        *[
            F.sum(F.col("nb") * sign(i)).cast("long").alias(f"zb{i}")
            for i in range(_AMSJ_K)
        ],
    )
    est_sum = None
    for i in range(_AMSJ_K):
        term = F.col(f"za{i}") * F.col(f"zb{i}")
        est_sum = term if est_sum is None else est_sum + term
    j = res.withColumn("ams_x16", est_sum.cast("long"))
    err = (
        F.col("ams_x16").cast("double") / F.lit(16.0)
        - F.col("exact_join_rows").cast("double")
    ) / F.nullif(
        F.col("exact_join_rows").cast("double"), F.lit(0.0)
    )
    return j.select(
        "n_days_a",
        "n_days_b",
        "exact_join_rows",
        "ams_x16",
        dround(F.col("ams_x16").cast("double") / F.lit(16.0), 2).alias(
            "ams_est"
        ),
        dround(err, 6).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Bloom filter false-positive operating curve
# ---------------------------------------------------------------------------

# bits-per-key sweep; k = round(bpe * ln 2) — fixed constants so the
# draw count is a literal in both engines.
_BLOOM_CONFIGS = tuple(
    (bpe, max(1, round(bpe * math.log(2)))) for bpe in (4, 8, 12, 16)
)
_BLOOM_MAX_K = max(k for _, k in _BLOOM_CONFIGS)


def _bloom_key(j: int) -> str:
    return f"concat_ws('|', 'bfp', '{j}', CAST(pk AS VARCHAR))"


def _bloom_sql() -> str:
    from ..functions.sqlfrag import sql_md5_hex6_to_int

    # theoretical FPR per config as a PYTHON-computed double literal in
    # BOTH engines (the Spark side uses the same floats) — no runtime
    # transcendental parity to worry about; repr() round-trips exactly.
    configs = ", ".join(
        f"({bpe}, {k}, "
        f"{math.pow(1.0 - math.exp(-float(k) / bpe), float(k))!r})"
        for bpe, k in _BLOOM_CONFIGS
    )
    draws = ", ".join(
        f"{sql_md5_hex6_to_int(_bloom_key(j))} AS h{j}"
        for j in range(_BLOOM_MAX_K)
    )
    unnest_bits = " UNION ALL ".join(
        f"SELECT pk, is_member, {j} AS draw, h{j} AS h FROM hashed"
        for j in range(_BLOOM_MAX_K)
    )
    return f"""
WITH keys AS (
    SELECT CAST(p_partkey AS BIGINT) AS pk,
           (CAST(p_partkey AS BIGINT) % 2 = 0) AS is_member
    FROM part WHERE p_partkey IS NOT NULL
),
nm AS (
    SELECT CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(sum(CASE WHEN is_member THEN 0 ELSE 1 END) AS BIGINT)
               AS n_probes
    FROM keys
),
hashed AS MATERIALIZED (SELECT pk, is_member, {draws} FROM keys),
longf AS ({unnest_bits}),
cfg AS (SELECT * FROM (VALUES {configs}) t(bpe, k, theo)),
bits AS (
    SELECT c.bpe, c.k, l.pk, l.is_member,
           l.h % (nm.n_members * c.bpe) AS bit
    FROM longf l CROSS JOIN nm CROSS JOIN cfg c
    WHERE l.draw < c.k
),
member_bits AS (
    SELECT DISTINCT bpe, k, bit FROM bits WHERE is_member
),
probe_hits AS (
    SELECT b.bpe, b.k, b.pk, CAST(count(*) AS BIGINT) AS n_set
    FROM bits b
    SEMI JOIN member_bits m
      ON m.bpe = b.bpe AND m.k = b.k AND m.bit = b.bit
    WHERE NOT b.is_member
    GROUP BY 1, 2, 3
),
fp AS (
    SELECT cfg.bpe, cfg.k, cfg.theo,
           CAST(coalesce(sum(CASE WHEN ph.n_set = cfg.k THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_false_pos
    FROM cfg LEFT JOIN probe_hits ph
      ON ph.bpe = cfg.bpe AND ph.k = cfg.k
    GROUP BY 1, 2, 3
)
SELECT CAST(fp.bpe AS BIGINT) AS bits_per_key,
       CAST(fp.k AS BIGINT) AS k_hashes,
       CAST(nm.n_members * fp.bpe AS BIGINT) AS m_bits,
       nm.n_members, nm.n_probes, fp.n_false_pos,
       {R('CAST(fp.n_false_pos AS DOUBLE) / nullif(nm.n_probes, 0)', 6)}
           AS measured_fpr,
       {R('fp.theo', 6)} AS theoretical_fpr
FROM fp CROSS JOIN nm
"""


@register("bloom_fpr_operating_curve", _bloom_sql())
def bloom_fpr_operating_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measured vs theoretical Bloom FPR at bits-per-key 4/8/12/16
    (k = round(bpe·ln2)): even part keys are members, odd keys the
    disjoint probe set; a probe is a false positive iff ALL its k bit
    positions land in the member bit set. One hash pass computes the
    max-k md5 draws per key; each config filters that one frame — the
    sizing table for the decontamination prefilter at corpus scale."""
    from ..functions.text import md5_hex6_to_int

    keys = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey").isNotNull())
        .select(
            F.col("p_partkey").cast("long").alias("pk"),
            (F.col("p_partkey").cast("long") % 2 == 0).alias("is_member"),
        )
    )
    draws = [
        md5_hex6_to_int(
            F.concat_ws(
                "|", F.lit("bfp"), F.lit(str(j)), F.col("pk").cast("string")
            )
        ).alias(f"h{j}")
        for j in range(_BLOOM_MAX_K)
    ]
    # one hash pass, 4 config filters
    hashed = keys.select("pk", "is_member", *draws)
    n_row = hashed.agg(
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.sum(F.when(F.col("is_member"), 0).otherwise(1))
        .cast("long")
        .alias("n_probes"),
    ).collect()[0]
    n_members, n_probes = n_row.n_members, n_row.n_probes

    longf = hashed.select(
        "pk",
        "is_member",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("draw"), F.col(f"h{j}").alias("h")
                    )
                    for j in range(_BLOOM_MAX_K)
                ]
            )
        ).alias("dh"),
    ).select("pk", "is_member", "dh.draw", "dh.h")

    # ALL configs in ONE pass (was: a per-config loop of 4 independent
    # distinct/semi-join/agg subtrees unioned — 4x the shuffle chains over
    # the same exploded draws; the ivf_pq_nprobe_curve lesson). Mirror of
    # the oracle's cfg CTE: broadcast the 4-row config frame, carry
    # (bpe, k) through every stage, and LEFT-join configs back at the end
    # so a config with zero false positives still emits its row.
    cfg = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(
            f"({bpe}, {k}, "
            f"{math.pow(1.0 - math.exp(-float(k) / bpe), float(k))!r}D)"
            for bpe, k in _BLOOM_CONFIGS
        )
        + " AS cfg(bpe, k, theo)"
    )
    bits = longf.join(
        F.broadcast(cfg), F.col("draw") < F.col("k")
    ).select(
        "bpe",
        "k",
        "theo",
        "pk",
        "is_member",
        (F.col("h") % (F.lit(n_members) * F.col("bpe"))).alias("bit"),
    )
    member_bits = (
        bits.filter(F.col("is_member")).select("bpe", "k", "bit").distinct()
    )
    probe_hits = (
        bits.filter(~F.col("is_member"))
        .join(member_bits, ["bpe", "k", "bit"], "left_semi")
        .groupBy("bpe", "k", "pk")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    fp = probe_hits.groupBy("bpe", "k").agg(
        F.sum(F.when(F.col("n_set") == F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos")
    )
    return cfg.join(fp, ["bpe", "k"], "left").select(
        F.col("bpe").cast("long").alias("bits_per_key"),
        F.col("k").cast("long").alias("k_hashes"),
        (F.lit(n_members) * F.col("bpe")).cast("long").alias("m_bits"),
        F.lit(n_members).cast("long").alias("n_members"),
        F.lit(n_probes).cast("long").alias("n_probes"),
        F.coalesce(F.col("n_false_pos"), F.lit(0))
        .cast("long")
        .alias("n_false_pos"),
        dround(
            F.coalesce(F.col("n_false_pos"), F.lit(0)).cast("double")
            / F.nullif(F.lit(float(n_probes)), F.lit(0.0)),
            6,
        ).alias("measured_fpr"),
        dround(F.col("theo"), 6).alias("theoretical_fpr"),
    )
