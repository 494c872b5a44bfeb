"""Coverage completions: the operator families still missing after the core
+ extended sets — semi join, SimHash-banded near-dup, IVF-style ANN, CSV
source round-trip (S4), and multimodal frame sampling. All oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rounding import dround, dround_sql as R
from ..functions.text import token_hash_array
from ..functions.vectors import cosine
from ..operators.dedup import simhash_table
from ..session import landing
from ..sources.tables import read_table, spread
from .registry import register, register_sql

# ---------------------------------------------------------------------------
# Left semi join (the one join type not yet exercised as itself).
# ---------------------------------------------------------------------------

_SEMI_JOIN_SQL = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_active_cust
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
GROUP BY c_nationkey
"""

register_sql("semi_join_active_customers", _SEMI_JOIN_SQL)


# ---------------------------------------------------------------------------
# SimHash-banded near-dup: candidates share one of four 4-bit bands of the
# 16-bit simhash (pigeonhole: hamming <= 3 guarantees >= 1 equal band), then
# exact hamming verification via bit_count(xor). The banded self-join is an
# equi shuffle join on (band_idx, band_val) — never an all-pairs product.
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16
_SIMHASH_BANDS = 4
_BAND_WIDTH = _SIMHASH_BITS // _SIMHASH_BANDS
_HAMMING_MAX = 1


def _sql_simhash16(hs: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({hs}, h -> (h >> {bit}) & 1 = 1)) > len({hs}) THEN {1 << bit} ELSE 0 END)"
        for bit in range(_SIMHASH_BITS)
    )
    return f"CAST({terms} AS BIGINT)"


_SIMHASH_TOKEN_HASH = (
    "x -> CAST(length(x) * 961 + ascii(substr(x, 1, 1)) * 31 + ascii(right(x, 1)) AS BIGINT)"
)

_SIMHASH_NEARDUP_SQL = f"""
WITH hashed AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '), {_SIMHASH_TOKEN_HASH}) AS hs
    FROM documents
),
sims AS (SELECT doc_id, {_sql_simhash16('hs')} AS sim FROM hashed),
banded AS (
    SELECT doc_id, sim, band_idx,
           (sim >> (band_idx * {_BAND_WIDTH})) & {(1 << _BAND_WIDTH) - 1} AS band_val
    FROM sims CROSS JOIN (VALUES (0), (1), (2), (3)) b(band_idx)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           a.sim AS sim_a, b.sim AS sim_b
    FROM banded a
    JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {_HAMMING_MAX}
"""


@register("neardup_simhash_banded", _SIMHASH_NEARDUP_SQL)
def neardup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming distance <= 1 with pigeonhole band
    blocking (4 bands x 4 bits — any pair within hamming 3 shares a band, so
    blocking is recall-lossless here). Completes the dedup family: exact /
    n-gram-Jaccard / MinHash-LSH / SimHash / embedding-cosine."""
    d = read_table(spark, sf_dir, "documents")
    # Relational SimHash (operators/dedup.py:simhash_table): doc_id + one
    # long, consumed by the band explode (4 rows/doc) and both sides of
    # the self-join.
    sims = simhash_table(
        d, token_hash_array(F.col("text")), bits=_SIMHASH_BITS
    )
    bands = spark.range(_SIMHASH_BANDS).select(F.col("id").cast("int").alias("band_idx"))
    banded = sims.crossJoin(F.broadcast(bands)).select(
        "doc_id",
        "sim",
        "band_idx",
        F.expr(f"shiftright(sim, band_idx * {_BAND_WIDTH}) & {(1 << _BAND_WIDTH) - 1}")
        .alias("band_val"),
    )
    # spread() the PROBE side: the sketch (groupBy output) can land in
    # one byte-sized partition under AQE coalescing, and the b
    # side broadcasts — probe partitioning alone then drives the ~9M-pair
    # band compare (measured 4.2s -> 1.7s at sf0.1). One O(N) row
    # exchange of (doc_id, sim) longs buys the parallelism back.
    banded_probe = spread(sims).crossJoin(F.broadcast(bands)).select(
        "doc_id",
        "sim",
        "band_idx",
        F.expr(f"shiftright(sim, band_idx * {_BAND_WIDTH}) & {(1 << _BAND_WIDTH) - 1}")
        .alias("band_val"),
    )
    a, b = banded_probe.alias("a"), banded.alias("b")
    # The hamming test rides IN the join condition: the equi join still
    # shuffles on (band_idx, band_val), but each matched pair is verified
    # before it is EMITTED, so the distinct() downstream deduplicates only
    # true near-dups — not the full candidate set. Matters because 4-bit
    # bands prune poorly on low-entropy corpora (~9M candidates for 5000
    # fixture docs, ~74% of all pairs): at scale the distinct-then-verify
    # order would shuffle the whole candidate set a second time, while
    # verify-then-distinct shuffles only survivors (here ~9k rows).
    hamming_ab = F.bit_count(
        F.col("a.sim").bitwiseXOR(F.col("b.sim"))
    ).cast("long")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming_ab <= _HAMMING_MAX),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming_ab.alias("hamming"),
        )
        .distinct()
    )
    return cand


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer = fixed seed vectors (vec_id < K); every
# vector is assigned to its nearest seed's cell (the "inverted file"); a
# query searches only its own cell. At 100 TB the cell id is the partition
# key — each query touches 1/K of the corpus. Deterministic (no trained
# k-means) so the oracle replays it exactly.
# ---------------------------------------------------------------------------

_IVF_K = 8

_IVF_COS = (
    "list_dot_product(e.v, s.v) / "
    "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.v, s.v)))"
)

_IVF_ANN_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT vec_id AS seed_id, v FROM e WHERE vec_id < {_IVF_K}),
assign AS (
    SELECT e.vec_id, e.label, e.v, s.seed_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_IVF_COS} DESC, s.seed_id ASC) AS rn
    FROM e CROSS JOIN seeds s
),
cells AS (SELECT vec_id, label, v, seed_id AS cell FROM assign WHERE rn = 1),
q AS (SELECT v AS qv, cell AS qcell FROM cells WHERE vec_id = 0),
cand AS (
    SELECT c.vec_id, c.label,
           {R("list_dot_product(c.v, q.qv) / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))", 6)} AS score
    FROM cells c, q
    WHERE c.cell = q.qcell AND c.vec_id <> 0
)
SELECT vec_id, label, score FROM cand ORDER BY score DESC, vec_id ASC LIMIT 10
"""


@register("simsearch_ivf_cells", _IVF_ANN_SQL)
def simsearch_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of K fixed seed
    centroids (broadcast), then search only the query's cell. The companion
    scale path to the LSH variant (simsearch_lsh_topk)."""
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("v")
    )
    seeds = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("seed_cos"), F.asc("seed_id")
    )
    cells = (
        e.crossJoin(F.broadcast(seeds))
        .withColumn("seed_cos", cosine(F.col("v"), F.col("sv")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "v", F.col("seed_id").alias("cell"))
    )
    q = cells.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    cand = (
        cells.join(F.broadcast(q), cells.cell == F.col("qcell"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            dround(cosine(F.col("v"), F.col("qv")), 6).alias("score"),
        )
    )
    return cand.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


# ---------------------------------------------------------------------------
# CSV source round-trip (S4: `pd.read_csv(url, usecols=...)`,
# world_map_transformer.py:138-139). Spark writes the dim as CSV, reads it
# back with an explicit schema and a pruned projection; the oracle reads the
# original parquet — proving the CSV hop is lossless.
# ---------------------------------------------------------------------------

_CSV_SQL = """
SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register("csv_source_pruned", _CSV_SQL)
def csv_source_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with explicit schema + column pruning (S4): the engine's
    CSV connector, exercised end-to-end (write -> schema'd read -> pruned
    select -> broadcast join). Catalyst prunes the unused n_name column out
    of the CSV scan (ReadSchema shows only the 2 needed columns)."""
    n = read_table(spark, sf_dir, "nation")
    csv_dir = landing(spark, "nation_csv", sf_dir)
    n.write.option("header", True).csv(csv_dir)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    n_csv = (
        spark.read.schema(schema)
        .option("header", True)
        .csv(csv_dir)
        .select("n_nationkey", "n_regionkey")
    )
    r = read_table(spark, sf_dir, "region")
    return (
        n_csv.join(F.broadcast(r), n_csv.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


# ---------------------------------------------------------------------------
# Multimodal frame sampling: chunk each binary payload into fixed-size
# frames via Arrow-batched mapInPandas (the video-frame-sample /
# audio-window shape). Narrow op — frames inherit the input partitioning;
# the oracle checks the chunk geometry arithmetic.
# ---------------------------------------------------------------------------

_FRAME_BYTES = 64

_FRAME_SQL = f"""
WITH l AS (
    SELECT doc_id, octet_length(encode(text)) AS len FROM documents
),
f AS (
    SELECT doc_id, len,
           unnest(range(0, CAST(ceil(CAST(len AS DOUBLE) / {_FRAME_BYTES}) AS BIGINT))) AS frame_idx
    FROM l
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(least({_FRAME_BYTES}, len - frame_idx * {_FRAME_BYTES}) AS BIGINT) AS frame_bytes
FROM f
"""


@register("multimodal_frame_sample", _FRAME_SQL)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque binary payloads (mapInPandas): one output
    row per fixed-size chunk with its actual byte length. A real video
    decoder swaps into the same iterator body (the container has no
    codecs); the Spark-side contract — Arrow batches in, exploded typed
    rows out, no shuffle — is exactly this."""
    from ..operators.multimodal import with_binary_payload

    media = with_binary_payload(read_table(spark, sf_dir, "documents"))

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("frame_bytes", T.LongType()),
        ]
    )

    def sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, sizes = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                payload = bytes(content)
                for i in range(0, max(1, len(payload)), _FRAME_BYTES):
                    frame = payload[i : i + _FRAME_BYTES]
                    if not frame:
                        break
                    ids.append(doc_id)
                    idxs.append(i // _FRAME_BYTES)
                    sizes.append(len(frame))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": sizes}
            )

    return media.mapInPandas(sample, schema=out_schema)
