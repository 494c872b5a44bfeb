"""Audio-modality plumbing (north-star extension, SURVEY.md §2b
"multimodal columns"): windowed feature extraction over opaque audio
payloads.

The container has no audio codecs (librosa/ffmpeg), so the decode step is
a DETERMINISTIC FAKE PCM expansion — each payload byte stream expands to a
fixed-length int8 sample vector through pure arithmetic — while everything
Spark-side is the real contract a production decoder drops into:

- payloads travel as opaque `binary` next to typed metadata,
- decode + window-RMS runs as Arrow-batched `mapInPandas` (whole columnar
  batches through numpy, never row-at-a-time Python),
- the stage is narrow: windows inherit the input partitioning, no shuffle,
  so at 100 TB it scales with input splits exactly like a real
  decode/resample/feature stage.

The oracle replays the fake-decode arithmetic in SQL (integer ops + one
IEEE sqrt — bit-identical across engines), so unlike a stubbed decoder
this plumbing is value-verified end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rounding import dround_sql as R
from ..session import pin
from ..sources.tables import read_table
from .registry import register

_N_SAMPLES = 256  # fake-decoded samples per clip
_WINDOW = 64  # samples per analysis window -> 4 windows per clip

_AUDIO_RMS_SQL = f"""
WITH clip AS (
    -- zero-length payloads decode to NO windows (nothing to sample from);
    -- mirrored by the empty-guard in the UDF
    SELECT doc_id, text, length(text) AS len FROM documents
    WHERE length(text) > 0
),
smp AS (
    SELECT doc_id, i,
           ((unicode(substr(text, (i % len) + 1, 1)) * 31 + i * 7) % 256) - 128 AS s
    FROM (SELECT doc_id, text, len, unnest(range(0, {_N_SAMPLES})) AS i
          FROM clip)
)
SELECT doc_id,
       CAST(i // {_WINDOW} AS BIGINT) AS window_idx,
       CAST({_WINDOW} AS BIGINT) AS n_samples,
       {R(f"sqrt(sum(CAST(s * s AS DOUBLE)) / {_WINDOW})", 6)} AS rms
FROM smp
GROUP BY doc_id, i // {_WINDOW}
"""


@register("multimodal_audio_windows", _AUDIO_RMS_SQL)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-PCM decode -> per-window RMS energy, via Arrow-batched
    mapInPandas (the audio-feature-extraction shape; swap the arithmetic
    expansion for a real codec one-for-one).

    Fake decode: sample_i = ((payload[i mod len] * 31 + 7*i) mod 256) - 128
    for i in [0, 256) (_N_SAMPLES); RMS over 64-sample (_WINDOW) windows. All
    integer arithmetic until one division + one correctly-rounded IEEE
    sqrt, so the SQL replay matches bit-for-bit."""
    from ..operators.multimodal import with_binary_payload

    media = with_binary_payload(read_table(spark, sf_dir, "documents"))

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("window_idx", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )

    def decode_rms(batches: Iterator) -> Iterator:
        import math

        import numpy as np
        import pandas as pd

        idx = np.arange(_N_SAMPLES, dtype=np.int64)
        n_windows = _N_SAMPLES // _WINDOW
        for pdf in batches:
            ids, widx, rms = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                # Expand over CODE POINTS of the decoded payload (not raw
                # UTF-8 bytes) so the SQL replay's unicode(substr(...))
                # agrees even if a testdata regen introduces non-ASCII.
                chars = "" if content is None else bytes(content).decode("utf-8")
                if not chars:
                    # NULL/empty clip: no samples to expand -> no windows
                    # (matches the oracle's length(text) > 0 guard)
                    continue
                payload = np.fromiter(
                    map(ord, chars), dtype=np.int64, count=len(chars)
                )
                smp = (
                    (payload[idx % len(payload)] * 31 + idx * 7) % 256
                ) - 128
                sq = (smp * smp).reshape(n_windows, _WINDOW)
                # Integer window sums, then one float divide + sqrt per
                # window — mirrors the oracle's sum/div/sqrt exactly.
                sums = sq.sum(axis=1)
                for w in range(n_windows):
                    ids.append(doc_id)
                    widx.append(w)
                    rms.append(math.sqrt(float(sums[w]) / _WINDOW))
            out = pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "window_idx": pd.Series(widx, dtype="int64"),
                    "n_samples": pd.Series(
                        [_WINDOW] * len(ids), dtype="int64"
                    ),
                    "rms": pd.Series(rms, dtype="float64"),
                }
            )
            yield out

    decoded = media.mapInPandas(decode_rms, schema=out_schema)
    # dround the float AFTER the UDF stage (JVM-side) so the rounding
    # arithmetic is the shared cross-engine implementation.
    from ..functions.rounding import dround

    return decoded.select(
        "doc_id", "window_idx", "n_samples", dround(F.col("rms"), 6).alias("rms")
    )


# ---------------------------------------------------------------------------
# Image-modality near-dup: perceptual aHash over fake-decoded 8x8 gray
# thumbnails, 4x16-bit band blocking, hamming verify in the join — the
# image twin of the SimHash text pipeline (operators/dedup.py), with the
# decode stage on the SAME Arrow-batched mapInPandas contract as the
# audio RMS extractor above (swap in PIL + real resize one-for-one).
#
# Fake decode (pure integer arithmetic, SQL-replayable like the PCM
# expansion): pixel_j = (cp[j mod len] * 17 + j * 11) mod 256 for j in
# [0, 64). aHash bit_j = (pixel_j * 64 >= sum(pixels)) — the mean
# compare kept INTEGER so both engines agree bit-for-bit. Bands: four
# 16-bit ints; pigeonhole guarantees any pair with hamming <= 3 shares
# a band, and the hamming <= _PH_MAX_HAM verify runs IN the join
# condition (verify-before-distinct).
# ---------------------------------------------------------------------------

_PH_PIXELS = 64
_PH_BAND_BITS = 16
_PH_MAX_HAM = 6

_PH_DECODE_SQL = f"""
clip AS (
    SELECT doc_id, text, length(text) AS len FROM documents
    WHERE length(text) > 0
),
pix AS (
    SELECT doc_id, j,
           (unicode(substr(text, (j % len) + 1, 1)) * 17 + j * 11) % 256 AS p
    FROM (SELECT doc_id, text, len, unnest(range(0, {_PH_PIXELS})) AS j
          FROM clip)
),
tot AS (SELECT doc_id, sum(p) AS total FROM pix GROUP BY doc_id),
bits AS (
    SELECT pix.doc_id, pix.j,
           CASE WHEN pix.p * {_PH_PIXELS} >= t.total THEN 1 ELSE 0 END AS b
    FROM pix JOIN tot t ON t.doc_id = pix.doc_id
),
bands AS (
    SELECT doc_id, j // {_PH_BAND_BITS} AS band_idx,
           CAST(sum(b * CAST(pow(2.0, j % {_PH_BAND_BITS}) AS BIGINT))
                AS BIGINT) AS band_val
    FROM bits GROUP BY doc_id, j // {_PH_BAND_BITS}
)"""

_PH_NEARDUP_SQL = f"""
WITH {_PH_DECODE_SQL},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
),
ham AS (
    SELECT c.doc_id_a, c.doc_id_b,
           CAST(sum(bit_count(xor(x.band_val, y.band_val))) AS BIGINT)
               AS hamming
    FROM cand c
    JOIN bands x ON x.doc_id = c.doc_id_a
    JOIN bands y ON y.doc_id = c.doc_id_b AND y.band_idx = x.band_idx
    GROUP BY c.doc_id_a, c.doc_id_b
)
SELECT doc_id_a, doc_id_b, hamming FROM ham WHERE hamming <= {_PH_MAX_HAM}
"""


@register("multimodal_phash_neardup", _PH_NEARDUP_SQL)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media pairs by perceptual aHash: Arrow-batched
    fake decode to 8x8 gray + 64-bit aHash emitted as four 16-bit bands,
    band-blocked candidate join, exact hamming verify (<= 6 of 64).
    Candidates are band-local, never all-pairs; the hash table is built
    once and joined back for the verify (the SimHash-banded shape)."""
    from ..operators.multimodal import with_binary_payload

    media = with_binary_payload(read_table(spark, sf_dir, "documents"))
    n_bands = _PH_PIXELS // _PH_BAND_BITS

    band_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band_idx", T.LongType()),
            T.StructField("band_val", T.LongType()),
        ]
    )

    def decode_bands(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        idx = np.arange(_PH_PIXELS, dtype=np.int64)
        weights = 1 << (idx % _PH_BAND_BITS)
        band_of = idx // _PH_BAND_BITS
        for pdf in batches:
            ids, bidx, bval = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                chars = "" if content is None else bytes(content).decode("utf-8")
                if not chars:
                    continue  # empty payload: no thumbnail, no hash
                cp = np.fromiter(
                    map(ord, chars), dtype=np.int64, count=len(chars)
                )
                pix = (cp[idx % len(cp)] * 17 + idx * 11) % 256
                bits = (pix * _PH_PIXELS >= pix.sum()).astype(np.int64)
                vals = np.bincount(
                    band_of, weights=bits * weights, minlength=n_bands
                ).astype(np.int64)
                for bi in range(n_bands):
                    ids.append(doc_id)
                    bidx.append(bi)
                    bval.append(int(vals[bi]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "band_idx": pd.Series(bidx, dtype="int64"),
                    "band_val": pd.Series(bval, dtype="int64"),
                }
            )

    bands = pin(media.mapInPandas(decode_bands, schema=band_schema))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    x = bands.alias("x")
    y = bands.alias("y")
    ham = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_id_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_id_b"))
            & (F.col("y.band_idx") == F.col("x.band_idx")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(
            F.sum(
                F.bit_count(
                    F.col("x.band_val").bitwiseXOR(F.col("y.band_val"))
                )
            )
            .cast("long")
            .alias("hamming")
        )
    )
    return ham.filter(F.col("hamming") <= _PH_MAX_HAM)
