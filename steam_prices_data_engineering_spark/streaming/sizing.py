"""The engine's one place that starts a stream: `run_stream` runs a
streaming frame to a result, and `start_sized` (which it uses, and which
the CLI's file-sink job calls directly) picks the stream's state-store
partition count.

A stateful operator freezes its state-store partition count from
`spark.sql.shuffle.partitions` when the query starts, and the checkpoint's
offset log pins it for every later restart. The session default (32) is
sized for batch shuffles; the streams here key on a handful of (window,
dim) values, so most state partitions stay empty and every micro-batch
pays their commit I/O anyway. Measured (4-core VM, sf0.1):
streaming_join_then_window 32 -> 18.2 s, 16 -> 5.8-7.6 s, 4 -> 2.9-3.9 s;
the enriched tumbling agg 1.95 s -> ~1.3 s; the restart carryover's two
runs 1.24 + 1.14 s at 32 vs 0.75 + 0.54 s at 8. Partition count never
reaches compared columns, so results are unchanged.
"""

from __future__ import annotations

import glob
import logging
import math
import os
import uuid

from pyspark.sql import DataFrame

from ..sources.io import local_path

log = logging.getLogger("steam_prices_spark")

_PARTITIONS = "spark.sql.shuffle.partitions"


def _footer_rows(source: str | None, floor: int) -> int:
    """Row count from the parquet footers at `source` (a file or a
    directory of part files; plain path or file:// URI), or 0 with a
    warning naming the fallback when they cannot be read. `None` means
    the stream has no parquet landing (not a fallback): 0, silently."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if source is None:
        return 0
    try:
        path = local_path(source)
    except NotImplementedError:
        path = None
    if not path or not os.path.exists(path):
        log.warning(
            "stream state partitions: no local parquet at %s; "
            "falling back to floor %d", source, floor,
        )
        return 0
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except (OSError, pa.ArrowInvalid) as exc:
        log.warning(
            "stream state partitions: footer read failed at %s (%s); "
            "falling back to floor %d", source, exc, floor,
        )
        return 0


def stream_state_partitions(
    source: str | None,
    floor: int = 4,
    cap: int = 512,
    rows_per_partition: int = 50_000,
) -> str:
    """Scale-adaptive state-store partition count for a stateful stream
    over the parquet landing at `source`.

    Derivation: parquet footer num_rows (a metadata read, no Spark job —
    stream starts stay cheap) divided by ~50k rows per state partition,
    next power of two, clamped to [floor, cap]. State keys (windows x
    small dims) grow sublinearly with rows; 50k rows/partition reproduces
    the measured-optimal 4 on every local sf (sf0.1 events = 100k rows)
    while a 1e9-row landing derives 512. SPARK_GRAFT_STREAM_STATE_PARTITIONS
    overrides everything for cluster tuning."""
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        return env
    n_rows = _footer_rows(source, floor)
    if n_rows <= 0:
        return str(floor)
    want = max(1, math.ceil(n_rows / rows_per_partition))
    parts = 1 << max(0, (want - 1).bit_length())
    return str(min(max(parts, floor), cap))


def start_sized(writer, source: str | None, floor: int = 4):
    """`writer.start()` with the state store sized by
    `stream_state_partitions(source, floor)`; returns the StreamingQuery.

    The session value is restored as soon as `start()` returns (the query
    runs on a clone of the session taken inside `start()`, and the
    checkpoint pins the count), so batch plans built afterwards are
    untouched. On restart
    from an existing checkpoint Spark uses the count recorded there."""
    spark = writer._spark
    prev = spark.conf.get(_PARTITIONS)
    spark.conf.set(_PARTITIONS, stream_state_partitions(source, floor=floor))
    try:
        return writer.start()
    finally:
        spark.conf.set(_PARTITIONS, prev)


def run_stream(
    df: DataFrame,
    mode: str,
    source: str | None,
    *,
    floor: int = 4,
    checkpoint: str | None = None,
) -> DataFrame:
    """Run streaming `df` to completion (availableNow) into a memory sink
    started through `start_sized(writer, source, floor)`; return the
    sink's rows as a frame. `source` is the parquet landing the stream
    reads (None for a stream with no file source).

    The sink's temp view is dropped before returning: the frame's analyzed
    plan holds the sink itself, so it still reads the rows, and they are
    freed with the frame. Spark deletes the memory sink's temporary
    checkpoint when the query stops; a `checkpoint` the caller owns is
    passed through and left in place."""
    spark = df.sparkSession
    sink = f"stream_{uuid.uuid4().hex}"
    writer = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    try:
        start_sized(writer, source, floor).awaitTermination()
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)
