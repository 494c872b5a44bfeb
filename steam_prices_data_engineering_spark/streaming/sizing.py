"""The engine's one place that starts a stream: `run_stream` runs a
streaming frame to a result, and `start_sized` (which it uses, and which
the CLI's file-sink job calls directly) picks the stream's state-store
partition count and how its checkpoint commits files.

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

A start also picks how the checkpoint commits its files. Spark's default
manager commits every offset, commit, sink-log and state file with
`FileContext.rename`; pip-installed PySpark ships no native libhadoop, so
on the local filesystem Hadoop forks a `readlink` shell for each of those
renames (about 5 ms a fork, waited on by the stream thread or the state
commit; 208 of the 306 process starts of one CLI run). When the
checkpoint is local, `start_sized` picks
`FileSystemBasedCheckpointFileManager`, which commits with
`FileSystem.rename`: POSIX `rename(2)`, atomic, as Spark requires of that
manager, and no fork. Other schemes keep Spark's default (on HDFS
`FileSystem.rename` does not overwrite; object stores rename by copying),
and the session setting is restored once the query has built its
sources, like the partition count. Checkpoint checksums and Hadoop's
`.crc` files are unchanged.
"""

from __future__ import annotations

import glob
import logging
import math
import os
import tempfile
import uuid

from pyspark.sql import DataFrame

from ..sources.io import fs_scheme, local_path

log = logging.getLogger("steam_prices_spark")

_PARTITIONS = "spark.sql.shuffle.partitions"
_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_RENAME_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
# Bound on the wait for a started query to build its sources; the wait
# ends early once they are built or the query has died.
_INIT_WAIT_MS = 120_000


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


def local_checkpoint(spark, checkpoint: str | None) -> bool:
    """Whether a stream started with `checkpoint` keeps it on the local
    filesystem. With none given, Spark checkpoints under the session's
    `spark.sql.streaming.checkpointLocation` if set, else in a temporary
    local directory, whose plain path resolves against `fs.defaultFS`."""
    where = (
        checkpoint
        or spark.conf.get("spark.sql.streaming.checkpointLocation", None)
        or tempfile.gettempdir()
    )
    return fs_scheme(spark, where) == "file"


def start_sized(
    writer, source: str | None, floor: int = 4, checkpoint: str | None = None
):
    """`writer.start()` with the state store sized by
    `stream_state_partitions(source, floor)`; returns the StreamingQuery.
    A `checkpoint` given is set as the writer's checkpoint location.

    When that checkpoint is local (`local_checkpoint`) and the session
    names no checkpoint manager of its own, the query commits its
    checkpoint through `FileSystemBasedCheckpointFileManager` (see the
    module docstring). Both session values are restored once the query
    has built its sources (it runs on a clone of the session taken inside
    `start()`, and the checkpoint pins the partition count), so batch
    plans built afterwards are untouched; a query that dies while building
    them raises here. On restart from an existing checkpoint Spark uses
    the count recorded there; the manager is not recorded, so either one
    resumes the other's checkpoint."""
    spark = writer._spark
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    prev = {key: spark.conf.get(key, None) for key in (_PARTITIONS, _FILE_MANAGER)}
    spark.conf.set(_PARTITIONS, stream_state_partitions(source, floor=floor))
    if prev[_FILE_MANAGER] is None and local_checkpoint(spark, checkpoint):
        spark.conf.set(_FILE_MANAGER, _RENAME_MANAGER)
    try:
        query = writer.start()
        # The query's sources (and the file source's log, with its
        # checkpoint manager) are built on the stream's thread from this
        # session's settings: keep them until that is done.
        query._jsq.streamingQuery().awaitInitialization(_INIT_WAIT_MS)
        return query
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def run_stream(
    df: DataFrame,
    mode: str,
    source: str | None,
    *,
    floor: int = 4,
    checkpoint: str | None = None,
) -> DataFrame:
    """Run streaming `df` to completion (availableNow) into a memory sink
    started through `start_sized(writer, source, floor, checkpoint)`;
    return the sink's rows as a frame. `source` is the parquet landing the
    stream reads (None for a stream with no file source).

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
    try:
        start_sized(writer, source, floor, checkpoint).awaitTermination()
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)
