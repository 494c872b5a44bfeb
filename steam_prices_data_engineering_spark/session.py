"""SparkSession builder tuned for this engine.

The reference (`/root/reference/run.py:17-67`) is a single-threaded pandas
process; here the equivalent entry point is one shared SparkSession with
scale-oriented defaults:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) so the
  same code survives a 100x scale-up without manual re-tuning.
- `spark.sql.shuffle.partitions` sized for the local test harness (32 cores);
  on a real cluster this is overridden by config/AQE.
- Session timezone pinned to UTC so timestamp arithmetic matches the DuckDB
  oracle (which treats naive parquet timestamps as-is).
- ANSI mode off: the reference's semantics are "parse failure -> NULL row"
  (`steam_prices_transformer.py:130-132`), i.e. permissive casts, not errors.
  We still use `try_cast`/`try_divide` explicitly in fragile expressions.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import tempfile

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger("steam_prices_spark")

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "steam-prices-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Env overrides: SPARK_GRAFT_CPUS,
    SPARK_GRAFT_SHUFFLE_PARTITIONS, SPARK_GRAFT_DRIVER_MEMORY."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-size the partitioning of plans materialized INTO the
        # cache (off by default): a dimension-grain .cache() otherwise
        # freezes at spark.sql.shuffle.partitions, so every downstream
        # stage over a tiny cached frame schedules 32 tasks; at cluster
        # scale the same flag lets AQE size cache partitions by bytes.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Legacy INT96 timestamps carry NO parquet min/max statistics, which
        # silently disables file/row-group skipping on every date predicate
        # over landed tables; micros carry full stats (tests/test_sinks.py).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert ns->us in the IO layer (DuckDB truncates
        # ns->us identically, keeping the oracle aligned).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The catalog's default warehouse is `<cwd>/spark-warehouse`, made on
        # the first catalog call; keep it out of the working directory.
        .config("spark.sql.warehouse.dir", _warehouse_dir())
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _warehouse_dir() -> str:
    """A fixed catalog warehouse under the first SPARK_LOCAL_DIRS entry,
    else the temp dir. No builder writes a managed table there."""
    local = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    return os.path.join(local or tempfile.gettempdir(), "spark-graft-warehouse")


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-provided
    session (the driver hands us one; we can't rebuild the JVM). Static
    settings stay the session's own: `spark.sql.warehouse.dir` among them,
    so a handed-in session may still make `<cwd>/spark-warehouse`."""
    runtime = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE may re-size cached-plan output partitioning (see get_spark).
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # INT96 writes no footer stats -> no date-predicate skipping (see
        # get_spark note + tests/test_sinks.py).
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as exc:
            # CANNOT_MODIFY_CONFIG / CANNOT_MODIFY_STATIC_CONFIG: the
            # session keeps its own value for this key.
            log.warning("configure_session: cannot set %s=%s (%s)", k, v, exc)
    return spark


def session_scoped(store: dict, spark: SparkSession) -> dict:
    """The live session's slot of a per-session `store` (keyed on
    applicationId), created on first use. Every other application's slot
    is dropped first: in local mode only one SparkContext runs at a time,
    so any other id belongs to a stopped session whose plan objects and
    blocks are already gone."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in store if k != app]:
        del store[stale]
    return store.setdefault(app, {})


# Cached frames of the query being built, per session. A builder pins a
# frame that feeds the lazy plan it returns, so it cannot unpersist it
# itself; `plans/registry.py:queries()` releases them before the next build.
_PINS: dict[str, dict[int, DataFrame]] = {}


def pin(df: DataFrame) -> DataFrame:
    """Cache `df` until the session's next query build. Returns it."""
    session_scoped(_PINS, df.sparkSession)[id(df)] = df
    return df.cache()


def release_pins(spark: SparkSession) -> None:
    """Unpersist every frame pinned in this session since the last release."""
    pins = session_scoped(_PINS, spark)
    while pins:
        pins.popitem()[1].unpersist()


def landing(spark: SparkSession, name: str, sf_dir: str) -> str:
    """A path, not yet existing, where a builder lands scratch files named
    `name` for the fixture at `sf_dir`; whatever an earlier build in this
    session left there is removed first.

    Every landing lives under the session's `SparkFiles` root, which is
    under `SPARK_LOCAL_DIRS` and which Spark deletes on `spark.stop()`, so
    no landing outlives its session and two sessions never share one. The
    path is keyed on `sf_dir`, so builds at two scale factors in one
    session never read each other's files."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    sf_key = re.sub(r"\W+", "_", sf_dir).strip("_")
    path = os.path.join(root, "landings", f"{name}_{sf_key}")
    shutil.rmtree(path, ignore_errors=True)
    return path
