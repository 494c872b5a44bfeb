"""Object-store-shaped IO: every path is a URI.

The reference talks to a DigitalOcean Space through boto3
(`/root/reference/Scripts/common/external_resources.py:22-98`):
`get_file_from_s3` (key -> bytes), `upload_file_obj` (keyed upload), and
list-keys + newest-first pick (`world_map_transformer.py:280-288`). On
Spark the equivalent is not a client library but URI discipline plus the
Hadoop FileSystem API: every Spark reader/writer already accepts any
registered scheme (``file://``, ``s3a://``, ``gs://``, ``abfss://``), so
the engine-level work is

- URI-safe path algebra (``join_uri`` — never ``os.path`` on URIs),
- scheme-agnostic listing / latest-run discovery through the FileSystem
  the URI itself resolves to (``list_children`` / ``latest_run``),
- run-partitioned landings named so that lexicographic order IS
  chronological order (``run_ts=<ISO-basic timestamp>`` — the S9
  timestamped naming, `steam_prices_transformer.py:206-207`), which makes
  "the latest run" a name-max, not an mtime scan — object stores have no
  reliable mtime ordering and a LIST returns names anyway.

Committer note for real object stores: directory rename is not atomic on
S3-likes, so job commit must be manifest-based (the two-phase staged
writer in `steam_api_source.py:SteamUploadWriter` is exactly that
protocol) or use the S3A committers — never the default
FileOutputCommitter v1 rename dance. Only ``local_path`` (driver-side
artifacts) and ``fs_scheme`` (a stream start picks its checkpoint commit
protocol from it) inspect the scheme; the tests exercise ``file://`` as
the stand-in (the sandbox has no object store) and the same calls run
against ``s3a://`` wherever the JVM has hadoop-aws + credentials on
board.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

RUN_PREFIX = "run_ts="


def join_uri(base: str, *parts: str) -> str:
    """URI-safe join: single slashes between segments, scheme preserved.

    ``os.path.join`` is wrong for URIs twice over — it collapses nothing
    on doubled slashes and on Windows would insert backslashes into an
    s3a:// key.
    """
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


def local_path(path_or_uri: str) -> str:
    """Filesystem path for a plain path or file:// URI.

    Driver-side artifact writers (the PNG sink's atomic rename) need a
    real OS path; any other scheme names its integration point instead of
    failing inside open()."""
    if "://" not in path_or_uri:
        return path_or_uri
    from urllib.parse import urlparse

    parsed = urlparse(path_or_uri)
    if parsed.scheme != "file":
        raise NotImplementedError(
            f"driver-side artifact write needs a local path; got scheme "
            f"{parsed.scheme}:// — wire an object-store client upload here"
        )
    return parsed.path


def _fs_and_path(spark: SparkSession, uri: str):
    """Resolve a URI to its Hadoop FileSystem + Path (scheme-agnostic)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(uri)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, jpath


def fs_scheme(spark: SparkSession, uri: str) -> str:
    """Scheme of the Hadoop FileSystem `uri` resolves to: its own scheme,
    or `fs.defaultFS`'s for a plain path, as `Path.getFileSystem` picks
    it. The FileSystem itself is not created, so no remote store is
    contacted."""
    sc = spark.sparkContext
    jvm = sc._jvm.org.apache.hadoop.fs
    scheme = jvm.Path(uri).toUri().getScheme()
    if scheme is None:
        scheme = jvm.FileSystem.getDefaultUri(sc._jsc.hadoopConfiguration()).getScheme()
    return scheme


def list_children(spark: SparkSession, uri: str) -> list[str]:
    """Sorted child names under a URI prefix ([] if it doesn't exist).

    One LIST round-trip regardless of scheme — this is the metadata
    operation object stores serve natively; never walk recursively to
    find runs.
    """
    fs, p = _fs_and_path(spark, uri)
    if not fs.exists(p):
        return []
    return sorted(s.getPath().getName() for s in fs.listStatus(p))


def run_dir(base_uri: str, run_ts: str) -> str:
    return join_uri(base_uri, f"{RUN_PREFIX}{run_ts}")


def latest_run(spark: SparkSession, base_uri: str) -> str | None:
    """URI of the newest run under the base prefix, by NAME ordering.

    Run names embed a sortable timestamp, so max(name) == newest — the
    100 TB-safe replacement for the reference's list-then-mtime-sort
    (`world_map_transformer.py:280-288`): no per-object HEAD calls, no
    trust in object-store mtimes, one LIST total.
    """
    runs = [
        c for c in list_children(spark, base_uri) if c.startswith(RUN_PREFIX)
    ]
    if not runs:
        return None
    return join_uri(base_uri, max(runs))


def write_run(df: DataFrame, base_uri: str, run_ts: str) -> str:
    """Land a DataFrame as snappy parquet under run_ts=<ts> (S7 + S9)."""
    target = run_dir(base_uri, run_ts)
    df.write.mode("overwrite").parquet(target)
    return target


def read_latest_run(spark: SparkSession, base_uri: str) -> DataFrame:
    """Read back only the newest landed run (S6 latest-file discovery)."""
    target = latest_run(spark, base_uri)
    if target is None:
        raise FileNotFoundError(f"no {RUN_PREFIX}* runs under {base_uri}")
    return spark.read.parquet(target)


def sweep_runs(
    spark: SparkSession, base_uri: str, keep_latest: int
) -> tuple[list[str], list[str]]:
    """Retention sweep: delete all but the newest `keep_latest` runs under
    the base prefix; returns (kept_names, deleted_names).

    The retention policy every append-only run-partitioned landing needs
    (the reference's bucket grows without bound —
    `external_resources.py:70-98` only ever lists and appends). Name
    ordering IS chronological ordering (see latest_run), so the sweep is
    one LIST + bounded DELETEs, no mtime reads. Deletion is recursive per
    run directory; on S3-likes each delete is per-object under the prefix
    — still metadata-only traffic, no data reads. The newest run is never
    deletable (keep_latest < 1 is rejected) so a concurrent
    read_latest_run cannot lose its target mid-sweep.
    """
    if keep_latest < 1:
        raise ValueError("keep_latest must be >= 1 (the newest run must survive)")
    runs = sorted(
        c for c in list_children(spark, base_uri) if c.startswith(RUN_PREFIX)
    )
    kept, doomed = runs[-keep_latest:], runs[:-keep_latest]
    fs, _ = _fs_and_path(spark, base_uri)
    sc = spark.sparkContext
    for name in doomed:
        fs.delete(sc._jvm.org.apache.hadoop.fs.Path(join_uri(base_uri, name)), True)
    return kept, doomed
