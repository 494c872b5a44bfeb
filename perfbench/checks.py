"""Output verification, run outside every timed span.

Query ops are compared with their DuckDB oracles through the repository's
own comparator (``tools/check_oracle.py:compare``). ETL ops are checked by
reading what ``cli.run_jobs`` landed on disk with DuckDB, so the check
submits no work to the Spark session under measurement.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


class Frame:
    """The two members of a Spark DataFrame that ``compare`` reads."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


class Oracles:
    """DuckDB views over one fixture dir, and the oracle SQL to run on them."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str], tables: list[str]):
        self.sf_dir = sf_dir
        self.sql = oracle_sql
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def rows(self, name: str) -> Frame:
        rel = self.con.execute(self.sql[name])
        return Frame([d[0] for d in rel.description], rel.fetchall())

    def close(self) -> None:
        self.con.close()


def check_queries(spark, names, queries, oracles: Oracles, compare) -> dict[str, str]:
    """Run each distinct query of `names` on `oracles.sf_dir` and compare it
    with its oracle; returns {name: error} for the ones that fail."""
    errors = {}
    for name in dict.fromkeys(names):
        try:
            df = queries[name](spark, oracles.sf_dir)
            want = oracles.rows(name)
            err = compare(name, df, want.collect(), want.columns)
        except Exception as e:  # noqa: BLE001 - any failure fails the query's ops
            err = f"{type(e).__name__}: {e}"
        finally:
            spark.catalog.clearCache()
        if err:
            errors[name] = err
    return errors


def read_landing(path: str) -> Frame:
    """All parquet files under `path`, partition columns left out."""
    rel = duckdb.sql(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
    )
    return Frame([d[0] for d in rel.description], rel.fetchall())


class EtlCheck:
    """Checks one ``run_jobs`` output against the job oracles and against
    the first op of the run (rollup and PNG must not change between ops)."""

    def __init__(self, expected: dict[str, Frame], compare):
        # expected: {"prices": job-1 oracle rows, "worldmap": job-2 oracle rows}
        self.expected = expected
        self.compare = compare
        self.first_rollup = None
        self.first_png = None

    def __call__(self, outputs: dict[str, str], run_key: str) -> str | None:
        for job, oracle in self.expected.items():
            partitions = sorted(
                d for d in os.listdir(outputs[job]) if d.startswith("run_key=")
            )
            if partitions != [f"run_key={run_key}"]:
                return f"{job}: partitions {partitions}, want run_key={run_key}"
            landed = read_landing(outputs[job])
            err = self.compare(job, landed, oracle.collect(), oracle.columns)
            if err:
                return f"{job}: {err}"
        with open(outputs["worldmap_png"], "rb") as f:
            png = f.read()
        if not png.startswith(PNG_SIGNATURE):
            return "worldmap_png: not a PNG"
        digest = hashlib.sha256(png).hexdigest()
        self.first_png = self.first_png or digest
        if digest != self.first_png:
            return "worldmap_png: differs from the run's first op"
        rollup = read_landing(outputs["events_rollup"])
        rows = sorted(rollup.collect(), key=repr)
        if not rows:
            return "events_rollup: empty"
        self.first_rollup = self.first_rollup or rows
        if rows != self.first_rollup:
            return "events_rollup: differs from the run's first op"
        return None


def landed_bytes(root: str) -> int:
    """Bytes of every file under `root`."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )
