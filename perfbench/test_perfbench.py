"""Tests of the benchmark itself: op lists, verification and the failed-op
count. No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import ops  # noqa: E402
import run  # noqa: E402

sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import compare  # noqa: E402

RETIRED = {"shard_order_probe_inputs", "shard_order_probe_pairs"}


def test_driver_ops_are_batch_headline_queries():
    import bench

    pool = {n for n in bench.BENCH_QUERIES if not n.startswith("streaming_")} - RETIRED
    assert len(pool) == 176
    assert set(ops.DRIVER_OPS) <= pool
    assert len(set(ops.DRIVER_OPS)) == len(ops.DRIVER_OPS) == 5


def test_seed_picks_only_the_driver_order():
    orders = [ops.driver_order(random.Random(seed)) for seed in range(10)]
    assert orders[3] == ops.driver_order(random.Random(3))
    assert len({tuple(o) for o in orders}) > 1
    assert all(sorted(o) == sorted(ops.DRIVER_OPS) for o in orders)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    pct, value = run.tail([float(i) for i in range(40)])
    assert pct == 75.0 and value == 29.0  # ten values (30..39) lie beyond it


class _Spark:
    class catalog:
        @staticmethod
        def clearCache():
            pass


def _good_and_bad(rows):
    """A query returning `rows` against an oracle that also has a row more."""
    frame = checks.Frame(["k", "v"], rows)
    return (lambda spark, sf: frame), checks.Frame(["k", "v"], rows + [(9, 9.0)])


def test_oracle_mismatch_fails_the_query_ops(tmp_path):
    rows = [(1, 1.0), (2, 2.5)]
    oracles = checks.Oracles(str(tmp_path), {}, [])
    good = checks.Frame(["k", "v"], rows)
    corrupted, oracle = _good_and_bad(rows)
    oracles.rows = lambda name: oracle if name == "bad" else good
    queries = {"good": lambda spark, sf: good, "bad": corrupted}
    errors = checks.check_queries(_Spark, ["good", "bad", "good"], queries, oracles, compare)
    assert list(errors) == ["bad"] and "ROWCOUNT" in errors["bad"]

    records = [{"name": n, "error": None} for n in ("good", "bad", "bad")]
    assert run.tally(records, errors) == 2
    assert records[0]["error"] is None


def test_failed_check_counts_as_failed_op():
    class Workload:
        def run_op(self, spark, name, tracer):
            if name == "raises":
                raise ValueError("boom")
            return name

        def check_op(self, outcome):
            return "corrupted" if outcome == "corrupt" else None

    settle = lambda: {"cached_rdds": 0, "tables_added": 0}  # noqa: E731
    w = Workload()
    records = run.timed_window(
        ["ok", "corrupt", "raises"], 0.0, lambda n: run.run_op(w, None, n, None, settle)
    )
    passes = -(-run.MIN_TIMED_OPS // 3)  # whole passes of 3 ops
    assert [r["error"] for r in records] == [None, "corrupted", "ValueError: boom"] * passes
    assert run.tally(records, {}) == 2 * passes
    assert run.end_to_end(records, 1.0)["ops_per_s"]["value"] > 0


def test_window_stops_after_a_pass_of_failures():
    settle = lambda: {"cached_rdds": 0, "tables_added": 0}  # noqa: E731

    class Missing:
        def run_op(self, spark, name, tracer):
            return {}[name]

    records = run.timed_window(
        ["nope"], 60.0, lambda n: run.run_op(Missing(), None, n, None, settle)
    )
    assert len(records) == 1 and records[0]["error"].startswith("KeyError")


def _landing(path, frame, run_key=None):
    target = os.path.join(path, f"run_key={run_key}") if run_key else path
    os.makedirs(target, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({', '.join(f'{c} DOUBLE' for c in frame.columns)})")
    if frame.collect():
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(frame.columns))})", frame.collect())
    con.execute(f"COPY t TO '{target}/part-0.parquet' (FORMAT parquet)")
    con.close()


def _etl_outputs(root, expected, run_key, rollup, png=checks.PNG_SIGNATURE + b"rest"):
    outputs = {}
    for job, frame in expected.items():
        outputs[job] = os.path.join(root, job)
        _landing(outputs[job], frame, run_key)
    outputs["events_rollup"] = os.path.join(root, "events_rollup")
    _landing(outputs["events_rollup"], rollup)
    outputs["worldmap_png"] = os.path.join(root, "map.png")
    with open(outputs["worldmap_png"], "wb") as f:
        f.write(png)
    return outputs


def test_etl_check_accepts_a_correct_run_and_fails_corruptions(tmp_path):
    expected = {
        "prices": checks.Frame(["app", "usd_price"], [(1.0, 9.5), (2.0, 3.25)]),
        "worldmap": checks.Frame(["usd_dif"], [(0.5,), (-0.5,)]),
    }
    rollup = checks.Frame(["cnt"], [(3.0,), (4.0,)])
    check = checks.EtlCheck(expected, compare)
    good = _etl_outputs(tmp_path / "op0", expected, "20200101000000", rollup)
    assert check(good, "20200101000000") is None
    assert check(good, "20200101000000") is None  # a second equal op

    wrong_key = _etl_outputs(tmp_path / "op1", expected, "20200101000001", rollup)
    assert "partitions" in check(wrong_key, "20200101000000")

    dropped = dict(expected, prices=checks.Frame(["app", "usd_price"], [(1.0, 9.5)]))
    short = _etl_outputs(tmp_path / "op2", dropped, "20200101000000", rollup)
    assert check(short, "20200101000000").startswith("prices: ROWCOUNT")

    bad_png = _etl_outputs(tmp_path / "op3", expected, "20200101000000", rollup, png=b"GIF89a")
    assert check(bad_png, "20200101000000") == "worldmap_png: not a PNG"

    other = checks.Frame(["cnt"], [(3.0,), (5.0,)])
    drifted = _etl_outputs(tmp_path / "op4", expected, "20200101000000", other)
    assert check(drifted, "20200101000000") == "events_rollup: differs from the run's first op"

    empty = _etl_outputs(tmp_path / "op5", expected, "20200101000000", checks.Frame(["cnt"], []))
    assert check(empty, "20200101000000") == "events_rollup: empty"


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_run", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
