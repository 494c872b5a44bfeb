"""One benchmark run of the spark-graft engine (see README.md).

    python3 perfbench/run.py --workload driver_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One client thread in one process drives a
``local[<cores>]`` session, closed loop, through the program's public
surface only: ``__spark_entry__.queries()[name](spark, sf_dir)`` plus a
``noop`` write, or ``cli.run_jobs(config, spark)``. The last stdout line is
one JSON object: end-to-end metrics, or per-layer ones with ``--trace 1``.
Diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import checks  # noqa: E402
import ops  # noqa: E402

WORKLOADS = ("driver_mix", "etl_run")
# Warm-up by op count, on the workload's own ops and input: whole passes of
# a query mix, single ETL ops. The first pass or op is cold (about 2.5x a
# warm one); the next ones are within about 10-20% of the timed ops. Two of
# each keep a run near a minute, which a benchmark round's time budget
# (4 + 22 runs per workload within 3420 s) needs.
MIX_WARM_PASSES = 2
ETL_WARM_OPS = 2
# A window holds at least this many ops, so that its median is a middle op
# of several (an ETL op alone takes about half the window).
MIN_TIMED_OPS = 5


class Program:
    """The checkout's program, reached only through its public surface."""

    def __init__(self, root: str):
        for needed in ("__spark_entry__.py", "configs/etl_config.yml", "tools/check_oracle.py"):
            if not os.path.isfile(os.path.join(root, needed)):
                raise FileNotFoundError(f"{needed} not found under {root}")
        if root not in sys.path:
            sys.path.insert(0, root)
        saved = list(sys.path)
        import yaml

        import __spark_entry__ as entry
        from steam_prices_data_engineering_spark import cli, session

        sys.path.insert(0, os.path.join(root, "tools"))
        import check_oracle

        sys.path[:] = saved
        self.cli = cli
        self.session = session
        self.compare = check_oracle.compare
        self.tables = check_oracle.TABLES
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        with open(os.path.join(root, "configs", "etl_config.yml")) as f:
            self.config = yaml.safe_load(f)
        # The shipped config names one fixture scale; its siblings hold the
        # others.
        fixtures = os.path.dirname(os.path.normpath(self.config["source"]["sf_dir"]))
        self.sf_bench = os.path.join(fixtures, "sf0.1")
        self.sf_check = os.path.join(fixtures, "sf0.01")


class QueryMix:
    """driver_mix: one op = builder + one ``noop`` action."""

    def __init__(self, program: Program, names: list[str]):
        self.program = program
        self.pass_ops = names
        self.warm_ops = MIX_WARM_PASSES * len(names)

    def prepare(self) -> None:
        pass

    def run_op(self, spark, name, tracer):
        build = self.program.queries[name]
        if tracer is None:
            build(spark, self.program.sf_bench).write.format("noop").mode("overwrite").save()
            return None
        tracer.phase("plans.build")
        with tracer.span("plans.build_s"):
            df = build(spark, self.program.sf_bench)
        tracer.phase("spark.exec")
        with tracer.span("spark.plan_s"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec_s"):
            df.write.format("noop").mode("overwrite").save()
        return None

    def check_op(self, outcome) -> str | None:
        return None

    def check_run(self, spark) -> dict[str, str]:
        oracles = checks.Oracles(
            self.program.sf_check, self.program.oracle_sql, self.program.tables
        )
        try:
            return checks.check_queries(
                spark, self.pass_ops, self.program.queries, oracles, self.program.compare
            )
        finally:
            oracles.close()


class EtlRun:
    """etl_run: one op = ``cli.run_jobs`` into a fresh output dir."""

    def __init__(self, program: Program, key: str, out_root: str):
        self.program = program
        self.key = key
        self.out_root = out_root
        self.pass_ops = ["etl_run"]
        self.warm_ops = ETL_WARM_OPS
        self.check = None
        self.bytes_written = []

    def prepare(self) -> None:
        oracles = checks.Oracles(
            self.program.sf_bench, self.program.oracle_sql, self.program.tables
        )
        try:
            expected = {
                "prices": oracles.rows("steam_job1_prices_etl"),
                "worldmap": oracles.rows("world_map_job2_deviation"),
            }
        finally:
            oracles.close()
        self.check = checks.EtlCheck(expected, self.program.compare)

    def run_op(self, spark, name, tracer):
        out = tempfile.mkdtemp(prefix="etl-", dir=self.out_root)
        config = copy.deepcopy(self.program.config)
        config["source"]["sf_dir"] = self.program.sf_bench
        config["target"]["output_dir"] = out
        config.setdefault("streaming", {})["enabled"] = True
        return out, self.program.cli.run_jobs(config, spark, run_ts=self.key)

    def check_op(self, outcome) -> str | None:
        out, outputs = outcome
        try:
            self.bytes_written.append(checks.landed_bytes(out))
            return self.check(outputs, self.key)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def check_run(self, spark) -> dict[str, str]:
        return {}


class Session:
    """Between-op bookkeeping on the live session, outside timed spans."""

    def __init__(self, spark):
        self.spark = spark
        self.baseline = {t.name for t in spark.catalog.listTables()}

    def settle(self) -> dict:
        spark = self.spark
        rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
        for q in spark.streams.active:
            q.stop()
        added = [t for t in spark.catalog.listTables() if t.name not in self.baseline]
        for t in added:
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        return {"cached_rdds": rdds, "tables_added": len(added)}


def run_op(workload, spark, name, tracer, settle) -> dict:
    """One op: timed call, then untimed verification and settling. An
    exception or a failed check makes the op failed."""
    if tracer is not None:
        tracer.begin()
    t0 = time.perf_counter()
    try:
        outcome = workload.run_op(spark, name, tracer)
        error = None
    except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
        outcome, error = None, f"{type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    layers = tracer.end(wall) if tracer else None
    if error is None:
        try:
            error = workload.check_op(outcome)
        except Exception as e:  # noqa: BLE001 - an unreadable output fails the op
            error = f"check: {type(e).__name__}: {e}"
    if error:
        print(f"perfbench: op {name} failed: {error}", file=sys.stderr)
    return {"name": name, "wall_s": wall, "error": error, "layers": layers, **settle()}


def timed_window(pass_ops, seconds, do_op) -> list[dict]:
    """Whole passes over `pass_ops`, at least MIN_TIMED_OPS ops, until the
    op time reaches `seconds`; or up to a pass in which every op failed."""
    done, spent = [], 0.0
    while True:
        this_pass = [do_op(name) for name in pass_ops]
        done += this_pass
        spent += sum(r["wall_s"] for r in this_pass)
        if all(r["error"] for r in this_pass):
            return done
        if spent >= seconds and len(done) >= MIN_TIMED_OPS:
            return done


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it, or the maximum (p100) when there are fewer than 20."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return 100.0, xs[-1]
    pct = 100.0 * (1 - 10 / n)
    return pct, xs[int(pct / 100 * n) - 1]


def end_to_end(records, setup_s) -> dict:
    ok = [r["wall_s"] for r in records if not r["error"]]
    wall = sum(r["wall_s"] for r in records)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(ok) / wall if wall else 0.0, "unit": "1/s"},
        "op_p50_s": {"value": statistics.median(ok) if ok else 0.0, "unit": "s"},
    }


def diagnostics(records) -> dict:
    """Tail and within-run drift of the timed ops (not gated)."""
    walls = [r["wall_s"] for r in records]
    half = len(walls) // 2
    pct, value = tail(walls)
    first = statistics.median(walls[:half]) if half else walls[0]
    return {
        "op_tail_s": value,
        "op_tail_pct": pct,
        "ops_timed": len(walls),
        "drift.half_ratio": statistics.median(walls[half:]) / first,
    }


# Layer values averaged per traced op.
LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.exec_stages": "count",
    "spark.exec_tasks": "count",
    "streaming.streams": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.outside_trigger_s": "s",
    "streaming.await_s": "s",
    "cli.job1_build_s": "s",
    "cli.job2_build_s": "s",
    "sinks.parquet_write_s": "s",
    "sinks.png_s": "s",
}
# The timed parts of an ETL op; the rest of its wall is cli.residual_s.
ETL_PARTS = (
    "cli.job1_build_s",
    "cli.job2_build_s",
    "sinks.parquet_write_s",
    "sinks.png_s",
    "streaming.await_s",
)


def per_layer(traced, plain, warm, setup, peak_rss_mb, bytes_written) -> dict:
    """Layer values of the traced ops; session values over every op; the
    overhead of tracing as traced over untraced op time."""
    def mean(values):
        values = list(values)
        return sum(values) / len(values) if values else 0.0

    values = {k: mean(r["layers"].get(k, 0) for r in traced) for k in LAYER_UNITS}
    units = dict(LAYER_UNITS)
    traced_wall = sum(r["wall_s"] for r in traced)
    plain_wall = sum(r["wall_s"] for r in plain)
    every = warm + plain + traced
    etl = any("cli.job1_build_s" in r["layers"] for r in traced)
    values.update(
        {
            "session.start_s": setup["start_s"],
            "session.warm_s": setup["warm_s"],
            "session.cached_rdds_per_op": mean(r["cached_rdds"] for r in every),
            "session.catalog_tables_added": mean(r["tables_added"] for r in every),
            "session.peak_rss_mb": peak_rss_mb,
            # Against the untraced ops: a traced op also pays the explicit
            # executedPlan() that its noop write repeats.
            "plans.build_share": values["plans.build_s"] * len(traced) / plain_wall,
            "cli.residual_s": mean(
                r["wall_s"] - sum(r["layers"].get(p, 0) for p in ETL_PARTS) for r in traced
            )
            if etl
            else 0.0,
            "sinks.bytes_written": mean(bytes_written),
            "trace.overhead_share": traced_wall / plain_wall - 1,
            **diagnostics(plain),
        }
    )
    units.update(
        {
            "session.start_s": "s",
            "session.warm_s": "s",
            "session.cached_rdds_per_op": "count",
            "session.catalog_tables_added": "count",
            "session.peak_rss_mb": "MB",
            "plans.build_share": "ratio",
            "cli.residual_s": "s",
            "sinks.bytes_written": "bytes",
            "trace.overhead_share": "ratio",
            "op_tail_s": "s",
            "op_tail_pct": "pct",
            "ops_timed": "count",
            "drift.half_ratio": "ratio",
        }
    )
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kib += int(line.split()[1])
    return kib / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def warm_page_cache(paths: list[str]) -> None:
    """Read every file under `paths` once, so each run starts from the same
    page-cache state whatever ran before it."""
    for top in paths:
        for d, _, files in os.walk(top):
            for name in files:
                with open(os.path.join(d, name), "rb") as f:
                    while f.read(1 << 22):
                        pass


def spark_jars() -> str:
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    return os.path.join(home, "jars")


@contextmanager
def isolated(root: str, label: str):
    """A fresh temp root under the checkout, deleted on exit, holding every
    scratch location of Spark, the JVM and Python; it is also the cwd
    (``spark-warehouse`` lands there)."""
    scratch = os.path.join(root, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp_root = tempfile.mkdtemp(prefix=f"{label}-", dir=scratch)
    try:
        dirs = {name: os.path.join(tmp_root, name) for name in ("cwd", "local", "tmp", "out")}
        for d in dirs.values():
            os.makedirs(d)
        os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
        os.environ["TMPDIR"] = dirs["tmp"]
        # PerfDisableSharedMem: no hsperfdata file, which the JVM would put
        # in the system temp dir whatever java.io.tmpdir says.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:+PerfDisableSharedMem"
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # Python workers import the program by module path; they start in
        # the new cwd, not in the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        tempfile.tempdir = None
        os.chdir(dirs["cwd"])
        yield dirs
    finally:
        os.chdir(root)
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run's temp root is still there


def start_session(program: Program):
    """The engine's own session builder on local[<cores>]; returns the
    session and its start time."""
    t0 = time.perf_counter()
    spark = program.session.get_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def make_workload(name, program, rng, out_root):
    if name == "driver_mix":
        return QueryMix(program, ops.driver_order(rng))
    fmt = program.config["target"].get("run_key_date_format", "%Y%m%d%H%M%S")
    return EtlRun(program, ops.run_key(rng, fmt), out_root)


def traced_window(workload, spark, session, program, seconds) -> tuple[list, list]:
    """Each op of the window twice in a row, untraced and traced, the order
    alternating, so the tracing overhead compares like with like."""
    import tracing

    tracer = tracing.Tracer(spark, program.cli)
    traced = []

    def pair(name):
        plain = None
        for on in (False, True) if len(traced) % 2 == 0 else (True, False):
            rec = run_op(workload, spark, name, tracer if on else None, session.settle)
            if on:
                traced.append(rec)
            else:
                plain = rec
        return plain

    try:
        plain = timed_window(workload.pass_ops, seconds, pair)
    finally:
        tracer.close()
    return plain, traced


def measure(args, program, out_root) -> dict:
    rng = random.Random(args.seed)
    workload = make_workload(args.workload, program, rng, out_root)
    print(f"perfbench: {args.workload} ops {workload.pass_ops}", file=sys.stderr)
    workload.prepare()
    warm_page_cache([program.sf_bench, program.sf_check, spark_jars()])
    spark, start_s = start_session(program)
    traced = []
    try:
        session = Session(spark)
        passes = workload.pass_ops
        warm = [
            run_op(workload, spark, passes[i % len(passes)], None, session.settle)
            for i in range(workload.warm_ops)
        ]
        ticks = cpu_ticks()
        if args.trace:
            records, traced = traced_window(workload, spark, session, program, args.seconds)
        else:
            records = timed_window(
                passes, args.seconds, lambda n: run_op(workload, spark, n, None, session.settle)
            )
        ticks = [after - before for before, after in zip(ticks, cpu_ticks())]
        t0 = time.perf_counter()
        query_errors = workload.check_run(spark)
        verify_s = time.perf_counter() - t0
        rss = peak_rss_mb(spark)
    finally:
        stop(spark)

    everything = warm + records + traced
    failed = tally(everything, query_errors)
    setup = {"start_s": start_s, "warm_s": sum(r["wall_s"] for r in warm)}
    diag = {
        **setup,
        "verify_s": verify_s,
        # Share of CPU time the hypervisor gave to other guests during the
        # timed window: machine load that no isolation inside a run removes
        # (9% of it cost driver_mix 15-28% of its ops_per_s on a 4-core VM).
        "cpu_steal_share": ticks[0] / max(1, ticks[1]),
        **diagnostics(records),
        "warm_ops": [(r["name"], r["wall_s"]) for r in warm],
        "timed_ops": [(r["name"], r["wall_s"]) for r in records],
    }
    print("perfbench: diag " + json.dumps(diag), file=sys.stderr)
    if args.trace:
        bytes_written = getattr(workload, "bytes_written", [])
        metrics = per_layer(traced, records, warm, setup, rss, bytes_written)
    else:
        metrics = end_to_end(records, setup["start_s"] + setup["warm_s"])
    return {
        "correct": failed == 0,
        "attempted": len(everything),
        "failed": failed,
        "metrics": metrics,
    }


def tally(records: list[dict], query_errors: dict[str, str]) -> int:
    """Fail every op of a query that differs from its oracle; return the
    number of failed ops."""
    for name, err in query_errors.items():
        print(f"perfbench: {name} differs from its oracle: {err}", file=sys.stderr)
    for rec in records:
        if rec["error"] is None and rec["name"] in query_errors:
            rec["error"] = f"oracle: {query_errors[rec['name']]}"
    return sum(1 for r in records if r["error"])


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    descendants = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(_running(p) for p in descendants):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after the JVM exited: {descendants}")
        time.sleep(0.1)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    try:
        program = Program(root)
    except (FileNotFoundError, ImportError) as e:
        print(f"perfbench: cannot load the program: {e}", file=sys.stderr)
        return 2
    with isolated(root, f"{args.workload}-{args.seed}") as dirs:
        result = measure(args, program, dirs["out"])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
