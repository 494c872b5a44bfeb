"""Drift report over a set of runs: one ``run.py`` process per seed, in
order, then per metric the median, the quartile spread as a share of the
median, and the trend across run index.

    python3 perfbench/sweep.py --workload etl_run --seeds 1-10 --seconds 15

Run from the root of a checkout. The spread is the figure BENCHMARK.json's
bounds are checked against; a trend that is large next to the spread means
state carried over between runs (page cache, leftover files, machine load)
rather than noise. Per-run within-run drift (first vs second half op
medians) comes from each run's ``perfbench: diag`` line on stderr.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return (q3 - q1) / median if median else 0.0


def trend(values: list[float]) -> float:
    """Least-squares slope per run, over the whole set, as a share of the
    median: the change the set's drift would make from first to last run."""
    n = len(values)
    xbar = (n - 1) / 2
    ybar = statistics.fmean(values)
    sxx = sum((i - xbar) ** 2 for i in range(n))
    slope = sum((i - xbar) * (y - ybar) for i, y in enumerate(values)) / sxx
    median = statistics.median(values)
    return slope * (n - 1) / median if median else 0.0


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", default="0")
    args = p.parse_args(argv)

    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.returncode == 0 else None
        diag = next(
            (json.loads(line.split("diag ", 1)[1]) for line in proc.stderr.splitlines()
             if line.startswith("perfbench: diag ")),
            None,
        )
        run = {"seed": seed, "exit": proc.returncode, "run_s": time.monotonic() - t0,
               "result": result, "diag": diag}
        runs.append(run)
        print(json.dumps(run), file=sys.stderr, flush=True)

    ok = [r for r in runs if r["result"]]
    report = {"workload": args.workload, "runs": len(runs), "ok": len(ok),
              "correct": all(r["result"]["correct"] for r in ok) and len(ok) == len(runs),
              "max_run_s": max(r["run_s"] for r in runs), "metrics": {}}
    if len(ok) >= 2:
        for name in ok[0]["result"]["metrics"]:
            values = [r["result"]["metrics"][name]["value"] for r in ok]
            report["metrics"][name] = {
                "median": statistics.median(values),
                "spread": spread(values),
                "trend": trend(values),
            }
        diags = [r["diag"] for r in ok if r["diag"]]
        report["drift.half_ratio_median"] = statistics.median(d["drift.half_ratio"] for d in diags)
        report["cpu_steal_share"] = [round(d["cpu_steal_share"], 3) for d in diags]
    print(json.dumps(report, indent=1))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
