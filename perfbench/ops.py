"""Op lists of the benchmark's workloads, and how a seed turns them into a
schedule.

The driver_mix list is pinned here rather than read from ``bench.py`` at
run time, so an edit to the headline bench does not silently change what
this benchmark measures.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

# driver_mix: five batch headline queries, pinned. The pool they stand for
# is ``bench.BENCH_QUERIES`` without its 4 streaming queries, without the
# second listing of ``shard_order_autocorr`` and without
# ``shard_order_probe_inputs`` / ``shard_order_probe_pairs`` (probes slated
# for retirement): 176 queries. One query comes from each fifth of the pool
# by op cost, cheapest first. Among the nine queries nearest each fifth's
# median cost, these five are the combination whose layer mix came closest
# to the pool's, measured in one local[4] session on a 4-core x86 VM after
# a warm pass over the pool, each query run untraced then traced (shares
# are of the untraced op time, summed over the queries):
#
#   metric                           pool (176)         these 5
#   plans.build share                0.327              0.329
#   median op build share            0.245              0.257
#   spark.plan / spark.exec share    0.015 / 0.677      0.016 / 0.742
#   builder jobs per op              1.45               1.2
#   exec jobs / stages / tasks       7.7 / 15.2 / 21.2  7.6 / 14.8 / 17.6
#
# Two traced benchmark runs, each in a fresh process, measured a build
# share of 0.323 and 0.296 for them. The median-cost query of each fifth
# had 0.480 and 3.8 builder jobs per op: it over-weighted the builder.
#
# The members are fixed and the seed picks only their order: samples drawn
# per seed spread ``ops_per_s`` by 12% and ``op_p50_s`` by 35% over five
# seeds (single queries' costs differ by about 12% between processes, and
# one dear query carries half a pass). An odd count puts the median op of
# whole passes on the middle query's own time.
DRIVER_OPS = (
    "woe_iv_binning",
    "quality_calibration_drift",
    "embedding_label_centroid_drift",
    "quantile_sketch_error_eval",
    "kneser_ney_bigram_ppl",
)


def driver_order(rng: random.Random) -> list[str]:
    """The driver_mix ops in a seeded order."""
    names = list(DRIVER_OPS)
    rng.shuffle(names)
    return names


def run_key(rng: random.Random, fmt: str) -> str:
    """A seeded ``run_key`` in the config's date format."""
    return (datetime(2020, 1, 1) + timedelta(seconds=rng.randrange(10**8))).strftime(
        fmt
    )
