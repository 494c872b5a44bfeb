"""Per-layer probes, attached from outside the program for a traced run.

Layers are named after the package modules; ``spark.*`` is the engine that
runs the plans the ``plans`` builders return. Sources:

- job groups plus ``statusTracker``, read right after each op (``plans.*``,
  ``spark.*``; jobs that streams run on their own threads are not counted);
- a ``StreamingQueryListener`` (``streaming.*`` from query progress);
- timers around the functions ``cli.run_jobs`` looks up by module name and
  around ``DataFrameWriter.parquet`` / ``StreamingQuery.awaitTermination``
  (``cli.*``, ``sinks.*``, ``streaming.await_s``).

Probes only record while an op is traced, so a traced run can interleave
untraced ops and report the probes' overhead against them.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrameWriter
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

# Listener durations summed per op, by metric name -> progress key.
_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
}

# Wrapped callables: (owner, attribute, span name).
_CLI_SPANS = (
    ("steam_job1_prices_etl", "cli.job1_build_s"),
    ("world_map_job2_deviation", "cli.job2_build_s"),
    ("world_map_png", "sinks.png_s"),
)
_CLASS_SPANS = (
    (DataFrameWriter, "parquet", "sinks.parquet_write_s"),
    (StreamingQuery, "awaitTermination", "streaming.await_s"),
)


class _Progress(StreamingQueryListener):
    def __init__(self, record):
        self.record = record

    def onQueryStarted(self, event):
        self.record("streaming.streams", 1)

    def onQueryProgress(self, event):
        p = event.progress
        self.record("streaming.batches", 1)
        for metric, key in _DURATIONS.items():
            self.record(metric, p.durationMs.get(key, 0))
        self.record("streaming.state_commit_ms", sum(s.commitTimeMs for s in p.stateOperators))
        # State size is a level, not a flow: keep the latest per stream.
        self.record("streaming.state_rows", (p.id, sum(s.numRowsTotal for s in p.stateOperators)))
        self.record(
            "streaming.state_mem_bytes",
            (p.id, sum(s.memoryUsedBytes for s in p.stateOperators)),
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Collects one dict of layer values per traced op."""

    def __init__(self, spark, cli_module):
        self.spark = spark
        self.sc = spark.sparkContext
        self.op = None  # the record of the op being traced, else None
        self.groups = {}  # layer -> job group of the op being traced
        self.n_ops = 0
        self.listener = _Progress(self._record)
        self._undo = []
        for attr, span in _CLI_SPANS:
            self._wrap(cli_module, attr, span)
        for owner, attr, span in _CLASS_SPANS:
            self._wrap(owner, attr, span)

    def _wrap(self, owner, attr, span):
        inner = getattr(owner, attr)
        tracer = self

        def timed(*args, **kwargs):
            if tracer.op is None:
                return inner(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                tracer._record(span, time.perf_counter() - t0)

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, inner))

    def close(self) -> None:
        for owner, attr, inner in reversed(self._undo):
            setattr(owner, attr, inner)
        self._undo.clear()

    def _record(self, key, value):
        op = self.op
        if op is None:
            return
        if isinstance(value, tuple):  # (stream id, level)
            op.setdefault(key, {})[value[0]] = value[1]
        else:
            op[key] = op.get(key, 0) + value

    # -- per-op lifecycle -------------------------------------------------

    def begin(self) -> None:
        self.n_ops += 1
        self.op = defaultdict(int)
        self.groups = {}
        self.spark.streams.addListener(self.listener)

    def phase(self, layer: str) -> None:
        """Tag the jobs this thread submits from now on with `layer`."""
        group = f"perfbench-{self.n_ops}-{layer}"
        self.groups[layer] = group
        self.sc.setJobGroup(group, layer)

    @contextmanager
    def span(self, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._record(key, time.perf_counter() - t0)

    def end(self, wall_s: float) -> dict:
        self.sc._jsc.clearJobGroup()
        # Progress events reach the listener through the listener bus.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        self.spark.streams.removeListener(self.listener)
        op, self.op = self.op, None
        tracker = self.sc.statusTracker()
        for phase, group in self.groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            op[f"{phase}_jobs"] = len(jobs)
            if phase != "spark.exec":
                continue
            stages = [s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds]
            op["spark.exec_stages"] = len(stages)
            op["spark.exec_tasks"] = sum(
                info.numTasks for s in stages if (info := tracker.getStageInfo(s))
            )
        for key in ("streaming.state_rows", "streaming.state_mem_bytes"):
            op[key] = sum(op.get(key, {}).values())
        op["wall_s"] = wall_s
        if op.get("streaming.streams"):
            # The part of the wait for the stream (``cli`` awaits it right
            # after starting it) that its triggers do not cover.
            op["streaming.outside_trigger_s"] = (
                op.get("streaming.await_s", 0) - op["streaming.trigger_ms"] / 1000
            )
        return dict(op)
