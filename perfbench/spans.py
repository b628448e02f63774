"""Tracing for the benchmark's traced run: spans recorded from outside the
package, each filled from Spark's own status stores.

Every span runs its work under its own Spark job group. When the span ends,
the listener bus is drained and two stores are read:

* the AppStatusStore, per stage of the group's jobs: executor run time,
  executor CPU time, shuffle bytes written, bytes spilled, failed tasks;
* the SQL status store, per SQL execution that ran one of those jobs: the
  "time to run Python workers" metric of every Python-evaluating plan node.

Both stores keep a bounded number of jobs, stages and executions, so a span
is read as soon as it ends. Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from pathlib import Path

MB = 1024 * 1024

# metrics every layer reports (see README.md, "Per-layer metrics")
LAYER_FIELDS = (
    "wall_s", "task_s", "cpu_s", "python_s", "idle_share", "jobs", "stages",
    "failed_tasks", "shuffle_mb", "spill_mb", "barrier_mb", "rows_out",
)
LAYERS = (
    "extract", "normalize", "blocking", "scoring", "clustering", "pipeline",
    "search", "ingest", "store",
)
EXTRA_METRICS = (
    ("session.wall_s", "s"),
    ("blocking.pairs_per_record", "ratio"),
    ("blocking.reduction_ratio", "ratio"),
    ("scoring.kernel_pair_share", "ratio"),
    ("scoring.match_yield", "ratio"),
    ("clustering.rounds", "count"),
    ("clustering.cc_distributed_s", "s"),
    ("clustering.cc_distributed_rounds", "count"),
    ("pipeline.orchestration_s", "s"),
    ("ingest.store_mb", "MB"),
    ("trace.op_s", "s"),
    ("trace.untraced_op_s", "s"),
    ("trace.overhead_s", "s"),
)
_FIELD_UNITS = {
    "wall_s": "s", "task_s": "s", "cpu_s": "s", "python_s": "s",
    "idle_share": "ratio", "jobs": "count", "stages": "count",
    "failed_tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB",
    "barrier_mb": "MB", "rows_out": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → its unit, in report order."""
    units = {f"{layer}.{f}": _FIELD_UNITS[f] for layer in LAYERS for f in LAYER_FIELDS}
    units.update(EXTRA_METRICS)
    return units


# plan nodes that run Python workers carry the "time to run Python workers"
# SQL metric: ArrowEvalPython, BatchEvalPython, MapInPandas, FlatMapGroupsInPandas, ...
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|min|m|h)\b")
_DURATION_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_duration_s(text: str) -> float:
    """Seconds in a formatted SQL timing metric.

    Spark formats an aggregated timing metric as
    ``"total (min, med, max (stageId: taskId))\\n13.1 s (3.0 s, ...)"``;
    the total is the first duration on the last line.
    """
    m = _DURATION.search(text.rsplit("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _DURATION_S[m.group(2)]


def dir_files(path: Path) -> dict[str, int]:
    """Path → size of every regular file under ``path``."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            try:
                out[full] = os.path.getsize(full)
            except OSError:  # a writer's temporary file vanished
                continue
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes in files that are new or grew since ``before``."""
    return sum(max(0, size - before.get(p, 0)) for p, size in after.items())


class StatusReader:
    """Reads per-group totals out of Spark's status stores via py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = -1

    def group_totals(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        out = {"jobs": len(job_ids), "stages": 0, "task_s": 0.0, "cpu_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0}
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) not in ("COMPLETE", "FAILED"):
                continue  # skipped stages reuse an earlier shuffle
            out["stages"] += 1
            out["task_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            out["failed_tasks"] += sd.numFailedTasks()
        out["python_s"] = self._python_seconds(set(job_ids))
        return out

    def _python_seconds(self, job_ids: set[int]) -> float:
        if not job_ids:
            return 0.0
        executions = self._sql.executionsList()
        total = 0.0
        newest = self._last_execution
        for i in range(executions.size()):
            ex = executions.apply(i)
            eid = ex.executionId()
            if eid <= self._last_execution:
                continue
            newest = max(newest, eid)
            jobs = ex.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _PYTHON_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for q in range(metrics.size()):
                    metric = metrics.apply(q)
                    if metric.name() != "time to run Python workers":
                        continue
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        total += parse_duration_s(value.get())
        # every execution of a finished span is complete: later spans need
        # not scan it again
        self._last_execution = newest
        return total


class Tracer:
    """Spans of one traced run. Each layer's totals accumulate over its spans."""

    def __init__(self, spark, scratch_root: Path, cores: int):
        self.reader = StatusReader(spark)
        self.sc = spark.sparkContext
        self.scratch_root = scratch_root
        self.cores = cores
        self.spans: list[dict] = []
        self._seq = 0
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, layer: str, op_id: str):
        """Time the block as one span of ``layer``; the block may set
        ``rec["rows_out"]`` and other counts on the yielded record."""
        t_book = time.monotonic()
        self._seq += 1
        group = f"perfbench-{op_id}-{layer}-{self._seq}"
        before = dir_files(self.scratch_root)
        self.sc.setJobGroup(group, group)
        rec: dict = {"op": op_id, "name": layer, "group": group}
        self.bookkeeping_s += time.monotonic() - t_book
        t0 = time.monotonic()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            wall = time.monotonic() - t0
            t_book = time.monotonic()
            rec["end"] = time.time()
            self.sc.setJobGroup("perfbench-untraced", "perfbench-untraced")
            totals = self.reader.group_totals(group)
            totals["wall_s"] = wall
            totals["barrier_mb"] = new_bytes(before, dir_files(self.scratch_root)) / MB
            rec.update(totals)
            self.spans.append(rec)
            self.bookkeeping_s += time.monotonic() - t_book

    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.<field>`` for every layer; layers without spans are 0."""
        sums: dict[str, dict] = {layer: {f: 0.0 for f in LAYER_FIELDS} for layer in LAYERS}
        for rec in self.spans:
            acc = sums.get(rec["name"])
            if acc is None:  # a span outside the layer split
                continue
            for f in LAYER_FIELDS:
                if f != "idle_share":
                    acc[f] += rec.get(f, 0)
        out: dict[str, float] = {}
        for layer, acc in sums.items():
            wall = acc["wall_s"]
            acc["idle_share"] = 1.0 - acc["task_s"] / (wall * self.cores) if wall > 0 else 0.0
            for f in LAYER_FIELDS:
                out[f"{layer}.{f}"] = acc[f]
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")
