"""Per-layer tracing, recorded from the benchmark's side of each call.

Spans time calls into the engine's public functions.  The calls the
benchmark makes itself (``get_spark``, ``prepare_edges``, ``pagerank``
...) are wrapped where they are made; the calls the engine makes
internally during a Pregel run are reached by swapping the module or
class attribute the engine looks them up through, for the traced run
only:

    plans.program.pregel    as imported by algos.pagerank / algos.cc
    plans.program.scatter   operators.scatter.scatter, as used by the loop
    plans.program.combine   operators.combine.combine, as used by the loop
    PregelRun.materialize   state rotation and plan truncation
    PregelRun.aggregators   the superstep barrier (the one collect per superstep)
    CheckpointManager.write durable checkpoint writes

Every span sets the ``spark.jobGroup.id`` local property to
``<unit>|<layer>`` and restores the previous value, so each Spark job
is attributed to the innermost layer that launched it; a unit is one
set-up or one job run.  Spark's own counters are read from the status
store once, after the last run (:meth:`Tracer.spark_counters`).
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import mesos_pregel_spark.algos.cc as cc_mod
import mesos_pregel_spark.algos.pagerank as pagerank_mod
import mesos_pregel_spark.plans.program as program_mod
from mesos_pregel_spark.plans.checkpoint import CheckpointManager
from mesos_pregel_spark.plans.pregel import PregelRun

JOB_GROUP = "spark.jobGroup.id"
UNIT_BASE = "run"  # layer name for jobs a unit launches outside any span

# Session settings for the traced run only: at Spark's default of 1000
# retained jobs/stages the status store drops the oldest entries in the
# middle of a workload and the per-layer deltas go wrong.
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


@dataclass
class Record:
    """Spans and counts of one unit (a set-up or a job run)."""

    unit: str
    kind: str  # "setup" | "job"
    total: dict = field(default_factory=lambda: defaultdict(float))
    self_time: dict = field(default_factory=lambda: defaultdict(float))
    calls: Counter = field(default_factory=Counter)
    counts: dict = field(default_factory=lambda: defaultdict(float))
    pregel_t0: float | None = None


class Tracer:
    """Records spans while enabled; every method is a no-op otherwise,
    so traced and untraced runs execute the same benchmark code."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.records: list[Record] = []
        self._rec: Record | None = None
        self._stack: list[list] = []  # [layer, start, child seconds]
        self._saved: list[tuple[object, str, object]] = []

    # ---- units -------------------------------------------------------
    def begin(self, kind: str) -> None:
        if not self.enabled:
            return
        self._rec = Record(unit=f"u{len(self.records)}", kind=kind)
        self.records.append(self._rec)
        self.sc.setLocalProperty(JOB_GROUP, f"{self._rec.unit}|{UNIT_BASE}")

    def end(self) -> None:
        if self._rec is not None:
            self.sc.setLocalProperty(JOB_GROUP, None)
        self._rec = None

    def count(self, name: str, value: float) -> None:
        if self._rec is not None:
            self._rec.counts[name] += value

    @contextmanager
    def span(self, layer: str):
        rec = self._rec
        if rec is None:
            yield
            return
        prev = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, f"{rec.unit}|{layer}")
        frame = [layer, time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            dur = time.perf_counter() - frame[1]
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev)
            rec.total[layer] += dur
            rec.self_time[layer] += dur - frame[2]
            rec.calls[layer] += 1
            if self._stack:
                self._stack[-1][2] += dur

    # ---- engine-internal call sites ----------------------------------
    def enable(self) -> None:
        """Start recording and swap in the wrappers listed in the
        module docstring."""
        if self.enabled:
            return
        self.enabled = True

        def wrap(owner, attr, layer, before=None, after=None):
            orig = getattr(owner, attr)

            def wrapped(*args, **kwargs):
                if before is not None:
                    before(args, kwargs)
                with self.span(layer):
                    out = orig(*args, **kwargs)
                if after is not None:
                    after(args, kwargs)
                return out

            self._saved.append((owner, attr, orig))
            setattr(owner, attr, wrapped)

        def pregel_entered(args, kwargs):
            if self._rec is not None:
                self._rec.pregel_t0 = time.perf_counter()

        def scatter_called(args, kwargs):
            rec = self._rec
            if rec is None:
                return
            if rec.pregel_t0 is not None:  # first scatter of this pregel call
                rec.counts["pregel.startup_s"] += time.perf_counter() - rec.pregel_t0
                rec.pregel_t0 = None
            if kwargs.get("broadcast"):
                rec.counts["scatter.broadcast_calls"] += 1

        def checkpoint_written(args, kwargs):
            manager, superstep = args[0], args[2]
            step_dir = os.path.join(manager.directory, f"superstep={superstep:06d}")
            self.count("checkpoint.bytes", _tree_bytes(step_dir))

        for mod in (pagerank_mod, cc_mod):
            wrap(mod, "pregel", "program.pregel", before=pregel_entered)
        wrap(program_mod, "scatter", "scatter", before=scatter_called)
        wrap(program_mod, "combine", "combine")
        wrap(PregelRun, "materialize", "pregel.materialize")
        wrap(PregelRun, "aggregators", "pregel.barrier")
        wrap(CheckpointManager, "write", "checkpoint", after=checkpoint_written)

    def disable(self) -> None:
        """Stop recording and put the engine's own attributes back."""
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        self.end()
        self.enabled = False

    # ---- Spark status store -----------------------------------------
    def spark_counters(self) -> dict[str, dict]:
        """Per unit and layer: jobs, stages, tasks, failed tasks,
        shuffle bytes and executor run time of the jobs the layer
        launched, plus the per-stage task skew of barrier stages.
        Returns {unit: {layer: Counter, "_skew": [ratio, ...]}}."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gateway = self.sc._gateway
        jvm = gateway.jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)
        ))

        out: dict[str, dict] = defaultdict(lambda: defaultdict(Counter))
        owner: dict[int, tuple[str, str]] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            if "|" not in group:
                continue
            unit, layer = group.split("|", 1)
            out[unit][layer]["jobs"] += 1
            for sid in job["stageIds"]:
                owner.setdefault(sid, (unit, layer))

        quantiles = gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for st in stages:
            if st["stageId"] not in owner or st["status"] == "SKIPPED":
                continue
            unit, layer = owner[st["stageId"]]
            c = out[unit][layer]
            c["stages"] += 1
            c["tasks"] += st["numTasks"]
            c["failed_tasks"] += st["numFailedTasks"]
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["executor_run_ms"] += st["executorRunTime"]
            if layer == "pregel.barrier" and st["shuffleReadBytes"] > 0:
                summary = store.taskSummary(st["stageId"], st["attemptId"], quantiles)
                if summary.isDefined():
                    med, top = json.loads(mapper.writeValueAsString(summary.get()))[
                        "shuffleReadMetrics"]["readBytes"]
                    if med > 0:
                        out[unit].setdefault("_skew", []).append(top / med)
        return out


def _tree_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total
