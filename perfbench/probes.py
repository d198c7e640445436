"""Spans and Spark-side counters for the traced run.

A :class:`Tracer` keeps spans (name, start, end, parent, op id) in
memory and writes them out once, at the end of the run.  Spans are
recorded by the benchmark's own code around calls into each layer's
public functions; nothing inside the program is instrumented.

:class:`SparkProbe` reads what Spark already records, through the
session's py4j gateway:

- jobs, stages and tasks of every action run under one job group, via
  the status store (``statusTracker`` + ``AppStatusStore.stageData``);
- Catalyst analysis / optimization / planning time, from an action's
  ``QueryPlanningTracker``;
- executed-plan node and whole-stage-codegen stage counts;
- Janino compile time (``CodegenMetrics``) and JVM GC time, as deltas.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part
        covered by direct children."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh, indent=1)


_STAGE_RE = re.compile(r"\*\((\d+)\)")


class SparkProbe:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jvm = jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._group = 0

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def codegen_ms(self) -> float:
        """Approximate cumulative Janino compile time: the histogram
        keeps a sample reservoir, so count x mean is an estimate."""
        return float(self._codegen.getCount()) * float(self._codegen.getSnapshot().getMean())

    @contextmanager
    def action(self, label: str):
        """Run the body's Spark actions under a fresh job group and
        yield a dict that is filled with their execution counters."""
        self._group += 1
        group = f"perfbench-{self._group}-{label}"
        self.sc.setJobGroup(group, label)
        out: dict = {}
        gc0, cg0 = self.gc_ms(), self.codegen_ms()
        try:
            yield out
        finally:
            out["jvm.gc_ms"] = self.gc_ms() - gc0
            out["codegen.compile_ms"] = self.codegen_ms() - cg0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            out.update(self._job_counters(group))

    def _job_counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = {
            "exec.jobs": len(jobs),
            "exec.stages": 0,
            "exec.tasks": 0,
            "exec.executor_run_ms": 0,
            "exec.executor_cpu_ms": 0.0,
            "exec.shuffle_bytes": 0,
            "exec.spill_bytes": 0,
            "exec.failed_tasks": 0,
        }
        empty_tasks = self._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        for sid in stage_ids:
            seq = self._store.stageData(int(sid), False, empty_tasks, False, no_quantiles)
            for i in range(seq.size()):
                sd = seq.apply(i)
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
                c["exec.failed_tasks"] += int(sd.numFailedTasks())
                c["exec.executor_run_ms"] += int(sd.executorRunTime())
                c["exec.executor_cpu_ms"] += int(sd.executorCpuTime()) / 1e6
                c["exec.shuffle_bytes"] += int(sd.shuffleWriteBytes())
                c["exec.spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        return c

    @staticmethod
    def plan_counters(df) -> dict:
        """Catalyst phase times and executed-plan shape of *df*'s last
        action (call after the action)."""
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"catalyst.{phase}_ms"] = int(opt.get().durationMs()) if opt.isDefined() else 0
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        tree = str(plan.treeString())
        out["plan.nodes"] = sum(1 for line in tree.splitlines() if line.strip())
        out["plan.codegen_stages"] = len(set(_STAGE_RE.findall(tree)))
        return out
