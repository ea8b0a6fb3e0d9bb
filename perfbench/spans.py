"""Spans around the benchmark's calls into the package, with the Spark
work each span launched.

A span records its name, start, end, parent and operation id.  In a
traced run each span also reads, from the driver's in-process status
stores, the jobs started while it was open: their stages and tasks,
executor run/CPU/GC time, shuffle-write and spill bytes, the Catalyst
rule time spent meanwhile, and the SQL executions it ran.  No event log
and no UI are involved.  Spans are kept in memory and written out once,
at the end of the run.

With tracing off, ``span`` only yields: untraced runs pay nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_COUNTS = ("tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                "shuffle_bytes", "spill_bytes", "input_bytes")
SPARK_COUNTS = ("jobs", "stages", "planning_ms", *STAGE_COUNTS)
# Plan nodes whose SQL metrics a span keeps: scans (files read), joins
# (candidate rows), Python/Arrow evaluation (Python time), writes (path).
NODE_KINDS = ("Scan", "Join", "Python", "Pandas", "Arrow", "InsertInto")
# Spans whose plan-node metrics are read (each node costs driver round
# trips, so other spans keep only their execution durations).
DETAIL_SPANS = {
    "medallion.write", "manifest.lookup_join", "manifest.bloom_point_scan",
    "dedup.near_dup_pairs", "similarity.embedding_near_dup_pairs",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._stage_cache: dict[int, dict] = {}
        self.phase = "setup"  # then "run"
        self.overhead_s = 0.0
        if enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._dag = jsc.dagScheduler()
            self._store = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "name": name,
            "phase": self.phase,
            "op": op if op is not None else (
                self.spans[self._stack[-1]]["op"] if self._stack else None
            ),
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "epoch_ms": time.time() * 1e3,
            "_jobs0": self._dag.numTotalJobs(),
            "_exec0": self._sql.executionsCount(),
            "_rules0": self._rules.getCurrentMetrics().time(),
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self._close(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _close(self, rec: dict) -> None:
        jobs1 = self._dag.numTotalJobs()
        counts = dict.fromkeys(SPARK_COUNTS, 0)
        counts["planning_ms"] = (
            self._rules.getCurrentMetrics().time() - rec.pop("_rules0")
        ) / 1e6
        stages: set[int] = set()
        for jid in range(rec.pop("_jobs0"), jobs1):
            counts["jobs"] += 1
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            st = self._stage(sid)
            # A stage an earlier span's job ran is listed again by the
            # jobs that reuse its output: count it only where it ran.
            if st is None or (st["submitted_ms"] or 0) < rec["epoch_ms"]:
                continue
            counts["stages"] += 1
            for k in STAGE_COUNTS:
                counts[k] += st[k]
        rec["spark"] = counts
        exec0 = rec.pop("_exec0")
        n = self._sql.executionsCount() - exec0
        execs = []
        if n > 0:
            it = self._sql.executionsList(exec0, n).iterator()
            while it.hasNext():
                e = it.next()
                done = e.completionTime()
                eid = e.executionId()
                execs.append(
                    {
                        "id": eid,
                        "s": (done.get().getTime() - e.submissionTime()) / 1e3
                        if done.isDefined() else None,
                        "nodes": self._nodes(eid)
                        if rec["name"] in DETAIL_SPANS else [],
                    }
                )
        rec["sql"] = execs

    def _nodes(self, eid: int) -> list[dict]:
        """Kept plan nodes of one SQL execution with their metric values
        as Spark formats them."""
        values = self._sql.executionMetrics(eid)
        out = []
        it = self._sql.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            name = node.name()
            if not any(k in name for k in NODE_KINDS):
                continue
            metrics = {}
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            out.append({"name": name, "desc": node.desc()[:500],
                        "metrics": metrics})
        return out

    def _stage(self, sid: int) -> dict | None:
        """Counters of a stage that ran; ``None`` for a skipped stage
        (its output was reused from an earlier job)."""
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        sd = self._store.lastStageAttempt(sid)
        out = None
        if sd.status().toString() != "SKIPPED":
            sub = sd.submissionTime()
            out = {
                "submitted_ms": sub.get().getTime() if sub.isDefined() else None,
                "tasks": sd.numTasks(),
                "exec_run_s": sd.executorRunTime() / 1e3,
                "exec_cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "input_bytes": sd.inputBytes(),
            }
        self._stage_cache[sid] = out
        return out

    def dump(self, path: str, stamp: dict) -> None:
        spans = []
        for i, s in enumerate(self.spans):
            spans.append({"id": i, **s})
        with open(path, "w") as f:
            json.dump({"stamp": stamp, "spans": spans}, f)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its direct children cover
    (children of one span run one after another: one driver thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]
