"""Spans around the benchmark's calls into the engine, and the Spark job
and stage metrics joined to them.

A span records name, start, end, parent and the op it belongs to. With
tracing off a span still measures its own duration (the workloads time
their ops with it) but records nothing and tags no jobs. With tracing on
it is kept in memory, written out when the run ends, and a span that names
a ``phase`` sets the Spark job group ``<workload>/<op>/<phase>`` on the
benchmark thread, so every job that thread starts carries it.
"""

from __future__ import annotations

import contextlib
import json
import time

from perfbench.stats import self_times


class Span:
    __slots__ = ("start", "end")

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: list[str] = []
        # perf_counter -> epoch seconds, to line spans up with Spark's
        # job submission times (epoch milliseconds)
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, phase: str | None = None):
        s = Span()
        rec = None
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "op": op if op is not None else (parent or {}).get("op"),
                "phase": phase,
            }
            self.spans.append(rec)
            self._stack.append(rec)
            if phase is not None:
                group = f"{self.workload}/{rec['op']}/{phase}"
                self._groups.append(group)
                self.sc.setJobGroup(group, group)
        s.start = self.now()
        try:
            yield s
        finally:
            s.end = self.now()
            if rec is not None:
                rec["start"], rec["end"] = s.start, s.end
                self._stack.pop()
                if phase is not None:
                    self._groups.pop()
                    prev = self._groups[-1] if self._groups else None
                    if prev is None:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)
                        self.sc.setLocalProperty("spark.job.description", None)
                    else:
                        self.sc.setJobGroup(prev, prev)

    def write(self, path: str, jobs: list[dict]) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [{**s, "self": st[s["id"]]} for s in self.spans],
                    "jobs": jobs,
                },
                fh,
            )


class StatusStore:
    """Reads jobs and stages the app status store has recorded since the
    last call, as plain dicts (one JSON round trip through the JVM's own
    Jackson, not one py4j call per field)."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self.store = self.jsc.statusStore()
        self.empty = jvm.java.util.ArrayList()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self.mapper.registerModule(scala_module)
        self._stage_defaults = [
            getattr(self.store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self.last_job = -1
        self.last_stage = -1

    def _json(self, obj) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(obj))

    def new_jobs(self) -> list[dict]:
        """Jobs (with their stages' metrics under ``"stages"``) started
        since the last call."""
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = [
            j
            for j in self._json(self.store.jobsList(self.empty))
            if j["jobId"] > self.last_job
        ]
        stages = {
            s["stageId"]: s
            for s in self._json(
                self.store.stageList(self.empty, *self._stage_defaults)
            )
            if s["stageId"] > self.last_stage and s["status"] != "SKIPPED"
        }
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        if stages:
            self.last_stage = max(stages)
        out = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            # a stage a later job reuses is counted once, with its first job
            mine = [i for i in j["stageIds"] if i in stages]
            out.append(
                {
                    "id": j["jobId"],
                    "group": j.get("jobGroup"),
                    "submit": (j.get("submissionTime") or 0) / 1000.0,
                    "end": (j.get("completionTime") or 0) / 1000.0,
                    "stages": [_stage_metrics(stages.pop(i)) for i in mine],
                }
            )
        return out


def _stage_metrics(s: dict) -> dict:
    return {
        "id": s["stageId"],
        "tasks": s["numCompleteTasks"],
        "cpu_s": s["executorCpuTime"] / 1e9,
        "run_s": s["executorRunTime"] / 1e3,
        "gc_s": s["jvmGcTime"] / 1e3,
        "input_mb": s["inputBytes"] / 2**20,
        "output_mb": s["outputBytes"] / 2**20,
        "shuffle_read_mb": s["shuffleReadBytes"] / 2**20,
        "shuffle_write_mb": s["shuffleWriteBytes"] / 2**20,
        "spill_mb": s["diskBytesSpilled"] / 2**20,
        "peak_exec_mem_mb": s["peakExecutionMemory"] / 2**20,
    }


def attribute(jobs: list[dict], spans: list[dict], workload: str) -> None:
    """Give every job the span it ran under, in place (``job["span"]``).

    A job whose group the benchmark set (``<workload>/<op>/<phase>``) goes to
    the innermost span with that op and phase. Jobs started from threads the
    engine owns — the ``build_warehouse`` pool, operator thread pools,
    streaming query threads — carry no group of ours, so they go to the
    innermost span whose time window holds their submission time
    (``job["by_window"] = True``)."""
    by_group: dict[str, list[dict]] = {}
    for s in spans:
        if s["phase"] is not None:
            by_group.setdefault(f"{workload}/{s['op']}/{s['phase']}", []).append(s)

    def innermost(cands: list[dict], t: float):
        inside = [s for s in cands if s["start"] <= t <= s["end"]]
        return max(inside, key=lambda s: s["start"]) if inside else None

    for j in jobs:
        grouped = by_group.get(j["group"] or "")
        j["by_window"] = not grouped
        span = innermost(grouped or spans, j["submit"])
        if span is None and grouped:
            span = grouped[-1]
        j["span"] = span["id"] if span is not None else None
