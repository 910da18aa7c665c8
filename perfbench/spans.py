"""Per-layer spans for traced runs, recorded from the benchmark's side.

A span is opened around a call into one of the engine's public functions.
While it is open the span owns the Spark job group, so every job the call
submits (including AQE and broadcast jobs, which inherit the group) is
attributed to it. Stage metrics come from the JVM status store over py4j,
so the Spark UI stays off.

Time attribution: ``wall_s`` is inclusive of child spans; ``self_s`` is
wall minus the children's wall. Stage metrics (``task_s``, ``cpu_s``,
``gc_s``, ``shuffle_mb``, ``spill_mb``, ``jobs``) are exclusive, because a
job belongs to the innermost span that was open when it was submitted.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

STAGE_FIELDS = ("task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "jobs")
GROUP_PREFIX = "perfbench-span-"


class StageStore:
    """Reads completed stages and jobs from the driver's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = spark._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def snapshot(self) -> tuple[list, list]:
        """(jobs, stages) as plain dicts, after the listener bus drains."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(self._mapper.writeValueAsString(
            store.stageList(None, False, False, self._no_quantiles, None)
        ))
        return jobs, stages

    def max_stage_id(self) -> int:
        _, stages = self.snapshot()
        return max((s["stageId"] for s in stages), default=-1)


def stage_totals(stages: list) -> dict:
    """Summed metrics of the stages that ran (skipped stages carry none)."""
    out = {k: 0.0 for k in STAGE_FIELDS if k != "jobs"}
    for s in stages:
        if s["status"] not in ("COMPLETE", "FAILED"):
            continue
        out["task_s"] += s["executorRunTime"] / 1e3
        out["cpu_s"] += s["executorCpuTime"] / 1e9
        out["gc_s"] += s["jvmGcTime"] / 1e3
        out["shuffle_mb"] += s["shuffleWriteBytes"] / 2**20
        out["spill_mb"] += s["diskBytesSpilled"] / 2**20
    return out


class Tracer:
    """Collects spans in memory; ``finish`` attaches stage metrics.

    ``open``/``close`` exist for spans whose end is a later call (the graph
    span runs from ``materialize_graph`` to the end of the edges write);
    everything else uses the ``span`` context manager."""

    def __init__(self, spark):
        self.spark = spark
        self.store = StageStore(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list = []
        self._t0 = time.perf_counter()
        self._first_stage = self.store.max_stage_id() + 1
        self.summary: dict = {}

    # -- spans ----------------------------------------------------------
    def _set_group(self):
        sc = self.spark.sparkContext
        if self._stack:
            top = self._stack[-1]
            sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"], False)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def open(self, name: str) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group()
        return rec

    def close(self, rec: dict) -> None:
        """Close ``rec`` and any span still open inside it."""
        if rec["end"] is not None:
            return
        while self._stack:
            top = self._stack.pop()
            top["end"] = time.perf_counter() - self._t0
            if top is rec:
                break
        self._set_group()

    def is_open(self, name: str) -> dict | None:
        return next((r for r in reversed(self._stack) if r["name"] == name), None)

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    # -- wrapping program attributes --------------------------------------
    def patch(self, owner, attr: str, name, before=None, after=None, keep_open: bool = False):
        """Replace ``owner.attr`` with a wrapper that runs the call inside a
        span. ``name`` is a string or ``f(args, kwargs) -> str``; ``before``
        may add keyword arguments; ``after`` gets (span, args, kwargs,
        result) and may record counters."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if before is not None:
                before(kwargs)
            rec = self.open(name(args, kwargs) if callable(name) else name)
            try:
                result = orig(*args, **kwargs)
            except BaseException:
                self.close(rec)
                raise
            if not keep_open:
                self.close(rec)
            if after is not None:
                after(rec, args, kwargs, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- metrics ----------------------------------------------------------
    def finish(self) -> dict:
        """Attach exclusive stage metrics and self time to every span, and
        reconcile labelled task time against all stages since creation.
        Call it as soon as the traced op returns."""
        while self._stack:
            self.close(self._stack[0])
        jobs, stages = self.store.snapshot()
        stages = [s for s in stages if s["stageId"] >= self._first_stage]
        # a stage reused by a later job shows as skipped there; its metrics
        # belong to the first job that lists it
        owner_job: dict = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner_job.setdefault(sid, j)
        span_of_group = {f"{GROUP_PREFIX}{r['id']}": r for r in self.spans}
        stages_of: dict = {r["id"]: [] for r in self.spans}
        jobs_of: dict = {r["id"]: set() for r in self.spans}
        for j in jobs:
            rec = span_of_group.get(j.get("jobGroup"))
            if rec is not None and any(sid >= self._first_stage for sid in j["stageIds"]):
                jobs_of[rec["id"]].add(j["jobId"])
        unlabelled: dict = {}
        for s in stages:
            job = owner_job.get(s["stageId"], {})
            rec = span_of_group.get(job.get("jobGroup"))
            if rec is not None:
                stages_of[rec["id"]].append(s)
            else:
                key = f"{job.get('jobGroup')}: {job.get('name', s['name'])}"
                unlabelled[key] = unlabelled.get(key, 0.0) + stage_totals([s])["task_s"]
        child_wall: dict = {r["id"]: 0.0 for r in self.spans}
        for r in self.spans:
            if r["parent"] is not None:
                child_wall[r["parent"]] += r["end"] - r["start"]
        for r in self.spans:
            r["wall_s"] = r["end"] - r["start"]
            r["self_s"] = r["wall_s"] - child_wall[r["id"]]
            r.update(stage_totals(stages_of[r["id"]]))
            r["jobs"] = len(jobs_of[r["id"]])
        total = stage_totals(stages)
        labelled = sum(r["task_s"] for r in self.spans)
        self.summary = {
            "total_task_s": total["task_s"],
            "labelled_task_s": labelled,
            "task_share": labelled / total["task_s"] if total["task_s"] else 1.0,
            "stages": len(stages),
            "unlabelled_task_s": unlabelled,
        }
        return self.summary


def rollup(spans: list, names: dict) -> dict:
    """Sum span metrics under the metric-line names. ``names`` maps a
    rolled-up name to a predicate over span names."""
    out = {}
    for key, match in names.items():
        agg = {k: 0.0 for k in ("wall_s", "self_s", *STAGE_FIELDS)}
        for r in spans:
            if match(r["name"]):
                for k in agg:
                    agg[k] += r[k]
        out[key] = agg
    return out
