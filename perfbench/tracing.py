"""Per-layer accounting taken from outside the package.

- ``Spans``: wall time of calls into the package's public functions, kept in
  memory as (name, start, end, parent, call id) and written out at the end.
- ``SparkAccounting``: Spark's own job and stage records for the job group the
  benchmark sets around each call, read from the status store.
- ``PlannerPasses``: maps a job's Python call site (``collect at
  .../plans/planner.py:637``) to the ``SuitePlanner`` pass that launched it,
  using function line ranges taken with ``inspect`` at run time.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import time

PASSES = ("prereq", "bundles", "groupby", "samples")
# SuitePlanner function -> the pass its actions belong to. ``run`` holds the
# phase-0 prerequisite agg (and the partition-key listing of groupBy-only
# suites); the isolated fallback re-runs single-expectation planners, whose
# jobs are told apart by the job description set in ``mark_isolated``.
PASS_OF_FUNCTION = {
    "run": "prereq",
    "_run_bundles": "bundles",
    "_run_groupby": "groupby",
    "_run_samples": "samples",
    "_run_unexpected_rows": "samples",
}
ISOLATED_DESCRIPTION = "perfbench:isolated"
# DataFrame actions that carry the Python call site into the job name; other
# actions are named after a JVM frame and cannot be attributed to a pass
CALL_SITE_ACTIONS = ("collect", "toLocalIterator", "tail")
ACTIONS = CALL_SITE_ACTIONS + (
    "count", "first", "head", "take", "toPandas", "show", "foreach",
    "foreachPartition", "checkpoint", "localCheckpoint", "save", "parquet",
    "saveAsTable", "insertInto",
)
_SITE = re.compile(r"^\S+ at (?P<file>.+):(?P<line>\d+)$")


class PlannerPasses:
    def __init__(self) -> None:
        from great_expectations_spark.plans import planner

        self.path = os.path.realpath(inspect.getsourcefile(planner))
        functions = [
            (name, fn)
            for name, fn in inspect.getmembers(planner.SuitePlanner, inspect.isfunction)
        ] + [
            (name, fn)
            for name, fn in vars(planner).items()
            if inspect.isfunction(fn) and fn.__module__ == planner.__name__
        ]
        self.ranges: list[tuple[int, int, str]] = []
        for name, fn in functions:
            lines, start = inspect.getsourcelines(fn)
            self.ranges.append((start, start + len(lines) - 1, name))

    def function_at(self, line: int) -> str | None:
        """Innermost planner function whose source spans ``line``."""
        best = None
        for start, end, name in self.ranges:
            if start <= line <= end and (best is None or end - start < best[1] - best[0]):
                best = (start, end, name)
        return best[2] if best else None

    def pass_of_site(self, job_name: str) -> str | None:
        """The planner pass of a job's call site, 'other' for a planner line
        outside every pass, None for a site outside planner.py."""
        m = _SITE.match(job_name or "")
        if not m or os.path.realpath(m["file"]) != self.path:
            return None
        return PASS_OF_FUNCTION.get(self.function_at(int(m["line"])), "other")


def mark_isolated(spark, planner_cls) -> callable:
    """Wrap ``SuitePlanner._run_isolated`` so jobs it launches carry
    ISOLATED_DESCRIPTION; returns the undo function."""
    orig = planner_cls._run_isolated
    sc = spark.sparkContext

    @functools.wraps(orig)
    def wrapper(self, *args, **kwargs):
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(ISOLATED_DESCRIPTION)
        try:
            return orig(self, *args, **kwargs)
        finally:
            sc.setJobDescription(prev)

    planner_cls._run_isolated = wrapper
    return lambda: setattr(planner_cls, "_run_isolated", orig)


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class SparkAccounting:
    """Job and stage totals for one job group, per call."""

    def __init__(self, spark, passes: PlannerPasses) -> None:
        self.sc = spark.sparkContext
        self.ssc = self.sc._jsc.sc()
        self.store = self.ssc.statusStore()
        self.passes = passes
        self._n = 0

    def begin(self, label: str) -> str:
        group = f"perfbench-{label}-{self._n}"
        self._n += 1
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> dict:
        self.sc._jsc.clearJobGroup()
        # the status store is fed by the asynchronous listener bus
        self.ssc.listenerBus().waitUntilEmpty()
        jobs = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            desc = jd.description()
            sub, comp = jd.submissionTime(), jd.completionTime()
            t0 = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            t1 = comp.get().getTime() / 1e3 if comp.isDefined() else t0
            sids = jd.stageIds()
            if desc.isDefined() and desc.get() == ISOLATED_DESCRIPTION:
                kind = "isolated"
            else:
                kind = self.passes.pass_of_site(jd.name()) or "outside"
            jobs.append(
                {
                    "id": jid,
                    "name": jd.name(),
                    "pass": kind,
                    "t0": t0,
                    "t1": t1,
                    "stages": [sids.apply(i) for i in range(sids.size())],
                }
            )
        out = {
            "jobs": len(jobs),
            "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
            "input_b": 0, "shuffle_write_b": 0, "spill_b": 0,
            "busy_s": _interval_union([(j["t0"], j["t1"]) for j in jobs]),
            "passes": {},
            "job_names": [j["name"] for j in jobs],
        }
        seen: set[int] = set()
        for j in jobs:
            p = out["passes"].setdefault(
                j["pass"], {"jobs": 0, "cpu_s": 0.0, "shuffle_write_b": 0, "_iv": []}
            )
            p["jobs"] += 1
            p["_iv"].append((j["t0"], j["t1"]))
            for sid in j["stages"]:
                # a stage reused by a later job of the call counts once, for
                # the job that ran it
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                cpu = sd.executorCpuTime() / 1e9
                shuf = sd.shuffleWriteBytes()
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["cpu_s"] += cpu
                out["run_s"] += sd.executorRunTime() / 1e3
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_b"] += sd.inputBytes()
                out["shuffle_write_b"] += shuf
                out["spill_b"] += sd.memoryBytesSpilled()
                p["cpu_s"] += cpu
                p["shuffle_write_b"] += shuf
        for p in out["passes"].values():
            p["busy_s"] = _interval_union(p.pop("_iv"))
        return out


class Spans:
    """In-memory spans around calls into the package's public functions."""

    def __init__(self) -> None:
        self.records: list[list] = []  # [name, start, end, parent index, call id]
        self.call_id: str | None = None
        self.active = False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str | None = None) -> None:
        orig = getattr(owner, attr)
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"
        spans = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not spans.active:
                return orig(*args, **kwargs)
            parent = spans._stack[-1] if spans._stack else None
            idx = len(spans.records)
            spans.records.append([label, time.perf_counter(), None, parent, spans.call_id])
            spans._stack.append(idx)
            try:
                return orig(*args, **kwargs)
            finally:
                spans._stack.pop()
                spans.records[idx][2] = time.perf_counter()

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def select(self, name: str, call_id: str | None = None) -> list[float]:
        """Durations of the spans called ``name`` (within ``call_id``)."""
        return [
            r[2] - r[1]
            for r in self.records
            if r[0] == name and r[2] is not None and (call_id is None or r[4] == call_id)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, call_id in self.records:
                f.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "call": call_id}
                    )
                    + "\n"
                )
