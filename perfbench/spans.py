"""Spans around the engine's layers, and the per-layer numbers they give.

``Tracer.install`` wraps every public function of each
``hadoop_app_spark`` module in a span recorder before ``plans`` and
``queries`` are imported, so that their ``from ... import`` bindings
pick the wrappers up. A span records its name, start, end, parent span
and operation id; spans stay in memory and are written out at exit.

Spark jobs, stages and tasks come from the Spark event log, and
streaming trigger phases from a ``StreamingQueryListener``. Each job is
attributed to the innermost span open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import heapq
import importlib
import inspect
import itertools
import json
import statistics
import sys
import threading
import time
from pathlib import Path

# imported last, after the layers they bind from are wrapped
LATE = ("hadoop_app_spark.plans", "hadoop_app_spark.queries")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def begin(self, name: str) -> dict:
        stack = self._local.__dict__.setdefault("stack", [])
        s = {"id": next(self._ids), "name": name, "parent": stack[-1]["id"] if stack else None,
             "op": self.op, "start": time.time()}
        stack.append(s)
        return s

    def end(self, s: dict) -> None:
        s["end"] = time.time()
        self._local.stack.remove(s)
        with self._lock:
            self.spans.append(s)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the layers' public functions, then import ``plans`` and
        ``queries`` and wrap theirs and each registry entry's builder."""
        import hadoop_app_spark

        swapped: dict = {}
        pkg = Path(hadoop_app_spark.__path__[0])
        names = sorted(
            ".".join(("hadoop_app_spark", *p.relative_to(pkg).with_suffix("").parts)).removesuffix(".__init__")
            for p in pkg.rglob("*.py")
        )
        early = [n for n in names if not n.startswith(LATE)]
        for n in early:
            self._wrap_module(importlib.import_module(n), swapped)
        self._rebind(swapped)
        for n in [n for n in names if n.startswith(LATE)]:
            self._wrap_module(importlib.import_module(n), swapped)
        self._rebind(swapped)
        from hadoop_app_spark import queries

        for name, qd in list(queries.REGISTRY.items()):
            queries.REGISTRY[name] = queries.QueryDef(
                self.wrap(qd.fn, f"queries.{name}.build"), qd.oracle, qd.doc
            )

    def _wrap_module(self, mod, swapped: dict) -> None:
        for name, obj in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
                or inspect.isgeneratorfunction(obj)
                or hasattr(obj, "evalType")  # pandas/Arrow UDF objects keep their attributes
            ):
                continue
            layer = mod.__name__.split(".")[1]
            w = self.wrap(obj, f"{layer}.{name}")
            swapped[obj] = w
            setattr(mod, name, w)

    @staticmethod
    def _rebind(swapped: dict) -> None:
        """Point every module-level alias of a wrapped function (the
        ``from x import f`` bindings) at its wrapper."""
        for mod in [m for k, m in sys.modules.items() if k.startswith("hadoop_app_spark")]:
            for name, obj in list(vars(mod).items()):
                try:
                    w = swapped.get(obj)
                except TypeError:  # unhashable module attribute
                    continue
                if w is not None:
                    setattr(mod, name, w)

    def dump(self, path: Path) -> None:
        with path.open("w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length([c for c in covered if c[0] < c[1]])
    return out


def innermost(spans: list[dict], times: list[float]) -> list[dict | None]:
    """For each time, the latest-started span open at it (None if none)."""
    events = sorted([(s["start"], 1, i) for i, s in enumerate(spans)]
                    + [(t, 2, j) for j, t in enumerate(times)])
    heap: list = []  # (-start, span index) of the spans begun so far
    out: list = [None] * len(times)
    for t, kind, i in events:
        if kind == 1:
            heapq.heappush(heap, (-spans[i]["start"], i))
            continue
        heap = [e for e in heap if spans[e[1]]["end"] > t]
        heapq.heapify(heap)
        out[i] = spans[heap[0][1]] if heap else None
    return out


def read_event_logs(log_dir: Path) -> dict:
    """Jobs (with their stages and tasks) and SQL plan metrics from every
    event log under ``log_dir``."""
    jobs, stages, tasks, acc_values, join_accs, sql_start = {}, {}, {}, {}, {}, {}
    for path in sorted(log_dir.iterdir()):
        app = path.name
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = {"submit": ev["Submission Time"] / 1000,
                                 "stage_ids": [(app, s) for s in ev["Stage IDs"]],
                                 "sql": (app, props.get("spark.sql.execution.id"))}
                elif kind == "SparkListenerJobEnd":
                    jobs[(app, ev["Job ID"])]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[(app, info["Stage ID"])] = {
                        "start": info.get("Submission Time", 0) / 1000,
                        "end": info.get("Completion Time", 0) / 1000}
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    tasks.setdefault((app, ev["Stage ID"]), []).append({
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000,
                        "failed": bool(info.get("Failed")),
                        "run": m.get("Executor Run Time", 0) / 1000,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    })
                    for a in info.get("Accumulables") or []:
                        if isinstance(a.get("Update"), (int, str)):
                            try:
                                acc_values[(app, a["ID"])] = acc_values.get((app, a["ID"]), 0) + int(a["Update"])
                            except ValueError:
                                pass
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    key = (app, ev["executionId"])
                    if kind.endswith("SQLExecutionStart"):
                        sql_start[key] = ev["time"] / 1000
                    join_accs[key] = _join_output_accs(ev["sparkPlanInfo"])
    for key, j in jobs.items():
        j["stages"] = [stages[s] | {"tasks": tasks.get(s, [])} for s in j["stage_ids"] if s in stages]
        j["skipped"] = sum(1 for s in j["stage_ids"] if s not in stages)
    joins = {
        key: [acc_values.get((key[0], a), 0) for a in accs] for key, accs in join_accs.items()
    }
    return {"jobs": list(jobs.values()), "sql_start": sql_start, "join_rows": joins}


def _join_output_accs(plan: dict) -> list[int]:
    """Accumulator ids of ``number of output rows`` on every join node."""
    out = []
    if "Join" in plan.get("nodeName", ""):
        out += [m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == "number of output rows"]
    for child in plan.get("children", []):
        out += _join_output_accs(child)
    return out


def job_metrics(jobs: list[dict], wall: float) -> dict:
    """Job-layer numbers for one stretch of wall time holding ``jobs``."""
    stages = [s for j in jobs for s in j["stages"]]
    tasks = [t for s in stages for t in s["tasks"]]
    union = union_length([(j["submit"], j.get("end", j["submit"])) for j in jobs])
    longest = max(stages, key=lambda s: s["end"] - s["start"], default=None)
    durs = sorted(t["dur"] for t in longest["tasks"]) if longest else []
    mid = statistics.median(durs) if durs else 0.0
    listed = len(stages) + sum(j["skipped"] for j in jobs)
    return {
        "jobs.count": len(jobs),
        "jobs.stages": len(stages),
        "jobs.tasks": len(tasks),
        "jobs.union_s": union,
        "jobs.driver_only_s": max(wall - union, 0.0),
        "jobs.executor_run_s": sum(t["run"] for t in tasks),
        "jobs.executor_cpu_s": sum(t["cpu"] for t in tasks),
        "jobs.gc_s": sum(t["gc"] for t in tasks),
        "jobs.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "jobs.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "jobs.spill_bytes": sum(t["spill"] for t in tasks),
        "jobs.task_skew": durs[-1] / mid if mid > 0 else 0.0,
        "jobs.skipped_stage_ratio": (listed - len(stages)) / listed if listed else 0.0,
        "jobs.failed_tasks": sum(t["failed"] for t in tasks),
        "sources.input_bytes": sum(t["in_bytes"] for t in tasks),
        "sources.output_bytes": sum(t["out_bytes"] for t in tasks),
    }
