"""Spans around the program's public layer calls, and the Spark event
log folded into per-layer rows.

Each span sets its own Spark job group, so every job the layer call
launches carries the span's group id into the event log. After the run
the uncompressed event log is read back and each job's task metrics are
summed into the span that launched it. One call that runs several
layers from the inside (``plans.incremental.pip_increment``) is split by
the call site Spark records for each job (``file:line``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import sys
import time

# Per-layer figures, each summed over a layer's jobs.
JOB_FIELDS = (
    "task_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
    "tasks_failed", "python_s", "arrow_bytes", "python_rows",
)


class Tracer:
    """Records spans; a disabled tracer only yields an empty record."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.pass_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec.update(
            id=next(self._ids),
            parent=parent["id"] if parent else None,
            workload=self.workload,
            pass_id=self.pass_id,
        )
        rec["group"] = f"bench-{rec['id']}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["wall_s"] * 1000.0
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)


def record_call_sites() -> None:
    """Make DataFrame actions record their caller as the job call site.

    PySpark records ``callSite.short`` for collecting actions (collect,
    first, toPandas) but not for ``count`` or writes, so jobs launched
    inside one program call would be indistinguishable. Each wrapped
    method sets the property to the first frame outside pyspark and
    this file. Collecting actions are left alone: PySpark names their
    caller itself, and a wrapper frame would stand in for it.
    """
    import pyspark
    from pyspark import SparkContext
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    skip = (os.path.dirname(pyspark.__file__), os.path.abspath(__file__))

    def wrap(cls, name):
        orig = getattr(cls, name)

        @functools.wraps(orig)
        def call(self, *args, **kwargs):
            sc = SparkContext._active_spark_context
            f = sys._getframe(1)
            while f is not None and f.f_code.co_filename.startswith(skip):
                f = f.f_back
            if sc is None or f is None or sc.getLocalProperty("callSite.short"):
                return orig(self, *args, **kwargs)
            sc.setLocalProperty(
                "callSite.short", f"{name} at {f.f_code.co_filename}:{f.f_lineno}"
            )
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", None)

        setattr(cls, name, call)

    wrap(DataFrame, "count")
    for name in ("save", "parquet", "saveAsTable", "insertInto"):
        wrap(DataFrameWriter, name)


def event_log_file(log_dir: str, app_id: str) -> str:
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if len(paths) != 1:
        raise FileNotFoundError(f"event log for {app_id} in {log_dir}: {paths}")
    return paths[0]


def _python_rows_ids(plan: dict, out: set) -> None:
    """Accumulator ids of the output-row metric of MapInPandas nodes."""
    if plan.get("nodeName", "").startswith("MapInPandas"):
        for m in plan.get("metrics", []):
            if m["name"] == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_rows_ids(child, out)


def read_event_log(path: str) -> dict[int, dict]:
    """Job id -> {group, callsite, submit_ms, end_ms, JOB_FIELDS...}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_rows_ids: set = set()
    tasks: list[tuple[int, dict]] = []
    with open(path) as fh:
        for line in fh:
            head = line[:90]
            if '"SparkListenerTaskEnd"' in head:
                e = json.loads(line)
                tasks.append((e["Stage ID"], e))
            elif '"SparkListenerJobStart"' in head:
                e = json.loads(line)
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "callsite": props.get("callSite.short") or "",
                    "execution": props.get("spark.sql.execution.root.id"),
                    "submit_ms": e["Submission Time"],
                    "end_ms": e["Submission Time"],
                    **{f: 0.0 for f in JOB_FIELDS},
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif '"SparkListenerJobEnd"' in head:
                e = json.loads(line)
                jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
            elif "SQLExecutionStart" in head or "SQLAdaptiveExecutionUpdate" in head:
                _python_rows_ids(json.loads(line)["sparkPlanInfo"], py_rows_ids)
    # Jobs a query launches on its own (AQE stages, broadcasts) carry no
    # call site; they take the one of a job of the same SQL execution.
    site = {j["execution"]: j["callsite"] for j in jobs.values()
            if j["callsite"] and j["execution"] is not None}
    for j in jobs.values():
        if not j["callsite"]:
            j["callsite"] = site.get(j["execution"], "")
    for sid, e in tasks:
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        if e["Task End Reason"]["Reason"] != "Success":
            job["tasks_failed"] += 1
        for acc in e["Task Info"].get("Accumulables", []):
            name, v = acc.get("Name"), acc.get("Update")
            if v is None:
                continue
            v = float(v)
            if name == "internal.metrics.executorRunTime":
                job["task_s"] += v / 1e3
            elif name == "internal.metrics.executorCpuTime":
                job["cpu_s"] += v / 1e9
            elif name == "internal.metrics.jvmGCTime":
                job["gc_s"] += v / 1e3
            elif name in (
                "internal.metrics.shuffle.write.bytesWritten",
                "internal.metrics.shuffle.read.localBytesRead",
                "internal.metrics.shuffle.read.remoteBytesRead",
            ):
                job["shuffle_bytes"] += v
            elif name in (
                "internal.metrics.memoryBytesSpilled",
                "internal.metrics.diskBytesSpilled",
            ):
                job["spill_bytes"] += v
            elif name == "time to run Python workers":
                job["python_s"] += v / 1e3
            elif name in (
                "data sent to Python workers",
                "data returned from Python workers",
            ):
                job["arrow_bytes"] += v
            elif acc.get("ID") in py_rows_ids:
                job["python_rows"] += v
    return jobs


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals`` (ms)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def callsite_module(callsite: str) -> str | None:
    """'count at /x/osm_spark/plans/incremental.py:93' -> 'plans.incremental'."""
    path = callsite.rsplit(" at ", 1)[-1].rsplit(":", 1)[0]
    parts = path.replace(os.sep, "/").split("/osm_spark/")
    if len(parts) < 2 or not parts[-1].endswith(".py"):
        return None
    return parts[-1][:-3].replace("/", ".")


def layer_rows(spans: list[dict], jobs: dict[int, dict], split: dict) -> list[dict]:
    """One row per traced span (and per call-site child of a split span):
    layer, pass_id, wall_s, self_s, rows_out and the JOB_FIELDS sums.

    ``split``: span name -> {callsite module: child layer}; jobs of such
    a span whose call site maps to a child are booked to that child, and
    the child's wall time is the union of its jobs' run intervals.
    """
    by_group: dict[str, list[dict]] = {}
    for job in jobs.values():
        by_group.setdefault(job["group"], []).append(job)
    child_wall: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + s["wall_s"]
    rows = []
    for s in spans:
        own = {"layer": s["name"], "pass_id": s["pass_id"], "rows_out": s.get("rows", 0)}
        own.update({f: 0.0 for f in JOB_FIELDS})
        children: dict[str, dict] = {}
        booked: list[tuple[float, float]] = []
        for job in by_group.get(s["group"], []):
            child = split.get(s["name"], {}).get(callsite_module(job["callsite"]))
            if child is None:
                row = own
            else:
                row = children.setdefault(
                    child,
                    {"layer": child, "pass_id": s["pass_id"], "rows_out": 0,
                     "intervals": [], **{f: 0.0 for f in JOB_FIELDS}},
                )
                row["intervals"].append((job["submit_ms"], job["end_ms"]))
                booked.append((job["submit_ms"], job["end_ms"]))
            for f in JOB_FIELDS:
                row[f] += job[f]
        for row in children.values():
            row["wall_s"] = row["self_s"] = _union_s(
                row.pop("intervals"), s["start_ms"], s["end_ms"]
            )
        covered = _union_s(booked, s["start_ms"], s["end_ms"])
        own["wall_s"] = s["wall_s"]
        own["self_s"] = s["wall_s"] - child_wall.get(s["id"], 0.0) - covered
        rows.append(own)
        rows.extend(children.values())
    return rows
