"""Layer spans for the traced benchmark run.

A span is recorded around each call into a public layer function:
name, start, end, parent span and the id of the benchmark operation it
belongs to. Spans stay in memory and are written out when the run ends.

Spark work inside a span is attributed through a job group of its own
(the innermost open span owns the jobs). When a span ends, its jobs are
read back from the driver's status stores, which work with the UI off:

- ``statusTracker`` for the job ids of the group and their stages,
- ``statusStore().stageData`` for task counts, executor run time,
  shuffle bytes and spill,
- the SQL status store's ``executionsList`` for the physical plans, in
  which ``from_json(`` occurrences are counted.

Wrappers are installed only in the traced run, by replacing the layer
functions on every loaded module of the package that bound them, and are
removed again by :meth:`Tracer.uninstall`.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time
from contextlib import contextmanager

PKG = "etl_pipeline_from_mongo_json_to_postgre_spark"

# (span name, module that defines it, attribute path) for every wrapped
# public layer function; a dotted attribute path names a class member
LAYERS = (
    ("session.get_spark", "session", "get_spark"),
    ("sources.load_input_json", "sources.json_source", "load_input_json"),
    ("sources.collections_to_raw_df", "sources.json_source", "collections_to_raw_df"),
    ("sources.read_collection_jsonl", "sources.json_source", "read_collection_jsonl"),
    ("pipeline.run", "pipeline", "run"),
    ("pipeline.write_run_parquet", "pipeline", "write_run_parquet"),
    ("pipeline.write_with_metrics", "pipeline", "write_with_metrics"),
    ("pipeline.summary", "pipeline", "RunResult.summary"),
    ("plans.from_config", "plans.mapping_plan", "MappingPlan.from_config"),
    ("plans.apply", "plans.mapping_plan", "MappingPlan.apply"),
    ("operators.transform_collection", "operators.transform", "transform_collection"),
)

SPARK_COUNTERS = ("jobs", "tasks", "executor_run_s", "shuffle_mb", "spill_mb",
                  "json_parse_nodes")


def runs_spark_jobs(span: str) -> bool:
    """Spans whose Spark work is counted: the sinks and summary of the
    pipeline, and the build and action of each registry query."""
    return (span.startswith("pipeline.") and span != "pipeline.run") or span.startswith("query.")


class Tracer:
    """In-memory span recorder; ``enabled`` toggles recording so traced
    and untraced operations can alternate inside one run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: int | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._groups = 0
        self.spark = None  # the live session, set by the benchmark after get_spark

    # ---- spans ------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": self.op_id, "parent": parent["id"] if parent else None,
               "id": len(self.spans), "start": time.perf_counter()}
        self.spans.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            self._groups += 1
            rec["group"] = f"bench-span-{self._groups}"
            sc.setJobGroup(rec["group"], name)
            rec["exec0"] = _sql_store(self.spark).executionsCount()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack and "group" in self._stack[-1]:
                    sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
                else:
                    sc._jsc.clearJobGroup()
                if runs_spark_jobs(name):
                    rec.update(spark_work(self.spark, rec["group"], rec["exec0"]))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ---- install / uninstall ------------------------------------------

    def install(self) -> None:
        """Wrap every layer function in LAYERS wherever the package bound it."""
        for name, modname, attr in LAYERS:
            owner = importlib.import_module(f"{PKG}.{modname}")
            if "." in attr:
                cls_name, member = attr.split(".")
                cls = getattr(owner, cls_name)
                raw = cls.__dict__[member]
                if isinstance(raw, classmethod):
                    new = classmethod(self.wrap(name, raw.__func__))
                else:
                    new = self.wrap(name, raw)
                self._patched.append((cls, member, raw))
                setattr(cls, member, new)
                continue
            orig = getattr(owner, attr)
            new = self.wrap(name, orig)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(PKG)
                        and getattr(mod, attr, None) is orig):
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- output -------------------------------------------------------

    def write(self, path: str, header: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"header": header}) + "\n")
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in s.items() if k != "exec0"}) + "\n")


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def spark_work(spark, group: str, exec0: int) -> dict:
    """Jobs, tasks, executor time, shuffle, spill and JSON-parse plan
    nodes of one job group."""
    sc = spark.sparkContext
    jvm = sc._jvm
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = set(tracker.getJobIdsForGroup(group))
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    out["jobs"] = len(job_ids)
    run_ms = shuffle = spill = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            data = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                   sc._gateway.new_array(jvm.double, 0))
            it = data.iterator()
            while it.hasNext():
                d = it.next()
                out["tasks"] += d.numCompleteTasks()
                run_ms += d.executorRunTime()
                shuffle += d.shuffleReadBytes() + d.shuffleWriteBytes()
                spill += d.diskBytesSpilled() + d.memoryBytesSpilled()
    out["executor_run_s"] = run_ms / 1000.0
    out["shuffle_mb"] = shuffle / 2**20
    out["spill_mb"] = spill / 2**20
    sql = _sql_store(spark)
    total = sql.executionsCount()
    it = sql.executionsList(max(exec0 - 1, 0), total - exec0 + 2).iterator()
    while it.hasNext():
        e = it.next()
        if {int(j) for j in re.findall(r"\d+", e.jobs().keys().toString())} & job_ids:
            out["json_parse_nodes"] += e.physicalPlanDescription().count("from_json(")
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
