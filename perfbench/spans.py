"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here lives in the benchmark's own files: the program is
instrumented by wrapping, from the outside, the public functions of
its modules and the DataFrame read/write/count entry points it calls.
Nothing is wrapped in an untraced run.

- A span has a name, a layer, start and end (``perf_counter`` seconds),
  a parent span and the identifier of the benchmark operation it
  belongs to (one per timed operation: a pipeline run, an ingest
  batch, one query in one pass). Spans stay in memory and are written
  once, when the run ends.
- While a span is open its id is the ``perfbench.span`` local property
  of the Spark thread, so every Spark job records in the event log the
  innermost span that launched it. ``spark_jobs`` reads the log back
  and ``spark_summary`` totals the executor work per span set.
- A layer's self time is the sum over its spans of each span's
  duration minus the part its child spans cover.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrameReader, DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame

SPAN_PROPERTY = "perfbench.span"
PACKAGE = "serverless_smurf_etl_and_analytics_spark"


class Tracer:
    """Spans, counts and the patches that produce them, for one run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = ""
        self.sc = None
        # output root of the daily pipeline: reads and writes below it
        # are attributed to the top-level table directory they target
        self.pipeline_out: str | None = None
        self._undo: list = []

    # -- spans -------------------------------------------------------
    def _set_property(self, sid) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, sid)

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": str(len(self.spans)),
            "name": name,
            "layer": layer or name.split(".")[0],
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        sp.update(attrs)
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_property(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self.stack.pop()
            self._set_property(self.stack[-1]["id"] if self.stack else None)

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self.stack)

    def wrap(self, name: str, layer: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        for attr in ("__module__", "__name__", "__qualname__", "__doc__"):
            setattr(traced, attr, getattr(fn, attr))
        traced.__dict__.update(fn.__dict__)
        return traced

    # -- instrumentation ---------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def instrument_module(self, module, layer: str) -> None:
        """Wrap every public plain function defined in ``module``, and
        rebind each name in the package's modules that imported one of
        them directly. Functions that carry UDF attributes are left
        alone: they run on executors."""
        targets = {}
        for name, obj in list(vars(module).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != module.__name__
                or hasattr(obj, "evalType")
            ):
                continue
            wrapped = self.wrap(f"{layer}.{name}", layer, obj)
            targets[id(obj)] = wrapped
            self._patch(module, name, wrapped)
        for mod in list(sys.modules.values()):
            if mod is module or not getattr(mod, "__name__", "").startswith(
                PACKAGE
            ):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in targets and inspect.isfunction(obj):
                    self._patch(mod, name, targets[id(obj)])

    def _table_of(self, path) -> str | None:
        if self.pipeline_out is None or not isinstance(path, str):
            return None
        rel = os.path.relpath(os.path.abspath(path), self.pipeline_out)
        if rel.startswith(".."):
            return None
        return rel.split(os.sep)[0]

    def instrument_io(self) -> None:
        """Attribute Spark reads, writes and counts below the pipeline
        output root to the table directory they target."""
        tracer = self

        def writer(method):
            def traced(self_w, path, *args, **kwargs):
                table = tracer._table_of(path)
                if table is None:
                    return method(self_w, path, *args, **kwargs)
                with tracer.span(f"pipeline.{table}.write",
                                 f"pipeline.{table}"):
                    return method(self_w, path, *args, **kwargs)
            return traced

        def reader(method):
            def traced(self_r, *paths, **kwargs):
                table = tracer._table_of(paths[0]) if paths else None
                if table is None:
                    return method(self_r, *paths, **kwargs)
                tracer.counts["pipeline.partitions_listed"] += sum(
                    1 for _d, _s, files in os.walk(paths[0]) if files
                )
                with tracer.span(f"pipeline.{table}.readback",
                                 f"pipeline.{table}"):
                    return method(self_r, *paths, **kwargs)
            return traced

        count = DataFrame.count

        def traced_count(self_df):
            if tracer.inside("ingest.ingest"):
                with tracer.span("ingest.count", "ingest"):
                    return count(self_df)
            if tracer.inside("pipeline.run_daily_pipeline"):
                files = self_df.inputFiles()
                table = tracer._table_of(
                    files[0].removeprefix("file:") if files else None
                )
                if table is not None:
                    with tracer.span(f"pipeline.{table}.readback",
                                     f"pipeline.{table}"):
                        return count(self_df)
            return count(self_df)

        for m in ("parquet", "json", "text"):
            self._patch(DataFrameWriter, m,
                        writer(getattr(DataFrameWriter, m)))
        for m in ("parquet", "json"):
            self._patch(DataFrameReader, m,
                        reader(getattr(DataFrameReader, m)))
        self._patch(DataFrame, "count", traced_count)

    def restore(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # -- summaries ---------------------------------------------------
    def children(self) -> dict[str, list[dict]]:
        kids: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        return kids

    def self_times(self, spans: list[dict] | None = None) -> dict[str, float]:
        """Self time per layer over ``spans`` (default: all)."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for s in spans if spans is not None else self.spans:
            covered = union([(c["start"], c["end"]) for c in kids[s["id"]]])
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def total(self, match) -> float:
        """Summed duration of the spans that ``match`` (a span name, or
        a predicate on a span) and are not nested inside another
        matching span."""
        if isinstance(match, str):
            name = match
            match = lambda s: s["name"] == name  # noqa: E731
        by_id = {s["id"]: s for s in self.spans}
        t = 0.0
        for s in self.spans:
            if not match(s):
                continue
            p = s["parent"]
            while p is not None and not match(by_id[p]):
                p = by_id[p]["parent"]
            if p is None:
                t += s["end"] - s["start"]
        return t

    def descendants(self, root_ids: set[str]) -> set[str]:
        """``root_ids`` plus every span below them."""
        kids = self.children()
        out, todo = set(), list(root_ids)
        while todo:
            sid = todo.pop()
            if sid not in out:
                out.add(sid)
                todo.extend(c["id"] for c in kids[sid])
        return out


def union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def event_log_conf(log_dir: str) -> str:
    """``SMURF_EXTRA_CONF`` entries that make Spark write an
    uncompressed event log into ``log_dir``."""
    return (
        "spark.eventLog.enabled=true;"
        f"spark.eventLog.dir=file://{os.path.abspath(log_dir)};"
        "spark.eventLog.compress=false;"
        "spark.eventLog.rolling.enabled=false"
    )


def spark_jobs(log_dir: str, app_id: str) -> list[dict]:
    """Jobs of application ``app_id`` from its event log, each with the
    span that launched it and its stages' task totals."""
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        return []
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "id": ev["Job ID"],
                    "span": props.get(SPAN_PROPERTY),
                    "description": props.get("spark.job.description") or "",
                    "start_ms": ev["Submission Time"],
                    "end_ms": ev["Submission Time"],
                    "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                    "delay_ms": 0, "shuffle_read": 0, "shuffle_write": 0,
                    "spill": 0,
                }
                jobs[job["id"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job["id"])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if job is not None:
                    job["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                info = ev["Task Info"]
                run = m.get("Executor Run Time", 0)
                job["tasks"] += 1
                job["run_ms"] += run
                job["cpu_ns"] += m.get("Executor CPU Time", 0)
                job["delay_ms"] += max(
                    0,
                    info["Finish Time"] - info["Launch Time"] - run
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0),
                )
                sr = m.get("Shuffle Read Metrics", {})
                job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return sorted(jobs.values(), key=lambda j: j["id"])


def spark_summary(
    jobs: list[dict], wall: tuple[float, float] | None = None
) -> dict[str, float]:
    """``spark.*`` totals over ``jobs``. With ``wall`` (epoch seconds),
    ``spark.driver_only_s`` is the part of it in which no job ran."""
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.executor_run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "spark.scheduler_delay_s": sum(j["delay_ms"] for j in jobs) / 1e3,
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spark.spill_bytes": sum(j["spill"] for j in jobs),
        "spark.listing_jobs": sum(
            "Listing leaf files" in j["description"] for j in jobs
        ),
    }
    if wall is not None:
        a, b = wall
        busy = union([
            (max(a, j["start_ms"] / 1e3), min(b, j["end_ms"] / 1e3))
            for j in jobs
            if j["end_ms"] / 1e3 > a and j["start_ms"] / 1e3 < b
        ])
        out["spark.driver_only_s"] = (b - a) - busy
    return out
