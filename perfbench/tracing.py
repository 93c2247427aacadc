"""Spans and per-layer Spark metrics for the warehouse benchmark.

A span times one call the benchmark makes into a public engine function.
Spans live in memory (name, start, end, parent span, run id) and are
written out once, when the run ends.

With job-group tagging on, a span also tags every Spark job it triggers
with a job group named after the engine layer (``sc.setJobGroup``). After
the measured window, :func:`group_metrics` drains the listener bus and
reads the status REST API, attributing each stage's executor metrics to
the job group of the job that ran it. The engine is never modified: the
layer numbers come from the outside, through Spark's own accounting.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# Per-group metric suffixes, in the order they are reported.
SUFFIXES = (
    "wall_s", "cpu_s", "gc_s", "core_util", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_s", "input_rows", "output_bytes",
    "spill_bytes", "tasks", "failed_tasks",
)
GROUPS = (
    "sources.csv", "operators.audit", "plans.pipeline", "operators.anomalies",
    "plans.star", "suite",
)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None

    def bind(self, spark) -> None:
        self.spark = spark

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, tag: bool = False, **attrs):
        """Time the block as span ``name``. With ``tag``, every Spark job
        the block runs joins job group ``name`` (the engine layer)."""
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "thread": threading.get_ident(),
            "tagged": bool(tag),
            **attrs,
        }
        sc = self.spark.sparkContext
        outer = next((s["name"] for s in reversed(stack) if s["tagged"]), None)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        if tag:
            sc.setJobGroup(name, f"{self.run_id}:{name}")
            rec["tag_s"] = time.perf_counter() - rec["start"]
        try:
            yield rec
        finally:
            if tag:
                t = time.perf_counter()
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, f"{self.run_id}:{outer}")
                rec["tag_s"] += time.perf_counter() - t
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def current_tagged(self) -> bool:
        stack = self._stack()
        return bool(stack) and stack[-1]["tagged"]

    def self_time(self) -> dict[str, float]:
        """Seconds per group, excluding time spent in child spans (only
        tagged spans count: they are the ones whose jobs are attributed)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["tagged"]:
                own = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def group_metrics(spark) -> tuple[dict[str, dict], dict[str, list[dict]]]:
    """Executor metrics summed per job group, plus each group's jobs
    (id, submission/completion epoch seconds). Read from the status REST
    API after draining the listener bus, so every finished stage is
    visible; the run raises ``spark.ui.retainedJobs/Stages`` so none is
    evicted before this read."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages")
    stage_group: dict[int, str] = {}
    group_jobs: dict[str, list[dict]] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup")
        if not g:
            continue
        group_jobs.setdefault(g, []).append({
            "id": j["jobId"],
            "submitted": _epoch(j.get("submissionTime")),
            "completed": _epoch(j.get("completionTime")),
            "status": j.get("status"),
        })
        for sid in j.get("stageIds", []):
            stage_group.setdefault(sid, g)
    out: dict[str, dict] = {}
    for s in stages:
        g = stage_group.get(s["stageId"])
        if g is None or s.get("status") == "SKIPPED":
            continue
        m = out.setdefault(g, {
            "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "fetch_wait_s": 0.0, "input_rows": 0, "output_bytes": 0,
            "spill_bytes": 0, "tasks": 0, "failed_tasks": 0,
        })
        m["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        m["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        m["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        m["fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
        m["input_rows"] += s.get("inputRecords", 0)
        m["output_bytes"] += s.get("outputBytes", 0)
        m["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        m["tasks"] += s.get("numCompleteTasks", 0)
        m["failed_tasks"] += s.get("numFailedTasks", 0)
    return out, group_jobs


def _epoch(stamp: str | None) -> float | None:
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    if not stamp:
        return None
    t = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp()


def layer_metrics(tracer: Tracer, spark, cores: int) -> tuple[dict, dict]:
    """The ``G.<suffix>`` metrics for every group in :data:`GROUPS` (zero
    for groups the workload never ran), plus the raw per-group jobs."""
    per_group, group_jobs = group_metrics(spark)
    walls = tracer.self_time()
    out: dict[str, float] = {}
    for g in GROUPS:
        m = per_group.get(g, {})
        wall = walls.get(g, 0.0)
        cpu = m.get("cpu_s", 0.0)
        vals = {
            "wall_s": wall,
            "cpu_s": cpu,
            "gc_s": m.get("gc_s", 0.0),
            "core_util": cpu / (wall * cores) if wall > 0 else 0.0,
            **{k: m.get(k, 0) for k in SUFFIXES if k not in (
                "wall_s", "cpu_s", "gc_s", "core_util")},
        }
        for k in SUFFIXES:
            out[f"{g}.{k}"] = vals[k]
    return out, group_jobs


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (
        ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("core_util", "ratio"),
        ("_ratio", "ratio"), ("_amp", "ratio"), ("_rows", "rows"), ("_mb", "MB"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"
