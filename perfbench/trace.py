"""Traced-run support: in-memory spans recorded from the benchmark's own
code around calls into each library layer, plus Spark's SQL and stage
metrics per request from the UI REST API.

Span names and the layer each belongs to:

- ``request``            one per timed request; in ``client_mix`` it wraps
                         exactly one ``client.QdrantSparkClient`` call, so
                         its self time there is the client layer's
- ``query.plan``         ``query.QueryPlanner.plan`` / ``plan_groups`` and
                         ``query.query_batch`` (plan building, driver side)
- ``spark.exec``         DataFrame actions and parquet writes (Spark jobs)
- ``ingest.apply_batch`` ``streaming.ingest.ParquetPointsSink.apply_batch``
- ``ann.fit`` / ``ann.persist`` / ``ann.query``  ``operators.ann`` index
                         build, persist, and the IVF-routed query batch

A layer's self time is its spans' duration minus the time covered by
their child spans. Every request runs under its own Spark job group, so
SQL executions and stages are attributed back to it.
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from typing import Any

LAYER_OF = {"request": "harness", "spark.exec": "spark",
            "query.plan": "query"}


def layer_of(name: str) -> str:
    return LAYER_OF.get(name, name.split(".")[0])


class Tracer:
    """Spans (name, start, end, parent, request) kept in memory; a no-op
    until ``enabled`` is set."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.request: str | None = None
        self.py4j_calls = 0
        self._restore: list[tuple[Any, str, Any]] = []
        self._sc = None

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "request": self.request, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if job_group:
            self._set_group(f"{self.request}/{name}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if job_group:
                self._set_group(self.request)

    @contextmanager
    def request_span(self, rid: str, kind: str):
        """Root span of one timed request; its Spark jobs run under job
        group ``rid``."""
        if not self.enabled:
            yield
            return
        self.request = rid
        self._set_group(rid)
        rec_id = len(self.spans)
        try:
            with self.span("request"):
                self.spans[rec_id]["kind"] = kind
                yield
        finally:
            self._set_group("idle")
            self.request = None

    def _set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    # -- wrappers around library entry points --------------------------------

    def _wrap(self, owner: Any, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def _count(self, owner: Any, attr: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def counted(*a, **kw):
            if tracer.enabled:
                tracer.py4j_calls += 1
            return orig(*a, **kw)

        setattr(owner, attr, counted)
        self._restore.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Start tracing: wrap planner, DataFrame actions and writes, and
        count py4j round trips."""
        import py4j.clientserver
        import py4j.java_gateway
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from qdrant_spark import query

        self._sc = spark.sparkContext
        self._wrap(query.QueryPlanner, "plan", "query.plan")
        self._wrap(query.QueryPlanner, "plan_groups", "query.plan")
        self._wrap(query, "query_batch", "query.plan")
        for action in ("collect", "count", "take", "toPandas",
                       "toLocalIterator"):
            self._wrap(DataFrame, action, "spark.exec")
        for action in ("parquet", "save"):
            self._wrap(DataFrameWriter, action, "spark.exec")
        self._count(py4j.clientserver.ClientServerConnection, "send_command")
        self._count(py4j.java_gateway.GatewayConnection, "send_command")
        self._set_group("idle")
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- derived views -------------------------------------------------------

    def self_times(self) -> dict[str, dict[str, float]]:
        """request id -> layer -> self seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s, c in zip(self.spans, child):
            lay = layer_of(s["name"])
            per = out.setdefault(s["request"], {})
            per[lay] = per.get(lay, 0.0) + (s["end"] - s["start"]) - c
        return out

    def durations(self, name: str) -> dict[str, float]:
        """request id -> total seconds in spans called ``name``."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name:
                out[s["request"]] = out.get(s["request"], 0.0) + s["end"] - s["start"]
        return out


# -- Spark UI REST API -------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Spark SQL metric string -> number (bytes, seconds or a count). For
    'total (min, med, max ...)' strings the total is used."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetch_spark(spark) -> dict[str, Any]:
    """Jobs, stages and SQL executions (with node metrics) of this app."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    # the status store is filled by an async listener: wait until every
    # job it knows about has finished
    for _ in range(50):
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.2)
    return {
        "jobs": jobs,
        "stages": _get(f"{base}/stages"),
        "sql": _get(f"{base}/sql?details=true&planDescription=false"
                    f"&offset=0&length=1000000"),
    }


def per_request_spark(raw: dict[str, Any]) -> dict[str, dict[str, float]]:
    """Group Spark's own metrics by request id (the job group, or its
    ``rid/step`` sub-group)."""
    stages = {(s["stageId"], s["attemptId"]): s for s in raw["stages"]}
    by_stage: dict[int, list] = {}
    for s in stages.values():
        by_stage.setdefault(s["stageId"], []).append(s)
    out: dict[str, dict[str, float]] = {}

    def acc(rid: str, key: str, v: float) -> None:
        d = out.setdefault(rid, {})
        d[key] = d.get(key, 0.0) + v

    for j in raw["jobs"]:
        group = j.get("jobGroup") or ""
        rid = group.split("/")[0]
        if not rid.startswith("r"):
            continue
        acc(rid, "spark_jobs", 1)
        for sid in j["stageIds"]:
            for s in by_stage.get(sid, []):
                if s["status"] == "SKIPPED":
                    continue
                acc(rid, "stage_run_s", s["executorRunTime"] / 1e3)
                acc(rid, "stage_cpu_s", s["executorCpuTime"] / 1e9)
                acc(rid, "stage_gc_s", s["jvmGcTime"] / 1e3)
                acc(rid, "shuffle_records", s["shuffleWriteRecords"])
                acc(rid, "shuffle_bytes", s["shuffleWriteBytes"])
                if s["inputRecords"] > 0:
                    acc(rid, "scan_tasks", s["numTasks"])
    for q in raw["sql"]:
        group = q.get("description") or ""
        rid, _, step = group.partition("/")
        if not rid.startswith("r"):
            continue
        acc(rid, "sql_executions", 1)
        scan_rows = 0.0
        python = False
        for n in q.get("nodes", []):
            ms = {m["name"]: metric_value(m["value"]) for m in n["metrics"]}
            if n["nodeName"].startswith("Scan"):
                scan_rows += ms.get("number of output rows", 0.0)
                acc(rid, "scan_bytes", ms.get("size of files read", 0.0))
                acc(rid, "scan_files", ms.get("number of files read", 0.0))
                acc(rid, "scan_time_s", ms.get("scan time", 0.0))
            if "time to run Python workers" in ms:
                python = True
                acc(rid, "kernel_run_s", ms["time to run Python workers"])
                acc(rid, "kernel_init_s",
                    ms.get("time to initialize Python workers", 0.0)
                    + ms.get("time to start Python workers", 0.0))
                acc(rid, "kernel_bytes_in",
                    ms.get("data sent to Python workers", 0.0))
                acc(rid, "kernel_rows_out",
                    ms.get("number of output rows", 0.0))
        acc(rid, "scan_rows", scan_rows)
        if python:
            acc(rid, "kernel_rows_in", scan_rows)
        if step:
            acc(rid, f"scan_rows:{step}", scan_rows)
    return out
