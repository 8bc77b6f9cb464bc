"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark's own code around its calls into the
program's layers (plan builders, ``catalog.tables.load``, the catalog
writers, the streaming drain, Spark actions). They are kept in memory and
written out when the run ends. Engine-side numbers come from Spark's local
UI REST API (``/jobs``, ``/stages``, ``/sql``), attributed to ops through
the job group each phase runs under (``<op_id>:<phase>``).
"""

from __future__ import annotations

import contextlib
import json
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from urllib.parse import urlparse

# SQL-metric name -> per-layer metric and unit conversion. Python-worker
# metrics appear on MapInPandas / ArrowEvalPython / FlatMapGroupsInPandas
# nodes; summing by metric name covers every Python-stage node kind.
PYTHON_SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0 / 2**20, "KiB": 1.0 / 2**10, "MiB": 1.0, "GiB": 2.0**10,
    "TiB": 2.0**20,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_sql_metric(text: str) -> float:
    """Total of a Spark SQL metric string, in seconds for durations and MiB
    for sizes. Multi-task metrics read ``total (min, med, max ...)\\n<total>
    (...)``; single values read ``<value>``."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op_id": op_id}
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_time_table(self, op_ids: set[str] | None = None) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds (duration
        minus the part of the interval its child spans cover)."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        table: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None or (op_ids is not None and s["op_id"] not in op_ids):
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(
                (self.spans[c]["start"], self.spans[c]["end"]) for c in children[i]
            ):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += s["end"] - s["start"] - covered
        return table

    def totals(self, name: str, op_ids: set[str]) -> tuple[int, float]:
        """Count and summed duration of spans called ``name`` in ``op_ids``."""
        spans = [s for s in self.spans if s["name"] == name and s["op_id"] in op_ids]
        return len(spans), sum(s["end"] - s["start"] for s in spans)


@contextlib.contextmanager
def patched(module, attr: str, wrapper_factory, modules_prefix: str):
    """Replace ``module.attr`` and every already-imported binding of the same
    function object (``from module import attr``) under ``modules_prefix``
    with ``wrapper_factory(original)``; restore all on exit."""
    original = getattr(module, attr)
    wrapper = wrapper_factory(original)
    swapped = []
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if name.startswith(modules_prefix) and getattr(mod, attr, None) is original:
            setattr(mod, attr, wrapper)
            swapped.append(mod)
    try:
        yield
    finally:
        for mod in swapped:
            setattr(mod, attr, original)


class SparkRest:
    """Reader for the local Spark UI REST API of one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def engine_metrics(self) -> dict[str, dict[str, dict[str, float]]]:
        """Per job group (``<op_id>:<phase>``): job, stage and task counts,
        stage task metrics, and Python-worker SQL metrics."""
        jobs = self.get("/jobs")
        stages = defaultdict(list)
        for st in self.get("/stages?details=true"):
            if st["status"] != "SKIPPED":
                stages[st["stageId"]].append(st)
        executions = self.get("/sql?details=true&planDescription=false&length=100000")
        by_job_group: dict[int, str] = {}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for job in jobs:
            group = job.get("jobGroup")
            if not group:
                continue
            by_job_group[job["jobId"]] = group
            g = out[group]
            g["jobs"] += 1
            for sid in job["stageIds"]:
                for st in stages[sid]:
                    g["stages"] += 1
                    g["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    g["failed_tasks"] += st["numFailedTasks"]
                    g["executor_run_s"] += st["executorRunTime"] / 1e3
                    g["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    g["gc_s"] += st["jvmGcTime"] / 1e3
                    g["fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
                    g["shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                    g["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                    g["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20
                    g["input_mb"] += st["inputBytes"] / 2**20
                    g["scheduler_delay_s"] += sum(
                        t.get("schedulerDelay", 0) for t in (st.get("tasks") or {}).values()
                    ) / 1e3
        for ex in executions:
            job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get(
                "runningJobIds", [])
            groups = {by_job_group[j] for j in job_ids if j in by_job_group}
            if len(groups) != 1:
                continue
            g = out[groups.pop()]
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = PYTHON_SQL_METRICS.get(metric["name"])
                    if key:
                        g[key] += parse_sql_metric(metric["value"])
        return out
