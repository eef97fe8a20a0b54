"""Spans around the benchmark's calls into the engine, plus per-operation
counters from Spark's UI REST API.

Tracing off: ``span`` is a shared no-op context, so the untraced run pays
one attribute lookup per call. Tracing on: spans are kept in memory and the
REST status store is read once, after the timed loop; jobs, stages and SQL
executions are attributed to operations by submission time, which is exact
for a single closed-loop client (operations never overlap).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    op_id: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _op_id: int = -1  # -1: set-up, before the first operation
    _stack: list[str] = field(default_factory=list)

    def begin_op(self, op_id: int) -> None:
        self._op_id = op_id

    def span(self, name: str):
        if not self.enabled:
            return _NULL
        return self._record(name)

    @contextlib.contextmanager
    def _record(self, name: str):
        s = Span(self._op_id, name, time.time(), parent=self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def seconds(self, name: str, op_ids: set[int] | None = None) -> list[float]:
        return [
            s.end - s.start
            for s in self.spans
            if s.name == name and (op_ids is None or s.op_id in op_ids)
        ]


_NULL = contextlib.nullcontext()


# ---------------------------------------------------------------------------
# Spark UI REST API

_DUR = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.loads(r.read())


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    # e.g. "2026-10-17T03:19:21.123GMT"
    return (
        dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _metric_seconds(value: str) -> float:
    """Total of a SQL timing metric: the first duration after the header
    line (``"total (min, med, max ...)\\n12 ms (0 ms, ...)"``)."""
    m = _DUR.search(value.split("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


_OPERATOR_METRICS = {
    "agg_build_s": ("time in aggregation build",),
    "sort_s": ("sort time",),
    "join_build_s": ("time to build hash map", "time to build"),
}


def rest_counters(
    spark,
    windows: dict[int, tuple[float, float]],
    builds: list[tuple[int, float, float]],
) -> dict[int, dict]:
    """Per-operation counters for ``windows`` = {op_id: (start, end)};
    ``builds`` are the (op_id, start, end) plan-construction spans, whose
    jobs also count as ``build_jobs``."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    time.sleep(1.0)  # let the listener bus drain into the status store
    jobs = _get(base, "/jobs")
    stages = {s["stageId"]: s for s in _get(base, "/stages") if s["attemptId"] == 0}
    executions = _get(base, "/sql?details=true&offset=0&length=100000")

    def owner(t: float | None) -> int | None:
        if t is None:
            return None
        for op, (a, b) in windows.items():
            if a - 0.005 <= t <= b + 0.005:
                return op
        return None

    out = {op: dict.fromkeys(_ZERO, 0.0) for op in windows}
    job_op: dict[int, int] = {}
    for j in jobs:
        op = owner(_epoch(j.get("submissionTime")))
        if op is None:
            continue
        job_op[j["jobId"]] = op
        c = out[op]
        c["jobs"] += 1
        submitted = _epoch(j.get("submissionTime"))
        if any(o == op and a - 0.005 <= submitted <= b + 0.005 for o, a, b in builds):
            c["build_jobs"] += 1
        c["tasks"] += j.get("numTasks", 0)
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or st.get("status") == "SKIPPED":
                continue
            c["stages"] += 1
            c["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            c["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            c["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            c["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get(
                "diskBytesSpilled", 0
            )
    for ex in executions:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        ops = {job_op[i] for i in ids if i in job_op}
        if len(ops) != 1:
            continue
        c = out[ops.pop()]
        for node in ex.get("nodes", []):
            name = node.get("nodeName", "")
            if name.startswith("InMemoryTableScan"):
                c["cached_scans"] += 1
            for m in node.get("metrics", []):
                for key, names in _OPERATOR_METRICS.items():
                    if m.get("name") in names:
                        c[key] += _metric_seconds(m.get("value", ""))
    return out


_ZERO = (
    "jobs", "build_jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "cached_scans",
    *_OPERATOR_METRICS,
)
