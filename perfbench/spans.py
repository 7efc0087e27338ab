"""Spans, Spark job attribution and the small statistics the report uses.

A span is one call into the engine's public API, opened by the
benchmark around that call.  While a span is open its id is the Spark
job group, so every job the call launches can be attributed to it
afterwards: job, stage and task counts from ``statusTracker()``, task
run time, shuffle and spill from the driver UI's REST endpoint on
localhost.  Spans stay in memory and are written once, when the run
ends.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import re
import time
import urllib.request
from contextlib import contextmanager


def tail_percentile(n: int, cap: float = 0.9, beyond: int = 10) -> float | None:
    """Highest percentile (at most ``cap``) that ``n`` samples support
    with at least ``beyond`` samples above it; None when not even the
    median is supported."""
    if n <= 0:
        return None
    q = min(cap, 1.0 - beyond / n)
    return q if q >= 0.5 else None


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


class Tracer:
    """In-memory span recorder.  Spans are recorded only while ``on``;
    otherwise ``span`` is a no-op, so untraced cycles pay nothing."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.on = False
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"{self.run_id}-{len(self.spans)}",
               "start": time.time(), "end": None, "returned": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if rec["returned"] is None:
                rec["returned"] = rec["end"]
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def returned(self) -> None:
        """Mark the innermost open span's public call as returned: the
        rest of the span consumes the result."""
        if self.on and self._stack:
            self._stack[-1]["returned"] = time.time()


# ----------------------------------------------------------- Spark side

def _ui_time(s: str | None) -> float | None:
    if not s:
        return None
    d = _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return d.replace(tzinfo=_dt.timezone.utc).timestamp()


class SparkUI:
    """Read-only client of the driver UI's REST API (localhost only)."""

    def __init__(self, sc):
        port = re.search(r":(\d+)$", sc.uiWebUrl or "")
        if port is None:
            raise RuntimeError(f"no Spark UI to trace through: {sc.uiWebUrl!r}")
        self.base = (f"http://localhost:{port.group(1)}/api/v1/"
                     f"applications/{sc.applicationId}")

    def get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.loads(r.read())


def _join_rows(executions: list[dict], job_ids: set[int]) -> int:
    """Output rows of every join node in the SQL executions that ran
    ``job_ids``."""
    rows = 0
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ran & job_ids:
            continue
        for node in ex.get("nodes", []):
            if "Join" not in node.get("nodeName", ""):
                continue
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    digits = re.sub(r"[^0-9]", "", str(m.get("value")))
                    rows += int(digits or 0)
    return rows


def attribute(sc, ui: SparkUI, spans: list[dict], want_sql: bool = False,
              settle_s: float = 10.0) -> None:
    """Fill each span's job, task, run-time, shuffle and spill fields
    from the job groups it (and any streaming query started in it,
    listed in ``span["stream_runs"]``) launched itself, and its gap: the
    span wall during which no job of it or of its child spans ran."""
    st = sc.statusTracker()
    job_ids: dict[int, set[int]] = {}
    for s in spans:
        ids: set[int] = set(st.getJobIdsForGroup(s["group"]))
        for run_id in s.get("stream_runs", []):
            ids |= set(st.getJobIdsForGroup(run_id))
        job_ids[s["id"]] = ids
    wanted = set().union(*job_ids.values()) if job_ids else set()
    # the UI store is fed asynchronously: wait until it has every job
    deadline = time.time() + settle_s
    while True:
        jobs = {j["jobId"]: j for j in ui.get("jobs")}
        done = all(j in jobs and jobs[j]["status"] != "RUNNING" for j in wanted)
        if done or time.time() > deadline:
            break
        time.sleep(0.1)
    stages: dict[int, dict] = {}
    for sd in ui.get("stages"):
        if sd["status"] == "COMPLETE":
            stages.setdefault(sd["stageId"], sd)
    executions = ui.get("sql?details=true&planDescription=false") if want_sql else []
    # a stage re-used by a later job (a skipped shuffle map stage keeps
    # its id) belongs to the first job that lists it
    owner: dict[int, int] = {}
    for j in sorted(wanted):
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info is not None else []):
            owner.setdefault(sid, j)

    def interval(j: int, end: float):
        rest = jobs.get(j)
        a = _ui_time(rest.get("submissionTime")) if rest else None
        return None if a is None else (a, _ui_time(rest.get("completionTime")) or end)

    # the gap of a span counts its children's jobs as running
    subtree = {s["id"]: set(job_ids[s["id"]]) for s in spans}
    for s in reversed(spans):           # children are recorded after parents
        if s["parent"] in subtree:
            subtree[s["parent"]] |= subtree[s["id"]]
    for s in spans:
        ids = job_ids[s["id"]]
        stage_ids = {sid for sid, j in owner.items() if j in ids}
        intervals = [iv for j in subtree[s["id"]]
                     if (iv := interval(j, s["end"])) is not None]
        tasks = 0
        for sid in stage_ids:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
        ran = [stages[i] for i in stage_ids if i in stages]
        s["jobs"] = len(ids)
        s["tasks"] = tasks
        s["task_run_s"] = sum(x.get("executorRunTime", 0) for x in ran) / 1000
        s["shuffle_write_bytes"] = sum(x.get("shuffleWriteBytes", 0) for x in ran)
        s["spill_bytes"] = sum(x.get("memoryBytesSpilled", 0)
                               + x.get("diskBytesSpilled", 0) for x in ran)
        s["input_records"] = sum(x.get("inputRecords", 0) for x in ran)
        s["gap_s"] = (s["end"] - s["start"]) - covered(intervals, s["start"],
                                                         s["end"])
        if want_sql:
            s["join_rows"] = _join_rows(executions, ids)
