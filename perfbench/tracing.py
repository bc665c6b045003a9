"""Tracing from outside the engine.

Three sources, none of which changes the engine's code:

- `Spans`: wall-clock spans around calls into each layer's public
  functions, installed by rebinding module attributes (`wrap_callers`);
- `RestReader`: Spark's monitoring REST API (jobs, stages, SQL plan
  graph) read over HTTP from the driver UI;
- `progress_listener`: a StreamingQueryListener that keeps each
  micro-batch's progress record.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Spans:
    """In-memory span recorder. A span has a name, start, end, parent
    and a trace id shared by every span of one rep or request. A span
    opened on a thread with no open span gets `root` (the current rep's
    span) as parent, so work on engine-side threads such as the
    streaming query thread still lands under its rep. Wrapped functions
    called outside any rep or traced request record nothing."""

    def __init__(self):
        self.spans: list[dict] = []
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: dict | None = None  # default parent for bare threads

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, trace_id: str | None = None) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        span = {
            "id": self._new_id(),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self._stack() and self.root is None:
                return fn(*args, **kwargs)  # outside any traced rep/request
            span = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def wrap_callers(spans: Spans, module, attr: str, name: str) -> int:
    """Wrap `module.attr` wherever a caller resolves it: the defining
    module and every loaded engine module that bound the same object by
    `from ... import`. Returns the number of bindings replaced."""
    original = getattr(module, attr)
    wrapped = spans.wrap(name, original)
    n = 0
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(
            "data_pipeline2_spark"
        ):
            continue
        for key, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, key, wrapped)
                n += 1
    return n


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval covered by its children (children may overlap when they
    ran on other threads, so the union is subtracted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
        )
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---- Spark monitoring REST API ----


def _epoch(ts: str | None) -> float | None:
    """'2026-01-01T00:00:00.123GMT' → epoch seconds."""
    if not ts:
        return None
    return (
        datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class RestReader:
    """Reads one application's jobs, stages and SQL executions from the
    driver UI's REST API (`/api/v1/applications/<app>/...`)."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def snapshot(self) -> dict:
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        sql = self._get("/sql?details=true&planDescription=false&length=100000")
        for j in jobs:
            j["_t0"] = _epoch(j.get("submissionTime"))
            j["_t1"] = _epoch(j.get("completionTime"))
        return {
            "jobs": jobs,
            "stages": {(s["stageId"], s["attemptId"]): s for s in stages},
            "sql": sql,
        }


PYTHON_NODES = ("Python", "InPandas", "InArrow")


def session_metrics(snap: dict, jobs: list[dict], wall_s: float, cores: int) -> dict:
    """The `session`, `sources` and plan-graph metrics of one rep or
    request, from the jobs attributed to it."""
    ids = {j["jobId"] for j in jobs}
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    done = [
        s for (sid, _a), s in snap["stages"].items()
        if sid in stage_ids and s.get("status") == "COMPLETE"
    ]
    busy = union_length([(j["_t0"], j["_t1"]) for j in jobs if j["_t0"] and j["_t1"]])
    run_s = sum(s.get("executorRunTime", 0) for s in done) / 1e3
    execs = [
        e for e in snap["sql"]
        if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                     + e.get("runningJobIds", []))
    ]
    nodes = [n.get("nodeName", "") for e in execs for n in e.get("nodes", [])]
    return {
        "session.jobs": len(jobs),
        "session.stages": len(done),
        "session.stages_skipped": sum(j.get("numSkippedStages", 0) for j in jobs),
        "session.tasks": sum(s.get("numCompleteTasks", 0) for s in done),
        "session.tasks_failed": sum(s.get("numFailedTasks", 0) for s in done),
        "session.job_busy_s": busy,
        "session.driver_gap_s": max(0.0, wall_s - busy),
        "session.executor_run_s": run_s,
        "session.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in done) / 1e9,
        "session.gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1e3,
        "session.core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "session.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in done),
        "session.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in done),
        "session.shuffle_fetch_wait_s": sum(
            s.get("shuffleFetchWaitTime", 0) for s in done
        ) / 1e3,
        "session.spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in done
        ),
        "sources.input_bytes": sum(s.get("inputBytes", 0) for s in done),
        "sources.input_records": sum(s.get("inputRecords", 0) for s in done),
        "sources.scan_nodes": sum(1 for n in nodes if n.startswith("Scan")),
        "plans.exchanges": sum(1 for n in nodes if n == "Exchange"),
        "plans.broadcast_exchanges": sum(1 for n in nodes if n == "BroadcastExchange"),
        "plans.python_eval_nodes": sum(
            1 for n in nodes if any(p in n for p in PYTHON_NODES)
        ),
    }


def jobs_between(snap: dict, t0: float, t1: float) -> list[dict]:
    """Jobs submitted inside [t0, t1] (REST times have ms resolution)."""
    return [
        j for j in snap["jobs"]
        if j["_t0"] is not None and t0 - 0.002 <= j["_t0"] <= t1 + 0.002
    ]


def jobs_in_group(snap: dict, group: str) -> list[dict]:
    return [j for j in snap["jobs"] if j.get("jobGroup") == group]


# ---- Structured Streaming ----


def progress_listener(sink: list):
    """A StreamingQueryListener that appends (arrival time, progress
    dict) for every micro-batch and marks query start/termination."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            sink.append({"event": "started", "t": time.time()})

        def onQueryProgress(self, event):
            sink.append(
                {"event": "progress", "t": time.time(),
                 "progress": json.loads(event.progress.json)}
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            sink.append({"event": "terminated", "t": time.time()})

    return Listener()


def streaming_metrics(events: list[dict]) -> dict:
    prog = [e["progress"] for e in events if e["event"] == "progress"]
    batches = [p for p in prog if p.get("numInputRows", 0) > 0]
    started = [e["t"] for e in events if e["event"] == "started"]
    ended = [e["t"] for e in events if e["event"] == "terminated"]

    def dur(key):
        return float(sum(p.get("durationMs", {}).get(key, 0) for p in prog))

    return {
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in prog),
        "streaming.stream_s": (max(ended) - min(started)) if started and ended else 0.0,
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.query_planning_ms": dur("queryPlanning"),
    }
