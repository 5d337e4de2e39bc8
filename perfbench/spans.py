"""Traced-run tooling: span recorder, event-log reader, self times.

A span is a named wall-clock interval with a parent.  While a span is
open, the Spark job group is set to the span id, so every job an
action issues inside it carries that id in the event log
(``spark.jobGroup.id``).  Jobs issued from other threads — the
micro-batches of a stream — carry no span id and are attributed by
submission time to the innermost span open then.  The event log is a
rolling ``eventlog_v2_*`` directory (Spark 4), read after the session
stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
import uuid

from stats import clip, interval_union_ms


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Records spans; a disabled tracer is a no-op with the same API."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": now_ms(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = now_ms()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp["id"], sp["name"], False)

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap a module function or a plain method in a span until
        :meth:`unpatch`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def swap(self, owner, attr: str, fn) -> None:
        """Replace ``owner.attr`` with a hand-written traced wrapper."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> self time (ms): its wall time minus the union of its
    children's intervals clipped to it, so overlapping children are
    not subtracted twice."""
    kids: dict[str, list] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        wall = sp["end"] - sp["start"]
        covered = interval_union_ms(clip(kids.get(sp["id"], []), sp["start"], sp["end"]))
        out[sp["id"]] = wall - covered
    return out


def descendants(spans: list[dict], root_id: str) -> set[str]:
    kids: dict[str, list[str]] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_TASK_FIELDS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill", "input")


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Parse every event file under ``log_dir`` (rolling
    ``eventlog_v2_*/events_*`` files, or plain single files) into
    job id -> {group, batch, submit, end, ok, stages, tasks,
    failed_tasks, <task metric sums>}."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        + [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = {
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "submit": float(ev.get("Submission Time", 0)),
                        "end": None,
                        "ok": None,
                        "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0,
                        "failed_tasks": 0,
                        **{k: 0 for k in _TASK_FIELDS},
                    }
                    jobs[ev["Job ID"]] = j
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = float(ev.get("Completion Time", 0))
                        j["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["failed_tasks"] += 1 if info.get("Failed") else 0
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["cpu_ns"] += m.get("Executor CPU Time", 0)
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs


def attribute_jobs(jobs: dict[int, dict], spans: list[dict]) -> dict[int, str | None]:
    """Job id -> span id: the job group when it names a span, else the
    innermost span open at submission (stream micro-batches)."""
    ids = {sp["id"] for sp in spans}
    out = {}
    for jid, j in jobs.items():
        if j["group"] in ids:
            out[jid] = j["group"]
            continue
        best = None
        for sp in spans:
            if sp["start"] <= j["submit"] <= sp["end"] and (
                best is None or sp["start"] >= best["start"]
            ):
                best = sp
        out[jid] = best["id"] if best else None
    return out


def engine_totals(jobs: list[dict]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "executor_run_s": sum(j["run_ms"] for j in jobs) / 1000.0,
        "executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1000.0,
        "shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
        "input_bytes": sum(j["input"] for j in jobs),
    }


def driver_gap_ms(span: dict, jobs: list[dict]) -> float:
    """Span wall time minus the union of its jobs' intervals."""
    iv = [(j["submit"], j["end"]) for j in jobs if j["end"] is not None]
    return (span["end"] - span["start"]) - interval_union_ms(
        clip(iv, span["start"], span["end"])
    )


# ---------------------------------------------------------------------------
# stream progress
# ---------------------------------------------------------------------------

STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def stream_phases(progress: list[dict]) -> dict[str, list[float]]:
    """Per-phase lists of ``durationMs`` over the batches that read rows."""
    out: dict[str, list[float]] = {p: [] for p in (*STREAM_PHASES, "triggerExecution")}
    out["rows"] = []
    for pr in progress:
        if not pr.get("numInputRows"):
            continue
        d = pr.get("durationMs") or {}
        for p in out:
            if p != "rows":
                out[p].append(float(d.get(p, 0.0)))
        out["rows"].append(float(pr["numInputRows"]))
    return out


def state_size(progress: list[dict]) -> tuple[float, float]:
    """(rows, bytes) held by the state stores after the last batch."""
    for pr in reversed(progress):
        ops = pr.get("stateOperators") or []
        if ops:
            return (
                float(sum(o.get("numRowsTotal", 0) for o in ops)),
                float(sum(o.get("memoryUsedBytes", 0) for o in ops)),
            )
    return 0.0, 0.0


class TraceView:
    """Spans of one traced operation joined with the jobs they issued."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict], root_id: str):
        keep = descendants(spans, root_id)
        self.spans = [sp for sp in spans if sp["id"] in keep]
        self.root = next(sp for sp in self.spans if sp["id"] == root_id)
        self.by_id = {sp["id"]: sp for sp in self.spans}
        self.self_ms = self_times(self.spans)
        owner = attribute_jobs(jobs, spans)
        self.jobs: dict[str, list[dict]] = {}
        for jid, sid in owner.items():
            if sid in keep:
                self.jobs.setdefault(sid, []).append(jobs[jid])

    def named(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(sp["end"] - sp["start"] for sp in self.named(name)) / 1000.0

    def self_s(self, name: str) -> float:
        return sum(self.self_ms[sp["id"]] for sp in self.named(name)) / 1000.0

    def subtree_jobs(self, sp: dict) -> list[dict]:
        ids = descendants(self.spans, sp["id"])
        return [j for i in ids for j in self.jobs.get(i, [])]

    def jobs_in(self, name: str) -> int:
        return sum(len(self.subtree_jobs(sp)) for sp in self.named(name))

    def jobs_in_span(self, sp: dict) -> int:
        return len(self.subtree_jobs(sp))

    def gap_ms(self, sp: dict) -> float:
        return driver_gap_ms(sp, self.subtree_jobs(sp))

    def under(self, parent_name: str, name: str) -> list[float]:
        """Durations (ms) of spans named ``name`` below a ``parent_name`` span."""
        out = []
        for sp in self.named(name):
            p = sp["parent"]
            while p is not None and p in self.by_id:
                if self.by_id[p]["name"] == parent_name:
                    out.append(sp["end"] - sp["start"])
                    break
                p = self.by_id[p]["parent"]
        return out

    def all_jobs(self) -> list[dict]:
        return self.subtree_jobs(self.root)
