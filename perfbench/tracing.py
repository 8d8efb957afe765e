"""Span collector for the traced run.

Spans are recorded from the benchmark's side of the package boundary: the
collector wraps public functions of the package's modules at run time
(``install``) and puts them back afterwards (``uninstall``). The package
itself is not modified, and nothing is wrapped in an untraced run.

Each span gets its own Spark job group, so the jobs a span started are
exactly ``statusTracker().getJobIdsForGroup(span group)``; a span's stage
metrics (executor run time, shuffle and output bytes, task durations)
come from the driver's own UI REST endpoint on localhost.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager

SCHEMA = "perfbench.trace/1"

SPAN_KEYS = {"id", "name", "op", "parent", "start", "end", "self_ms",
             "group", "attrs", "jobs", "stages", "tasks"}
STAGE_KEYS = {"stage_id", "num_tasks", "executor_run_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "output_bytes", "task_ms"}


class Tracer:
    """In-memory spans: (name, start, end, parent, operation id)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._targets: list[tuple[object, str, str, object]] = []
        self._op = 0

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        sp = {
            "id": len(self.spans),
            "name": name,
            "op": parent["op"] if parent else self._op,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            "group": f"perfbench-{len(self.spans)}",
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp["group"], name)
        # the collector's own time in this span: bookkeeping + job-group calls
        sp["attrs"]["trace_ms"] = (time.perf_counter() - t0) * 1000.0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._set_group(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self._set_group(None, None)
            sp["end"] = time.time()
            sp["attrs"]["trace_ms"] += (time.perf_counter() - t1) * 1000.0

    def _set_group(self, group: str | None, desc: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    # -- wrapping public functions ----------------------------------------
    def target(self, owner, attr: str, name: str, on_result=None) -> None:
        """Register ``owner.attr`` to be wrapped in a span called ``name``;
        ``on_result(span, result)`` may record counts from the result."""
        self._targets.append((owner, attr, name, on_result))

    def install(self) -> None:
        for owner, attr, name, on_result in self._targets:
            orig = getattr(owner, attr)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, on_result))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def _wrap(self, fn, name: str, on_result):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        traced.__wrapped__ = fn
        return traced

    # -- spark attribution --------------------------------------------------
    def attribute_spark(self, rest_base: str | None) -> None:
        """Fill each span's jobs, stages and tasks. Call once, at exit."""
        _settle(self.sc)
        st = self.sc.statusTracker() if self.sc is not None else None
        seen: set[int] = set()
        for sp in self.spans:
            sp["jobs"], sp["stages"], sp["tasks"] = [], [], 0
            if st is None:
                continue
            for jid in sorted(st.getJobIdsForGroup(sp["group"])):
                info = st.getJobInfo(jid)
                sp["jobs"].append(jid)
                for sid in (info.stageIds if info else []):
                    # a later job lists a reused shuffle stage again: it ran
                    # once, in the first job that lists it
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = _stage(st, rest_base, sid)
                    if stage is not None:
                        sp["stages"].append(stage)
                        sp["tasks"] += stage["num_tasks"]

    def finish(self) -> None:
        """Compute self time: duration minus the children's durations
        (children run one after another on the single client thread)."""
        child_ms: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child_ms[sp["parent"]] = child_ms.get(sp["parent"], 0.0) + ms(sp)
        for sp in self.spans:
            sp["self_ms"] = ms(sp) - child_ms.get(sp["id"], 0.0)

    def document(self, **extra) -> dict:
        doc = {"schema": SCHEMA, "spans": self.spans, **extra}
        validate(doc)
        return doc


def ms(sp: dict) -> float:
    return (sp["end"] - sp["start"]) * 1000.0


def _settle(sc, timeout: float = 10.0) -> None:
    """Wait until no job is active, then give the UI listener a moment to
    record the last task ends (it runs behind the scheduler)."""
    if sc is None:
        return
    deadline = time.time() + timeout
    while sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.loads(resp.read())


def _stage(st, rest_base: str | None, sid: int) -> dict | None:
    """One stage's metrics, or None for a stage that never ran (skipped:
    its shuffle output was reused)."""
    info = st.getStageInfo(sid)
    if info is None or info.numTasks == 0:
        return None
    out = {"stage_id": sid, "num_tasks": info.numTasks,
           "executor_run_ms": None, "shuffle_read_bytes": None,
           "shuffle_write_bytes": None, "output_bytes": None, "task_ms": []}
    if rest_base is None:
        return out
    attempts = _get(f"{rest_base}/stages/{sid}")
    done = [a for a in attempts if a.get("status") == "COMPLETE"]
    if not done:
        return None if all(a.get("status") == "SKIPPED" for a in attempts) else out
    a = done[-1]
    out.update(
        executor_run_ms=a["executorRunTime"],
        shuffle_read_bytes=a["shuffleReadBytes"],
        shuffle_write_bytes=a["shuffleWriteBytes"],
        output_bytes=a["outputBytes"],
    )
    tasks = _get(
        f"{rest_base}/stages/{sid}/{a['attemptId']}/taskList?length=1000000"
    )
    out["task_ms"] = [t["duration"] for t in tasks if "duration" in t]
    return out


def rest_base(sc) -> str | None:
    """The application's REST root on the driver's UI, or None without UI."""
    url = sc.uiWebUrl
    if not url:
        return None
    port = url.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def validate(doc: dict) -> None:
    """Schema check of a trace document; raises ValueError."""
    if doc.get("schema") != SCHEMA:
        raise ValueError(f"schema is {doc.get('schema')!r}, want {SCHEMA!r}")
    ids = set()
    for sp in doc["spans"]:
        missing = SPAN_KEYS - set(sp)
        if missing:
            raise ValueError(f"span {sp.get('id')} lacks {sorted(missing)}")
        if not (sp["start"] <= sp["end"]):
            raise ValueError(f"span {sp['id']} ends before it starts")
        if sp["parent"] is not None and sp["parent"] not in ids:
            raise ValueError(f"span {sp['id']} has unknown parent {sp['parent']}")
        if sp["self_ms"] < -1e-6:
            raise ValueError(f"span {sp['id']} has negative self time")
        for stage in sp["stages"]:
            if STAGE_KEYS - set(stage):
                raise ValueError(f"span {sp['id']} stage lacks {sorted(STAGE_KEYS - set(stage))}")
        ids.add(sp["id"])


def median(xs):
    return statistics.median(xs) if xs else 0.0
