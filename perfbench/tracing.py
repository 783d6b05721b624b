"""Spans recorded around the benchmark's calls into the engine, and
Spark event-log figures attributed to them.

A span is ``{name, start, end, parent, op_id}`` with wall-clock
seconds. Spans stay in memory and are written out once, at exit.

Spark jobs are attributed to spans in two ways. Jobs submitted from
the benchmark's own thread carry the job group the benchmark set for
the span (``perfbench:<op_id>/<phase>``). Jobs submitted from threads
the engine starts itself (the fold pool inside
``update_event_summaries``, the streaming micro-batch thread) carry no
group of ours, because PySpark local properties are per thread; those
are attributed to the shortest top-level span whose interval holds the
job's submission time.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. ``enabled=False`` makes every call a no-op
    except the wall-clock measurement the caller asked for."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        rec = {"name": name, "start": time.time(), "end": None}
        if not self.enabled:
            yield rec
            rec["end"] = time.time()
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec["parent"] = stack[-1]["name"] if stack else None
        rec["op_id"] = op_id or self.op_id
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def paused(self, name: str, op_id: str):
        """One span ``name`` around the block, and no spans inside it:
        the untraced passes of a traced run. The single span keeps the
        block's jobs attributable by time window."""
        with self.span(name, op_id=op_id):
            was, self.enabled = self.enabled, False
            try:
                yield
            finally:
                self.enabled = was

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a version that records a span
        around each call. Only the traced run calls this."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(span_name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def parse_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from every event-log file under
    ``log_dir`` (Spark 4 writes a directory of rolled files per app).
    Returns ``{"jobs": {job_id: job}}`` where a job holds
    its group, submission time (s), stage ids and summed task metrics
    of the stages that ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    paths = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if not f.startswith((".", "appstatus"))  # checksums, status markers
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": set(),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _zero_stage())
                    st["completed"] = True
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _zero_stage())
                    st["tasks"] += 1
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    out = m.get("Output Metrics") or {}
                    st["bytes_written"] += out.get("Bytes Written", 0)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and st["completed"]:
            jobs[jid]["stages"].add(sid)
    for job in jobs.values():
        tot = _zero_stage()
        for sid in job["stages"]:
            for k in ("tasks", "cpu_ns", "gc_ms", "spill", "shuffle_read",
                      "shuffle_write", "bytes_written"):
                tot[k] += stages[sid][k]
        job.update({k: v for k, v in tot.items() if k != "completed"})
        job["n_stages"] = len(job["stages"])
    return {"jobs": jobs}


def _zero_stage() -> dict:
    return {
        "completed": False,
        "tasks": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "spill": 0,
        "shuffle_read": 0,
        "shuffle_write": 0,
        "bytes_written": 0,
    }


GROUP_PREFIX = "perfbench:"


def attribute(jobs: dict, spans: list[dict]) -> dict[str, list[dict]]:
    """Map each job to a span key: the benchmark's job group
    (``GROUP_PREFIX`` + key) when it has one, else ``<op_id>/window`` of
    the shortest top-level span (one with no parent in its own thread)
    that holds its submission time. Groups the engine sets itself, such
    as a streaming query's run id, count as no group. Unmatched jobs go
    to the key ``None``."""
    windows = [s for s in spans if s["parent"] is None]
    out: dict = {}
    for job in jobs.values():
        group = job["group"] or ""
        key = group[len(GROUP_PREFIX):] if group.startswith(GROUP_PREFIX) else None
        if key is None:
            hits = [
                s for s in windows if s["start"] <= job["submit"] <= s["end"]
            ]
            if hits:
                s = min(hits, key=lambda s: s["end"] - s["start"])
                key = f"{s['op_id']}/window"
        out.setdefault(key, []).append(job)
    return out
