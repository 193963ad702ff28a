"""Spans around the engine's public calls, and the Spark event-log reader.

The traced run wraps these calls from outside the engine (nothing inside
``concept_catalog_etl_spark/`` is changed): ``replay_batch``,
``apply_batch``, and the ``LakeTable`` methods ``write_data_files``,
``commit``, ``write_dlq``, ``read``, ``read_keys`` and ``compact``. A span
is ``(id, name, start, end, parent)``; spans stay in memory and are written
out when the run ends. A span's self time is its duration minus the time
its child spans cover (children nest strictly: one writer thread).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

TABLE_METHODS = ("write_data_files", "commit", "write_dlq", "read", "read_keys", "compact")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.recording = False

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        """Wrap the public calls. ``replay_batch`` must then be called
        through its module (``replay.replay_batch``), and ``apply_batch`` is
        wrapped where ``replay_batch`` looks it up."""
        from concept_catalog_etl_spark.lakehouse.table import LakeTable
        from concept_catalog_etl_spark.streaming import replay

        self._wrap(replay, "replay_batch", "replay_batch")
        self._wrap(replay, "apply_batch", "apply_batch")
        for m in TABLE_METHODS:
            self._wrap(LakeTable, m, m)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ------------------------------------------------------------ analysis
    def self_times(self, name: str) -> list[float]:
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [s["end"] - s["start"] - kids.get(s["id"], 0.0)
                for s in self.spans if s["name"] == name]

    def durations(self, name: str, top_level_of: str | None = None) -> list[float]:
        """Durations of spans called ``name``; with ``top_level_of``, only
        those whose parent is a span of that name."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            if top_level_of is not None:
                p = by_id.get(s["parent"])
                pname = p["name"] if p is not None else ""
                if pname != top_level_of:
                    continue
            out.append(s["end"] - s["start"])
        return out

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]


def event_log_totals(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum the Spark event log's job starts and task metrics over the given
    wall-clock windows (epoch seconds). A task counts when it finished
    inside a window; a job when it was submitted inside one."""
    # a plain log file, or (rolling logs) a directory of events_* files
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    ws = sorted((int(a * 1000), int(b * 1000) + 1) for a, b in windows)

    def inside(ms: int) -> bool:
        return any(a <= ms <= b for a, b in ws)

    tot = {"jobs": 0, "tasks": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 0}
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if inside(ev.get("Submission Time", 0)):
                        tot["jobs"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if not inside(ev["Task Info"]["Finish Time"]):
                        continue
                    m = ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["cpu_ns"] += int(m.get("Executor CPU Time", 0))
                    tot["gc_ms"] += int(m.get("JVM GC Time", 0))
                    tot["shuffle_write_bytes"] += int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    return tot
