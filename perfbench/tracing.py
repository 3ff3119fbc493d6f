"""Tracing for the ``--trace 1`` run, entirely from the benchmark side.

* :class:`Tracer` keeps spans in memory (name, start, end, parent,
  attributes) and writes them out once, when the run ends.
* :meth:`Tracer.patch` wraps a module attribute -- a public function of
  one engine layer -- in a span, without editing the package; the
  original is restored on exit.
* :func:`fold_event_log` reads Spark's uncompressed JSON event log and
  totals executor work per job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": None, "name": name, "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def patch(self, targets: list[tuple[object, str, str]]):
        """Wrap each ``(module, attribute, span name)`` in a span for the
        duration of the block."""
        saved = []
        for mod, attr, name in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, int):
                    rec["ret"] = out
                return out
        return traced

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        return self_time(span, self.children(span["id"]))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover (children
    running in parallel threads are counted once)."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in children
                 if c["end"] is not None)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


# ---- Spark event log ----------------------------------------------------------

EXEC_KEYS = ("job_s", "task_run_s", "task_cpu_s", "gc_s", "stages", "tasks",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "python_worker_s", "jobs")


def _is_python_run_metric(name: str) -> bool:
    # ArrowEvalPython / MapInPandas / BatchEvalPython SQL metric
    return "python" in name.lower() and "run" in name.lower()


def _event_files(app: str) -> list[str]:
    """One application's event log files in order: a single file, or
    the rolled ``events_<n>_<app>`` files of an ``eventlog_v2_*`` dir."""
    if os.path.isfile(app):
        return [app]
    files = glob.glob(os.path.join(app, "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _lines(app: str):
    for path in _event_files(app):
        with open(path, encoding="utf-8") as f:
            yield from f


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group totals of executor work from every application's
    event log under ``log_dir``: job wall time, task run/CPU/GC time,
    stage and task counts, shuffle read/write and spill bytes, and
    Python worker run time (the SQL metric the Python evaluation nodes
    publish)."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        job_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        for line in _lines(app):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
                out[g]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                out[job_group.get(jid, "")]["job_s"] += (
                    ev.get("Completion Time", 0) - job_start.get(jid, 0)) / 1e3
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(ev.get("Stage ID"), "")]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if _is_python_run_metric(str(acc.get("Name", ""))):
                        # SQL timing metrics are in milliseconds
                        g["python_worker_s"] += float(acc.get("Update") or 0) / 1e3
    return dict(out)


def sum_groups(folded: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Totals over every job group whose name starts with ``prefix``."""
    tot = dict.fromkeys(EXEC_KEYS, 0.0)
    for g, vals in folded.items():
        if g.startswith(prefix):
            for k in EXEC_KEYS:
                tot[k] += vals[k]
    return tot
