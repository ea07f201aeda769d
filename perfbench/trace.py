"""Measurement plumbing that lives outside the program: spans around
layer calls, a /proc RSS sampler for the whole process tree, and a
Spark event-log reader.  Spans are kept in memory and written once."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) around calls into the program's
    layers.  A disabled tracer records nothing, so the untraced run pays
    only a no-op context manager per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _within(self, span: dict, ancestor: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] == ancestor:
                return True
            p = self.spans[p]["parent"]
        return False

    def median(self, name: str, within: str | None = None) -> float:
        """Median duration of the finished spans called ``name``; with
        ``within``, only those nested under a span of that name."""
        d = [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and s["end"] is not None
            and (within is None or self._within(s, within))
        ]
        return statistics.median(d) if d else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while we scanned
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread tracking the peak tree RSS while ``active``."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active:
                self.peak = max(self.peak, tree_rss_bytes(self.root))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------- Spark event log ----------

PHASE_PROPERTY = "perfbench.phase"

_PY_RUN = "time to run Python workers"
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_SENT = "data sent to Python workers"


def _event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def _accum(task_info: dict, name: str) -> float:
    """Sum of a task's updates to every SQL metric called ``name`` (one
    per Python operator in the stage)."""
    return sum(
        float(a["Update"])
        for a in task_info.get("Accumulables", ())
        if a.get("Name") == name and a.get("Update") is not None
    )


def spark_metrics(log_dir: str, phase: str) -> dict[str, float]:
    """Engine and Python-boundary totals over the jobs whose local
    property ``perfbench.phase`` equals ``phase``."""
    jobs: set[int] = set()
    stage_job: dict[int, int] = {}
    tasks = []
    with open(_event_log_file(log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get(PHASE_PROPERTY) == phase:
                    jobs.add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    tasks = [t for t in tasks if t.get("Stage ID") in stage_job]
    m = defaultdict(float)
    stage_durs: dict[int, list[float]] = defaultdict(list)
    stage_span: dict[int, list[float]] = {}
    for t in tasks:
        tm = t.get("Task Metrics") or {}
        info = t.get("Task Info") or {}
        m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        # the Python SQL timing metrics are recorded in milliseconds
        m["python_run_s"] += _accum(info, _PY_RUN) / 1e3
        m["python_init_s"] += sum(_accum(info, n) for n in _PY_INIT) / 1e3
        m["python_bytes_sent"] += _accum(info, _PY_SENT)
        launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
        sid = t["Stage ID"]
        stage_durs[sid].append(finish - launch)
        lo, hi = stage_span.get(sid, (launch, finish))
        stage_span[sid] = (min(lo, launch), max(hi, finish))
    m["jobs"] = float(len(jobs))
    m["tasks"] = float(len(tasks))
    if stage_span:
        longest = max(stage_span, key=lambda s: stage_span[s][1] - stage_span[s][0])
        med = statistics.median(stage_durs[longest])
        m["task_skew"] = max(stage_durs[longest]) / med if med > 0 else 1.0
    else:
        m["task_skew"] = 0.0
    return dict(m)
