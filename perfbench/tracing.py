"""Tracing for the benchmark: spans, Spark event-log summary, process RSS.

Spans are recorded from the benchmark's own files around each call into
a layer's public function. They stay in memory and are written out once,
at the end of the run. The Spark event log (enabled only in traced runs)
is summarised into the ``exec.*`` counters, restricted to the jobs that
were submitted inside the measured operations.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "plans", "catalog", "streaming", "exec",
          "bench")


class Tracer:
    """Span recorder. ``kind`` is one of ``build`` (lazy plan
    construction), ``read``/``write`` (file I/O; ``write`` executes the
    plan it writes), ``action`` (any other plan execution) or ``op`` (one
    timed operation of the benchmark itself, layer ``bench``)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "build"):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "kind": kind,
            "phase": self.phase,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()

    def measured(self) -> list[dict]:
        return [s for s in self.spans if s["phase"] == "measure"]

    def total(self, layer=None, kind=None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.measured()
            if (layer is None or s["layer"] == layer)
            and (kind is None or s["kind"] == kind)
        )

    def self_times(self) -> dict[str, float]:
        """Per-layer self time of the measured spans: each span's
        duration minus the durations of its direct children."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.measured():
            out[s["layer"]] += s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def summarise_event_log(log_dir: str, spans: list[dict]) -> dict:
    """Task-metric totals of the jobs submitted inside the measured
    operations, overall (key ``"all"``) and per layer: a job belongs to
    the innermost measured span open at its submission. Stage ids are
    per application, and the benchmark restarts its session while setting
    up, so every log file is read as its own application."""
    ops = [s for s in spans if s["kind"] == "op"]
    jobs: list[tuple[str, list]] = []
    done: dict = {}
    tasks: dict = {}
    for app, line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            inside = [s for s in spans if s["start"] <= t <= s["end"]]
            if any(s in ops for s in inside):
                owner = max(inside, key=lambda s: s["start"])
                jobs.append((owner["layer"],
                             [(app, i) for i in ev["Stage IDs"]]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            done[(app, info["Stage ID"])] = (
                info.get("Completion Time", 0)
                - info.get("Submission Time", 0)
            )
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault((app, ev["Stage ID"]), []).append(ev)
    out = {"all": _counters(jobs, done, tasks)}
    for layer in sorted({j[0] for j in jobs}):
        out[layer] = _counters([j for j in jobs if j[0] == layer], done, tasks)
    return out


def _event_lines(log_dir: str):
    """(application, json line) pairs. Spark writes one file per
    application, or one directory of rolled files (event log v2)."""
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = (sorted(glob.glob(os.path.join(entry, "events_*")),
                        key=lambda p: int(os.path.basename(p).split("_")[1]))
                 if os.path.isdir(entry) else [entry])
        for path in files:
            with open(path) as f:
                for line in f:
                    yield os.path.basename(entry), line


def _counters(jobs, done, tasks) -> dict:
    listed = {k for _, stages in jobs for k in stages}
    ran = [k for k in listed if k in done]
    c = dict.fromkeys(
        ("tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
         "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0)
    for key in ran:
        for ev in tasks.get(key, []):
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            c["tasks"] += 1
            c["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            c["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            c["shuffle_write_bytes"] += (
                tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
    skew = 1.0
    if ran:
        longest = max(ran, key=lambda k: done[k])
        durs = [
            ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"]
            for ev in tasks.get(longest, [])
        ]
        if durs and statistics.median(durs) > 0:
            skew = max(durs) / statistics.median(durs)
    c.update(jobs=len(jobs), stages=len(ran), listed_stages=len(listed),
             task_skew=skew)
    return c


_LOG_ERROR = re.compile(r"^\S+ \S+ ERROR ")


def count_error_lines(log_path: str) -> int:
    """Driver log4j lines at level ERROR (default pyspark layout:
    ``yy/MM/dd HH:mm:ss LEVEL logger: message``)."""
    with open(log_path, errors="replace") as f:
        return sum(1 for line in f if _LOG_ERROR.match(line))


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc every ``period`` s."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root = root_pid
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
