"""Measurement primitives shared by the three workloads.

Everything here observes the program from outside: wall clocks around
calls into its public entry points, ``/proc`` for memory, the file
system for bytes written, and Spark's own event log for jobs, tasks and
driver gap. The arithmetic is kept in small pure functions so that
``test_measure.py`` can pin it without a Spark session.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time

# --------------------------------------------------------------------------
# Order statistics
# --------------------------------------------------------------------------

#: Spark runs local[SLOTS]: a property of the benchmark, not of the host.
SLOTS = 2

#: Samples that must lie strictly beyond the reported tail value.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile that still has ``TAIL_BEYOND`` samples
    beyond it, and its label.

    With ``n`` sorted samples that is the value at index
    ``n - TAIL_BEYOND - 1``, i.e. percentile ``100 * (n - 10) / n``.
    Below 20 samples that percentile would fall under the median, which
    says nothing about the tail, so the maximum is reported instead and
    labelled ``max``."""
    if not values:
        return 0.0, "none"
    s = sorted(values)
    n = len(s)
    if n < 2 * TAIL_BEYOND:
        return s[-1], "max"
    return s[n - TAIL_BEYOND - 1], f"p{100.0 * (n - TAIL_BEYOND) / n:.1f}"


def closed_loop(op, seconds: float) -> None:
    """Call ``op()`` back to back, at least once, while another call at
    the pace of the one that just finished would end no more than half
    a call past ``seconds``. The timed phase then lasts ``seconds`` on
    average, to within half an op, even when an op is a large share of
    it."""
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        op()
        now = time.perf_counter()
        if (now - start) + (now - t0) / 2 > seconds:
            return


def failed_ratio(attempted: int, failed: int) -> float:
    """Failed or wrong operations over attempted ones."""
    return failed / attempted if attempted else 1.0


# --------------------------------------------------------------------------
# Interval arithmetic for driver gap
# --------------------------------------------------------------------------

def union_length(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.
    Overlapping jobs (AQE stages, concurrent requests) count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start: float, end: float,
               jobs: list[tuple[float, float]]) -> float:
    """Span wall time not covered by any of its Spark jobs."""
    return max(0.0, (end - start) - union_length(jobs, start, end))


# --------------------------------------------------------------------------
# Bytes written, from file-system snapshots
# --------------------------------------------------------------------------

def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """``relative path -> (size, mtime_ns, inode)`` for every data file
    under ``root`` (hidden and ``_``-prefixed bookkeeping files
    excluded, as Spark's reader excludes them)."""
    out: dict[str, tuple[int, int, int]] = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in files:
            if name.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns,
                                             st.st_ino)
    return out


def written(before: dict, after: dict, prefix: str = "") -> tuple[int, int]:
    """``(files, bytes)`` present in ``after`` that are new or rewritten
    since ``before``, restricted to paths under ``prefix``."""
    files = size = 0
    for rel, rec in after.items():
        if rel.startswith(prefix) and before.get(rel) != rec:
            files += 1
            size += rec[0]
    return files, size


def rewrite_ratio(before: dict, after: dict, prefix: str) -> float:
    """Bytes written under ``prefix`` over that subtree's size after the
    write: 1.0 means the whole table was rewritten."""
    _, wrote = written(before, after, prefix)
    total = sum(rec[0] for rel, rec in after.items() if rel.startswith(prefix))
    return wrote / total if total else 0.0


# --------------------------------------------------------------------------
# Peak resident memory of the process tree, from /proc
# --------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants, as the sum of
    their proportional set sizes: pages a forked Python worker shares
    with its daemon count once, not once per process."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans around calls into the program's layers.

    A span opened with ``group=True`` sets a Spark job group in the
    calling thread, so every job that thread submits (HTTP handler
    threads included) is attributed to it in the event log. Such spans
    do not nest. Child spans record their parent, and inherit its
    group, and time only. A disabled tracer records nothing and sets no
    job group."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        #: epoch bounds of the timed phase, set by the runner
        self.window = (0.0, float("inf"))
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "group": parent["group"] if parent else None}
        if group:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - p0)
            stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, obj, attr: str, name: str, group: bool = False) -> None:
        """Replace ``obj.attr`` on the instance with a spanned call."""
        fn = getattr(obj, attr)

        def spanned(*args, **kwargs):
            with self.span(name, group=group):
                return fn(*args, **kwargs)

        setattr(obj, attr, spanned)

    def named(self, name: str) -> list[dict]:
        """Every span called ``name``, in start order."""
        return sorted((s for s in self.spans if s["name"] == name),
                      key=lambda s: s["start"])

    def timed(self, name: str) -> list[dict]:
        """Spans called ``name`` that started in the timed phase, in
        start order."""
        lo, hi = self.window
        return [s for s in self.named(name) if lo <= s["start"] < hi]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

class EventLog:
    """Jobs and task metrics per job group, parsed from an uncompressed
    Spark event log after the session has stopped."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "tasks": 0, "run_s": 0.0,
                        "cpu_s": 0.0, "shuffle_bytes": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                             or {}).get("Shuffle Bytes Written", 0)
        self.by_group: dict[str, list[dict]] = {}
        for job in self.jobs.values():
            if job["end"] is not None and job["group"]:
                self.by_group.setdefault(job["group"], []).append(job)

    def cost(self, span: dict) -> dict:
        """Jobs, tasks, task time, shuffle and driver gap of one span."""
        jobs = self.by_group.get(span.get("group") or "", [])
        wall = span["end"] - span["start"]
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "task_run_s": sum(j["run_s"] for j in jobs),
            "task_cpu_s": sum(j["cpu_s"] for j in jobs),
            "shuffle_mb": sum(j["shuffle_bytes"] for j in jobs) / 2**20,
            "driver_gap_s": driver_gap(span["start"], span["end"],
                                       [(j["start"], j["end"]) for j in jobs]),
        }


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return files[0]
